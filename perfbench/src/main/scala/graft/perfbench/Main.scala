package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` prepares the inputs,
  * launches this once per run and turns its record into metrics.
  *
  * {{{
  * Main --mode run|fingerprint --workload <name> --seed <n>
  *      --seconds <n> --trace 0|1 --work <dir> --data <sfDir>
  *      --input <json> --out <json>
  * }}}
  *
  * `--input` is the workload's input description: the ETL plan written by
  * the payload generator, or the query rows and their fingerprints.
  * `--out` receives one JSON record: per-operation timings, correctness,
  * peak memory and, with `--trace 1`, the span and Spark event totals.
  */
object Main {

  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, data: String, input: String,
                        out: String, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("data", ""), m.getOrElse("input", ""), m("out"),
      m.getOrElse("cores", "4").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The warm-up before the first timed call: one tiny job, as
    * `graft.Bench` starts. Table handles and shared registry fixtures are
    * built lazily by the first row that reads them.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("sum(id)").collect()

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val record = new java.util.LinkedHashMap[String, Any]()
    try {
      warmUp(spark)
      val tracer = if (a.trace && a.mode == "run") Some(new Tracer(spark)) else None
      record.put("first_call_epoch_ms", System.currentTimeMillis())
      a.mode match {
        case "fingerprint" => QueryRun.buildFingerprints(spark, a, record)
        case "run" =>
          a.workload match {
            case "etl_sync" => EtlRun.run(spark, a, tracer, record)
            case "query_mix" => QueryRun.run(spark, a, tracer, record)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          tracer.foreach { t =>
            t.drain()
            record.put("trace", TraceReport.build(t))
            t.detach()
          }
      }
      record.put("peak_rss_kb", peakRssKb())
    } finally {
      Json.write(a.out, record)
      spark.stop()
    }
  }
}

/** Minimal JSON writer over Scala and Java collections (Jackson). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case s: Array[_] => s.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(toJava(v)))

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(Files.readString(Paths.get(path)))
}

/** A finished trace as JSON: every span with its counters, jobs per
  * call site, and Catalyst phase totals.
  */
object TraceReport {
  def build(t: Tracer): java.util.Map[String, Any] = {
    val spans = t.all
    val children = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val c = Tracer.counters(s, children.getOrElse(s.id, Nil))
      Map[String, Any]("id" -> s.id, "name" -> s.name, "request" -> s.request,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ c
    }
    val sites = t.callSites.toSeq.sortBy(-_._2._1).map { case (site, (n, sec)) =>
      Map("site" -> site, "jobs" -> n, "s" -> sec)
    }
    Json.toJava(Map(
      "spans" -> rows,
      "call_sites" -> sites,
      "unattributed_jobs" -> t.unattributed.toMap,
      "catalyst" -> Map("analysis_ms" -> t.analysisMs, "optimization_ms" -> t.optimizationMs,
        "planning_ms" -> t.planningMs, "queries" -> t.plannedQueries)
    )).asInstanceOf[java.util.Map[String, Any]]
  }
}
