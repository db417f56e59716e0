package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

import graft.registry._

/** query_mix: registry rows in a seed-shuffled order, each
  * timed as construction (`fn(spark, dir)`) plus one action. The action
  * computes the result's fingerprint, which the run compares with the
  * one the oracle check accepted.
  */
object QueryRun {

  /** Registry families, named after the module the rows exercise. */
  val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "core" -> CoreQueries.queries, "analytics" -> AnalyticsQueries.queries,
    "streaming" -> StreamingQueries.queries,
    "ext.corpus" -> ExtQueriesCorpus.queries, "ext.dedup" -> ExtQueriesDedup.queries,
    "ext.ann" -> ExtQueriesAnn.queries, "ext.text" -> ExtQueriesText.queries,
    "ext.eval" -> ExtQueriesEval.queries, "ext.search" -> ExtQueriesSearch.queries,
    "ext.multimodal" -> ExtQueriesMultimodal.queries,
    "ext.selection" -> ExtQueriesSelection.queries, "ext.layout" -> ExtQueriesLayout.queries)

  def familyOf(row: String): String =
    families.collectFirst { case (f, m) if m.contains(row) => f }.getOrElse("unknown")

  /** (row count, order-insensitive content hash): every column, sorted
    * by name, serialized with to_json and hashed per row; the row hashes
    * are summed exactly, so row order never matters and duplicates count.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def rowsOf(input: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    input.get("rows").elements().asScala.map(_.asText).toSeq

  /** Build step, outside every timed run: each row's fingerprint twice
    * (from two constructions, to catch nondeterminism), its result as
    * parquet for the oracle comparison, and its oracle SQL.
    */
  def buildFingerprints(spark: SparkSession, a: Main.Args, record: java.util.Map[String, Any]): Unit = {
    val out = rowsOf(Json.read(a.input)).map { row =>
      val fn = graft.SparkEntry.queries(row)
      val res = try {
        val df = fn(spark, a.data).persist()
        val (n, h) = fingerprint(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/$row")
        df.unpersist()
        val (n2, h2) = fingerprint(fn(spark, a.data))
        Map("rows" -> n, "hash" -> h, "rows2" -> n2, "hash2" -> h2)
      } catch {
        case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(300))
      }
      row -> (res ++ Map("family" -> familyOf(row),
        "oracle_sql" -> graft.SparkEntry.oracleSql.get(row)))
    }
    record.put("rows", Json.toJava(out.toMap))
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer],
          record: java.util.Map[String, Any]): Unit = {
    def call[T](name: String, req: String)(body: => T): T =
      tracer.fold(body)(_.span(name, req)(body))
    val input = Json.read(a.input)
    val rows = rowsOf(input)
    val expected = input.get("fingerprints")
    val missing = rows.filterNot(expected.has)
    require(missing.isEmpty, s"rows without a verified fingerprint: ${missing.mkString(", ")}")
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rng = new scala.util.Random(a.seed)
    val t0 = System.nanoTime()
    // the first pass runs cold; at least one warm pass follows it
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      rng.shuffle(rows).zipWithIndex.foreach { case (row, i) =>
        val req = s"$row#${passes.size}.$i"
        val fn = graft.SparkEntry.queries(row)
        val s0 = System.nanoTime()
        val (ok, detail) = try {
          val df = call("registry.build", req)(fn(spark, a.data))
          val (n, h) = call("exec.action", req)(fingerprint(df))
          val want = expected.get(row)
          val good = n == want.get("rows").asLong && h == want.get("hash").asText
          (good, if (good) "" else s"got $n rows hash $h")
        } catch {
          case e: Throwable => (false, String.valueOf(e.getMessage).take(200))
        }
        ops += Map("row" -> row, "family" -> familyOf(row), "pass" -> passes.size,
          "s" -> (System.nanoTime() - s0) / 1e9, "ok" -> ok, "detail" -> detail)
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    record.put("ops", ops.toList)
    record.put("pass_s", passes.toList)
    record.put("wall_s", (System.nanoTime() - t0) / 1e9)
  }
}
