package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.Upsert
import graft.pipeline.EtlPipeline
import graft.schema.Schemas
import graft.sink.TableCommit

/** A load reads the stored table without a Spark job and writes one
  * file per partition it touches: the schema comes from one footer read
  * on the driver, a merge names only the partitions it touches, and a
  * merge's write is rebalanced when adaptive execution can size it.
  */
class LoadIoSpec extends SparkSpec {

  private def tempDir(tag: String) = Files.createTempDirectory(tag).toString

  /** The jobs `body` starts, as "description | first stage name".
    * Listener events arrive in order: record between two marker jobs.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val (start, end) = ("graft spec start", "graft spec end")
    val jobs = new ConcurrentLinkedQueue[String]
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var recording = false
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.job.description") match {
          case `start` => recording = true
          case `end` => recording = false; ended.countDown()
          case d => if (recording) jobs.add(s"$d | ${e.stageInfos.headOption.map(_.name).orNull}")
        }
    }
    def marker(description: String): Unit = {
      sc.setJobDescription(description)
      spark.range(1).count()
    }
    sc.addSparkListener(listener)
    try {
      marker(start)
      sc.setJobDescription(null)
      body
      marker(end)
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus did not deliver the end marker")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    jobs.asScala.toSeq
  }

  /** Data files per directory under `root`, by path relative to it. */
  private def filesPerDir(root: String): Map[String, Int] = {
    val base = new File(root).toPath
    val w = Files.walk(base)
    try w.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.groupBy(p => base.relativize(p.getParent).toString).map { case (d, fs) => d -> fs.size }
    finally w.close()
  }

  private type Row = (String, String, Double) // id, day, average_score

  private def frame(s: SparkSession, rows: Seq[Row]): DataFrame = {
    import s.implicits._
    rows.map { case (id, day, v) => (id, Timestamp.valueOf(s"$day 10:00:00"), v) }
      .toDF("id", "start_dt", "average_score")
  }

  private def contents(df: DataFrame): Seq[String] =
    df.select("id", "average_score").collect().map(r => s"${r.getString(0)}:${r.getDouble(1)}")
      .toSeq.sorted

  /** Three batches: the second and third update stored rows and add a day. */
  private val batches = Seq(
    Seq(("a", "2024-06-01", 1.0), ("b", "2024-06-01", 2.0), ("c", "2024-06-02", 3.0),
      ("d", "2024-06-03", 4.0)),
    Seq(("b", "2024-06-01", 20.0), ("c", "2024-06-02", 30.0), ("e", "2024-06-02", 5.0),
      ("f", "2024-06-04", 6.0)),
    Seq(("a", "2024-06-01", 10.0), ("e", "2024-06-02", 50.0), ("g", "2024-06-04", 7.0),
      ("h", "2024-06-05", 8.0)))
  private val merged = Seq("a:10.0", "b:20.0", "c:30.0", "d:4.0", "e:50.0", "f:6.0", "g:7.0", "h:8.0")

  test("three merges leave one data file in each written sessions partition and full-rewrite table") {
    val wh = tempDir("graft-wh-files")
    val pipe = new EtlPipeline(spark, wh)
    batches.foreach { rows =>
      // several input splits per batch, so a write per split would show
      val batch = frame(spark, rows).repartition(3)
      pipe.loadTable("sessions", batch)
      pipe.loadTable("t", batch)
    }
    assert(contents(pipe.readTable("sessions")) === merged)
    assert(contents(pipe.readTable("t")) === merged)
    val sessions = filesPerDir(s"$wh/sessions")
    assert(sessions.keySet === (1 to 5).map(d => s"start_date=2024-06-0$d").toSet)
    sessions.foreach { case (dir, n) => assert(n === 1, s"sessions/$dir holds $n data files") }
    assert(filesPerDir(s"$wh/t") === Map("" -> 1))
  }

  test("a merge's target read of 32 of 60 partitions starts no Spark job and lists no table") {
    import spark.implicits._
    val path = s"${tempDir("graft-wide")}/f"
    val days = (1 to 60).map(d => java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString)
    val init = days.map(d => (s"k$d", d, 1.0)).toDF("id", "day", "v")
    Upsert.upsertPartitioned(spark, path, init, Seq("id"), "day")
    val touched = days.take(31) :+ "2025-01-01"
    val day = StructField("day", StringType)
    var read: DataFrame = null
    assert(jobsOf { read = TableCommit.readPartitions(spark, path, day, touched) } === Nil)
    assert(read.count() === 31)
    assert(read.schema === StructType(spark.read.parquet(path).schema.filterNot(_.name == "day") :+ day))
    val updates = touched.map(d => (s"k$d", d, 2.0)).toDF("id", "day", "v")
    val listings = jobsOf(Upsert.upsertPartitioned(spark, path, updates, Seq("id"), "day"))
      .filter(_.startsWith("Listing leaf files"))
    assert(listings === Nil)
    val out = spark.read.parquet(path).select("id", "v").as[(String, Double)].collect().toMap
    assert(out.size === 61 && out.count(_._2 == 2.0) === 32)
  }

  test("readTable reads each of the 20 tables with no job and with the schema Spark infers") {
    import spark.implicits._
    val wh = tempDir("graft-wh-20")
    val pipe = new EtlPipeline(spark, wh)
    def api(name: String) = spark.read.option("multiLine", "true").json(resource(s"api/$name.json"))
    def json(rows: String*) = spark.read.json(rows.toDS())
    val dicts = Map("agents" -> api("agents"), "scorecards" -> api("scorecards"),
      "users" -> api("users"), "categories" -> api("categories"),
      "groups" -> json("""{"id": 10, "name": "g", "scorecard_id": 1, "is_default": true}"""),
      "labels" -> json("""{"id": 5, "text": "vip", "color": "red"}"""),
      "tags" -> json("""{"id": 7, "name": "t", "type": "word", "labels": [{"id": 5}]}"""))
    pipe.runDaily(dicts, api("sessions"), s"$wh/_meta/last_synced", LocalDateTime.of(2024, 6, 28, 0, 5))
    assert(Schemas.all.keySet.forall(pipe.tableExists))
    Schemas.all.keys.toSeq.sorted.foreach { n =>
      var read: DataFrame = null
      assert(jobsOf { read = pipe.readTable(n) } === Nil, n)
      assert(read.schema === spark.read.parquet(s"$wh/$n").schema, n)
    }
  }

  test("with adaptive execution off a load writes correct rows and no more files than a plain write") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val wh = tempDir("graft-wh-noaqe")
    val pipe = new EtlPipeline(noAqe, wh)
    val f = s"$wh/f"
    batches.zipWithIndex.foreach { case (rows, i) =>
      val batch = frame(noAqe, rows).withColumn("day", to_date(col("start_dt"))).repartition(3)
      // the same merge as a plain write with no hint: the file count a
      // load must stay within
      val plain = tempDir("graft-plain")
      if (i > 0) {
        val days = rows.map(_._2)
        Upsert.upsert(noAqe.read.parquet(f).filter(col("day").cast("string").isin(days: _*)),
          batch, Seq("id")).write.partitionBy("day").parquet(s"$plain/f")
        Upsert.upsert(noAqe.read.parquet(s"$wh/t"), batch, Seq("id")).write.parquet(s"$plain/t")
      } else {
        batch.write.partitionBy("day").parquet(s"$plain/f")
        batch.write.parquet(s"$plain/t")
      }
      Upsert.upsertPartitioned(noAqe, f, batch, Seq("id"), "day")
      pipe.loadTable("t", batch)
      filesPerDir(s"$plain/f").foreach { case (dir, n) =>
        assert(filesPerDir(f)(dir) <= n, s"merge ${i + 1}: f/$dir")
      }
      assert(filesPerDir(s"$wh/t")("") <= filesPerDir(s"$plain/t")(""), s"merge ${i + 1}: t")
    }
    assert(contents(noAqe.read.parquet(f)) === merged)
    assert(contents(pipe.readTable("t")) === merged)
  }
}
