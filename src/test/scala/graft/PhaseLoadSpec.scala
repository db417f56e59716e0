package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{EtlPipeline, Transform}
import graft.sources.PagedV2

/** A sync phase reads its source once and loads its tables concurrently:
  * `syncSessions` opens each page of its input once, caches nothing past
  * its return, describes every job with the table it loads, and a load
  * that fails fails the whole phase with every other write finished.
  */
class PhaseLoadSpec extends SparkSpec {

  private val sessionTables = Seq("sessions", "sessions_tags", "sessions_categories",
    "sessions_reviewers", "sessions_scores", "sessions_comments", "sessions_summaries",
    "sessions_crm_statuses")

  private def readApi(name: String): DataFrame =
    spark.read.option("multiLine", "true").json(resource(s"api/$name.json"))

  private def tempDir(tag: String) = Files.createTempDirectory(tag).toString

  /** A `graft-paged` dump of the fixture sessions: `pages` pages of two
    * sessions each, the ids made unique per page.
    */
  private def pagedDump(pages: Int): String = {
    val dir = tempDir("graft-paged-sessions")
    (0 until pages).foreach { p =>
      val rows = readApi("sessions").withColumn("id", concat(lit(s"p$p-"), col("id")))
        .withColumn("scores", transform(col("scores"), s => s.withField("session_id", col("id"))))
        .toJSON.collect()
      Files.writeString(Paths.get(dir, s"sessions-$p.json"), rows.mkString("[", ",", "]"))
    }
    dir
  }

  /** The dump typed as a schema-on-read extract would type it. */
  private def typedSessions(dir: String): DataFrame =
    spark.read.format("graft-paged").option("dir", dir).option("prefix", "sessions").load()
      .select(from_json(col("payload"), readApi("sessions").schema).as("r"))
      .select("r.*")

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("syncSessions opens each source page once and leaves nothing cached") {
    val pages = 4
    val dir = pagedDump(pages)
    val pipe = new EtlPipeline(spark, tempDir("graft-wh-once"))
    val cached = persisted
    // into an empty warehouse, then merged into the tables it wrote
    (1 to 2).foreach { run =>
      val opened = PagedV2.pagesOpened.get()
      pipe.syncSessions(typedSessions(dir))
      assert(PagedV2.pagesOpened.get() - opened === pages, s"run $run")
      assert(persisted === cached, s"run $run left a cached frame")
    }
    assert(pipe.readTable("sessions").count() === 2 * pages)
  }

  test("every job of syncSessions names a session table and keeps the caller's job group") {
    val sc = spark.sparkContext
    val pipe = new EtlPipeline(spark, tempDir("graft-wh-described"))
    val typed = typedSessions(pagedDump(2))
    pipe.syncSessions(typed)
    // listener events arrive in order: record between two marker jobs
    val (start, end) = ("graft spec start", "graft spec end")
    val jobs = new ConcurrentLinkedQueue[(String, String)]
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var recording = false
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        (p.getProperty("spark.job.description"), p.getProperty("spark.jobGroup.id")) match {
          case (`start`, _) => recording = true
          case (`end`, _) => recording = false; ended.countDown()
          case job => if (recording) jobs.add(job)
        }
      }
    }
    def marker(description: String): Unit = {
      sc.setJobDescription(description)
      spark.range(1).count()
    }
    sc.addSparkListener(listener)
    try {
      marker(start)
      sc.setJobGroup("graft-spec-group", "loads", interruptOnCancel = false)
      pipe.syncSessions(typed)
      sc.clearJobGroup()
      marker(end)
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus did not deliver the end marker")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setJobDescription(null)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.nonEmpty)
    seen.foreach { case (description, group) =>
      val words = Option(description).toSeq.flatMap(_.split("[ ,:]+"))
      assert(sessionTables.exists(words.contains), s"job described as '$description'")
      assert(group === "graft-spec-group", s"job '$description'")
    }
    val loaded = seen.map(_._1).collect { case d if d.startsWith("graft load ") => d }.toSet
    sessionTables.foreach(t => assert(loaded(s"graft load $t"), s"no job loaded $t"))
  }

  /** Every table of the warehouse as a sorted multiset of JSON rows. */
  private def tables(wh: String): Map[String, Seq[String]] =
    new File(wh).listFiles
      .filter(d => d.isDirectory && !d.getName.startsWith("_") && !d.getName.startsWith("."))
      .map(d => d.getName -> spark.read.parquet(d.getPath).toJSON.collect().toSeq.sorted)
      .toMap

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally w.close()
  }

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  test("a failing concurrent load fails runDaily: watermark unmoved, no write or thread left") {
    val wh = tempDir("graft-wh-fail")
    val wm = s"$wh/_meta/last_synced"
    val pipe = new EtlPipeline(spark, wh)
    val dicts = Map("agents" -> readApi("agents"), "scorecards" -> readApi("scorecards"),
      "users" -> readApi("users"), "categories" -> readApi("categories"))
    pipe.runDaily(dicts, readApi("sessions"), wm, LocalDateTime.of(2024, 6, 27, 0, 5))
    val old = tables(wh)

    // the next day changes the fact row and two child tables
    val revised = readApi("sessions").withColumn("average_score", lit(0.5))
      .withColumn("comments", transform(col("comments"),
        c => c.withField("text", concat(c("text"), lit(" (revised)")))))
      .withColumn("summary", transform(col("summary"), s => s.withField("text", lit("revised"))))
    val next = LocalDateTime.of(2024, 6, 28, 0, 5)
    val healthy = tempDir("graft-wh-fail-healthy")
    copyTree(wh, healthy)
    new EtlPipeline(spark, healthy).runDaily(dicts, revised, s"$healthy/_meta/last_synced", next)
    val fresh = tables(healthy)
    assert(fresh("sessions") !== old("sessions"))

    // a plain file where the sessions_summaries table directory should be
    val blocked = new File(s"$wh/sessions_summaries")
    blocked.listFiles.foreach(_.delete())
    assert(blocked.delete())
    Files.writeString(blocked.toPath, "not a table")
    val cause = rootCause(intercept[Exception] {
      pipe.loadTable("sessions_summaries", Transform.sessions(revised).summaries)
    })

    val watermark = Files.readAllBytes(Paths.get(wm))
    val cached = persisted
    val failure = rootCause(intercept[Exception](pipe.runDaily(dicts, revised, wm, next)))
    assert(failure.getClass === cause.getClass)
    assert(failure.getMessage === cause.getMessage)
    assert(failure.getMessage.contains("sessions_summaries"), failure.getMessage)

    assert(Files.readAllBytes(Paths.get(wm)).sameElements(watermark), "watermark moved")
    val live = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-load-"))
    assert(live.isEmpty, s"pool threads still alive: ${live.map(_.getName)}")
    assert(persisted === cached, "the failed phase left a cached frame")
    assert(Files.readString(blocked.toPath) === "not a table")
    val after = tables(wh)
    assert(after.keySet === old.keySet - "sessions_summaries")
    after.foreach { case (n, rows) =>
      assert(rows === old(n) || rows === fresh(n), s"table $n is in neither its old nor its new state")
    }
    // the other loads ran to their end before the failure was rethrown
    assert(after("sessions") === fresh("sessions"))
    val w = Files.walk(Paths.get(wh))
    try assert(!w.iterator().asScala.exists(_.getFileName.toString.startsWith(".graft_stage_")))
    finally w.close()
  }
}
