package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.EtlPipeline
import graft.sync.Incremental

/** `EtlPipeline.runIncremental` re-syncs one set — the window's sessions
  * that carry manual scores or reference a category updated since the
  * watermark — in one `syncSessions`, and leaves the warehouse exactly
  * as a manual-scores sync followed by a changed-categories sync does.
  */
class IncrementalSyncSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
  }

  private def readApi(name: String): DataFrame =
    spark.read.option("multiLine", "true").json(resource(s"api/$name.json"))

  // categories.json: 100 is updated 2024-06-28 09:00, 101 on 2024-05-01
  private val changedCat = 100L
  private val staleCat = 101L
  private val daily = LocalDateTime.of(2024, 6, 27, 0, 5)
  private val later = LocalDateTime.of(2024, 6, 29, 0, 5)

  private def sid(n: Int) = f"11111111-0000-0000-0000-0000000001$n%02d"
  private val manualOnly = sid(1)
  private val changedOnly = sid(2)
  private val both = sid(3)
  private val neither = sid(4)

  /** Four copies of the fixture's fully populated session, one per
    * combination of "reviewed" and "in the changed category", each on
    * its own start date.
    */
  private def fourSessions: DataFrame = {
    val s1 = readApi("sessions").filter(col("id").endsWith("0001"))
    def variant(n: Int, reviewed: Boolean, cat: Long) = {
      val keep = (_: Column) => lit(reviewed)
      s1.withColumn("id", lit(sid(n)))
        .withColumn("start_dt", lit(s"2024-06-2${n}T10:15:44"))
        .withColumn("reviewers", filter(col("reviewers"), keep))
        .withColumn("scores", transform(filter(col("scores"), keep),
          s => s.withField("session_id", lit(sid(n)))))
        .withColumn("categories", filter(col("categories"), c => c("id") === cat))
    }
    Seq(variant(1, reviewed = true, staleCat), variant(2, reviewed = false, changedCat),
      variant(3, reviewed = true, changedCat), variant(4, reviewed = false, staleCat))
      .reduce(_ unionByName _)
  }

  /** The re-extract: every session changed at the source, in the fact
    * and in two child tables.
    */
  private def window: DataFrame = fourSessions
    .withColumn("average_score", lit(0.25))
    .withColumn("comments", transform(col("comments"),
      c => c.withField("text", concat(c("text"), lit(" (revised)")))))
    .withColumn("summary", transform(col("summary"),
      s => s.withField("text", lit("revised summary"))))

  private def tempWarehouse(tag: String) = Files.createTempDirectory(tag).toString

  /** A warehouse after the daily load of the four sessions. */
  private def loaded(wh: String, withCategories: Boolean): (EtlPipeline, String) = {
    val pipe = new EtlPipeline(spark, wh)
    val wm = s"${tempWarehouse("graft-wm")}/last_synced"
    val dicts = if (withCategories) Map("categories" -> readApi("categories")) else Map.empty[String, DataFrame]
    pipe.runDaily(dicts, fourSessions, wm, daily)
    (pipe, wm)
  }

  /** What runIncremental did in two passes before: manual scores, then
    * sessions of changed categories.
    */
  private def manualThenChanged(pipe: EtlPipeline, withCategories: Boolean): Unit = {
    val w = window
    pipe.syncSessions(w.filter(size(col("reviewers")) > 0))
    if (withCategories) {
      val pairs = w.select(col("id").as("sid"), explode(col("categories.id")).as("cid"))
      val ids = Incremental.factsOfChangedDims(pairs, pipe.readTable("categories"),
        "cid", "id", "updated_at", daily).select("sid")
      pipe.syncSessions(w.join(ids, w("id") === ids("sid"), "left_semi"))
    }
  }

  /** Every table of the warehouse as a sorted multiset of JSON rows. */
  private def tables(wh: String): Map[String, Seq[String]] =
    new File(wh).listFiles
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .map(d => d.getName -> spark.read.parquet(s"$wh/${d.getName}").toJSON.collect().toSeq.sorted)
      .toMap

  private def scores(pipe: EtlPipeline): Map[String, Double] =
    pipe.readTable("sessions").select("id", "average_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def comments(pipe: EtlPipeline): Map[String, String] =
    pipe.readTable("sessions_comments").select("session_id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  Seq(true, false).foreach { withCategories =>
    val branch = if (withCategories) "with" else "without"
    test(s"one re-sync equals the manual-then-changed two passes, $branch a categories table") {
      val whA = tempWarehouse("graft-inc-a")
      val (a, wmA) = loaded(whA, withCategories)
      a.runIncremental(window, wmA, later)
      val whB = tempWarehouse("graft-inc-b")
      val (b, _) = loaded(whB, withCategories)
      manualThenChanged(b, withCategories)

      val (ta, tb) = (tables(whA), tables(whB))
      assert(ta.keySet === tb.keySet)
      assert(ta.keySet.contains("sessions_summaries"))
      ta.keys.foreach(n => assert(ta(n) === tb(n), s"table $n differs"))

      val resynced =
        if (withCategories) Set(manualOnly, changedOnly, both) else Set(manualOnly, both)
      val score = scores(a)
      val comment = comments(a)
      Seq(manualOnly, changedOnly, both, neither).foreach { s =>
        if (resynced(s)) {
          assert(score(s) === 0.25, s)
          assert(comment(s) === "follow-up done (revised)", s)
        } else {
          assert(score(s) === 0.8, s"$s kept its old score")
          assert(comment(s) === "follow-up done", s"$s kept its old comment")
        }
      }
      assert(Incremental.readWatermark(wmA) === later)
    }
  }

  test("runIncremental commits each unit once, as one syncSessions of the re-sync set does") {
    // Promotions, not all renames: Spark's own commit renames one file
    // per non-empty task, and adaptive execution picks the task count at
    // run time. The watermark lives outside the counted filesystem.
    def promotions(body: (EtlPipeline, String) => Unit): Int = {
      val (pipe, wm) = loaded("crashfs://" + tempWarehouse("graft-inc-commits"), withCategories = true)
      CrashFs.arm(0)
      body(pipe, wm)
      CrashFs.disarm()
      CrashFs.promotions.get
    }
    val incremental = promotions(_.runIncremental(window, _, later))
    val once = promotions((pipe, _) =>
      pipe.syncSessions(window.filter(col("id").isin(manualOnly, changedOnly, both))))
    // three sessions partitions and the seven child tables
    assert(once === 10 && incremental === once)
  }

  test("the watermark is read and written through the warehouse's filesystem") {
    val stray = new File("crashfs:")
    val strayBefore = stray.exists()
    val wh = "crashfs://" + tempWarehouse("graft-inc-wm")
    val wm = s"$wh/_meta/last_synced"
    try {
      val pipe = new EtlPipeline(spark, wh)
      pipe.runDaily(Map("categories" -> readApi("categories")), fourSessions, wm, daily)
      pipe.runIncremental(window, wm, later)
      val p = new Path(wm)
      assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      assert(new File(wm.stripPrefix("crashfs://")).isFile)
      assert(Incremental.readWatermark(wm) === later)
      assert(stray.exists() === strayBefore, "watermark written under the working directory")
    } finally if (!strayBefore && stray.exists()) {
      def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
      rm(stray)
    }
  }
}
