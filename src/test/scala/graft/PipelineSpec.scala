package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{EtlPipeline, Transform}
import graft.sync.Incremental

/** End-to-end: API-shaped nested fixtures → 17-table warehouse →
  * overlapping re-run converges (SURVEY.md §5.2 item 4, replicating
  * EP1 run-et-etl.py:119-204).
  */
class PipelineSpec extends SparkSpec {

  private def readApi(name: String): DataFrame =
    spark.read.option("multiLine", "true").json(resource(s"api/$name.json"))

  test("agents transform: flatten + sentinel + drops") {
    val (dim, assoc) = Transform.agents(readApi("agents"))
    assert(dim.columns.toSet === Set("id", "name", "phone_number", "is_active", "deactivated_at"))
    // agent 3 has no groups -> no association rows
    val a = assoc.orderBy("agent_id", "group_id").collect()
    assert(a.length === 3)
    // sentinel '0001-01-01' start_dt -> 1900-01-01
    val sentinelRow = assoc.filter(col("agent_id") === 1 && col("group_id") === 11).collect()(0)
    assert(sentinelRow.getTimestamp(2).toString.startsWith("1900-01-01"))
    // round-to-second applied: .620796 -> :16
    val rounded = assoc.filter(col("agent_id") === 1 && col("group_id") === 10).collect()(0)
    assert(rounded.getTimestamp(2).toString === "2024-01-05 09:30:16.0")
  }

  test("scorecards transform: two-level flatten yields categories and points") {
    val (dim, cats, points) = Transform.scorecards(readApi("scorecards"))
    assert(dim.count() === 2 && !dim.columns.contains("team_ids"))
    assert(cats.count() === 3 && cats.columns.toSet ===
      Set("id", "name", "scorecard_id", "sort_order"))
    assert(points.count() === 4)
    assert(points.filter(col("critical")).count() === 2)
  }

  test("users transform injects default Ender Turing row id=0") {
    val users = Transform.users(readApi("users"))
    val zero = users.filter(col("id") === 0).collect()
    assert(zero.length === 1)
    assert(zero(0).getAs[String]("full_name") === "Ender Turing")
    assert(users.count() === 3)
    // re-applying on a frame that has id=0 must not duplicate
    assert(Transform.users(readApi("users")).count() === 3)
  }

  test("sessions transform: children, salvage parse, drops") {
    val t = Transform.sessions(readApi("sessions"))
    assert(t.sessions.count() === 2)
    // projection contract: dropped fields are gone
    val dropped = graft.schema.Schemas.droppedSessionFields.toSet
    assert(t.sessions.columns.toSet.intersect(dropped).isEmpty)
    // malformed start_dt salvaged via regex (session 2)
    val s2 = t.sessions.filter(col("id").endsWith("0002")).collect()(0)
    assert(s2.getAs[java.sql.Timestamp]("start_dt").toString === "2024-06-26 11:00:01.0")
    // two-level tags.match flatten: 2 match rows, all for session 1
    assert(t.tags.count() === 2)
    assert(t.tags.columns.contains("session_id") && t.tags.columns.contains("tag_id"))
    // empty children contribute nothing
    assert(t.categories.count() === 2)
    assert(t.reviewers.count() === 1)
    assert(t.scores.get.count() === 2) // two point_scores carried through
    assert(t.scores.get.columns.toSet ===
      Set("session_id", "scorecard_id", "reviewer_id", "scorecard_point_id", "score", "comment"))
    assert(t.summaries.count() === 1 && t.crmStatuses.count() === 1)
  }

  test("full pipeline run + overlapping re-run converges (upsert semantics)") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val wm = s"$wh/_meta/last_synced"
    val pipe = new EtlPipeline(spark, wh)
    val dicts = Map(
      "agents" -> readApi("agents"),
      "scorecards" -> readApi("scorecards"),
      "users" -> readApi("users"))

    pipe.runDaily(dicts, readApi("sessions"), wm, LocalDateTime.of(2024, 6, 28, 0, 5))
    val counts1 = Seq("agents", "agent_group_associations", "scorecards",
      "scorecard_categories", "scorecard_points", "users", "sessions",
      "sessions_tags", "sessions_scores")
      .map(n => n -> pipe.readTable(n).count()).toMap
    assert(counts1("agents") === 3)
    assert(counts1("agent_group_associations") === 3)
    assert(counts1("scorecard_points") === 4)
    assert(counts1("users") === 3)
    assert(counts1("sessions") === 2)
    assert(counts1("sessions_tags") === 2)
    assert(counts1("sessions_scores") === 2)
    // declared catalog types applied on load: JSON longs -> int,
    // struct-shaped duration_details -> map, additional_info -> JSON string
    val sess = pipe.readTable("sessions")
    assert(sess.schema("agent_id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(sess.schema("duration_details").dataType ===
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.DoubleType))
    assert(sess.schema("additional_info").dataType === org.apache.spark.sql.types.StringType)
    val dd = sess.filter(org.apache.spark.sql.functions.col("id").endsWith("0001"))
      .select("duration_details").collect()(0).getMap[String, Double](0)
    assert(dd("0") === 120.0 && dd("1") === 180.5)

    // second overlapping run: same payloads -> identical warehouse
    pipe.runDaily(dicts, readApi("sessions"), wm, LocalDateTime.of(2024, 6, 29, 0, 5))
    counts1.foreach { case (n, c) =>
      assert(pipe.readTable(n).count() === c, s"table $n diverged on re-run")
    }
    assert(Incremental.readWatermark(wm) === LocalDateTime.of(2024, 6, 29, 0, 5))

    // post-load audit: every table key-unique, no null keys
    val health = pipe.auditHealth()
    assert(health.nonEmpty)
    health.foreach { h =>
      assert(h.duplicateKeyGroups === 0, s"${h.table} has duplicate keys")
      assert(h.nullKeyRows === 0, s"${h.table} has null keys")
    }

    // comments key is session_id ONLY: session 1 has TWO comments in the
    // payload — the load keeps the last by array position (the
    // reference's sequential merge lands on the same row)
    val com = pipe.readTable("sessions_comments").collect()
    assert(com.length === 1)
    assert(com(0).getAs[String]("text") === "follow-up done")
  }

  test("full-table rewrite above the size threshold refuses unless forced") {
    val wh = Files.createTempDirectory("graft-wh-guard").toString
    val pipe = new EtlPipeline(spark, wh)
    val batch = readApi("agents")
    pipe.loadTable("agents", batch) // first write: no existing table, no guard
    try {
      // existing table (a few KB) now exceeds a 1-byte threshold: the
      // O(table) rewrite must refuse and point at partitionedFacts
      spark.conf.set("spark.graft.etl.maxFullRewriteBytes", "1")
      val e = intercept[IllegalStateException] { pipe.loadTable("agents", batch) }
      assert(e.getMessage.contains("partitionedFacts"))
      assert(e.getMessage.contains("forceFullRewrite"))
      // explicit force: the deliberate one-off goes through unchanged
      spark.conf.set("spark.graft.etl.forceFullRewrite", "true")
      pipe.loadTable("agents", batch)
      assert(pipe.readTable("agents").count() === 3)
      // a malformed value fails naming its key and the value, with no
      // fallback to the default
      Seq("spark.graft.etl.maxFullRewriteBytes" -> "64GB",
        "spark.graft.etl.forceFullRewrite" -> "yes").foreach { case (key, bad) =>
        spark.conf.set(key, bad)
        val m = intercept[IllegalArgumentException] { pipe.loadTable("agents", batch) }
        assert(m.getMessage.contains(key) && m.getMessage.contains(bad), m.getMessage)
        spark.conf.unset(key)
      }
    } finally {
      spark.conf.unset("spark.graft.etl.maxFullRewriteBytes")
      spark.conf.unset("spark.graft.etl.forceFullRewrite")
    }
    // default threshold (64 GiB): small-table daily sync is untouched
    pipe.loadTable("agents", batch)
    assert(pipe.readTable("agents").count() === 3)
  }

  test("partitioned sessions load rewrites only touched date partitions") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh-part").toString
    val pipe = new EtlPipeline(spark, wh)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(
      ("s1", ts("2024-06-01 10:00:00"), 1.0),
      ("s2", ts("2024-06-02 10:00:00"), 2.0)).toDF("id", "start_dt", "average_score")
    pipe.loadTable("sessions", b1)
    val d1 = new java.io.File(s"$wh/sessions/start_date=2024-06-01")
    val d2 = new java.io.File(s"$wh/sessions/start_date=2024-06-02")
    assert(d1.isDirectory && d2.isDirectory)
    val d1Files = d1.listFiles.map(f => (f.getName, f.lastModified)).toSet

    // second batch touches ONLY 2024-06-02 (update s2 + insert s3)
    val b2 = Seq(
      ("s2", ts("2024-06-02 10:00:00"), 5.0),
      ("s3", ts("2024-06-02 11:00:00"), 3.0)).toDF("id", "start_dt", "average_score")
    pipe.loadTable("sessions", b2)

    // untouched partition: byte-identical file listing (O(delta) proof)
    assert(d1.listFiles.map(f => (f.getName, f.lastModified)).toSet === d1Files,
      "untouched date partition was rewritten")
    // touched partition merged with upsert semantics
    val out = pipe.readTable("sessions").orderBy("id")
      .select("id", "average_score").as[(String, Double)].collect()
    assert(out === Array(("s1", 1.0), ("s2", 5.0), ("s3", 3.0)))
  }

  test("interrupted partition swap recovers: _old_ backup restored when live partition is missing") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh-rec").toString
    val pipe = new EtlPipeline(spark, wh)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    pipe.loadTable("sessions", Seq(
      ("s1", ts("2024-06-01 10:00:00"), 1.0),
      ("s2", ts("2024-06-02 10:00:00"), 2.0)).toDF("id", "start_dt", "average_score"))
    // simulate a crash between rename-old-aside and rename-new-in:
    // live partition gone, backup left behind
    val live = new java.io.File(s"$wh/sessions/start_date=2024-06-01")
    val bak = new java.io.File(s"$wh/sessions/.graft_old_start_date=2024-06-01")
    assert(live.renameTo(bak))
    // Spark ignores the dot-prefixed backup: the table reads with a hole
    assert(pipe.readTable("sessions").count() === 1)
    // next load heals it before merging
    pipe.loadTable("sessions", Seq(("s3", ts("2024-06-03 10:00:00"), 3.0))
      .toDF("id", "start_dt", "average_score"))
    val out = pipe.readTable("sessions").orderBy("id")
      .select("id", "average_score").as[(String, Double)].collect()
    assert(out === Array(("s1", 1.0), ("s2", 2.0), ("s3", 3.0)))
    assert(!bak.exists())
  }

  test("pre-partitioning sessions table is migrated once, then loaded O(delta)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh-mig").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // simulate a warehouse written before date partitioning existed
    Seq(("s1", ts("2024-06-01 10:00:00"), 1.0))
      .toDF("id", "start_dt", "average_score")
      .write.parquet(s"$wh/sessions")
    val pipe = new EtlPipeline(spark, wh)
    val batch = Seq(("s2", ts("2024-06-02 10:00:00"), 2.0))
      .toDF("id", "start_dt", "average_score")
    pipe.loadTable("sessions", batch)
    assert(new java.io.File(s"$wh/sessions/start_date=2024-06-01").isDirectory)
    assert(new java.io.File(s"$wh/sessions/start_date=2024-06-02").isDirectory)
    val out = pipe.readTable("sessions").orderBy("id")
      .select("id", "average_score").as[(String, Double)].collect()
    assert(out === Array(("s1", 1.0), ("s2", 2.0)))
  }

  test("categories transform: labels flatten, per-row absent labels, ts round") {
    val (dim, labels) = Transform.categories(readApi("categories"))
    assert(dim.count() === 3 && !dim.columns.contains("labels"))
    // updated_at parsed + rounded (.25s -> down)
    val c100 = dim.filter(col("id") === 100).collect()(0)
    assert(c100.getAs[java.sql.Timestamp]("updated_at").toString === "2024-06-28 09:00:00.0")
    val l = labels.get.orderBy("category_id", "label_id").collect()
    assert(l.map(r => (r.getLong(0), r.getLong(1))) ===
      Array((100L, 900L), (100L, 901L), (101L, 902L))) // id=102 has none
  }

  test("runIncremental: manual-score pass + changed-category invalidation") {
    val wh = Files.createTempDirectory("graft-wh-inc").toString
    val wm = s"$wh/_meta/last_synced"
    val pipe = new EtlPipeline(spark, wh)
    val dicts = Map("categories" -> readApi("categories"))
    pipe.runDaily(dicts, readApi("sessions"), wm, LocalDateTime.of(2024, 6, 27, 0, 5))
    val before = pipe.readTable("sessions")
      .filter(col("id").endsWith("0001")).collect()(0).getAs[Double]("average_score")
    assert(before === 0.8)

    // late re-score arrives: session 1's average_score changed at source
    val window = readApi("sessions").withColumn("average_score",
      when(col("id").endsWith("0001"), lit(0.95)).otherwise(col("average_score")))
    pipe.runIncremental(window, wm, LocalDateTime.of(2024, 6, 28, 0, 5))

    val after = pipe.readTable("sessions").orderBy("id").collect()
    // session 1 (has reviewers -> manual pass) got the new score
    assert(after(0).getAs[Double]("average_score") === 0.95)
    // session 2 (no reviewers, no categories) untouched
    assert(after(1).getAs[Any]("average_score") === null)
    assert(pipe.readTable("sessions").count() === 2)
    assert(Incremental.readWatermark(wm) === LocalDateTime.of(2024, 6, 28, 0, 5))
  }

  test("--load-to emits every session child frame, not just the fact") {
    val outDir = Files.createTempDirectory("graft-loadto").toString
    val inputDir = new java.io.File(resource("api/sessions.json")).getParent
    RunEtl.run(spark, RunEtl.Opts(input = inputDir, loadTo = Some("json"), out = Some(outDir)))
    val files = new java.io.File(outDir).list().toSet
    for (n <- Seq("sessions", "sessions_tags", "sessions_categories",
        "sessions_reviewers", "sessions_scores", "sessions_comments",
        "sessions_summaries", "sessions_crm_statuses"))
      assert(files.exists(_.startsWith(s"$n-begin-end")), s"missing child sink $n in $files")
  }

  test("watermark round-trips and defaults to minimum when absent") {
    val p = Files.createTempDirectory("graft-wm").toString + "/wm"
    assert(Incremental.readWatermark(p) === LocalDateTime.of(1, 1, 1, 0, 0, 0))
    val now = LocalDateTime.of(2024, 6, 28, 12, 30, 45)
    Incremental.writeWatermark(p, now)
    assert(Incremental.readWatermark(p) === now)
  }
}
