package graft.perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType

import graft.pipeline.EtlPipeline
import graft.sync.Incremental

/** etl_sync: one backfill `runDaily` into an empty warehouse, then the
  * daily cycles of `runDaily` + `runIncremental` the plan lists, over page
  * dumps the payload generator wrote. Untraced runs call `runDaily` itself; traced runs
  * make its three calls directly, in its order, so each gets a span.
  */
object EtlRun {

  /** API payload shapes, as a schema-on-read extract would type them:
    * integers as BIGINT, timestamps as strings, JSON objects as structs.
    */
  val rawSchemas: Map[String, StructType] = Map(
    "agents" -> ("id BIGINT, name STRING, phone_number STRING, is_active BOOLEAN, " +
      "deactivated_at STRING, groups ARRAY<STRUCT<id: BIGINT, name: STRING, start_dt: STRING>>, " +
      "user STRUCT<id: BIGINT>, reactions ARRAY<STRING>, phone_number_aliases ARRAY<STRING>"),
    "scorecards" -> ("id BIGINT, name STRING, type STRING, na_behavior STRING, " +
      "count_critical_scores BOOLEAN, is_automated BOOLEAN, is_protected BOOLEAN, " +
      "is_default BOOLEAN, is_archived BOOLEAN, team_ids ARRAY<BIGINT>, categories ARRAY<STRUCT<" +
      "id: BIGINT, name: STRING, scorecard_id: BIGINT, sort_order: BIGINT, points: ARRAY<STRUCT<" +
      "id: BIGINT, scorecard_id: BIGINT, category_id: BIGINT, name: STRING, description: STRING, " +
      "sort_order: BIGINT, critical: BOOLEAN, max_score: BIGINT, allow_partial_score: BOOLEAN, " +
      "score_values: ARRAY<BIGINT>>>>>"),
    "groups" -> ("id BIGINT, name STRING, scorecard_id BIGINT, is_default BOOLEAN, " +
      "additional_scorecards ARRAY<BIGINT>"),
    "labels" -> "id BIGINT, text STRING, color STRING",
    "categories" -> ("id BIGINT, name STRING, filter_data STRING, position BIGINT, " +
      "created_at STRING, updated_at STRING, labels ARRAY<STRUCT<id: BIGINT, text: STRING>>"),
    "tags" -> ("id BIGINT, name STRING, type STRING, team_id BIGINT, is_archived BOOLEAN, " +
      "archived_by_id BIGINT, archived_at STRING, labels ARRAY<STRUCT<id: BIGINT>>, " +
      "words ARRAY<STRING>, phrases ARRAY<STRING>, color STRING"),
    "users" -> ("id BIGINT, email STRING, is_active BOOLEAN, is_superuser BOOLEAN, " +
      "full_name STRING, agent_id BIGINT, agent_group_id BIGINT, language STRING, uuid STRING, " +
      "invite_expires STRING, role_ids ARRAY<BIGINT>, permissions ARRAY<STRING>"),
    "sessions" -> ("id STRING, type STRING, caller_id STRING, source STRING, " +
      "language_code STRING, asr_size STRING, filename STRING, destination_id STRING, " +
      "start_dt STRING, direction STRING, agent_id BIGINT, group_id BIGINT, duration DOUBLE, " +
      "silence DOUBLE, silence_percent DOUBLE, agent_channel BIGINT, comments_count BIGINT, " +
      "default_scorecard_id BIGINT, average_score DOUBLE, is_processed BOOLEAN, " +
      "overlaps_data STRUCT<client: DOUBLE, agent: DOUBLE>, " +
      "duration_details STRUCT<`0`: DOUBLE, `1`: DOUBLE>, " +
      "score_details STRUCT<automated_score: DOUBLE, manual_score: DOUBLE>, " +
      "queue_name STRING, campaign_name STRING, term_reason STRING, waiting_time BIGINT, " +
      "fcr BIGINT, csi BIGINT, nps BIGINT, list_id BIGINT, words_count_agent BIGINT, " +
      "words_count_client BIGINT, words_count_both BIGINT, caller_prev_session_id STRING, " +
      "additional_info STRUCT<ticket_system_id: STRING, ticket_system_url: STRING>, " +
      "tags ARRAY<STRUCT<id: BIGINT, match: ARRAY<STRUCT<tag_id: BIGINT, score: DOUBLE, " +
      "matched_corpus_text: STRING, is_agent: BOOLEAN, transcript_id: BIGINT, " +
      "matched_query_text: STRING, meta: STRING>>>>, " +
      "categories ARRAY<STRUCT<id: BIGINT, is_verified: BOOLEAN>>, " +
      "reviewers ARRAY<STRUCT<id: BIGINT, last_reviewed_at: STRING>>, " +
      "scores ARRAY<STRUCT<session_id: STRING, scorecard_id: BIGINT, reviewer_id: BIGINT, " +
      "point_scores: ARRAY<STRUCT<scorecard_point_id: BIGINT, score: DOUBLE, comment: STRING>>>>, " +
      "comments ARRAY<STRUCT<author_id: BIGINT, text: STRING, created_at: STRING>>, " +
      "summary ARRAY<STRUCT<text: STRING>>, crm_statuses ARRAY<STRUCT<crm_status: STRING>>, " +
      "end_dt STRING, updated_at STRING, agent_name STRING, category_ids ARRAY<BIGINT>")
  ).map { case (k, v) => k -> StructType.fromDDL(v) }

  def typed(spark: SparkSession, dir: String, prefix: String, schema: String): DataFrame =
    spark.read.format("graft-paged").option("dir", dir).option("prefix", prefix).load()
      .select(from_json(col("payload"), rawSchemas(schema)).as("r"))
      .select("r.*")

  private def ldt(s: String) = LocalDateTime.parse(s)

  /** Data files under the warehouse, by path relative to it. */
  private def listing(root: java.io.File): Set[String] = {
    val base = root.toPath
    if (!root.exists()) Set.empty
    else {
      val w = java.nio.file.Files.walk(base)
      try w.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => base.relativize(p).toString).toSet
      finally w.close()
    }
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer],
          record: java.util.Map[String, Any]): Unit = {
    def call[T](name: String, req: String)(body: => T): T =
      tracer.fold(body)(_.span(name, req)(body))
    val plan = Json.read(a.input)
    val wh = s"${a.work}/etl/warehouse"
    val whDir = new java.io.File(wh)
    val wm = s"$wh/_meta/last_synced"
    val pipe = new EtlPipeline(spark, wh)
    val listings = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // files written and partitions touched per pipeline call, traced runs only
    def listed[T](name: String, req: String)(body: => T): T =
      if (tracer.isEmpty) body
      else {
        val before = listing(whDir)
        val r = body
        val written = listing(whDir) -- before
        listings += Map("span" -> name, "request" -> req, "files_written" -> written.size,
          "partitions_touched" -> written.map(p => new java.io.File(p).getParent).size)
        r
      }
    def daily(dump: com.fasterxml.jackson.databind.JsonNode, req: String): Unit = {
      val dir = dump.get("dir").asText
      val now = dump.get("now").asText
      val names = dump.get("dicts").elements().asScala.map(_.asText).toSeq
      val (dicts, sessions) = call("sources.read", req) {
        (names.map(n => n -> typed(spark, dir, n, n)).toMap,
          typed(spark, dir, "sessions", "sessions"))
      }
      if (tracer.isEmpty) pipe.runDaily(dicts, sessions, wm, ldt(now))
      else {
        listed("pipeline.sync_dicts", req)(call("pipeline.sync_dicts", req)(pipe.syncBaseDicts(dicts)))
        listed("pipeline.sync_sessions", req)(call("pipeline.sync_sessions", req)(pipe.syncSessions(sessions)))
        Incremental.writeWatermark(wm, ldt(now))
      }
    }
    def untraced[T](body: => T): T = tracer.fold(body)(_.untraced(body))
    // a file copy of the warehouse, for the checker; no Spark work
    def snapshot(to: String): Unit = {
      val src = whDir.toPath
      val w = java.nio.file.Files.walk(src)
      try w.iterator().asScala.foreach { p =>
        val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      } finally w.close()
    }
    val opened0 = graft.sources.PagedV2.pagesOpened.get()
    val bf = plan.get("backfill")
    val t0 = System.nanoTime()
    daily(bf, "backfill")
    record.put("backfill_s", (System.nanoTime() - t0) / 1e9)
    snapshot(s"${a.work}/etl/after_backfill")

    val cycles = plan.get("cycles").elements().asScala.toSeq
    val times = cycles.zipWithIndex.map { case (cy, c) =>
      val req = s"cycle$c"
      val now = cy.get("now").asText
      val since = Incremental.readWatermark(wm)
      val t1 = System.nanoTime()
      daily(cy, req)
      val window = call("sources.read", req)(typed(spark, cy.get("dir").asText, "window", "sessions"))
      listed("sync.incremental", req)(call("sync.incremental", req)(
        pipe.runIncremental(window, wm, ldt(now), since = Some(since))))
      (System.nanoTime() - t1) / 1e9
    }
    record.put("cycles_run", times.size)
    record.put("cycle_s", times.toList)
    record.put("pages_opened", graft.sources.PagedV2.pagesOpened.get() - opened0)
    record.put("listings", listings.toList)
    record.put("audit", untraced(pipe.auditHealth()).map(h => Map("table" -> h.table, "rows" -> h.rows,
      "duplicate_key_groups" -> h.duplicateKeyGroups, "null_key_rows" -> h.nullKeyRows)))
  }
}
