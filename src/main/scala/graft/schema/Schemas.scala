package graft.schema

import org.apache.spark.sql.types._

/** The engine's logical catalog: the 17-table conversation-analytics star
  * schema (SURVEY.md §1.3) plus the raw nested API payload shapes the
  * flatten operators consume (§2.3).
  *
  * Column sets and upsert keys derive from the reference's SQLAlchemy
  * models (`ET-ETL-DWH-PY312/ETL/schema.py:13-498`); types map per
  * SURVEY.md §1.2 (DateTime→TimestampType second precision, UUID→String,
  * JSON→typed struct where the shape is documented inline, else string).
  * Constraints (PKs/uniques) are not store-enforced in Spark — they are
  * the `keys` argument of [[graft.ops.Upsert]].
  */
object Schemas {

  /** table name → upsert key columns (unique constraints, schema.py). */
  val upsertKeys: Map[String, Seq[String]] = Map(
    "agents" -> Seq("id"),
    "scorecards" -> Seq("id"),
    "groups" -> Seq("id"),
    "agent_group_associations" -> Seq("group_id", "agent_id", "start_dt"),
    "users" -> Seq("id"),
    "categories" -> Seq("id"),
    "labels" -> Seq("id"),
    "category_labels" -> Seq("category_id", "label_id"),
    "scorecard_categories" -> Seq("id", "scorecard_id"),
    "scorecard_points" -> Seq("id", "scorecard_id"),
    "tags" -> Seq("id"),
    "tag_labels" -> Seq("tag_id", "label_id"),
    "sessions" -> Seq("id"),
    "sessions_categories" -> Seq("session_id", "category_id", "is_verified"),
    "sessions_crm_statuses" -> Seq("session_id", "crm_status"),
    "sessions_reviewers" -> Seq("session_id", "reviewer_id"),
    "sessions_scores" -> Seq("session_id", "scorecard_id", "reviewer_id", "scorecard_point_id"),
    "sessions_tags" -> Seq("session_id", "tag_id", "transcript_id"),
    "sessions_comments" -> Seq("session_id"),
    "sessions_summaries" -> Seq("session_id", "text")
  )

  // ---- dimensions (schema.py:13-291) ----

  val agents: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("phone_number", StringType),
    StructField("is_active", BooleanType),
    StructField("deactivated_at", TimestampType)
  ))

  val scorecards: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("type", StringType),
    StructField("na_behavior", StringType),
    StructField("count_critical_scores", BooleanType),
    StructField("is_automated", BooleanType),
    StructField("is_protected", BooleanType),
    StructField("is_default", BooleanType),
    StructField("is_archived", BooleanType)
  ))

  val groups: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("scorecard_id", IntegerType),
    StructField("is_default", BooleanType)
  ))

  val agentGroupAssociations: StructType = StructType(Seq(
    StructField("group_id", IntegerType, nullable = false),
    StructField("agent_id", IntegerType, nullable = false),
    StructField("start_dt", TimestampType, nullable = false)
  ))

  val users: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("email", StringType),
    StructField("is_active", BooleanType),
    StructField("is_superuser", BooleanType),
    StructField("full_name", StringType),
    StructField("agent_id", IntegerType),
    StructField("agent_group_id", IntegerType),
    StructField("language", StringType),
    StructField("uuid", StringType),
    StructField("invite_expires", TimestampType)
  ))

  val categories: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("filter_data", StringType),
    StructField("position", IntegerType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)
  ))

  val labels: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("text", StringType)
  ))

  val categoryLabels: StructType = StructType(Seq(
    StructField("category_id", IntegerType, nullable = false),
    StructField("label_id", IntegerType, nullable = false)
  ))

  val scorecardCategories: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("scorecard_id", IntegerType, nullable = false),
    StructField("sort_order", IntegerType)
  ))

  val scorecardPoints: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("scorecard_id", IntegerType, nullable = false),
    StructField("category_id", IntegerType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("sort_order", IntegerType),
    StructField("critical", BooleanType),
    StructField("max_score", IntegerType),
    StructField("allow_partial_score", BooleanType)
  ))

  val tags: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("type", StringType),
    StructField("team_id", IntegerType),
    StructField("is_archived", BooleanType),
    StructField("archived_by_id", IntegerType),
    StructField("archived_at", TimestampType)
  ))

  val tagLabels: StructType = StructType(Seq(
    StructField("tag_id", IntegerType, nullable = false),
    StructField("label_id", IntegerType, nullable = false)
  ))

  // ---- facts (schema.py:294-493) ----

  val sessions: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false), // UUID
    StructField("type", StringType),
    StructField("caller_id", StringType),
    StructField("source", StringType),
    StructField("language_code", StringType),
    StructField("asr_size", StringType),
    StructField("filename", StringType),
    StructField("destination_id", StringType),
    StructField("start_dt", TimestampType),
    StructField("direction", StringType),
    StructField("agent_id", IntegerType),
    StructField("group_id", IntegerType),
    StructField("duration", DoubleType),
    StructField("silence", DoubleType),
    StructField("silence_percent", DoubleType),
    StructField("agent_channel", IntegerType),
    StructField("comments_count", IntegerType),
    StructField("default_scorecard_id", IntegerType),
    StructField("average_score", DoubleType),
    StructField("is_processed", BooleanType),
    // JSON columns with documented shapes (schema.py:325-327,340)
    StructField("overlaps_data", StructType(Seq(
      StructField("client", DoubleType), StructField("agent", DoubleType)))),
    StructField("duration_details", MapType(StringType, DoubleType)), // per-channel "0"/"1"
    StructField("score_details", StructType(Seq(
      StructField("automated_score", DoubleType), StructField("manual_score", DoubleType)))),
    StructField("queue_name", StringType),
    StructField("campaign_name", StringType),
    StructField("term_reason", StringType),
    StructField("waiting_time", IntegerType),
    StructField("fcr", IntegerType),
    StructField("csi", IntegerType),
    StructField("nps", IntegerType),
    StructField("list_id", IntegerType),
    StructField("words_count_agent", IntegerType),
    StructField("words_count_client", IntegerType),
    StructField("words_count_both", IntegerType),
    StructField("caller_prev_session_id", StringType),
    StructField("additional_info", StringType) // opaque JSON passthrough
  ))

  val sessionsCategories: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("category_id", IntegerType, nullable = false),
    StructField("is_verified", BooleanType, nullable = false)
  ))

  val sessionsCrmStatuses: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("crm_status", StringType, nullable = false)
  ))

  val sessionsReviewers: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("reviewer_id", IntegerType, nullable = false),
    StructField("last_reviewed_at", TimestampType)
  ))

  val sessionsScores: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("scorecard_id", IntegerType, nullable = false),
    StructField("reviewer_id", IntegerType, nullable = false),
    StructField("scorecard_point_id", IntegerType, nullable = false),
    StructField("score", DoubleType),
    StructField("comment", StringType)
  ))

  val sessionsTags: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("tag_id", IntegerType, nullable = false),
    StructField("score", DoubleType),
    StructField("matched_corpus_text", StringType),
    StructField("is_agent", BooleanType),
    StructField("transcript_id", IntegerType),
    StructField("matched_query_text", StringType),
    StructField("meta", StringType)
  ))

  val sessionsComments: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("author_id", IntegerType),
    StructField("text", StringType)
  ))

  val sessionsSummaries: StructType = StructType(Seq(
    StructField("session_id", StringType, nullable = false),
    StructField("text", StringType, nullable = false)
  ))

  val all: Map[String, StructType] = Map(
    "agents" -> agents, "scorecards" -> scorecards, "groups" -> groups,
    "agent_group_associations" -> agentGroupAssociations, "users" -> users,
    "categories" -> categories, "labels" -> labels,
    "category_labels" -> categoryLabels,
    "scorecard_categories" -> scorecardCategories,
    "scorecard_points" -> scorecardPoints, "tags" -> tags,
    "tag_labels" -> tagLabels, "sessions" -> sessions,
    "sessions_categories" -> sessionsCategories,
    "sessions_crm_statuses" -> sessionsCrmStatuses,
    "sessions_reviewers" -> sessionsReviewers,
    "sessions_scores" -> sessionsScores, "sessions_tags" -> sessionsTags,
    "sessions_comments" -> sessionsComments,
    "sessions_summaries" -> sessionsSummaries
  )

  /** Facts loaded O(delta): (source timestamp column → derived date
    * partition column). A daily sync then rewrites only the touched date
    * partitions instead of the whole table — the difference between
    * O(day) and O(100 TB) per sync. The date is stable per key (a
    * session's start never moves), which is
    * [[graft.ops.Upsert.upsertPartitioned]]'s contract. Children stay
    * full-table rewrites: they carry no date column in the reference
    * schema.
    */
  val partitionedFacts: Map[String, (String, String)] = Map(
    "sessions" -> (("start_dt", "start_date")))

  /** Dropped-on-purpose source fields (projection contract,
    * Transform.py:141-150,268-282) — the lenient-drop list applied to raw
    * API payloads before load.
    */
  val droppedSessionFields: Seq[String] = Seq(
    "end_dt", "created_at", "updated_at", "compliance_matches",
    "ptp_kept_prediction", "comment_author_ids", "group", "agent",
    "agent_name", "category_ids", "emotions", "activity", "sentiments",
    "events_call_id", "low_quality")
}
