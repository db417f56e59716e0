package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

import graft.ops.Upsert

/** Structured Streaming upgrade of the batch incremental-sync protocol
  * (SURVEY.md §2.8/§7.4): same semantics as [[graft.sync.Incremental]] —
  * watermark, late-data window, keyed upsert — expressed as readStream →
  * watermark → foreachBatch upsert. The reference's cron-every-5-min
  * batch (`ET-ETL-DWH-PY312/run-et-etl.py:125-127`) becomes a trigger
  * interval; its JSON watermark file becomes the checkpoint dir.
  */
object StreamSync {

  /** File-arrival stream over a directory of parquet drops. */
  def readParquetStream(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 16).parquet(path)

  /** Tumbling-window counts with a late-data watermark — the streaming
    * analog of the daily/half-day sync windows (utils.py:60-79,94-105).
    */
  def windowedCounts(events: DataFrame, tsCol: String, window_ : String,
                     lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total_value"))

  /** Streaming exact dedup with BOUNDED state: duplicates of a key are
    * dropped while they arrive within `delay` of the watermark; a key's
    * dedup state is evicted once the event-time watermark passes it.
    * This is the streaming form of [[graft.ext.Dedup.exact]] /
    * [[graft.ext.Dedup.exactAgainstStore]] for the ingest path — and
    * the scale-critical contrast to `dropDuplicates` on a stream, whose
    * state grows with every key ever seen and eventually OOMs a
    * 100-TB/day pipeline. Rows later than the watermark are dropped by
    * the watermark operator itself (standard lateness semantics).
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Upsert sink: each micro-batch merges into the parquet target with
    * source-wins semantics (Load.py:228-231) through
    * [[Upsert.upsertPartitioned]], which commits every touched partition
    * or none. Exactly-once per key given the checkpoint + idempotent
    * merge: a micro-batch interrupted before its commit replays.
    */
  def upsertSink(
      updates: DataFrame, tablePath: String, keys: Seq[String],
      partitionCol: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Empty triggers (e.g. the watermark-advance batch AvailableNow
        // appends) never touch the target — an empty merge would still
        // run a read and a staged write. CONTRACT: the
        // target table exists only after the first NON-empty batch (an
        // empty partitioned parquet table cannot carry a schema, so
        // "create empty on first trigger" would produce an unreadable
        // or layout-corrupting artifact); readers of a possibly-idle
        // stream must tolerate an absent target. Persist first:
        // foreachBatch frames re-execute their micro-batch plan per
        // action, and isEmpty + merge would otherwise run the stateful
        // aggregation twice.
        val b = batch.persist()
        try {
          if (!b.isEmpty)
            Upsert.upsertPartitioned(b.sparkSession, tablePath, b, keys, partitionCol)
        } finally b.unpersist()
      }
      .start()

  /** Event fed into the custom stateful tracker. */
  final case class UserEvent(userId: Long, ts: java.sql.Timestamp, value: Double)

  /** Running per-user state: what the reference's SaaS accumulates
    * upstream (per-agent running quality stats) — here kept in Spark
    * state store instead of an external system.
    */
  final case class UserStats(userId: Long, nEvents: Long, totalValue: Double,
                             lastSeen: java.sql.Timestamp)

  /** StatefulProcessor keeping one [[UserStats]] ValueState per user.
    * TTL (with TimeMode.ProcessingTime) bounds state for idle users —
    * the requirement for unbounded key spaces at 100 TB of events.
    */
  class UserStatsProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, UserEvent, UserStats] {
    @transient private var state: ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserStats]("stats", Encoders.product[UserStats], ttl)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserStats] = {
      val batch = rows.toSeq
      val prev =
        if (state.exists()) state.get()
        else UserStats(key, 0L, 0.0, new java.sql.Timestamp(0L))
      // lastSeen must be monotone: a late micro-batch can deliver
      // events OLDER than what's already in state
      val batchMax = batch.map(_.ts).maxByOption(_.getTime)
      val next = UserStats(
        key,
        prev.nEvents + batch.size,
        prev.totalValue + batch.map(_.value).sum,
        batchMax.filter(_.getTime > prev.lastSeen.getTime).getOrElse(prev.lastSeen))
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Custom arbitrary-state aggregation via transformWithState (the
    * Spark 4 StatefulProcessor API; the legacy mapGroupsWithState exec
    * node is broken in this Spark build — its PythonSQLMetrics init
    * NPEs). Requires the RocksDB state store provider:
    * `spark.sql.streaming.stateStore.providerClass =
    *  org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
    * Emits the updated per-user stats row each micro-batch.
    */
  def runningUserStats(events: Dataset[UserEvent],
                       ttl: TTLConfig = TTLConfig.NONE): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new UserStatsProcessor(ttl), TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream inner join within a time tolerance: each left event
    * pairs with right events of the same key whose timestamp lies in
    * [leftTs - tolerance, leftTs + tolerance]. Watermarks on BOTH sides
    * + the range condition let Spark expire join state — without them
    * stream-stream state grows forever. The streaming analog of the
    * sessions⨝details enrichment.
    *
    * Column name contract: both inputs keep their own column names,
    * which must not collide except the key.
    */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      tolerance: String, lateness: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      l(key) === r(key) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $tolerance") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $tolerance"))
      .drop(r(key))
  }

  /** Sessionization by inactivity gap — `session_window` built-in; the
    * conversation-analytics analog of grouping events into sessions.
    */
  def sessionize(events: DataFrame, tsCol: String, userCol: String,
                 gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count("*").as("n_events"), sum("value").as("total_value"))
}
