package graft.pipeline

import java.time.LocalDateTime
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ops.Upsert
import graft.schema.Schemas
import graft.sink.TableCommit
import graft.sync.Incremental

/** End-to-end orchestration of the reference's daily sync
  * (`ET-ETL-DWH-PY312/run-et-etl.py:119-204`): dims first (facts carry
  * FKs into them), then facts, then the watermark — all landing in a
  * parquet warehouse directory via keyed source-wins upsert.
  *
  * The reference's per-row SQL loop (Load.py:102-162) becomes one
  * distributed merge per table. Its phase ordering stays an
  * orchestration-layer concern (SURVEY.md §3): the phases run one after
  * another — dims, then sessions, then the watermark — while the
  * independent tables of one phase load concurrently. Each table
  * commits on its own through [[TableCommit]], which works per target,
  * so concurrent loads of different tables do not interfere.
  *
  * Scale: a load's cost follows the batch, not the stored table's files.
  * Reading the target runs no Spark job ([[TableCommit.read]]): the
  * schema comes from one footer, and the partitioned merge lists only
  * the partitions the batch touches. Every write is rebalanced
  * ([[TableCommit.rightSized]]), so under adaptive execution a full
  * rewrite of a small table writes one file and a partitioned merge one
  * per touched partition, split only above the advisory size.
  */
final class EtlPipeline(spark: SparkSession, warehouseDir: String) {

  private def tablePath(name: String) = s"$warehouseDir/$name"

  /** Merge one table batch into the warehouse. Key columns come from the
    * schema's unique constraints (utils.py:247-253); incoming columns are
    * reconciled against the declared schema (Load.py:91-99) when one is
    * declared for the table.
    */
  def loadTable(name: String, batch: DataFrame): Unit =
    described(s"graft load $name")(merge(name, batch))

  private val JobDescription = "spark.job.description"

  /** Runs `body` with its jobs described as `description`, so the jobs
    * of interleaved loads can be told apart. The previous description
    * is restored afterwards; the job group is left alone.
    */
  private def described[T](description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(JobDescription, previous)
  }

  private def merge(name: String, batch: DataFrame): Unit = {
    val keys = Schemas.upsertKeys.getOrElse(name, Seq("id"))
    val reconciled = Schemas.all.get(name) match {
      case Some(schema) =>
        val target = schema.fieldNames.toSeq
        val named = Upsert.reconcileSchema(batch, target, keys).df
        // cast to the declared catalog types (schema-on-read JSON gives
        // long/double where the DWH declares int/float; ANSI cast keeps
        // overflow loud). JSON-shaped columns need mediation: schema-
        // on-read infers struct where the catalog declares map (dynamic
        // keys like duration_details '0'/'1') or an opaque JSON string
        // (additional_info) — both go through to_json.
        import org.apache.spark.sql.functions.{col, from_json, to_json}
        import org.apache.spark.sql.types.{DataType, MapType, StringType, StructType, ArrayType}
        def convert(c: String, src: DataType, tgt: DataType) = (src, tgt) match {
          case (s, t) if s == t => col(c)
          case (_: StructType | _: MapType | _: ArrayType, StringType) => to_json(col(c))
          case (_: StructType, m: MapType) => from_json(to_json(col(c)), m)
          case _ => col(c).cast(tgt)
        }
        named.select(named.columns.map { c =>
          convert(c, named.schema(c).dataType, schema(c).dataType).as(c)
        }.toIndexedSeq: _*)
      case None => batch
    }
    Schemas.partitionedFacts.get(name) match {
      case Some((srcCol, pCol)) if reconciled.columns.contains(srcCol) =>
        loadPartitioned(name, reconciled, keys, srcCol, pCol)
      case _ =>
        loadFullRewrite(name, reconciled, keys)
    }
  }

  /** O(delta) fact load: derive the date partition column and merge only
    * the date partitions the batch touches (§7.4: a daily sessions sync
    * at 100 TB must not rewrite 100 TB) through
    * [[Upsert.upsertPartitioned]]. A pre-partitioning warehouse (data
    * files at the table root, no partition directories) is migrated
    * once by a full merge, written partitioned from then on.
    */
  private def loadPartitioned(name: String, batch: DataFrame, keys: Seq[String],
                              srcCol: String, pCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, to_date}
    val path = tablePath(name)
    val withP = batch.withColumn(pCol, to_date(col(srcCol)))
    if (TableCommit.recover(spark, path) && !partitionedBy(path, pCol)) {
      val existing = TableCommit.read(spark, path).withColumn(pCol, to_date(col(srcCol)))
      val merged = Upsert.upsert(existing, withP, keys)
      TableCommit.replaceTable(TableCommit.rightSized(merged, Some(pCol)), path, Some(pCol))
    } else Upsert.upsertPartitioned(spark, path, withP, keys, pCol)
  }

  private def partitionedBy(path: String, pCol: String): Boolean = {
    val p = new Path(path)
    fileSystem(p).listStatus(p)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith(s"$pCol="))
  }

  private def loadFullRewrite(name: String, reconciled: DataFrame,
                              keys: Seq[String]): Unit = {
    val path = tablePath(name)
    // existence is checked explicitly — a transient READ failure must
    // abort the merge, not silently replace the table with the batch
    val existing =
      if (TableCommit.recover(spark, path)) Some(TableCommit.read(spark, path)) else None
    // GUARDRAIL: a full-table rewrite is O(table), not O(delta) — at
    // warehouse scale a daily sync through this path rewrites the whole
    // table every day. Tables above the size threshold REFUSE the
    // rewrite (register a partition column in Schemas.partitionedFacts,
    // which routes through the O(delta) loadPartitioned) unless the
    // caller explicitly forces it (a deliberate one-off, e.g. a schema
    // backfill). Threshold on the EXISTING table's on-disk bytes —
    // known before any work starts, no extra Spark job.
    existing.foreach { _ =>
      val p = new Path(path)
      val bytes = fileSystem(p).getContentSummary(p).getLength
      val maxBytes = setting("spark.graft.etl.maxFullRewriteBytes",
        (64L << 30).toString)(_.toLongOption)
      val forced = setting("spark.graft.etl.forceFullRewrite", "false")(_.toBooleanOption)
      if (bytes > maxBytes && !forced)
        throw new IllegalStateException(
          s"loadTable($name): full-table rewrite of $bytes bytes exceeds " +
            s"spark.graft.etl.maxFullRewriteBytes=$maxBytes. Register " +
            s"'$name' in Schemas.partitionedFacts for the O(delta) " +
            "partitioned merge, or set " +
            "spark.graft.etl.forceFullRewrite=true for a deliberate one-off.")
    }
    val merged = existing.fold(reconciled)(Upsert.upsert(_, reconciled, keys))
    TableCommit.replaceTable(TableCommit.rightSized(merged, None), path)
  }

  /** A malformed value fails naming the key and the value; it never
    * falls back to the default.
    */
  private def setting[T](key: String, default: String)(parse: String => Option[T]): T = {
    val raw = spark.conf.get(key, default)
    parse(raw).getOrElse(
      throw new IllegalArgumentException(s"$key: cannot parse value '$raw'"))
  }

  private def fileSystem(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A stored table, read with no Spark job ([[TableCommit.read]]). */
  def readTable(name: String): DataFrame = TableCommit.read(spark, tablePath(name))

  /** Post-load integrity audit over every materialized table: key
    * uniqueness + null keys per the declared constraints
    * (schema.py uniques → [[Schemas.upsertKeys]]). Empty violations on
    * a healthy warehouse; the reference's dry-run validator analog
    * (Load.py:33-60) running against the store instead of the payload.
    */
  def auditHealth(): Seq[graft.ops.Validate.TableHealth] =
    Schemas.upsertKeys.keys.toSeq.sorted
      .filter(tableExists)
      .map(n => graft.ops.Validate.health(n, readTable(n), Schemas.upsertKeys(n)))

  def tableExists(name: String): Boolean = {
    val p = new Path(tablePath(name))
    fileSystem(p).exists(p)
  }

  /** Runs independent table loads concurrently and returns once every
    * one has finished and every pool thread has ended. The pool is made
    * per call, so its threads start from the caller's thread and
    * inherit its local properties (job group, active session); it has
    * min(loads, default parallelism) threads. When a load fails the
    * others still run to their end, and the first failure in `loads`
    * order is rethrown with the rest suppressed on it: no write
    * outlives the call.
    */
  private def loadConcurrently(loads: Seq[(String, DataFrame)]): Unit = if (loads.nonEmpty) {
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(
      math.min(loads.size, spark.sparkContext.defaultParallelism),
      { r =>
        val t = new Thread(r, s"graft-load-${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    try {
      val pending = loads.map { case (name, df) => pool.submit[Unit](() => loadTable(name, df)) }
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Base-dictionaries phase (run-et-etl.py:13-29): every dimension
    * table is independent of the others, so all of them load at once.
    * The dictionaries are not cached: each is a few pages, and the job
    * that would fill a cache costs about what the re-read saves.
    */
  def syncBaseDicts(raw: Map[String, DataFrame]): Unit = loadConcurrently(raw.toSeq.flatMap {
    case ("agents", a) =>
      val (dim, assoc) = Transform.agents(a)
      Seq("agents" -> dim, "agent_group_associations" -> assoc)
    case ("scorecards", sc) =>
      val (dim, cats, points) = Transform.scorecards(sc)
      Seq("scorecards" -> dim, "scorecard_categories" -> cats, "scorecard_points" -> points)
    case ("groups", g) => Seq("groups" -> Transform.groups(g))
    case ("labels", l) => Seq("labels" -> Transform.labels(l))
    case ("categories", c) =>
      val (dim, labels) = Transform.categories(c)
      Seq("categories" -> dim) ++ labels.map("category_labels" -> _)
    case ("tags", tg) =>
      val (dim, tl) = Transform.tags(tg)
      Seq("tags" -> dim) ++ tl.map("tag_labels" -> _)
    case ("users", u) => Seq("users" -> Transform.users(u))
    case _ => Nil
  })

  /** Sessions phase (run-et-etl.py:32-63). The input is parsed once: it
    * is persisted at MEMORY_AND_DISK and filled by one `count()` before
    * any table is written, the 8 session tables are derived from that
    * cache and load concurrently, and the cache is dropped when the
    * phase ends, failed or not. An empty extract short-circuits
    * (run-et-etl.py:54-55 — intent, not the truthy-string bug).
    */
  def syncSessions(rawSessions: DataFrame): Unit = {
    // a frame the caller cached stays the caller's to drop
    val owned = rawSessions.storageLevel == StorageLevel.NONE
    val raw = if (owned) rawSessions.persist(StorageLevel.MEMORY_AND_DISK) else rawSessions
    try {
      val rows = described("graft load sessions and its child tables: read source")(raw.count())
      if (rows > 0) {
        val t = Transform.sessions(raw)
        // key is session_id only: a session with several comments would
        // put duplicate keys in one batch, violating upsert's
        // precondition — keep the LAST comment by array position (the
        // reference's sequential merge lands on the same row)
        val comments = Upsert.dedupLastWins(t.comments, Seq("session_id"), "comment_pos")
          .drop("comment_pos")
        loadConcurrently(Seq("sessions" -> t.sessions, "sessions_tags" -> t.tags,
            "sessions_categories" -> t.categories, "sessions_reviewers" -> t.reviewers) ++
          t.scores.map("sessions_scores" -> _) ++
          Seq("sessions_comments" -> comments, "sessions_summaries" -> t.summaries,
            "sessions_crm_statuses" -> t.crmStatuses))
      }
    } finally if (owned) raw.unpersist(blocking = true)
  }

  /** Full daily run (EP1): dims → facts → watermark. */
  def runDaily(rawDicts: Map[String, DataFrame], rawSessions: DataFrame,
               watermarkPath: String, now: LocalDateTime): Unit = {
    syncBaseDicts(rawDicts)
    syncSessions(rawSessions)
    Incremental.writeWatermark(watermarkPath, now)
  }

  /** EP1 step 5 — the incremental late-data pass (run-et-etl.py:66-116).
    * One re-sync set, synced once: the sessions in `rawWindow` that
    *
    *  - carry manual scores ("is_scored,manual" filter: late QA reviews
    *    appear days after the conversation, run-et-etl.py:84-93), or
    *  - reference a category updated since the last watermark
    *    (`updated_at`-driven invalidation, run-et-etl.py:95-106; skipped
    *    when no categories dimension was ever loaded).
    *
    * `rawWindow` IS the trailing re-extract: the caller bounds it (the
    * reference bounds at the source with a 30-day date filter; build the
    * predicate with [[Incremental.resyncWindow]] — with partition
    * pruning that re-read is O(window)). The re-sync is a plain upsert,
    * so re-running is idempotent.
    */
  def runIncremental(
      rawWindow: DataFrame,
      watermarkPath: String,
      now: LocalDateTime,
      since: Option[LocalDateTime] = None): Unit = {
    import org.apache.spark.sql.functions.{col, explode, size => asize}
    val manual = asize(col("reviewers")) > 0
    val toResync =
      if (!tableExists("categories")) rawWindow.filter(manual)
      else {
        // `since` lets a caller that already advanced the watermark (e.g.
        // runDaily earlier in the same run) pass the PREVIOUS sync point —
        // reading the file after runDaily wrote `now` would make the
        // changed-category selection a permanent no-op
        val wm = since.getOrElse(Incremental.readWatermark(watermarkPath))
        val pairs = rawWindow.select(col("id").as("__sid"), explode(col("categories.id")).as("__cid"))
        // distinct ids, so the left join duplicates no window row
        val invalidated = Incremental
          .factsOfChangedDims(pairs, readTable("categories"), "__cid", "id", "updated_at", wm)
          .select(col("__sid")).distinct()
        rawWindow.join(invalidated, rawWindow("id") === invalidated("__sid"), "left")
          .filter(manual || col("__sid").isNotNull)
          .drop("__sid")
      }
    syncSessions(toResync)
    Incremental.writeWatermark(watermarkPath, now)
  }
}
