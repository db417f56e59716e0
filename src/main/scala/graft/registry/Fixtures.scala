package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Cleanse, Enrich, Flatten, Upsert}
import graft.ext.{Dedup, Similarity, TextOps}

/** Shared table readers, exact-decimal aggregates, the nested-sessions
  * fixture builder, and the DuckDB SQL replay fragments used by every
  * registry family (split out of the former monolithic SparkEntry).
  */
private[graft] object Fixtures {
  /** Register the DWH parquet tables as temp views on `s`, opening the
    * pure-SQL surface (`spark.sql`) over the same data the DataFrame
    * queries read. Idempotent per session; `events` carries its ns→µs
    * timestamp normalization into the view.
    */
  def registerViews(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    events(s, d).createOrReplaceTempView("events")
  }

  /** Stage a source file into a stream-input directory WITHOUT copying:
    * the file-stream source needs a directory of drops, but duplicating
    * a multi-MB parquet per bench run is pure I/O overhead — a symlink
    * is the same drop to the source's lister (copy fallback for
    * filesystems without symlink support).
    */
  def stageDrop(srcFile: String, destDir: String, dropName: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    def link(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
      try java.nio.file.Files.createSymbolicLink(dst, src)
      catch { case _: Exception => java.nio.file.Files.copy(src, dst) }
    val src = java.nio.file.Paths.get(srcFile)
    if (java.nio.file.Files.isDirectory(src)) {
      // a Spark-WRITTEN table is a directory of part files (unlike the
      // driver's single-file dumps); the file-stream source lists plain
      // files without recursing, so a linked subdirectory would look
      // like an empty stream — link each part as its own drop instead
      Option(src.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) =>
          link(f.toPath, java.nio.file.Paths.get(destDir,
            s"${dropName.stripSuffix(".parquet")}-p$i.parquet"))
        }
    } else link(src, java.nio.file.Paths.get(destDir, dropName))
  }

  /** Memoized table handle per (session, path): `spark.read.parquet`
    * runs a footer schema-inference job (plus file listing) on EVERY
    * call, and the registry re-reads the same 10 read-only driver
    * tables thousands of times per bench/verify JVM — a per-job
    * listener trace (OPTIMIZATION_r19.md) measured the q_sql_* rows as
    * 12-14 such one-task micro-jobs each (≈ half their job count). The memo reuses the resolved
    * DataFrame's schema + file index; it caches NO data and NO results
    * (the plan re-executes on every action) — the same metadata-reuse
    * class as the guide §6 file-listing cache and the heartbeat/nested
    * fixtures below. WeakHashMap on the session so cloned streaming
    * sessions can be collected.
    */
  private val tCache = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val per = tCache.synchronized {
      var m = tCache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        tCache.put(s, m)
      }
      m
    }
    per.computeIfAbsent(s"$dir/$name.parquet", p => s.read.parquet(p))
  }

  /** Scratch directory for streaming drops/checkpoints/sinks: prefer
    * tmpfs (/dev/shm) over java.io.tmpdir — a micro-batch checkpoint is
    * dozens of small fsync'd files (offsets, commits, state snapshots),
    * which on a disk-backed /tmp costs more than the batch itself at
    * test scale. Durability is irrelevant for these self-contained
    * AvailableNow rows; production deployments point checkpoints at
    * durable storage via their own conf.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Recursive delete that NEVER traverses a symlink: scratch dirs hold
    * links to source tables (stageDrop), and `listFiles` on a
    * dir-symlink returns the TARGET's children — recursing would delete
    * the staged table's real files through the link (this bit the 10×
    * scratch dataset once; spec-pinned since).
    */
  private[graft] def deleteNoFollow(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteNoFollow)
    f.delete(); ()
  }

  /** The shutdown-hook reaper body, factored out so a spec can run it
    * against its own dir list: symlink-staged source tables must
    * survive the reap (FixturesSpec pins this contract directly on
    * this method, not just on deleteNoFollow).
    */
  private[graft] def reap(dirs: java.lang.Iterable[String]): Unit =
    dirs.forEach(d => deleteNoFollow(new java.io.File(d)))

  private lazy val scratchCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => reap(scratchDirs)))
  def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(root, prefix).toString
    // RAM-backed scratch must not outlive the JVM: a bench run creates
    // ~20 of these (7 streaming rows × up to 3 reps + warm-up), each
    // holding checkpoint state + a table-sized parquet sink — leaked
    // across runs they would eat /dev/shm. Deletion happens at JVM
    // exit because the returned dir is read LAZILY by the caller's
    // result frame; nothing can clean earlier.
    scratchCleanup
    scratchDirs.add(dir)
    dir
  }

  /** events.parquet's `ts` physical type has changed across testdata
    * generations — TIMESTAMP(NANOS) (vectorized reader rejects it; read
    * as long via the nanosAsLong conf), then TIMESTAMP(MICROS) without
    * the UTC flag (surfaces as TIMESTAMP_NTZ, which `unix_micros` and
    * friends reject). Normalize every variant to one µs-precision
    * session-local TIMESTAMP column `ts_us` so downstream queries never
    * see the storage type. All entry points pin the session timezone to
    * UTC, so the NTZ→LTZ cast is an identity on the instant and matches
    * DuckDB's naive-timestamp `epoch_ns(ts)` byte-for-byte.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType =>
        df.withColumn("ts_us", col("ts").cast(TimestampType))
      case _ => df.withColumn("ts_us", col("ts"))
    }
  }

  /** Exact sum of a 2-decimal double column: accumulate in decimal
    * (associative, order-independent — safe under any shuffle/partial-agg
    * order), then present as double. The DuckDB oracle does the same, so
    * results are bit-identical.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Nested "sessions" payload fixture for the Q22–Q27 per-site flatten
    * queries: orders = sessions, lineitem-derived children, nested with
    * [[Flatten.nestChild]] (the harness inverse, as in q17–q20). One
    * fixture carries ALL seven children so `Transform.sessions` runs
    * against the reference's full payload shape (Transform.py:166-297);
    * built once per (session, dir) and persisted because every child
    * query re-enters through it. Quarter sample — the nest construction
    * is the harness; the flatten under test is scale-invariant.
    */
  /** Heartbeat-punctuation drop for q_stream_sessionize: one far-future
    * row per user, same raw schema as the events table. Building it
    * needs a distinct over events plus a parquet write — harness cost,
    * not session_window work — so it is staged ONCE per (session, dir)
    * (the r7 bench charged the distinct+write to every rep of the most
    * expensive streaming row). Returns the directory of the written
    * parquet; callers stageDrop-link it into each run's input dir.
    */
  private val heartbeatCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def sessionizeHeartbeatDir(s: SparkSession, d: String): String =
    heartbeatCache.computeIfAbsent(s"${s.sparkContext.applicationId}:$d", _ => {
      // self-contained conf: the events table may carry TIMESTAMP(NANOS)
      val b = s.newSession()
      b.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = b.read.parquet(s"$d/events.parquet")
      val tsIsLong = raw.schema("ts").dataType == LongType
      val sentinel =
        if (tsIsLong) lit(4102444800000000000L) // 2100-01-01 in ns
        else lit("2100-01-01 00:00:00").cast(raw.schema("ts").dataType)
      val out = s"${scratchDir("graft-heartbeat")}/hb"
      raw.select(col("user_id")).distinct()
        .withColumn("event_id", lit(-1L))
        .withColumn("ts", sentinel)
        .withColumn("event_type", lit("heartbeat"))
        .withColumn("value", lit(0.0))
        .withColumn("props", lit(null).cast("string"))
        .select(raw.columns.map(col): _*)
        .coalesce(1).write.parquet(out)
      out
    })

  val sessionsRawCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  def sessionsRaw(s: SparkSession, d: String): DataFrame =
    // keyed by applicationId (unique per SparkContext — identity hashes
    // can be reused after GC and would hand out a frame bound to a
    // stopped session)
    sessionsRawCache.computeIfAbsent(s"${s.sparkContext.applicationId}:$d", _ => {
      val base = t(s, d, "orders").filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("id"), col("o_orderdate").as("start_dt"),
          col("o_custkey").as("agent_id"), col("o_totalprice").as("amount"))
      val li = t(s, d, "lineitem").filter(col("l_orderkey") % 4 === 0)

      // tags[].match[]: tag = distinct (order, part); match rows carry
      // tag_id AND tag_session_id (the collision field the call site
      // must drop). tk multiplier exceeds max partkey at test SFs.
      val matchRows = li.select(
        (col("l_orderkey") * 100000 + col("l_partkey")).as("tk"),
        col("l_partkey").as("tag_id"), col("l_orderkey").as("tag_session_id"),
        col("l_linenumber"), col("l_quantity"))
      val tagLevel = li.select(col("l_orderkey"), col("l_partkey").as("id")).distinct()
        .withColumn("tk", col("l_orderkey") * 100000 + col("id"))
      val tagsNested = Flatten.nestChild(tagLevel, matchRows, "tk", "tk", "match")
        .drop("tk")

      val cats = li.select(col("l_orderkey"), col("l_suppkey").as("id"), col("l_quantity"))
        .groupBy("l_orderkey", "id").agg(dsum(col("l_quantity")).as("score"))
      val revs = li.select(col("l_orderkey"), col("l_suppkey").as("id"), col("l_shipdate"))
        .groupBy("l_orderkey", "id").agg(max(col("l_shipdate")).as("last_reviewed_at"))

      // scores[].point_scores[]: score entry = distinct 3-key tuple; its
      // struct must CARRY session_id (the inner explode re-reads it), so
      // nest on a duplicated sess_key column
      val pointRows = li.select(
        (col("l_orderkey") * 35 + (col("l_partkey") % 5) * 7 + col("l_suppkey") % 7).as("sk"),
        col("l_linenumber").as("point_id"), col("l_quantity").as("value"))
      val scoreLevel = li.select(col("l_orderkey").as("session_id"),
          (col("l_partkey") % 5).as("scorecard_id"), (col("l_suppkey") % 7).as("reviewer_id"))
        .distinct()
        .withColumn("sk",
          col("session_id") * 35 + col("scorecard_id") * 7 + col("reviewer_id"))
      val scoresNested = Flatten.nestChild(scoreLevel, pointRows, "sk", "sk", "point_scores")
        .drop("sk").withColumn("sess_key", col("session_id"))

      val comments = li.select(col("l_orderkey"), col("l_suppkey").as("author_id"),
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("text"))
      val summaries = li.groupBy("l_orderkey").agg(max(col("l_returnflag")).as("text"))
      val crm = li.select(col("l_orderkey"), col("l_linestatus").as("crm_status")).distinct()

      var raw = Flatten.nestChild(base, tagsNested, "id", "l_orderkey", "tags")
      raw = Flatten.nestChild(raw, cats, "id", "l_orderkey", "categories")
      raw = Flatten.nestChild(raw, revs, "id", "l_orderkey", "reviewers")
      raw = Flatten.nestChild(raw, scoresNested, "id", "sess_key", "scores")
      raw = Flatten.nestChild(raw, comments, "id", "l_orderkey", "comments")
      raw = Flatten.nestChild(raw, summaries, "id", "l_orderkey", "summary")
      raw = Flatten.nestChild(raw, crm, "id", "l_orderkey", "crm_statuses")
      raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })


  /** DuckDB fragment: FNV-1a 64 over the ASCII string expression `s`
    * (unsigned HUGEINT) — byte-for-byte the math of
    * [[graft.functions.Fnv1a64]] (128-bit ints stand in for Java's
    * wraparound multiply).
    */
  def fnvSql(s: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(range(1, length($s) + 1), i -> CAST(ord($s[i]) AS HUGEINT))), " +
      "(acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616)"

  /** DuckDB fragment: reinterpret an unsigned-mod-2⁶⁴ HUGEINT as the
    * signed BIGINT Java/Spark carries.
    */
  def signedSql(u: String): String =
    s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - 18446744073709551616 " +
      s"ELSE $u END AS BIGINT)"

  /** (seed, a, b) VALUES rows mirroring [[Dedup.permuteConsts]] (b as an
    * unsigned literal — DuckDB side works mod 2⁶⁴).
    */
  def seedRowsSql: String = (0 until 64).map { i =>
    val (a, b) = Dedup.permuteConsts(i)
    s"($i, CAST($a AS HUGEINT), CAST(${java.lang.Long.toUnsignedString(b)} AS HUGEINT))"
  }.mkString(", ")

  /** (bit, 2^bit) VALUES rows for the simhash bit extraction. */
  def bitRowsSql: String = (0 until 64).map { b =>
    s"($b, CAST(${java.math.BigInteger.ONE.shiftLeft(b)} AS HUGEINT))"
  }.mkString(", ")
}
