package graft.sync

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-sync protocol (SURVEY.md §2.8, Q50–Q52).
  *
  * The reference persists a last-synced watermark to a JSON-ish file
  * (`ET-ETL-DWH-PY312/ETL/utils.py:20-38`), re-extracts a trailing
  * 30-day window for late-arriving manual scores
  * (`run-et-etl.py:66-116`, `settings.py:22`), and re-pulls facts whose
  * dimensions changed (`run-et-etl.py:95-106`). Batch-first here; the
  * Structured Streaming upgrade of the same semantics lives in
  * [[graft.streaming.StreamSync]].
  */
object Incremental {

  private val fmt = DateTimeFormatter.ISO_LOCAL_DATE_TIME

  /** Watermark persistence (utils.py:20-38): ISO string in a file;
    * LocalDateTime.MIN analog on first run. The filesystem comes from the
    * path's scheme, like every table write. Written whole to a temp file
    * that is renamed over the old one — the reference's plain overwrite
    * can tear. A store whose rename refuses an existing target gets a
    * delete first; a crash between the two leaves no watermark, which
    * reads as the first-run default: the next re-sync is wider, never
    * narrower.
    */
  def readWatermark(path: String): LocalDateTime = {
    val p = new Path(path)
    val fs = fileSystem(p)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try LocalDateTime.parse(new String(in.readAllBytes(), UTF_8).trim, fmt)
      finally in.close()
    } else LocalDateTime.of(1, 1, 1, 0, 0, 0)
  }

  def writeWatermark(path: String, ts: LocalDateTime): Unit = {
    val p = new Path(path)
    val fs = fileSystem(p)
    val tmp = p.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(ts.format(fmt).getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      throw new java.io.IOException(s"cannot rename $tmp to $p")
  }

  private def fileSystem(p: Path): FileSystem =
    p.getFileSystem(SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration))

  /** Rows newer than the watermark (run-et-etl.py:99-100). On a
    * date-partitioned table this prunes partitions, so the re-read is
    * O(window), not O(table).
    */
  def newerThan(df: DataFrame, tsCol: String, watermark: LocalDateTime): DataFrame =
    df.filter(col(tsCol) > lit(watermark.format(fmt)).cast("timestamp"))

  /** The trailing re-sync window: [today - nDays, now) — late manual
    * scores "can appear in few days after conversation"
    * (run-et-etl.py:84-93; 30 days, settings.py:22).
    */
  def resyncWindow(tsCol: Column, nDays: Int = 30): Column =
    tsCol >= date_sub(current_date(), nDays).cast("timestamp")

  /** Half-day interval bounds for a [start, stop] date range — the
    * reference's scan-partitioning workaround (utils.py:94-105: source
    * "breaks at 10K+ sessions in single run"). In Spark this is partition
    * pruning: each (date, half) maps to a partition predicate.
    */
  def halfDayFilter(tsCol: Column, date: String, firstHalf: Boolean): Column = {
    val d = to_date(lit(date))
    val start = if (firstHalf) d.cast("timestamp")
                else (d.cast("timestamp") + expr("INTERVAL 12 HOURS"))
    val end = if (firstHalf) (d.cast("timestamp") + expr("INTERVAL 12 HOURS"))
              else (d.cast("timestamp") + expr("INTERVAL 24 HOURS"))
    tsCol >= start && tsCol < end
  }

  /** Dimension-driven fact invalidation (Q52, run-et-etl.py:95-106):
    * facts whose dimension row changed since the watermark → candidates
    * for re-upsert. Left-semi join against the changed-dims set (small →
    * broadcast).
    */
  def factsOfChangedDims(
      facts: DataFrame, dims: DataFrame,
      factFk: String, dimKey: String,
      dimUpdatedCol: String, watermark: LocalDateTime): DataFrame = {
    val changed = newerThan(dims, dimUpdatedCol, watermark).select(col(dimKey).as(factFk))
    facts.join(broadcast(changed), Seq(factFk), "left_semi")
  }

  /** O(delta) maintenance of an ADDITIVE keyed rollup: fold a new
    * batch's partial aggregate into the stored rollup by summing the
    * additive columns per key — the incremental-view-maintenance
    * pattern for count/sum dashboards. History is never rescanned:
    * cost is O(|store keys| + |batch keys|) per sync instead of
    * O(all raw events ever).
    *
    * Only ADDITIVE measures belong here (count, sum; avg must travel
    * as sum+count and divide at read time — a stored avg can't merge).
    * Invariant (spec-proven): maintainRollup(agg(old), agg(new)) ==
    * agg(old ∪ new) for any split of the stream.
    */
  def maintainRollup(store: DataFrame, batchAgg: DataFrame,
                     keys: Seq[String], addCols: Seq[String]): DataFrame = {
    require(store.columns.toSeq == batchAgg.columns.toSeq,
      s"maintainRollup: store/batch schemas differ " +
        s"(${store.columns.mkString(",")} vs ${batchAgg.columns.mkString(",")})")
    // cast each summed column back to its stored type — sum() widens
    // (long→long but decimal(p,s)→decimal(p+10,s)), and a rollup that
    // widens per sync isn't closed under its own maintenance
    val merged = store.unionByName(batchAgg)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(addCols.head)).as(addCols.head),
        addCols.tail.map(c => sum(col(c)).as(c)): _*)
    merged.select(store.columns.map(c =>
      col(c).cast(store.schema(c).dataType).as(c)): _*)
  }
}
