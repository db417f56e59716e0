package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sink.TableCommit

/** Keyed source-wins upsert — the engine's flagship non-builtin operator
  * (SURVEY.md §2.7 Q45–Q47, §4.3).
  *
  * Semantics from the reference's per-row MERGE loop
  * (`ET-ETL-DWH-PY312/ETL/Load.py:63-183`; "UPSERT mode … ET is source of
  * truth" Load.py:228-231, DOCS/README.MD:18), keys from the tables'
  * unique constraints (utils.py:247-253):
  *   - a key present in both target and updates → the updates row wins;
  *   - a key only in updates → insert;
  *   - a key only in target → keep;
  *   - duplicate keys *within* the updates batch → last row wins
  *     (the reference applies rows sequentially, so later overwrites);
  *   - an updates row missing a key column → fail fast (Load.py:125-133).
  *
  * Spark shape: dedup-in-batch (window row_number) → target LEFT ANTI
  * updates on keys → unionByName. All set-oriented — the reference's
  * per-row SELECT+INSERT/UPDATE round-trips become two distributed ops.
  *
  * Scale notes (100 TB): the anti-join shuffles both sides on the key
  * unless the updates side is broadcastable — daily increments usually
  * are, and AQE converts the anti-join to broadcast at runtime when the
  * updates side is small. For a table on disk, partition the target by
  * date so a daily upsert rewrites only touched partitions
  * ([[upsertPartitioned]]). That merge reads only the touched partition
  * directories, with no job to list the table or infer its schema, and
  * rebalances its write by the partition column, so adaptive execution
  * writes one file per touched partition however many splits the
  * inputs had ([[graft.sink.TableCommit.readPartitions]],
  * [[graft.sink.TableCommit.rightSized]]).
  */
object Upsert {

  /** In-batch dedup, last-wins by `ordering` (descending). With no
    * explicit ordering column the reference's "later row wins" has no
    * distributed analog, so callers must supply one (e.g. an ingest
    * sequence or batch timestamp); monotonically_increasing_id is NOT
    * deterministic across retries.
    */
  def dedupLastWins(updates: DataFrame, keys: Seq[String], ordering: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(col(ordering).desc)
    updates.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Core merge. `updates` must already be key-unique (use
    * [[dedupLastWins]] first if a batch can self-collide). Keys compare
    * null-safely (`<=>`): a null key is a value, so a null-keyed update
    * REPLACES a null-keyed target row instead of duplicating on every
    * run — keeps the idempotence contract even on dirty keys.
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    requireKeys(target, keys, "target")
    requireKeys(updates, keys, "updates")
    val updKeys = updates.select(keys.map(col).toIndexedSeq: _*)
    val cond = keys.map(k => target(k) <=> updKeys(k)).reduce(_ && _)
    val kept = target.join(updKeys, cond, "left_anti")
    kept.unionByName(updates.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** Fail-fast key validation (Load.py:125-133). */
  private def requireKeys(df: DataFrame, keys: Seq[String], side: String): Unit = {
    val missing = keys.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"upsert: $side is missing key column(s): ${missing.mkString(", ")}")
  }

  /** Schema reconciliation (Q46, Load.py:91-99,110): project `df` onto
    * `targetCols`, reporting extra/absent columns instead of failing.
    * Key columns must survive — error if one is absent (Load.py:125-133).
    */
  final case class Reconciliation(df: DataFrame, dropped: Seq[String], absent: Seq[String])
  def reconcileSchema(df: DataFrame, targetCols: Seq[String], keys: Seq[String]): Reconciliation = {
    val present = targetCols.filter(df.columns.contains)
    val dropped = df.columns.toSeq.filterNot(targetCols.contains)
    val absent = targetCols.filterNot(df.columns.contains)
    val missingKeys = keys.filterNot(present.contains)
    require(missingKeys.isEmpty,
      s"reconcileSchema: key column(s) absent from input: ${missingKeys.mkString(", ")}")
    Reconciliation(df.select(present.map(col).toIndexedSeq: _*), dropped, absent)
  }

  /** Upsert into a parquet table on disk, rewriting only the date
    * partitions the updates batch touches. This is the O(delta) path
    * that makes daily sync viable at 100 TB — the naive alternative
    * rewrites the whole table (§7.4). The write commits through
    * [[graft.sink.TableCommit]]: every touched partition changes, or
    * none does.
    *
    * CONTRACT: the partition column must be stable per key (a key never
    * moves between partitions — true for the reference's facts, keyed
    * by session id with an immutable start date). An update that moves
    * a key to a new partition value would leave the old row in its
    * untouched partition; use the full-table [[upsert]] for mutable
    * partition columns.
    */
  def upsertPartitioned(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCol: String
  ): Unit = {
    // explicit existence check: a transient read failure must abort the
    // merge (rethrowing), not silently drop pre-existing partition rows
    if (!TableCommit.recover(spark, tablePath))
      TableCommit.replaceTable(TableCommit.rightSized(updates, Some(partitionCol)), tablePath,
        Some(partitionCol))
    else {
      // the touched partitions as the write names them (null is the
      // default partition): O(distinct partition values in the batch) at
      // the driver — bounded by construction for date-partitioned daily
      // syncs. Only those directories are read, and no job infers their
      // schema.
      val touched = updates.select(col(partitionCol).cast("string")).distinct().collect()
        .map(_.getString(0)).toSeq
      val existing =
        TableCommit.readPartitions(spark, tablePath, updates.schema(partitionCol), touched)
      TableCommit.replacePartitions(
        TableCommit.rightSized(upsert(existing, updates, keys), Some(partitionCol)),
        tablePath, partitionCol)
    }
  }
}
