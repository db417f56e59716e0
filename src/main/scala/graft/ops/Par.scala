package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Scale-adaptive parallelism floor for COMPUTE-DENSE stages.
  *
  * The test/gate parquet files are single-row-group, so their scans
  * cannot split: every narrow transform chained onto such a scan —
  * shingle/n-gram explodes, deletion-neighborhood signatures, vector
  * kernels, multi-distinct expands — runs in 1-3 tasks while the other
  * cores idle (a per-job listener trace, OPTIMIZATION_r18.md: q_profile
  * spent 2.2 s of its 2.4 s in ONE task; x_er_cluster's pair generation
  * ran 1.25 s of task time on 2 tasks). This is the optimization guide's §2.5 "input
  * skew: one huge unsplittable file … repartition immediately after
  * the read".
  *
  * [[floor]] raises a frame to the session's default parallelism ONLY
  * when it is a narrow chain over leaf relations (scan/local/cached —
  * the only shape whose parallelism is pinned by input splits) AND its
  * planned width is below the target. Anything downstream of a
  * shuffle-introducing operator (join/aggregate/repartition/window)
  * already runs at `spark.sql.shuffle.partitions` and is returned
  * untouched — important not only to avoid a useless exchange but
  * because probing width via `rdd.getNumPartitions` on an AQE plan
  * EXECUTES its shuffle stages eagerly (measured: the probe alone
  * doubled x_ann_ivf_recall); on a narrow-over-leaf plan the probe
  * plans but runs nothing.
  *
  * At cluster scale a real table scan already has ≥ cores splits and
  * the call is a structural no-op. The target derives from the session
  * (`defaultParallelism`), never a constant, so the driver's
  * lower-core bench runs scale it down automatically;
  * `spark.graft.parallelism.floor` overrides (0 or 1 disables).
  *
  * Correctness: a round-robin repartition only changes row placement.
  * Every call site feeds order-independent aggregation/join logic
  * (decimal-accumulated sums, min/max/count, set semantics) — the
  * repo-wide determinism convention — so results are identical under
  * any partitioning; the differential oracle re-proves each affected
  * row.
  */
object Par {
  val floorKey = "spark.graft.parallelism.floor"

  /** Narrow unary chain (or union of such) over leaf relations: the
    * one plan shape whose execution width is pinned by input splits
    * rather than by `spark.sql.shuffle.partitions`.
    */
  private def narrowOverLeaf(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
         _: Expand | _: TypedFilter =>
      p.children.forall(narrowOverLeaf)
    case u: Union => u.children.forall(narrowOverLeaf)
    case _ => false
  }

  def floor(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    // toIntOption: a malformed override must fall back, not fail the
    // whole query with an uncaught NumberFormatException (ADVICE r18)
    val target = s.conf.getOption(floorKey).flatMap(_.trim.toIntOption)
      .getOrElse(s.sparkContext.defaultParallelism)
    if (target <= 1) df
    else if (df.isStreaming || !narrowOverLeaf(df.queryExecution.analyzed)) df
    // width probe is planning-only here: a narrow-over-leaf plan has no
    // shuffle stages for AQE to execute
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
