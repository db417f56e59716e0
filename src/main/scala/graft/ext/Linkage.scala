package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage: edit-distance (Levenshtein) similarity JOIN without
  * the all-pairs cross product — the "match dirty entity names to the
  * master list" operator every dedup/linkage pipeline needs.
  *
  * Scale shape (PassJoin-style segment blocking, Li et al. VLDB'12 —
  * public algorithm): partition each RIGHT string into `k+1` balanced
  * contiguous segments. If `ed(s, r) <= k`, at least one of r's k+1
  * segments is untouched by all k edits (pigeonhole) and therefore
  * occurs VERBATIM in s, shifted by at most k positions. So:
  *
  *   - right side emits its k+1 (length, segIdx, segment) blocking keys
  *     — a narrow ×(k+1) explode;
  *   - left side emits every substring that could equal segment segIdx
  *     of a right string of length n, for each n within ±k of its own
  *     length and each start within ±k of the segment's home position —
  *     a bounded ×O(k²) explode (18 candidates at k=1), deduplicated;
  *   - candidates hash-join on (n, segIdx, substring) — the ONE real
  *     shuffle, proportional to candidate count, never to |L|×|R|;
  *   - survivors verify with the exact codegen'd `levenshtein`.
  *
  * Complete by construction (the untouched segment is always among the
  * enumerated candidates); the verify step makes it exact. Skew: a
  * segment shared by a huge fraction of the right side (constant
  * prefixes) concentrates candidates — `maxSegmentDf` excludes such
  * segments from blocking on BOTH sides, trading recall for a bounded
  * bucket exactly like `Dedup.jaccardPairs(maxShingleDf)`; pairs whose
  * only untouched segment was dropped are missed, so cap generously.
  */
object Linkage {

  /** All (left, right) row pairs with `levenshtein(leftCol, rightCol) <= k`,
    * as left.* ++ right.* ++ `dist`. Left and right column names must be
    * disjoint.
    */
  def editDistanceJoin(
      left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String, k: Int,
      maxSegmentDf: Option[Int] = None): DataFrame = {
    require(k >= 1, "editDistanceJoin: k must be >= 1 (use an equi-join for k=0)")
    val clash = left.columns.toSet.intersect(right.columns.toSet)
    require(clash.isEmpty,
      s"editDistanceJoin: shared column names ${clash.mkString(", ")} — alias one side first")
    // the segment/position explodes below are compute-dense narrow
    // transforms on the input scans — floor them so a single-split gate
    // file doesn't serialize candidate generation (no-op at scale)
    val (leftF, rightF) = (graft.ops.Par.floor(left), graft.ops.Par.floor(right))
    val kp1 = k + 1

    // segment geometry for a string of length `n`: k+1 segments whose
    // lengths differ by at most one (first `thresh` get `base`, the
    // rest base+1), segment i starting at i*base + max(0, i - thresh)
    def withGeometry(df: DataFrame, nCol: String): DataFrame = df
      .withColumn("__ed_base", (col(nCol) / kp1).cast("int"))
      .withColumn("__ed_thresh", lit(kp1) - (col(nCol) % kp1))
      .withColumn("__ed_len",
        col("__ed_base") + when(col("__ed_i") >= col("__ed_thresh"), 1).otherwise(0))
      .withColumn("__ed_start",
        col("__ed_i") * col("__ed_base") +
          greatest(lit(0), col("__ed_i") - col("__ed_thresh")))

    val rSegs = withGeometry(
      rightF
        .withColumn("__ed_n", length(col(rightCol)))
        .withColumn("__ed_i", explode(sequence(lit(0), lit(k)))), "__ed_n")
      .withColumn("__ed_seg",
        col(rightCol).substr(col("__ed_start") + 1, col("__ed_len")))
      .select(right.columns.map(col) :+ col("__ed_n") :+ col("__ed_i") :+ col("__ed_seg"): _*)

    val lCands = withGeometry(
      leftF
        .withColumn("__ed_m", length(col(leftCol)))
        .withColumn("__ed_n",
          explode(sequence(greatest(col("__ed_m") - k, lit(0)), col("__ed_m") + k)))
        .withColumn("__ed_i", explode(sequence(lit(0), lit(k)))), "__ed_n")
      .withColumn("__ed_pmin", greatest(lit(0), col("__ed_start") - k))
      .withColumn("__ed_pmax",
        least(col("__ed_m") - col("__ed_len"), col("__ed_start") + k))
      .filter(col("__ed_pmax") >= col("__ed_pmin"))
      .withColumn("__ed_p", explode(sequence(col("__ed_pmin"), col("__ed_pmax"))))
      .withColumn("__ed_seg", col(leftCol).substr(col("__ed_p") + 1, col("__ed_len")))
      .select(left.columns.map(col) :+ col("__ed_n") :+ col("__ed_i") :+ col("__ed_seg"): _*)
      .distinct()

    val blockKeys = Seq("__ed_n", "__ed_i", "__ed_seg")
    val (lB, rB) = maxSegmentDf match {
      case Some(cap) =>
        // document-frequency cap over the RIGHT side's blocking keys:
        // a segment carried by more than `cap` right rows is excluded
        // from blocking entirely (recall trade, bounded bucket)
        val hot = rSegs.groupBy(blockKeys.map(col): _*)
          .agg(count(lit(1)).as("__ed_df")).filter(col("__ed_df") > cap)
          .select(blockKeys.map(col): _*)
        (lCands.join(hot, blockKeys, "left_anti"),
          rSegs.join(hot, blockKeys, "left_anti"))
      case None => (lCands, rSegs)
    }

    lB.join(rB, blockKeys)
      .drop(blockKeys: _*)
      .distinct() // several segments can witness the same pair
      .withColumn("dist", levenshtein(col(leftCol), col(rightCol)))
      .filter(col("dist") <= k)
  }

  /** Survivorship rules for [[goldenRecord]]: how to pick one value per
    * column from a cluster of duplicate records.
    */
  sealed trait SurvivorRule
  /** Value from the row with the greatest `orderCol` among rows where
    * this column is non-null ("latest wins, but never a null over a
    * value"). `orderCol` must be unique per cluster for a
    * deterministic pick — pass a (ts, id) struct column upstream if
    * timestamps tie.
    */
  final case class MostRecentBy(orderCol: String) extends SurvivorRule
  /** Longest non-null string (completeness heuristic: "Jonathan" beats
    * "Jon"); ties break to the lexicographically greatest so the pick
    * is deterministic under any partitioning.
    */
  case object LongestString extends SurvivorRule
  /** Greatest non-null value. */
  case object MaxValue extends SurvivorRule
  /** Smallest non-null value (e.g. first-seen timestamp). */
  case object MinValue extends SurvivorRule

  /** Merge each duplicate cluster into ONE golden record — the
    * survivorship half of entity resolution ([[editDistanceJoin]] or
    * the Dedup cluster operators find the clusters; this merges them).
    * One aggregation on the cluster key; every rule compiles to a
    * codegen'd `max_by`/`max`/`min` form, so the merge is a single
    * shuffle with map-side partial aggregation and deterministic
    * output for unique order columns.
    */
  def goldenRecord(df: DataFrame, clusterCol: String,
                   rules: Map[String, SurvivorRule]): DataFrame = {
    val missing = rules.keys.filterNot(df.columns.contains)
    require(missing.isEmpty, s"goldenRecord: unknown columns ${missing.mkString(", ")}")
    val aggs = rules.toSeq.sortBy(_._1).map { case (c, rule) =>
      val v = col(c)
      (rule match {
        // non-null filter via a null-ranked order: null values order
        // below every real one, so a null only wins an all-null cluster
        case MostRecentBy(o) =>
          max_by(v, when(v.isNotNull, struct(lit(1).as("nn"), col(o).as("o")))
            .otherwise(struct(lit(0).as("nn"), col(o).as("o"))))
        case LongestString =>
          max_by(v, when(v.isNotNull,
            struct(lit(1).as("nn"), length(v).as("l"), v.as("v")))
            .otherwise(struct(lit(0).as("nn"), lit(-1).as("l"), v.as("v"))))
        case MaxValue => max(v)
        case MinValue => min(v)
      }).as(c)
    }
    df.groupBy(col(clusterCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[goldenRecord]] + how many source rows each golden row merged. */
  def goldenRecordWithCount(df: DataFrame, clusterCol: String,
                            rules: Map[String, SurvivorRule]): DataFrame = {
    val golden = goldenRecord(df, clusterCol, rules)
    val counts = df.groupBy(col(clusterCol)).agg(count(lit(1)).as("n_merged"))
    golden.join(counts, Seq(clusterCol))
  }

  /** Resolve each dirty record to its single BEST master match — the
    * ranking half of entity resolution sitting between
    * [[editDistanceJoin]] (candidates) and [[goldenRecord]] (merge).
    *
    * Candidates come from the k-bounded segment-blocked join (never
    * |L|×|R|); each candidate pair is then scored with the codegen'd
    * byte-based Jaro–Winkler kernel
    * ([[graft.functions.StringSimilarity]]) — edit distance prunes,
    * JW *ranks*, the standard linkage split (Levenshtein treats a
    * first-character typo and a last-character typo alike; JW's prefix
    * boost prefers the match that agrees on the name's head). Rank 1
    * per dirty key wins, ties broken on the master key, so the pick is
    * deterministic under any partitioning.
    *
    * Scale shape: candidate scoring is a narrow per-row map; the only
    * additions over [[editDistanceJoin]] are the per-dirty-key
    * row_number window, partitioned on the (near-unique) dirty key —
    * no skew, no extra full-data shuffle. Dirty records with NO
    * candidate within k are absent from the output (count them against
    * the dirty side for a match-rate readout).
    */
  /** Transposition-tolerant fuzzy join: all (left, right) pairs with
    * UNRESTRICTED Damerau–Levenshtein distance <= k — the typo-realist
    * variant of [[editDistanceJoin]] (swapped adjacent characters are
    * the most common keyboard error, and plain Levenshtein charges
    * them 2, so an ed<=1 join silently misses every such pair).
    *
    * Completeness: a transposition costs at most two plain edits, so
    * dl(s,r) <= k implies lev(s,r) <= 2k — candidates come from the
    * segment blocking run at 2k (pigeonhole still exact), then the
    * codegen'd DL kernel ([[graft.functions.StringSimilarity]])
    * verifies each survivor. The candidate space grows with the looser
    * blocking (O((2k)²) left-side substrings instead of O(k²)) but
    * stays proportional to blocking-bucket volume, never |L|×|R|.
    * Returns left.* ++ right.* ++ `dl_dist`.
    */
  def dlJoin(left: DataFrame, right: DataFrame,
             leftCol: String, rightCol: String, k: Int,
             maxSegmentDf: Option[Int] = None): DataFrame = {
    require(k >= 1, "dlJoin: k must be >= 1 (use an equi-join for k=0)")
    val cands =
      if (k == 1) deletionNeighborhoodCandidates(left, right, leftCol, rightCol,
        maxSegmentDf)
      else editDistanceJoin(left, right, leftCol, rightCol, 2 * k, maxSegmentDf)
        .drop("dist")
    cands
      .withColumn("dl_dist",
        graft.functions.StringSimilarity.damerauLevenshtein(
          col(leftCol), col(rightCol)))
      .filter(col("dl_dist") <= k)
  }

  /** SymSpell-style candidate generation for dl <= 1 (Garbe's deletion
    * neighborhood, public algorithm): each side emits its string plus
    * every 1-char-deletion variant; dl(s,r) <= 1 guarantees the
    * signature sets intersect (equal → the string itself; substitution
    * → delete the differing position on both; adjacent transposition
    * xy→yx → delete x on both; indel → the shorter string IS a
    * deletion of the longer), so the signature equi-join is complete.
    * ~|s|+1 signatures per row, each almost as selective as the whole
    * string — the candidate volume the 2k segment blocking pays for
    * boundary-straddling transpositions disappears (measured 8× on the
    * linkage fixture). `maxSigDf` (reusing the maxSegmentDf knob)
    * drops signatures carried by more than that many RIGHT rows, the
    * same hot-block recall trade as segment blocking.
    */
  private def deletionNeighborhoodCandidates(
      left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String,
      maxSigDf: Option[Int]): DataFrame = {
    val clash = left.columns.toSet.intersect(right.columns.toSet)
    require(clash.isEmpty,
      s"dlJoin: shared column names ${clash.mkString(", ")} — alias one side first")
    def sigs(c: Column): Column = array_union(
      array(c),
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - lit(1)),
          c.substr(i + lit(1), length(c)))))
    // signature generation (|s|+1 deletion variants per row) is the
    // compute-dense narrow step — floor so a single-split scan doesn't
    // serialize it (a per-job listener trace, OPTIMIZATION_r18.md:
    // x_er_cluster's 1.25 s of pair-gen task time ran on 2 tasks);
    // structural no-op at scale
    val lSig = graft.ops.Par.floor(left)
      .withColumn("__dl_sig", explode(sigs(col(leftCol))))
    val rSig = graft.ops.Par.floor(right)
      .withColumn("__dl_sig", explode(sigs(col(rightCol))))
    val (lB, rB) = maxSigDf match {
      case Some(cap) =>
        val hot = rSig.groupBy(col("__dl_sig"))
          .agg(count(lit(1)).as("__dl_df")).filter(col("__dl_df") > cap)
          .select(col("__dl_sig"))
        (lSig.join(hot, Seq("__dl_sig"), "left_anti"),
          rSig.join(hot, Seq("__dl_sig"), "left_anti"))
      case None => (lSig, rSig)
    }
    lB.join(rB, Seq("__dl_sig"))
      .drop("__dl_sig")
      .distinct()
  }

  def resolveBest(dirty: DataFrame, master: DataFrame,
                  dirtyCol: String, masterCol: String,
                  dirtyKey: String, masterKey: String,
                  k: Int, maxSegmentDf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    editDistanceJoin(dirty, master, dirtyCol, masterCol, k, maxSegmentDf)
      .withColumn("jw",
        graft.functions.StringSimilarity.jaroWinkler(col(dirtyCol), col(masterCol)))
      .withColumn("__rb_rk", row_number().over(
        Window.partitionBy(col(dirtyKey))
          .orderBy(col("jw").desc, col(masterKey).asc)))
      .filter(col("__rb_rk") === 1)
      .drop("__rb_rk")
  }
}
