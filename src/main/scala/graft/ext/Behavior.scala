package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-analytics operators over an event stream: ordered funnels
  * and cohort retention — the dashboard staples of any event warehouse
  * (the reference's `events`-style tables feed exactly these).
  *
  * Scale shape: both are groupBy-on-user pipelines. The funnel's k
  * steps chain k aggregations ON THE SAME KEY — after the first
  * shuffle the frame stays hash-partitioned by user, so Catalyst
  * reuses the exchange instead of re-shuffling per step; retention is
  * one user-keyed aggregation plus one (cohort, offset) aggregation.
  * Everything is min/count aggregation on timestamps — exact,
  * order-independent, replayable by the oracle.
  */
object Behavior {

  /** Strictly-ordered funnel: per user, `t0` = earliest `steps(0)`
    * event, `t_i` = earliest `steps(i)` event strictly after
    * `t_{i-1}`. Returns one row per user who entered the funnel with
    * nullable per-step completion timestamps `t0..t{k-1}` — feed to
    * [[funnelCounts]] for the dashboard view. Strict ordering means a
    * purchase before the first click does NOT count as funnel
    * progress (the distinguishing semantics vs a per-type min).
    */
  def funnelUsers(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String],
                  maxStepGapSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("t0"))
    for (i <- 1 until steps.length) {
      val e = events.filter(col(typeCol) === steps(i))
        .select(col(userCol), col(tsCol).as("__ts"))
      val carried = (0 until i).map(j => col(s"t$j"))
      // window-bounded funnels ("click within an hour of the view")
      // additionally require the step inside the gap from the previous
      // completion — the strictly-after condition is unchanged
      val inOrder = col("__ts") > col(s"t${i - 1}")
      val cond = maxStepGapSeconds match {
        case Some(s) =>
          inOrder && col("__ts") <= col(s"t${i - 1}") + expr(s"INTERVAL $s SECONDS")
        case None => inOrder
      }
      cur = cur.join(e, Seq(userCol), "left")
        .groupBy((col(userCol) +: carried).toIndexedSeq: _*)
        .agg(min(when(cond, col("__ts"))).as(s"t$i"))
    }
    cur
  }

  /** Funnel dashboard: per step, users reaching it and conversion from
    * the funnel's entry step.
    */
  def funnelCounts(users: DataFrame, steps: Seq[String]): DataFrame = {
    val agg = users.agg(
      count(col("t0")).as("c0"),
      (1 until steps.length).map(i => count(col(s"t$i")).as(s"c$i")).toIndexedSeq: _*)
    val stackExpr = steps.indices
      .map(i => s"'${steps(i)}', $i, c$i").mkString(", ")
    // the entry-step count c0 is a column of the SAME 1-row aggregate —
    // carry it through the stack instead of re-finding it with a
    // global first-over-order window
    agg.selectExpr(
        s"stack(${steps.length}, $stackExpr) as (step, step_idx, users)", "c0")
      .withColumn("conversion",
        round(col("users").cast("double") / col("c0"), 6))
      .drop("c0")
      .orderBy("step_idx")
  }

  /** Cohort retention: users cohort by their FIRST-ever active day;
    * cell (cohort_day, day_offset) counts the cohort's users active
    * `day_offset` days later. The curve every growth dashboard plots.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String,
                maxOffsetDays: Int = 30): DataFrame = {
    val days = events.select(col(userCol).as("u"),
      to_date(col(tsCol)).as("day")).distinct()
    val cohorts = days.groupBy(col("u")).agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("u"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("active_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** First-order Markov transition matrix of the event stream: per
    * user, each event's type paired with the NEXT event's type (by
    * timestamp, tie-broken on `idCol` so replays are deterministic),
    * counted per (from, to) and normalized per source state.
    *
    * Scale shape: one window (= one shuffle on user) + one small
    * aggregation on 5×5 states. The probability is a SINGLE bigint
    * division — IEEE-exact and order-independent, so the oracle hash
    * can't drift (contrast a float sum).
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    pairs
      .withColumn("p", round(col("n").cast("double") / sum(col("n")).over(wFrom), 6))
      .orderBy("from_type", "to_type")
  }

  /** Top-K most common length-`n` event-type paths (n-grams of the
    * per-user event sequence) — "what do users actually do" mining.
    * Two chained leads over one user-shuffle; count per path.
    */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
               typeCol: String, idCol: String, n: Int = 3, k: Int = 10): DataFrame = {
    require(n >= 2, "a path needs at least 2 steps")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val withSteps = (1 until n).foldLeft(events.withColumn("__s0", col(typeCol))) {
      case (df, i) => df.withColumn(s"__s$i", lead(col(typeCol), i).over(w))
    }
    val path = concat_ws(" > ", (0 until n).map(i => col(s"__s$i")): _*)
    withSteps
      .filter((1 until n).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
      .groupBy(path.as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Trailing-window active users: for each observed day, the count of
    * DISTINCT users active in the `windowDays`-day window ending that
    * day (the "7-day actives" KPI).
    *
    * Scale shape: count-distinct over a sliding range frame isn't a
    * window Spark (or any engine) runs directly — the scalable form is
    * contribution explode: dedup to (user, day) first (the big
    * reduction), then each (user, day) contributes to the ≤`windowDays`
    * output days it is visible from via a `sequence()` explode, then
    * count distinct users per output day. Shuffle volume is
    * O(distinct(user,day) × windowDays), independent of raw event
    * count; no self-join of the event table against itself.
    */
  def activeUsersTrailing(events: DataFrame, userCol: String, tsCol: String,
                          windowDays: Int = 7): DataFrame = {
    val userDays = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("day")).distinct()
    val observedDays = userDays.select(col("day")).distinct()
    userDays
      .withColumn("out_day", explode(sequence(
        col("day"), date_add(col("day"), windowDays - 1))))
      // only days the table actually contains are reported (a trailing
      // window ending on a day nobody was active isn't a dashboard row)
      .join(observedDays.withColumnRenamed("day", "out_day"), Seq("out_day"), "left_semi")
      .groupBy(col("out_day").as("day"))
      .agg(countDistinct(col("u")).as("active_users"))
      .orderBy("day")
  }

  /** Sketch form of [[activeUsersTrailing]] for key spaces too large
    * to shuffle: ONE HyperLogLog sketch per day (not per user-day),
    * exploded across the ≤`windowDays` output days it serves and
    * merged with `hll_union_agg`. Shuffle volume is
    * O(days × windowDays × sketch bytes) — independent of user count
    * entirely, where the exact form shuffles every (user, day) pair.
    * Estimates carry HLL's standard error (~1.6% at lgConfigK=12);
    * the spec bounds the deviation against the exact operator.
    */
  def activeUsersTrailingApprox(events: DataFrame, userCol: String, tsCol: String,
                                windowDays: Int = 7, lgConfigK: Int = 12): DataFrame =
    trailingFromSketches(daySketches(events, userCol, tsCol, lgConfigK), windowDays)

  /** Persistable day-level HLL sketches — the incremental-maintenance
    * companion to [[activeUsersTrailingApprox]]: write one binary
    * sketch row per day, append new days as they arrive (no history
    * rescan, the `Incremental.maintainRollup` pattern for DISTINCT
    * counts, which plain additive rollups cannot maintain), and answer
    * any trailing-window question later by merging stored sketches.
    */
  def daySketches(events: DataFrame, userCol: String, tsCol: String,
                  lgConfigK: Int = 12): DataFrame =
    events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("u"), lit(lgConfigK)).as("sk"))

  /** Trailing distinct-actives from a persisted sketch store (schema:
    * day, sk) — same output shape as [[activeUsersTrailingApprox]],
    * zero contact with raw events.
    */
  def trailingFromSketches(store: DataFrame, windowDays: Int = 7): DataFrame = {
    val observedDays = store.select(col("day")).distinct()
    store
      .withColumn("out_day", explode(sequence(
        col("day"), date_add(col("day"), windowDays - 1))))
      .join(observedDays.withColumnRenamed("day", "out_day"), Seq("out_day"), "left_semi")
      .groupBy(col("out_day").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("active_users_est"))
      .orderBy("day")
  }

  /** Recency-weighted engagement score per user: Σ value / (1 + age_days)
    * relative to the stream's max day — a decayed-engagement ranking
    * signal. The harmonic decay is deliberate: one integer datediff and
    * one IEEE division per row are exactly reproducible everywhere,
    * where `exp`/`pow` decays are correctly-rounded in NO standard
    * library and would make a differential hash flaky. Per-row rounding
    * before the DECIMAL sum keeps the aggregate order-independent.
    */
  def decayedEngagement(events: DataFrame, userCol: String, tsCol: String,
                        valueCol: String): DataFrame = {
    // the reference day (stream max) rides in as a broadcast 1-row frame
    // — no driver round-trip, the plan stays lazy and self-contained
    val maxDay = events.agg(max(to_date(col(tsCol))).as("__maxd"))
    events.crossJoin(broadcast(maxDay))
      .withColumn("__w", round(
        col(valueCol) / (lit(1) + datediff(col("__maxd"), to_date(col(tsCol)))), 6))
      .groupBy(col(userCol))
      .agg(cast6(sum(col("__w").cast("decimal(24,6)"))).as("score"),
        count(lit(1)).as("n_events"))
      .orderBy(col(userCol))
  }

  private def cast6(c: Column): Column = round(c.cast("double"), 6)

  /** Time-weighted average per key: each observation holds until the
    * next one, so TWAP = Σ value·Δt / Σ Δt over consecutive pairs (the
    * last observation carries no duration). The telemetry/market
    * summary a plain AVG gets wrong whenever sampling is irregular.
    *
    * One lead window on the key shuffle; value·Δt accumulates in
    * DECIMAL (2-dp values × integer durations are exact), one double
    * division at the end — deterministic under any partial-agg order.
    * `tsNumCol` is a NUMERIC time axis in the caller's unit (epoch
    * ns/s — pass a UNIQUE-per-key axis, e.g. raw nanos, so the lead
    * order can't tie); `span` is reported in that unit. Keys with a
    * single observation have no spanned time and drop out.
    */
  def twap(df: DataFrame, keyCol: String, tsNumCol: String,
           valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsNumCol))
    df
      .withColumn("__next_ts", lead(col(tsNumCol), 1).over(w))
      .filter(col("__next_ts").isNotNull)
      .withColumn("__dur", col("__next_ts") - col(tsNumCol))
      .groupBy(col(keyCol))
      .agg(
        round((sum((col(valueCol).cast("decimal(18,2)") * col("__dur"))
            .cast("decimal(30,2)")).cast("double") /
          sum(col("__dur"))), 6).as("twap"),
        sum(col("__dur")).as("span"),
        count(lit(1)).as("n_intervals"))
      .orderBy(col(keyCol))
  }

  /** Pearson correlation from EXACT moments: Σx, Σy, Σxy, Σx², Σy²
    * accumulate in DECIMAL (exact for fixed-decimal inputs), the
    * closed-form correlation assembles in double at the end — unlike
    * the built-in `corr()`, whose streaming co-moment merge leaves
    * partial-aggregation order in the low bits, this is bit-stable
    * under any partitioning and replayable by any engine.
    */
  def exactCorr(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,4)")
    val y = col(yCol).cast("decimal(18,4)")
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("__sx"),
        sum(y).cast("double").as("__sy"),
        sum((x * y).cast("decimal(30,8)")).cast("double").as("__sxy"),
        sum((x * x).cast("decimal(30,8)")).cast("double").as("__sxx"),
        sum((y * y).cast("decimal(30,8)")).cast("double").as("__syy"))
      .withColumn("corr", round(
        when((col("n") * col("__sxx") - col("__sx") * col("__sx")) > 0 &&
             (col("n") * col("__syy") - col("__sy") * col("__sy")) > 0,
          (col("n") * col("__sxy") - col("__sx") * col("__sy")) /
            (sqrt(col("n") * col("__sxx") - col("__sx") * col("__sx")) *
             sqrt(col("n") * col("__syy") - col("__sy") * col("__sy")))), 6))
      .select(col(groupCol), col("n"), col("corr"))
      .orderBy(col(groupCol))
  }

  /** Market-basket co-occurrence: for every unordered item pair that
    * shares a basket, the pair support and the lift
    * `N·c(a,b) / (c(a)·c(b))` — the "bought X also bought Y"
    * associator. Lift > 1 means the pair co-occurs more than
    * independence predicts.
    *
    * Scale shape: items dedup within basket (one shuffle on basket),
    * pairs come from a SELF-JOIN ON THE BASKET KEY with `a < b` — the
    * pair space is Σ_b |basket_b|² , bounded by basket size (retail
    * baskets are tens of items), never |items|². Counts are exact
    * integers; lift is one double expression replayed verbatim by the
    * oracle. `maxBasketSize` drops degenerate mega-baskets (a crawler
    * session with 10k "items" would alone contribute 10⁸ pairs).
    *
    * Null items are dropped before the cap applies: they never count
    * toward `maxBasketSize`, never appear in a pair or an item count,
    * so a basket {a, b, null} under `maxBasketSize = 2` is kept and
    * yields the pair (a, b).
    *
    * The per-item count frames are explicitly broadcast: they are
    * bounded by the item VOCABULARY (not the row count), and the static
    * planner can't see that — its estimate for an aggregate over the
    * basket frame tracks the input size, so at 10× data it flips these
    * to sort-merge and pays two full sorts of the PAIRS side (the one
    * frame here that actually scales). AQE can't rescue it either: the
    * stage stats it re-plans on are the partial-agg exchange, still
    * input-sized. Measured at the 6M-row soak: ~15% off the query.
    * Callers with a genuinely unbounded item space are the same callers
    * who must already cap it for Σ|basket|² — vocab is the operator's
    * scale contract — but the contract is now a PARAMETER, not a
    * comment: pass `broadcastItemCounts = false` and the count joins
    * degrade to sort-merge instead of an executor OOM.
    */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
                   maxBasketSize: Int = 1000,
                   broadcastItemCounts: Boolean = true): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (broadcastItemCounts) broadcast(_) else identity
    // r18 restructure (guide §2.3/§2.4): ONE exchange on the basket key
    // collects each basket's distinct items (collect_set dedups in the
    // partial aggregate, so the map side combines exactly like the old
    // distinct did); size cap, item counts, basket count AND the pair
    // space all derive from that one per-basket frame. The old form
    // paid a (b, i) distinct whose subtree re-executed per consumer
    // (column pruning made the three exchanges non-identical — measured
    // three duplicate 1.2 s stage-jobs), a per-basket count join, and a
    // SELF-JOIN on the basket key; pairs now come from a narrow sorted-
    // array explode (strictly-after slice ⇒ ia < ib, identical pair
    // set), no join at all. Memory (r19, VERDICT r18 #3): the per-
    // basket aggregation buffer is BOUNDED BY THE CAP, not the basket —
    // boundedSortedSet(i, cap+1) keeps at most cap+1 distinct items
    // (the smallest, sorted), so an under-cap basket's array is
    // byte-identical to sort_array(collect_set(i)) and an over-cap
    // basket surfaces as exactly cap+1 items — enough for the size
    // filter to drop it without ever materializing its full distinct
    // set. A degenerate billion-item crawler basket now costs one
    // (cap+1)-element buffer instead of a billion-element array.
    val baskets = df.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .groupBy(col("b"))
      .agg(graft.functions.VectorExpressions
        .boundedSortedSet(col("i"), maxBasketSize + 1).as("arr"))
      .where(size(col("arr")) <= maxBasketSize)
      .select(col("arr"))
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val ci = baskets.select(explode(col("arr")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("ci"))
    val pairs = baskets
      .select(col("arr"), posexplode(col("arr")).as(Seq("p", "ia")))
      .select(col("ia"),
        explode(slice(col("arr"), col("p") + lit(2), size(col("arr")))).as("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("cab"))
    pairs
      .join(hint(ci.select(col("i").as("ia"), col("ci").as("ca"))), "ia")
      .join(hint(ci.select(col("i").as("ib"), col("ci").as("cb"))), "ib")
      .crossJoin(broadcast(nBaskets))
      .select(col("ia"), col("ib"), col("cab"), col("ca"), col("cb"),
        round(col("cab").cast("double") * col("n_baskets") /
          (col("ca").cast("double") * col("cb")), 6).as("lift"))
  }

  /** Directional association rules over [[coOccurrence]]'s pairs: each
    * unordered pair yields both `a ⇒ b` and `b ⇒ a` with confidence
    * `c(a,b)/c(antecedent)` — the actionable "customers who bought X
    * then buy Y with p=..." form. `minPairCount` prunes noise rules
    * before the (cheap) direction explode.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 2L,
                       maxBasketSize: Int = 1000,
                       broadcastItemCounts: Boolean = true): DataFrame = {
    val pairs = coOccurrence(df, basketCol, itemCol, maxBasketSize,
        broadcastItemCounts)
      .where(col("cab") >= minPairCount)
    // both directions via ONE narrow explode instead of a union of two
    // projections — the union duplicated the whole coOccurrence subtree
    // per branch (r18; measured as 2× the exchange count in the plan)
    pairs.select(explode(array(
        struct(col("ia").as("antecedent"), col("ib").as("consequent"),
          col("cab"), col("ca").as("c_ante"), col("lift")),
        struct(col("ib").as("antecedent"), col("ia").as("consequent"),
          col("cab"), col("cb").as("c_ante"), col("lift")))).as("r"))
      .select(col("r.antecedent").as("antecedent"),
        col("r.consequent").as("consequent"), col("r.cab").as("cab"),
        col("r.c_ante").as("c_ante"),
        round(col("r.cab").cast("double") / col("r.c_ante"), 6).as("confidence"),
        col("r.lift").as("lift"))
  }

  /** Two-variant experiment readout: per-user conversion (any row with
    * the flag) aggregated per variant, then rate lift and the pooled
    * two-proportion z statistic. One row out: ns, conversions, rates,
    * lift, z.
    *
    * Every derived number is integer counts → single IEEE divisions /
    * one sqrt — all correctly-rounded operations, so the readout is
    * bit-reproducible on any engine (no erf here by design: p-value
    * cutoffs are policy, the statistic is data; compare |z| to the
    * caller's critical value).
    *
    * Scale shape: one (variant, user) dedup shuffle — the same
    * reduction every funnel starts with — then a 2-row aggregate.
    */
  def abTest(df: DataFrame, variantCol: String, userCol: String,
             convertedCol: String): DataFrame = {
    val perUser = df.groupBy(col(variantCol).as("__v"), col(userCol))
      .agg(max(when(col(convertedCol), 1L).otherwise(0L)).as("__c"))
    val perVariant0 = perUser.groupBy(col("__v"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("conv"))
    // a two-proportion readout is only defined for exactly two arms:
    // with 3+ the lexicographic min/max picks would silently drop the
    // middle arms, and with 1 the frame would compare A against itself.
    // The guard stays LAZY — an eager count here would execute the full
    // per-user dedup as a blocking job at frame-CONSTRUCTION time (plan
    // inspection, PlanGuard sweeps). Folding the raise_error into `n`
    // (a column every downstream consumer reads) keeps it un-prunable,
    // evaluated exactly when the readout itself runs.
    val perVariant = graft.ops.Cum.cumulate(perVariant0, Seq(col("__v")),
        Nil, totals = Seq(lit(1L) -> "__arms"))
      .withColumn("n",
        when(col("__arms") =!= 2, raise_error(concat(
          lit(s"abTest requires exactly 2 variants in '$variantCol', found "),
          col("__arms"))).cast("long"))
        .otherwise(col("n")))
      .drop("__arms")
    val variants = perVariant.orderBy("__v")
    val a = variants.limit(1).select(
      col("__v").as("variant_a"), col("n").as("n_a"), col("conv").as("conv_a"))
    val b = variants.orderBy(col("__v").desc).limit(1).select(
      col("__v").as("variant_b"), col("n").as("n_b"), col("conv").as("conv_b"))
    // all ratio math in DOUBLE: integral '/' under ANSI mode raises on
    // zero divisors, IEEE double division doesn't — and double ops are
    // what the oracle replays
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val (ca, cb) = (col("conv_a").cast("double"), col("conv_b").cast("double"))
    val p = (ca + cb) / (na + nb)
    a.crossJoin(b)
      .withColumn("rate_a", round(ca / na, 6))
      .withColumn("rate_b", round(cb / nb, 6))
      // degenerate readouts (no conversions anywhere, or all users
      // converted) have no defined lift/z — emit null, don't raise
      .withColumn("lift", round(when(ca > 0,
        (cb / nb - ca / na) / (ca / na)), 6))
      .withColumn("z", round(when(p > 0 && p < 1,
        (cb / nb - ca / na) /
          sqrt(p * (lit(1) - p) * (lit(1.0) / na + lit(1.0) / nb))), 6))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013, WSDM
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data"): with a pre-experiment covariate
    * x per unit and the experiment metric y, the adjusted metric
    * y' = y - theta*(x - xbar) with theta = cov(x,y)/var(x) keeps the
    * same mean but sheds the variance x explains:
    * var(y') = var(y)*(1 - rho^2). Input: ONE ROW PER UNIT with
    * (variant, x, y). Returns one row per variant: (variant, n,
    * mean_y, mean_adj) plus the pooled theta and var_reduction_pct
    * (= 100*rho^2) repeated per row — theta is fit POOLED across arms
    * (pre-period data is treatment-independent, the paper's setup).
    *
    * Determinism / scale contract: x and y are taken as integers
    * (counts — the standard CUPED covariate); every moment (n, Sx,
    * Sy, Sxy, Sxx, Syy) is an exact DECIMAL(38,0) sum, theta and
    * rho^2 are fixed-shape divisions of those exact integers (the
    * fanoFactor discipline), per-arm adjusted means compose a handful
    * of IEEE ops in one fixed shape. One unit-keyed aggregate + one
    * |arms|-row aggregate + a 1-row broadcast — no windows.
    */
  def cuped(df: DataFrame, variantCol: String, preCol: String,
            postCol: String): DataFrame = {
    def d38(c: Column) = c.cast("long").cast("decimal(38,0)")
    val base = df.select(col(variantCol).cast("string").as("variant"),
      d38(col(preCol)).as("x"), d38(col(postCol)).as("y"))
    val m = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val byArm = base.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("ax"),
        sum(col("y")).as("ay"))
    def nd(c: Column) = c.cast("double")
    // integer-exact central moments (doubled-out form, no means yet):
    // covN = n*Sxy - Sx*Sy, varxN = n*Sxx - Sx^2, varyN = n*Syy - Sy^2
    val covN = nd(col("n") * col("sxy") - col("sx") * col("sy"))
    val varxN = nd(col("n") * col("sxx") - col("sx") * col("sx"))
    val varyN = nd(col("n") * col("syy") - col("sy") * col("sy"))
    val withTheta = byArm.crossJoin(broadcast(m.select(
      col("n").as("__n"), col("sx").as("__sx"),
      // degenerate CUPED (constant covariate): theta = 0, so mean_adj
      // falls back to the unadjusted mean instead of nulling the
      // readout; var_reduction_pct stays null (nothing was reduced)
      coalesce(when(varxN > 0, covN / varxN), lit(0.0)).as("theta"),
      when(varxN > 0 && varyN > 0,
        round(lit(100.0) * (covN * covN) / (varxN * varyN), 6))
        .as("var_reduction_pct"))))
    // mean_adj = mean_y_arm - theta * (mean_x_arm - mean_x_global)
    val meanY = nd(col("ay")) / nd(col("n"))
    val meanXa = nd(col("ax")) / nd(col("n"))
    val meanXg = nd(col("__sx")) / nd(col("__n"))
    withTheta.select(col("variant"), col("n"),
        round(meanY, 6).as("mean_y"),
        round(meanY - col("theta") * (meanXa - meanXg), 6).as("mean_adj"),
        round(col("theta"), 6).as("theta"),
        col("var_reduction_pct"))
      .orderBy(col("variant"))
  }

  /** Difference-in-differences readout (Card & Krueger 1994 design):
    * four cell means over (treated, post) — the causal effect
    * estimate under parallel trends is
    * (treat_post - treat_pre) - (ctrl_post - ctrl_pre). Returns one
    * row: per-cell n/mean plus the did estimate. Values present at
    * 6 dp DECIMAL and sum exactly (order-independent); each mean is
    * one fixed-shape division, the estimate composes four of them.
    * One 4-cell aggregate pass — nothing keyed finer than a cell.
    */
  def diffInDiff(df: DataFrame, treatedCol: String, postCol: String,
                 valueCol: String): DataFrame = {
    val v6 = round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
    val base = df.select(col(treatedCol).cast("boolean").as("tr"),
      col(postCol).cast("boolean").as("po"), v6.as("v"))
    def cell(tr: Boolean, po: Boolean, tag: String) = Seq(
      sum(when(col("tr") === tr && col("po") === po, 1L).otherwise(0L))
        .as(s"n_$tag"),
      sum(when(col("tr") === tr && col("po") === po, col("v"))).as(s"s_$tag"))
    val aggs = cell(false, false, "c_pre") ++ cell(false, true, "c_post") ++
      cell(true, false, "t_pre") ++ cell(true, true, "t_post")
    def mean(tag: String) =
      col(s"s_$tag").cast("double") / col(s"n_$tag").cast("double")
    base.agg(aggs.head, aggs.tail: _*)
      .select(col("n_c_pre"), col("n_c_post"), col("n_t_pre"),
        col("n_t_post"),
        round(mean("c_pre"), 6).as("mean_c_pre"),
        round(mean("c_post"), 6).as("mean_c_post"),
        round(mean("t_pre"), 6).as("mean_t_pre"),
        round(mean("t_post"), 6).as("mean_t_post"),
        round((mean("t_post") - mean("t_pre")) -
          (mean("c_post") - mean("c_pre")), 6).as("did"))
  }

  /** Two-proportion power check (normal-approximation sample-size
    * formula, e.g. Fleiss, Levin & Paik 2003 ch. 4): given the
    * OBSERVED arm rates, the per-arm n required to detect that gap at
    * the caller's z quantiles — n = (z_a+z_b)^2 (p_a q_a + p_b q_b) /
    * (p_a - p_b)^2 — plus a `powered` verdict (is the smaller arm at
    * or above it). The "was this test even capable of seeing the
    * effect it saw" readout that belongs NEXT TO the [[abTest]] z
    * statistic: an unpowered non-significant test says nothing. z
    * values are caller policy passed as constants (1.959964 =
    * two-sided 5%, 0.841621 = 80% power) — no erf anywhere, the
    * statistic stays data.
    *
    * Determinism / scale: builds on [[abTest]]'s per-user dedup +
    * exact integer counts (one user-keyed aggregate, 2-arm lazy
    * guard); the formula is one fixed double shape per row, ceil'd to
    * a long. Equal observed rates have no finite n -> null
    * required_n_per_arm, null powered.
    */
  def powerCheck(df: DataFrame, variantCol: String, userCol: String,
                 convertedCol: String,
                 zAlpha: Double = 1.959964,
                 zBeta: Double = 0.841621): DataFrame = {
    val ab = abTest(df, variantCol, userCol, convertedCol)
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    // (z_a + z_b) summed/squared HERE in the same IEEE shape the
    // oracle writes out literally
    val z2 = lit((zAlpha + zBeta) * (zAlpha + zBeta))
    val need = ceil(z2 * (pa * (lit(1.0) - pa) + pb * (lit(1.0) - pb)) /
      ((pb - pa) * (pb - pa))).cast("long")
    ab.select(col("variant_a"), col("variant_b"),
      col("n_a"), col("n_b"), col("rate_a"), col("rate_b"),
      when(pa =!= pb, need).as("required_n_per_arm"),
      when(pa =!= pb, least(na, nb) >= need).as("powered"))
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972, Technometrics;
    * Aalen 1978, Ann. Stat.): H(t) = sum_{t' <= t} d_t'/n_t' over the
    * same at-risk frame as [[kaplanMeier]] — the additive counterpart
    * of KM's product (H ~ -ln S for small increments), preferred when
    * hazard INCREMENTS are the readout (failure-rate-over-time
    * monitoring). Returns (t, n_risk, n_event, n_censored, hazard).
    *
    * Determinism: each increment d/n is one IEEE division of exact
    * integers presented at 9 dp; the cumulative sum runs in DECIMAL
    * over the DISTINCT-duration frame (order-independent, no fold
    * needed — sums commute where products don't), final value at
    * 6 dp. Same calendar-bounded window class as kaplanMeier.
    */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val base = df.select(col(durationCol).cast("long").as("t"),
      col(eventCol).cast("boolean").as("e"))
    val grouped = base.groupBy(col("t")).agg(
      sum(when(col("e"), 1L).otherwise(0L)).as("n_event"),
      sum(when(!col("e"), 1L).otherwise(0L)).as("n_censored"))
    // exclusive prefix = inclusive distributed cum − the row's own
    // contribution (first row: cum − own = 0, the old coalesce case)
    val atRisk = graft.ops.Cum.cumulate(grouped, Seq(col("t").asc),
        Seq((col("n_event") + col("n_censored")) -> "__cumt"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__N"))))
      .withColumn("n_risk", col("__N") -
        (col("__cumt") - (col("n_event") + col("n_censored"))))
      .withColumn("__h", round(
        col("n_event").cast("double") / col("n_risk").cast("double"), 9)
        .cast("decimal(28,9)"))
    graft.ops.Cum.cumulate(atRisk, Seq(col("t").asc),
        Seq(col("__h") -> "__cumh"))
      .withColumn("hazard", round(col("__cumh").cast("double"), 6))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        col("hazard"))
      .orderBy(col("t"))
  }

  /** Burstiness per key: the Fano factor (index of dispersion,
    * sample-variance / mean) of the daily event-count series — 1 for
    * a Poisson arrival process, ≫1 for bursty traffic (incident
    * storms, batch-job spikes), <1 for over-regular schedules. The
    * workload-characterization readout behind capacity planning.
    *
    * Counts per (key, day) then the per-key moments — every input to
    * the final formulas is an exact integer sum (n, Σx, Σx²), the
    * floats are fixed-shape divisions, bit-identical in any replay.
    * Keys with a single active day have no sample variance → null.
    */
  def fanoFactor(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = df
      .groupBy(col(keyCol).as("key"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy(col("key"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("total"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("mean",
        col("total").cast("double") / col("n_days").cast("double"))
      .withColumn("variance", when(col("n_days") > 1,
        (col("n_days") * col("sxx") - col("total") * col("total")).cast("double") /
          (col("n_days") * (col("n_days") - 1)).cast("double")))
      .withColumn("fano", col("variance") / col("mean"))
      .select("key", "n_days", "total", "mean", "variance", "fano")
      .orderBy("key")
  }

  /** Kaplan–Meier product-limit survival estimator (Kaplan & Meier
    * 1958, JASA 53(282)) with right censoring — the time-to-event
    * readout behind churn and time-to-conversion curves, the
    * censoring-aware complement of [[retention]] (a plain retention
    * rate treats a user observed for 3 days as churned on day 4;
    * KM removes them from the at-risk set instead). Input: one row
    * per subject with an integer duration (days observed) and an
    * event flag (true = the event happened at `t`; false = censored
    * at `t`). Returns one row per distinct observed duration:
    * (t, n_risk, n_event, n_censored, survival) where
    * survival(t) = prod_{t' <= t} (1 - d_t'/n_t').
    *
    * Determinism / scale contract: one hash aggregate to the
    * distinct-duration frame, a cumulative count window over those
    * DISTINCT times (the auc bounded-domain class — day-grained
    * durations make the frame calendar-bounded), then the prefix
    * product as a LEFT FOLD over the collected ordered factor array
    * (the randomProject fold discipline: each factor is one IEEE
    * division of exact integers, the ascending-t multiply order is
    * fixed, so survival is bit-stable with NO rounding step). The
    * per-row fold over a filtered prefix is O(T^2) on distinct
    * times — a few hundred days squared, not row volume.
    */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val base = df.select(col(durationCol).cast("long").as("t"),
      col(eventCol).cast("boolean").as("e"))
    val grouped = base.groupBy(col("t")).agg(
      sum(when(col("e"), 1L).otherwise(0L)).as("n_event"),
      sum(when(!col("e"), 1L).otherwise(0L)).as("n_censored"))
    val withRisk = graft.ops.Cum.cumulate(grouped, Seq(col("t").asc),
        Seq((col("n_event") + col("n_censored")) -> "__cumt"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__N"))))
      .withColumn("n_risk", col("__N") -
        (col("__cumt") - (col("n_event") + col("n_censored"))))
      .withColumn("__f", lit(1.0) -
        col("n_event").cast("double") / col("n_risk").cast("double"))
    val factors = withRisk
      .agg(array_sort(collect_list(struct(col("t"), col("__f")))).as("tf"))
    withRisk.crossJoin(broadcast(factors))
      .withColumn("survival", aggregate(
        filter(col("tf"), x => x.getField("t") <= col("t")),
        lit(1.0), (acc, x) => acc * x.getField("__f")))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        col("survival"))
      .orderBy(col("t"))
  }
}
