package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ext.Behavior

class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel enforces strict ordering: pre-step events do not count") {
    val events = Seq(
      // u1 completes the full ordered funnel
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      // u2 purchases BEFORE clicking — purchase must not count
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-01 10:30:00")),
      (2L, "click", ts("2024-01-01 11:00:00")),
      // u3 only views
      (3L, "view", ts("2024-01-01 10:00:00")),
      // u4 clicks without viewing — never enters the funnel
      (4L, "click", ts("2024-01-01 10:00:00")),
      // noise
      (1L, "error", ts("2024-01-01 10:30:00"))
    ).toDF("user_id", "event_type", "ts")
    val steps = Seq("view", "click", "purchase")
    val users = Behavior.funnelUsers(events, "user_id", "ts", "event_type", steps)
    val got = users.orderBy("user_id")
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp])].collect()
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(got(0)._4.contains(ts("2024-01-01 12:00:00")))
    assert(got(1)._3.contains(ts("2024-01-01 11:00:00")) && got(1)._4.isEmpty)
    assert(got(2)._3.isEmpty && got(2)._4.isEmpty)

    val counts = Behavior.funnelCounts(users, steps)
      .select("step", "users", "conversion").as[(String, Long, Double)].collect()
    assert(counts.toSeq === Seq(
      ("view", 3L, 1.0), ("click", 2L, 0.666667), ("purchase", 1L, 0.333333)))
  }

  test("funnel counts a same-user repeat correctly: earliest qualifying event wins") {
    val events = Seq(
      (1L, "view", ts("2024-01-02 10:00:00")),
      (1L, "view", ts("2024-01-01 10:00:00")), // earlier view → t0
      (1L, "click", ts("2024-01-01 12:00:00")),
      (1L, "click", ts("2024-01-03 12:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val u = Behavior.funnelUsers(events, "user_id", "ts", "event_type",
        Seq("view", "click"))
      .as[(Long, Timestamp, Option[Timestamp])].collect()
    assert(u.toSeq === Seq((1L, ts("2024-01-01 10:00:00"),
      Some(ts("2024-01-01 12:00:00")))))
  }

  test("window-bounded funnel: steps beyond the gap don't count, within-gap do") {
    val events = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:30:00")),  // within the hour
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "click", ts("2024-01-01 12:30:00"))   // 2.5h later: outside
    ).toDF("user_id", "event_type", "ts")
    val u = Behavior.funnelUsers(events, "user_id", "ts", "event_type",
        Seq("view", "click"), maxStepGapSeconds = Some(3600L))
      .orderBy("user_id")
      .as[(Long, Timestamp, Option[Timestamp])].collect()
    assert(u.toSeq === Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 10:30:00"))),
      (2L, ts("2024-01-01 10:00:00"), None)))
    // unbounded form still counts user 2's late click
    val unbounded = Behavior.funnelUsers(events, "user_id", "ts", "event_type",
        Seq("view", "click"))
      .orderBy("user_id").as[(Long, Timestamp, Option[Timestamp])].collect()
    assert(unbounded(1)._3.contains(ts("2024-01-01 12:30:00")))
  }

  test("twap weights each reading by how long it held") {
    // value 10 holds 1s, value 20 holds 3s, last reading carries none:
    // twap = (10*1 + 20*3) / 4 = 17.5
    val df = Seq((1L, 0L, 10.0), (1L, 1L, 20.0), (1L, 4L, 99.0),
      (2L, 0L, 5.0) // single reading: no span, drops out
    ).toDF("k", "t", "v")
    val got = Behavior.twap(df, "k", "t", "v")
      .as[(Long, Double, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 17.5, 4L, 2L)))
  }

  test("exactCorr: perfect, inverse, and undefined correlations") {
    val df = Seq(
      ("up", 1.0, 1.0), ("up", 2.0, 2.0), ("up", 3.0, 3.0),
      ("down", 1.0, 3.0), ("down", 2.0, 2.0), ("down", 3.0, 1.0),
      ("flat", 1.0, 7.0), ("flat", 2.0, 7.0) // zero y-variance -> null
    ).toDF("g", "x", "y")
    val got = Behavior.exactCorr(df, "g", "x", "y")
      .as[(String, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      ("down", 3L, Some(-1.0)), ("flat", 2L, None), ("up", 3L, Some(1.0))))
  }

  test("retention cohorts by first day and counts active cells") {
    val events = Seq(
      (1L, ts("2024-01-01 09:00:00")), (1L, ts("2024-01-01 17:00:00")), // same day: 1 cell
      (1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-01 09:00:00")),
      (2L, ts("2024-01-02 09:00:00")),
      (3L, ts("2024-01-02 09:00:00"))
    ).toDF("user_id", "ts")
    val got = Behavior.retention(events, "user_id", "ts", maxOffsetDays = 30)
      .as[(java.sql.Date, Int, Long)].collect().toSeq
    val d = (s: String) => java.sql.Date.valueOf(s)
    assert(got === Seq(
      (d("2024-01-01"), 0, 2L), // u1, u2 on their cohort day
      (d("2024-01-01"), 1, 1L), // u2 back next day
      (d("2024-01-01"), 2, 1L), // u1 back on day 2
      (d("2024-01-02"), 0, 1L))) // u3's cohort
  }

  test("retention horizon drops cells beyond maxOffsetDays") {
    val events = Seq(
      (1L, ts("2024-01-01 09:00:00")),
      (1L, ts("2024-03-01 09:00:00")) // offset 60 — beyond the horizon
    ).toDF("user_id", "ts")
    val got = Behavior.retention(events, "user_id", "ts", maxOffsetDays = 30)
    assert(got.count() === 1)
  }

  test("transitions count per-user successive pairs and normalize per source state") {
    val events = Seq(
      // user 1: a -> b -> a  (pairs: a>b, b>a)
      (1L, ts("2024-01-01 09:00:00"), "a", 1L),
      (1L, ts("2024-01-01 09:01:00"), "b", 2L),
      (1L, ts("2024-01-01 09:02:00"), "a", 3L),
      // user 2: a -> a       (pair: a>a) — no cross-user pair with u1
      (2L, ts("2024-01-01 09:00:00"), "a", 4L),
      (2L, ts("2024-01-01 09:01:00"), "a", 5L)
    ).toDF("user_id", "ts", "et", "event_id")
    val got = Behavior.transitions(events, "user_id", "ts", "et", "event_id")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("a", "a", 1L, 0.5), // of 2 a-departures, 1 went to a
      ("a", "b", 1L, 0.5),
      ("b", "a", 1L, 1.0)))
  }

  test("transitions tie-break equal timestamps on the id column") {
    val events = Seq(
      (1L, ts("2024-01-01 09:00:00"), "x", 2L),
      (1L, ts("2024-01-01 09:00:00"), "y", 1L) // same ts: id 1 comes first
    ).toDF("user_id", "ts", "et", "event_id")
    val got = Behavior.transitions(events, "user_id", "ts", "et", "event_id")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(("y", "x", 1L, 1.0)))
  }

  test("topPaths mines n-step sequences with deterministic tie order") {
    val events = Seq(
      (1L, ts("2024-01-01 09:00:00"), "a", 1L),
      (1L, ts("2024-01-01 09:01:00"), "b", 2L),
      (1L, ts("2024-01-01 09:02:00"), "c", 3L),
      (1L, ts("2024-01-01 09:03:00"), "d", 4L), // paths: a>b>c, b>c>d
      (2L, ts("2024-01-01 09:00:00"), "a", 5L),
      (2L, ts("2024-01-01 09:01:00"), "b", 6L),
      (2L, ts("2024-01-01 09:02:00"), "c", 7L)  // path: a>b>c (again)
    ).toDF("user_id", "ts", "et", "event_id")
    val got = Behavior.topPaths(events, "user_id", "ts", "et", "event_id", n = 3, k = 5)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a > b > c", 2L), ("b > c > d", 1L)))
    // a 2-user stream has no cross-user paths: user 2's c never chains
    // into user 1's events
  }

  test("activeUsersTrailing counts distinct users over the trailing window, observed days only") {
    val events = Seq(
      (1L, ts("2024-01-01 09:00:00")),
      (2L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-02 09:00:00")),
      (3L, ts("2024-01-09 09:00:00")) // gap: Jan 3-8 have no events
    ).toDF("user_id", "ts")
    val got = Behavior.activeUsersTrailing(events, "user_id", "ts", windowDays = 7)
      .as[(java.sql.Date, Long)].collect().toSeq
    val d = (s: String) => java.sql.Date.valueOf(s)
    assert(got === Seq(
      (d("2024-01-01"), 2L),  // u1, u2
      (d("2024-01-02"), 2L),  // u1 (both days), u2 from Jan 1
      (d("2024-01-09"), 1L))) // only u3 — Jan 1-2 are outside the 7-day window
    // days 3..8 are NOT reported (not observed), though Jan 2's users
    // are visible from them
  }

  test("activeUsersTrailingApprox tracks the exact operator within HLL error") {
    val rnd = new scala.util.Random(3)
    val events = Seq.tabulate(5000) { i =>
      (rnd.nextInt(800).toLong,
        ts(f"2024-01-${1 + rnd.nextInt(20)}%02d 09:00:00"))
    }.toDF("user_id", "ts")
    val exact = Behavior.activeUsersTrailing(events, "user_id", "ts", windowDays = 7)
      .as[(java.sql.Date, Long)].collect().toMap
    val approx = Behavior.activeUsersTrailingApprox(events, "user_id", "ts", windowDays = 7)
      .as[(java.sql.Date, Long)].collect().toMap
    assert(approx.keySet === exact.keySet, "same observed days")
    for ((day, est) <- approx) {
      val truth = exact(day).toDouble
      assert(math.abs(est - truth) / truth < 0.05,
        s"$day: est $est vs exact $truth beyond 5%")
    }
  }

  test("day sketches round-trip parquet and maintain incrementally: append == recompute") {
    val rnd = new scala.util.Random(17)
    def batch(days: Range, n: Int) = Seq.tabulate(n) { _ =>
      val d = days(rnd.nextInt(days.size))
      (rnd.nextInt(500).toLong, ts(f"2024-01-$d%02d 09:00:00"))
    }.toDF("user_id", "ts")
    val b1 = batch(1 to 10, 2000)
    val b2 = batch(8 to 15, 1500) // overlapping days: sketches must union
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    // run 1 persists its day sketches; run 2 merges its own with the store
    Behavior.daySketches(b1, "user_id", "ts").write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
      .unionByName(Behavior.daySketches(b2, "user_id", "ts"))
      .groupBy("day")
      .agg(org.apache.spark.sql.functions.hll_sketch_estimate(
        org.apache.spark.sql.functions.hll_union_agg(col("sk"))).as("est"))
    // same estimates as sketching the full stream in one pass
    val direct = Behavior.daySketches(b1.unionByName(b2), "user_id", "ts")
      .select(col("day"), org.apache.spark.sql.functions
        .hll_sketch_estimate(col("sk")).as("est"))
    val a = store.orderBy("day").as[(java.sql.Date, Long)].collect().toSeq
    val b = direct.orderBy("day").as[(java.sql.Date, Long)].collect().toSeq
    assert(a === b, "incremental sketch maintenance must equal one-pass sketching")
    // and the trailing answer from the store tracks the exact one
    val all = b1.unionByName(b2)
    val exact = Behavior.activeUsersTrailing(all, "user_id", "ts", 7)
      .as[(java.sql.Date, Long)].collect().toMap
    val approx = Behavior.trailingFromSketches(
      spark.read.parquet(dir).unionByName(Behavior.daySketches(b2, "user_id", "ts"))
        .groupBy("day").agg(org.apache.spark.sql.functions.hll_union_agg(col("sk")).as("sk")), 7)
      .as[(java.sql.Date, Long)].collect().toMap
    assert(approx.keySet === exact.keySet)
    for ((day, est) <- approx)
      assert(math.abs(est - exact(day).toDouble) / exact(day) < 0.05, s"$day off >5%")
  }

  test("abTest computes rates, lift, and the pooled z statistic; degenerate cases null") {
    // A: 4 users, 1 converts (multi-row users dedup); B: 4 users, 2 convert
    val rows = Seq(
      ("A", 1L, true), ("A", 1L, false), ("A", 2L, false), ("A", 3L, false), ("A", 4L, false),
      ("B", 10L, true), ("B", 11L, true), ("B", 12L, false), ("B", 13L, false)
    ).toDF("variant", "user_id", "converted")
    val got = Behavior.abTest(rows, "variant", "user_id", "converted")
      .select("variant_a", "n_a", "conv_a", "variant_b", "n_b", "conv_b",
        "rate_a", "rate_b", "lift", "z")
      .as[(String, Long, Long, String, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // p = 3/8; z = 0.25 / sqrt(0.375 * 0.625 * 0.5) = 0.730297
    assert(got === Seq(("A", 4L, 1L, "B", 4L, 2L, 0.25, 0.5, 1.0, 0.730297)))
    // all-converted experiment: z undefined -> null, no exception
    val degenerate = Seq(("A", 1L, true), ("B", 2L, true)).toDF("variant", "user_id", "converted")
    val d = Behavior.abTest(degenerate, "variant", "user_id", "converted")
      .select("z").as[Option[Double]].collect()
    assert(d === Array(None))
  }

  test("abTest rejects experiments without exactly two arms (lazily, at execution)") {
    val one = Seq(("A", 1L, true), ("A", 2L, false)).toDF("variant", "user_id", "converted")
    // construction alone must NOT run a job — the guard fires on action
    val frame1 = Behavior.abTest(one, "variant", "user_id", "converted")
    val e1 = intercept[Exception] { frame1.collect() }
    assert(e1.getMessage.contains("found 1"), e1.getMessage)
    val three = Seq(("A", 1L, true), ("B", 2L, false), ("C", 3L, true))
      .toDF("variant", "user_id", "converted")
    val e3 = intercept[Exception] {
      Behavior.abTest(three, "variant", "user_id", "converted").collect()
    }
    assert(e3.getMessage.contains("found 3"), e3.getMessage)
  }

  test("decayedEngagement weights by 1/(1+age_days) against the stream max day") {
    val events = Seq(
      (1L, ts("2024-01-03 09:00:00"), 10.0), // age 0: weight 1
      (1L, ts("2024-01-02 09:00:00"), 10.0), // age 1: weight 1/2
      (2L, ts("2024-01-01 09:00:00"), 12.0)  // age 2: weight 1/3
    ).toDF("user_id", "ts", "value")
    val got = Behavior.decayedEngagement(events, "user_id", "ts", "value")
      .as[(Long, Double, Long)].collect().toSeq
    assert(got === Seq((1L, 15.0, 2L), (2L, 4.0, 1L)))
  }

  test("coOccurrence + associationRules: hand-computed support/confidence/lift") {
    // 4 baskets: {x,y} {x,y} {x,z} {y} → c(x)=3 c(y)=3 c(z)=1,
    // c(x,y)=2, c(x,z)=1; within-basket duplicates collapse
    val df = Seq(
      (1L, "x"), (1L, "y"), (1L, "y"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y")
    ).toDF("b", "i")
    val co = Behavior.coOccurrence(df, "b", "i")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(co(("x", "y")) == ((2L, 3L, 3L, math.rint(2.0 * 4 / 9 * 1e6) / 1e6)))
    assert(co(("x", "z"))._1 == 1L)
    val rules = Behavior.associationRules(df, "b", "i", minPairCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(rules.size == 2) // only the x,y pair survives the prune
    assert(rules(("x", "y")) == math.rint(2.0 / 3 * 1e6) / 1e6)
    assert(rules(("y", "x")) == math.rint(2.0 / 3 * 1e6) / 1e6)
  }

  test("coOccurrence: mega-baskets are excluded entirely") {
    val big = (1 to 20).map(i => (1L, s"i$i")) ++ Seq((2L, "a"), (2L, "b"))
    val out = Behavior.coOccurrence(big.toDF("b", "i"), "b", "i", maxBasketSize = 10)
      .collect()
    assert(out.length == 1) // only basket 2's single pair
    assert(out.head.getString(0) == "a" && out.head.getString(1) == "b")
  }

  test("coOccurrence: the capped aggregate never buffers past cap+1 and " +
       "matches the unbounded collect_set form") {
    // boundedSortedSet(i, cap+1) == slice(sort_array(collect_set(i)),
    // 1, cap+1) on every basket — the whole coOccurrence differential
    // rides on that identity, so pin it directly on a frame with
    // under-cap, exactly-at-cap, and far-over-cap baskets
    val rows = (1 to 50).map(i => (1L, f"i$i%03d")) ++ // 50 distinct: over
      (1 to 10).map(i => (2L, f"j$i%03d")) ++          // exactly at cap
      Seq((3L, "a"), (3L, "b"), (3L, "a"))             // dupes collapse
    val df = rows.toDF("b", "i")
    val cap = 10
    val bounded = df.groupBy("b")
      .agg(graft.functions.VectorExpressions
        .boundedSortedSet(col("i"), cap + 1).as("arr"))
    val unbounded = df.groupBy("b")
      .agg(slice(sort_array(collect_set(col("i"))), 1, cap + 1).as("arr"))
    assert(bounded.orderBy("b").collect().map(_.toString).toSeq ===
      unbounded.orderBy("b").collect().map(_.toString).toSeq)
    // the buffer bound is structural (limit+1 insert-evict), but prove
    // the operator-level consequence too: over-cap baskets drop, the
    // rest pair up exactly as before
    val out = Behavior.coOccurrence(df, "b", "i", maxBasketSize = cap)
      .collect()
    assert(out.forall(r => !r.getString(0).startsWith("i")), "over-cap leak")
    assert(out.length === 45 + 1) // C(10,2) pairs from basket 2 + (a,b)
  }

  test("coOccurrence: null items are ignored (do not count toward the cap)") {
    // collect_set semantics, pinned per ADVICE r18: a basket at the cap
    // boundary with extra null items is still INCLUDED, and nulls never
    // appear as pair members
    val rows: Seq[(Long, String)] =
      Seq((1L, "x"), (1L, null), (1L, "y"), (1L, null), (2L, "x"), (2L, "y"))
    val out = Behavior.coOccurrence(rows.toDF("b", "i"), "b", "i",
        maxBasketSize = 2) // basket 1 has 2 non-null + 2 null items
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "x" && r.getString(1) === "y")
    assert(r.getLong(2) === 2L) // both baskets pair (x, y)
  }

  test("coOccurrence: at the cap boundary a null item neither counts nor pairs") {
    // {a, b, null} with maxBasketSize = 2: the null does not push the
    // basket over the cap; {c, d, e} is over it and is dropped whole,
    // so it counts toward no item and toward no basket total either
    val rows: Seq[(Long, String)] =
      Seq((1L, "a"), (1L, "b"), (1L, null), (2L, "c"), (2L, "d"), (2L, "e"))
    val out = Behavior.coOccurrence(rows.toDF("b", "i"), "b", "i", maxBasketSize = 2)
      .collect().map(_.toSeq)
    assert(out.toSeq === Seq(Seq("a", "b", 1L, 1L, 1L, 1.0)))
  }

  test("coOccurrence: broadcastItemCounts=false degrades the count joins " +
       "to non-broadcast (unbounded-vocab escape hatch)") {
    val df = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y")).toDF("b", "i")
    // functions.broadcast attaches a ResolvedHint(strategy=broadcast)
    def hints(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      plan.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.toString.toLowerCase.contains("broadcast") => h
      }.size
    // default keeps the vocab-bounded pin: 2 count-frame hints + the
    // 1-row n_baskets hint
    assert(hints(Behavior.coOccurrence(df, "b", "i").queryExecution.logical) === 3)
    // gated off: only the always-safe 1-row n_baskets hint remains
    val off = Behavior.coOccurrence(df, "b", "i", broadcastItemCounts = false)
    assert(hints(off.queryExecution.logical) === 1)
    // and the results are identical either way
    val on = Behavior.coOccurrence(df, "b", "i").collect().map(_.toString).sorted
    assert(off.collect().map(_.toString).sorted === on)
  }

  test("fanoFactor: hand-computed dispersion, single-day key is null") {
    // key A: 2 events day1, 4 events day2 -> mean 3, var 2, fano 2/3
    val rows =
      Seq.fill(2)(("A", "2024-01-01 01:00:00")) ++
      Seq.fill(4)(("A", "2024-01-02 01:00:00")) ++
      Seq.fill(5)(("B", "2024-01-01 01:00:00"))
    val df = rows.toDF("k", "s").select(col("k"),
      col("s").cast("timestamp").as("ts"))
    val out = Behavior.fanoFactor(df, "k", "ts").collect()
    val a = out(0)
    assert((a.getString(0), a.getLong(1), a.getLong(2)) === ("A", 2L, 6L))
    assert(a.getDouble(3) === 3.0)
    assert(a.getDouble(4) === 2.0)
    assert(a.getDouble(5) === 2.0 / 3.0)
    val b = out(1)
    assert(b.getString(0) === "B")
    assert(b.isNullAt(4) && b.isNullAt(5), "one active day: no variance")
  }

  test("cuped: hand-computed theta, adjusted means, variance reduction") {
    import spark.implicits._
    // y ~ 2x + arm effect: pooled moments give theta = 2 exactly;
    // both arms share mean_x = 3 = global mean, so adjustment leaves
    // the means unchanged here (the covariate is balanced) while
    // rho^2 = 1024/1088 -> 94.117647% variance reduction
    val df = Seq(("ctrl", 2L, 4L), ("ctrl", 4L, 8L),
      ("treat", 2L, 5L), ("treat", 4L, 9L)).toDF("variant", "x", "y")
    val out = Behavior.cuped(df, "variant", "x", "y").collect()
    val ctrl = out(0); val treat = out(1)
    assert(ctrl.getString(0) === "ctrl" && ctrl.getLong(1) === 2L)
    assert(ctrl.getDouble(2) === 6.0 && ctrl.getDouble(3) === 6.0)
    assert(treat.getDouble(2) === 7.0 && treat.getDouble(3) === 7.0)
    assert(ctrl.getDouble(4) === 2.0)           // theta
    assert(ctrl.getDouble(5) === 94.117647)     // 100 * 16/17
  }

  test("cuped: unbalanced covariate shifts the adjusted means toward parity") {
    import spark.implicits._
    // treat got luckier pre-period traffic (higher x): raw mean_y
    // overstates the effect; CUPED subtracts theta*(mean_x_arm - xbar)
    val df = Seq(("ctrl", 1L, 2L), ("ctrl", 3L, 6L),
      ("treat", 5L, 11L), ("treat", 7L, 15L)).toDF("variant", "x", "y")
    val out = Behavior.cuped(df, "variant", "x", "y").collect()
    val rawGap = out(1).getDouble(2) - out(0).getDouble(2)
    val adjGap = out(1).getDouble(3) - out(0).getDouble(3)
    assert(rawGap === 9.0)
    assert(adjGap < rawGap, s"adjustment must shrink the confounded gap ($adjGap)")
  }

  test("cuped: zero covariate variance degrades to theta=0, raw means kept") {
    import spark.implicits._
    val df = Seq(("a", 1L, 3L), ("b", 1L, 5L)).toDF("variant", "x", "y")
    val out = Behavior.cuped(df, "variant", "x", "y").collect()
    assert(out.forall(_.getDouble(4) === 0.0))
    // theta = 0 => mean_adj falls back to the unadjusted mean
    assert(out.forall(r => r.getDouble(3) === r.getDouble(2)))
    assert(out.forall(_.isNullAt(5))) // nothing was reduced
  }

  test("diffInDiff: hand-computed four-cell estimate") {
    import spark.implicits._
    val df = Seq(
      (false, false, 1.0), (false, false, 3.0),  // ctrl pre: mean 2
      (false, true, 2.0), (false, true, 4.0),    // ctrl post: mean 3
      (true, false, 1.0), (true, false, 5.0),    // treat pre: mean 3
      (true, true, 6.0), (true, true, 8.0)       // treat post: mean 7
    ).toDF("tr", "po", "v")
    val r = Behavior.diffInDiff(df, "tr", "po", "v").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 2L, 2L, 2L)))
    assert(r.getDouble(4) === 2.0 && r.getDouble(5) === 3.0)
    assert(r.getDouble(6) === 3.0 && r.getDouble(7) === 7.0)
    assert(r.getDouble(8) === 3.0) // (7-3) - (3-2)
  }

  test("kaplanMeier: textbook hand-computed curve with censoring") {
    import spark.implicits._
    // 6 subjects: events at t=1,3,3; censored at t=2,3,4
    // t=1: n=6, d=1      -> S = 5/6
    // t=2: n=5, d=0, c=1 -> S unchanged (censoring-only time)
    // t=3: n=4, d=2, c=1 -> S = 5/6 * 2/4 = 5/12
    // t=4: n=1, d=0, c=1 -> S unchanged
    val df = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (3L, false), (4L, false)).toDF("dur", "ev")
    val out = Behavior.kaplanMeier(df, "dur", "ev").collect()
    val rows = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4)))
    // expected values written as the SAME IEEE expressions the fold
    // evaluates (1 - 1.0/6.0 is not bit-equal to 5.0/6.0)
    val s1 = 1.0 - 1.0 / 6.0
    assert(rows.toSeq === Seq(
      (1L, 6L, 1L, 0L, s1),
      (2L, 5L, 0L, 1L, s1),        // censoring-only time: S unchanged
      (3L, 4L, 2L, 1L, s1 * 0.5),
      (4L, 1L, 0L, 1L, s1 * 0.5)))
  }

  test("powerCheck: hand-computed required n and the unpowered verdict") {
    import spark.implicits._
    // A: 4 users 1 conv (0.25), B: 4 users 3 conv (0.75)
    val df = Seq(
      (0L, "A", true), (2L, "A", false), (4L, "A", false), (6L, "A", false),
      (1L, "B", true), (3L, "B", true), (5L, "B", true), (7L, "B", false)
    ).toDF("user_id", "variant", "converted")
    val r = Behavior.powerCheck(df, "variant", "user_id", "converted")
      .collect()(0)
    // need = ceil(z2 * (pq_a + pq_b) / gap^2) computed in the same
    // IEEE shape the operator uses
    val z2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    val expect = math.ceil(z2 * (0.25 * 0.75 + 0.75 * 0.25) / 0.25).toLong
    assert(r.getLong(6) === expect && expect === 12L)
    assert(!r.getBoolean(7)) // 4 per arm < 12: unpowered
  }

  test("powerCheck: equal observed rates have no finite n") {
    import spark.implicits._
    val df = Seq((0L, "A", true), (2L, "A", false),
      (1L, "B", true), (3L, "B", false)).toDF("user_id", "variant", "converted")
    val r = Behavior.powerCheck(df, "variant", "user_id", "converted")
      .collect()(0)
    assert(r.isNullAt(6) && r.isNullAt(7))
  }

  test("nelsonAalen: hand-computed cumulative hazard on the KM fixture") {
    import spark.implicits._
    // increments: t=1 1/6, t=2 0/5, t=3 2/4, t=4 0/1 (9-dp terms)
    val df = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (3L, false), (4L, false)).toDF("dur", "ev")
    val out = Behavior.nelsonAalen(df, "dur", "ev").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
      === Seq((1L, 6L, 0.166667), (2L, 5L, 0.166667),
        (3L, 4L, 0.666667), (4L, 1L, 0.666667)))
  }

  test("kaplanMeier: no censoring degrades to the empirical survivor function") {
    import spark.implicits._
    val df = Seq((1L, true), (2L, true), (3L, true), (4L, true))
      .toDF("dur", "ev")
    val out = Behavior.kaplanMeier(df, "dur", "ev").collect()
    // S(t_i) = prod (1 - 1/n_i), written as the fold's own IEEE shapes
    val e1 = 1.0 - 1.0 / 4.0
    val e2 = e1 * (1.0 - 1.0 / 3.0)
    assert(out.map(_.getDouble(4)).toSeq ===
      Seq(e1, e2, e2 * 0.5, 0.0))
  }
}
