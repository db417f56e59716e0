package graft

import org.apache.spark.sql.functions.col

import graft.ops.Validate

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  test("duplicateKeys flags multi-row key groups only") {
    val df = Seq((1, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0)).toDF("id", "sub", "v")
    assert(Validate.duplicateKeys(df, Seq("id")).as[(Int, Long)].collect() === Array((1, 2L)))
    assert(Validate.duplicateKeys(df, Seq("id", "sub")).isEmpty)
  }

  test("fkOrphans finds childless rows; healthy FK graph is empty") {
    val parent = Seq((10, "p")).toDF("pid", "pname")
    val child = Seq((1, 10), (2, 99)).toDF("cid", "fk")
    val orphans = Validate.fkOrphans(child, parent, "fk", "pid")
    assert(orphans.select("cid").as[Int].collect() === Array(2))
    val healthy = Seq((1, 10)).toDF("cid", "fk")
    assert(Validate.fkOrphans(healthy, parent, "fk", "pid").isEmpty)
  }

  test("one-pass health matches the three individual checks") {
    val df = Seq(
      (Option(1), "a", 1.0), (Option(1), "a", 2.0), // duplicate (id, sub)
      (Option(2), "b", 3.0),
      (Option.empty[Int], "c", 4.0), (Option.empty[Int], "c", 5.0) // null key, also dup
    ).toDF("id", "sub", "v")
    val keys = Seq("id", "sub")
    val h = Validate.health("t", df, keys)
    assert(h.rows === df.count())
    assert(h.duplicateKeyGroups === Validate.duplicateKeys(df, keys).count())
    assert(h.nullKeyRows === Validate.nullViolations(df, keys).count())
    assert((h.rows, h.duplicateKeyGroups, h.nullKeyRows) === (5L, 2L, 2L))
    // empty frame: all zeros, no NPE from the empty aggregate
    val empty = Validate.health("e", df.limit(0), keys)
    assert((empty.rows, empty.duplicateKeyGroups, empty.nullKeyRows) === (0L, 0L, 0L))
    // schema drift: a declared key column missing from the table must
    // degrade the audit (group by what exists), not throw
    val drifted = Validate.health("d", df, Seq("id", "not_a_col"))
    assert(drifted.rows === 5L)
    assert(drifted.duplicateKeyGroups === 2L) // grouped by id alone
    // all keys absent: row count only
    val bare = Validate.health("b", df, Seq("nope"))
    assert((bare.rows, bare.duplicateKeyGroups, bare.nullKeyRows) === (5L, 0L, 0L))
  }

  test("nullViolations catches nulls in declared columns, skips absent ones") {
    val df = Seq((Option(1), Option("a")), (Option.empty[Int], Option("b")),
      (Option(3), Option.empty[String])).toDF("id", "name")
    assert(Validate.nullViolations(df, Seq("id")).count() === 1)
    assert(Validate.nullViolations(df, Seq("id", "name")).count() === 2)
    assert(Validate.nullViolations(df, Seq("not_a_col")).count() === 0)
  }

  test("health summarizes a loaded warehouse table") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("id", "v")
    val h = Validate.health("t", df, Seq("id"))
    assert(h === Validate.TableHealth("t", 3, 1, 0))
  }

  test("skewReport ranks heavy keys with share and skew factor") {
    // key "a": 6 rows, "b": 2, "c": 1, "d": 1  → total 10, 4 keys, mean 2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d")).toDF("k")
    val out = Validate.skewReport(df, "k", topK = 3)
      .select("key", "cnt", "rank", "share", "skew")
      .as[(String, Long, Int, Double, Double)].collect().sortBy(_._3)
    assert(out === Array(
      ("a", 6L, 1, 0.6, 2.4),
      ("b", 2L, 2, 0.2, 0.8),
      ("c", 1L, 3, 0.1, 0.4)))   // c before d: tie broken by key
  }

  test("profile summarizes every column in one pass, mean only for numerics") {
    val df = Seq(
      (1L, Option("a"), Option(1.0)),
      (2L, Option("b"), Option(3.0)),
      (3L, Option.empty[String], Option.empty[Double]),
      (4L, Option("a"), Option(2.0))
    ).toDF("id", "s", "v")
    val got = Validate.profile(df)
      .as[(String, Long, Long, Long, String, String, Option[Double])]
      .collect().toSeq
    assert(got === Seq(
      ("id", 4L, 0L, 4L, "1", "4", Some(2.5)),
      ("s", 3L, 1L, 2L, "a", "b", None),
      ("v", 3L, 1L, 3L, "1.0", "3.0", Some(2.0))))
  }

  test("profile's exact distinct folds -0.0 into 0.0 and counts NaNs as one value") {
    val df = Seq(-0.0, 0.0, Double.NaN, Double.NaN).toDF("v")
    val got = Validate.profile(df, exactDistinct = true)
      .select("n_distinct", "min_s").as[(Long, String)].collect()
    assert(got === Array((2L, "0.0")))
  }

  test("madOutliers flags the long tail without letting it move the baseline") {
    // 100 values near 10, one extreme outlier; mean/stddev z-score
    // would drag the threshold toward the outlier — the median doesn't
    val df = ((1 to 100).map(i => (i.toLong, 10.0 + (i % 5) * 0.1)) :+ (999L, 1000.0))
      .toDF("id", "v")
    val got = Validate.madOutliers(df, "v", k = 3.5)
      .select("id").as[Long].collect().toSeq
    assert(got === Seq(999L))
  }

  test("madOutliers with zero MAD (constant column) flags nothing") {
    val df = Seq.fill(50)(7.0).zipWithIndex.map(_.swap).toDF("id", "v")
    assert(Validate.madOutliers(df, "v").count() === 0)
  }

  test("winsorize clips to the exact percentile edges, inliers untouched") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = Validate.winsorize(df, "v", lo = 0.05, hi = 0.95)
      .select("id", "v", "v_w").as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // exact p05 of 1..100 = 5.95; p95 = 95.05
    assert(out(1L) === ((1.0, 5.95)))
    assert(out(100L) === ((100.0, 95.05)))
    assert(out(50L) === ((50.0, 50.0))) // inlier untouched
    assert(out(6L) === ((6.0, 6.0)))    // just inside the lower edge
  }

  test("quantileBins assigns equal-frequency bins without a global sort") {
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .repartition(8)
    val binned = Validate.quantileBins(df, "v", nBins = 4)
    val sizes = binned.groupBy("bin").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.keySet === Set(1, 2, 3, 4))
    // discrete (type-1) edges on 1..1000 quarter the range exactly:
    // edge_i = value at rank ceil(i*1000/4) = 250/500/750
    assert(sizes.values.forall(_ == 250), sizes.toString)
    // value 250 IS the bin-1 edge (ties go low), 251 starts bin 2
    val got = binned.filter(col("id").isin(250L, 251L, 1000L))
      .select("id", "bin").as[(Long, Int)].collect().toMap
    assert(got === Map(250L -> 1, 251L -> 2, 1000L -> 4))
    // discrete edges are actual data values
    val lowers = binned.filter(col("bin") > 1).select("bin_lower")
      .distinct().as[Double].collect().sorted
    assert(lowers.toSeq == Seq(250.0, 500.0, 750.0))
    // every window is PARTITIONED (Cum's per-range / offsets windows —
    // the distinct-value frame is pinned below them), never the raw
    // row stream on one partition (the ntile trap)
    val wins = binned.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "discrete edges need the cum-count windows")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "quantileBins must not plan a partition-less window")
  }

  test("expect: per-rule violation counts over one pass") {
    import Validate._
    val df = Seq(
      (1L, Some("a"), 5.0, "F"),
      (2L, None, 50.0, "O"),     // null name
      (2L, Some("b"), -1.0, "X"), // dup key, out of range, bad status
      (3L, Some("zz"), 5.0, "F")
    ).toDF("k", "name", "v", "st")
    val out = expect(df, Seq(
      ExpectNotNull("name_not_null", "name"),
      ExpectUnique("k_unique", Seq("k")),
      ExpectInRange("v_range", "v", 0.0, 10.0),
      ExpectInSet("st_domain", "st", Seq("F", "O")),
      ExpectMatches("name_short", "name", "^.$"),
      ExpectSatisfies("v_nonneg", "v >= 0")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out("name_not_null") == ((1L, false)))
    assert(out("k_unique") == ((1L, false)))      // one extra row beyond first
    assert(out("v_range") == ((2L, false)))       // -1.0 and 50.0
    assert(out("st_domain") == ((1L, false)))     // X
    assert(out("name_short") == ((2L, false)))    // null and "zz" both fail
    assert(out("v_nonneg") == ((1L, false)))
    // all-green contract passes
    val clean = expect(df.where(col("k") === 1), Seq(
      ExpectNotNull("n", "name"), ExpectUnique("u", Seq("k"))))
      .collect()
    assert(clean.forall(_.getBoolean(2)))
  }

  test("standardize: known z-scores, degenerate groups null") {
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), // mean 2, sample std 1
      ("b", 4L, 7.0),                                  // n=1 → null
      ("c", 5L, 4.0), ("c", 6L, 4.0)                   // zero variance → null
    ).toDF("k", "id", "v")
    val out = Validate.standardize(df, "k", "v").orderBy("id").collect()
      .map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    assert(out == Seq(-1.0, 0.0, 1.0, null, null, null))
    // invariant under repartitioning (decimal moments)
    val re = Validate.standardize(df.repartition(5), "k", "v").orderBy("id")
      .collect().map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    assert(re == out)
  }

  test("skewProfile: uniform keys score ~1, dominant key surfaces on top") {
    val uniform = spark.range(1000).selectExpr("CAST(id % 10 AS STRING) AS k")
    val u = Validate.skewProfile(uniform, "k", topK = 3).collect()
    assert(u.length == 3)
    assert(u.head.getDouble(6) == 1.0) // max/avg == 1 exactly at 100 each
    assert(math.abs(u.head.getDouble(7) - math.log(10)) < 1e-3) // entropy ≈ ln 10
    // 90% of rows on one key
    val skewed = spark.range(1000)
      .selectExpr("CASE WHEN id < 900 THEN 'hot' ELSE CAST(id AS STRING) END AS k")
    val s = Validate.skewProfile(skewed, "k", topK = 2).collect()
    assert(s.head.getString(1) == "hot" && s.head.getLong(2) == 900L)
    assert(s.head.getDouble(6) > 50, "skew factor should scream") // 900/(1000/101)
  }

  test("psiDrift: identical distributions score ~0") {
    val df = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    val out = Validate.psiDrift(df, df, "v", nBins = 5).collect()
    assert(out.length == 5)
    assert(out.forall(_.getDouble(6) == 0.0), "psi_total should be 0")
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-6) // fractions sum to 1
  }

  test("psiDrift: a shifted distribution scores above the 0.25 alarm") {
    val base = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    val cur = spark.range(1000).selectExpr("CAST(id + 800 AS DOUBLE) AS v")
    val out = Validate.psiDrift(base, cur, "v", nBins = 5).collect()
    val psi = out.head.getDouble(6)
    assert(psi > 0.25, s"expected alarm-level psi, got $psi")
    // bins the current distribution vacated use the 1e-6 clamp, not NaN
    assert(out.forall(r => !r.getDouble(5).isNaN && !r.getDouble(5).isInfinite))
  }

  test("benford: digit extraction, shares, chi-square terms") {
    // digits: 1.23→1, 19.99→1, 0.05→5, 123.0→1, 9.0→9; 0.009 excluded
    val df = Seq(1.23, 19.99, 0.05, 123.0, 0.009, 9.0).toDF("v")
    val out = Validate.benford(df, "v").collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((1, 3L), (5, 1L), (9, 1L)))
    val d1 = out(0)
    assert(d1.getDouble(2) === 0.6)       // 3/5 observed
    assert(d1.getDouble(3) === 0.30103)   // expected literal
    // chi2 term (3 - 5*0.30103)^2 / (5*0.30103)
    val e = 5.0 * 0.30103
    assert(math.abs(d1.getDouble(4) - (3.0 - e) * (3.0 - e) / e) < 1e-12)
  }

  test("benford: expectation constants sum to exactly one million") {
    assert(Validate.benfordE6.values.sum === 1000000L)
  }

  test("weightedPercentiles: mass-weighted median differs from the row median") {
    import spark.implicits._
    // values 1,2,3 with weights 1,1,8: W=10, median target ceil(5)=5
    // -> cumulative weights 1,2,10 -> value 3 (the row median is 2)
    val df = Seq((1.0, 1L), (2.0, 1L), (3.0, 8L)).toDF("v", "w")
    val out = Validate.weightedPercentiles(df, "v", "w", Seq(0.5)).collect()
    assert(out.length === 1 && out(0).getDouble(1) === 3.0)
  }

  test("weightedPercentiles: boundary targets and exclusion rules") {
    import spark.implicits._
    // weights 2,3,5: cum 2,5,10. p=0.2 -> rk 2 -> v1; p=0.5 -> rk 5
    // -> v2 (exactly at the boundary); p=1.0 -> rk 10 -> v3.
    // The null-weight and zero-weight rows must not shift anything.
    val df = Seq((1.0, Some(2L)), (2.0, Some(3L)), (3.0, Some(5L)),
      (0.5, Some(0L)), (9.9, Option.empty[Long])).toDF("v", "w")
    val out = Validate.weightedPercentiles(df, "v", "w",
      Seq(0.2, 0.5, 1.0)).collect()
    assert(out.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ===
      Seq((0.2, 1.0), (0.5, 2.0), (1.0, 3.0)))
  }

  test("weightedPercentiles: uniform weights reproduce discrete quantiles") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toDouble, 1L)).toDF("v", "w")
    val out = Validate.weightedPercentiles(df, "v", "w",
      Seq(0.25, 0.5, 0.75)).collect()
    assert(out.map(_.getDouble(1)).toSeq === Seq(25.0, 50.0, 75.0))
  }

  test("profile per-column group-reduce matches the legacy expand form " +
      "(r18 optimization: no EXPAND, shuffle bounded by distinct values)") {
    import spark.implicits._
    // duplicates (map-side combine path), an all-null column, negatives,
    // and a timestamp-ish string — the shapes the rewrite must not move
    val df = Seq(
      (1L, Option("a"), Option(-2.5), Option.empty[Long]),
      (2L, Option("a"), Option(0.5), Option.empty[Long]),
      (2L, Option.empty[String], Option(-2.5), Option.empty[Long]),
      (3L, Option("b"), Option.empty[Double], Option.empty[Long])
    ).toDF("id", "s", "v", "allnull")
    // legacy expand form, inlined (what profile() computed before r18)
    import org.apache.spark.sql.functions._
    val targets = df.columns.toSeq
    val numeric = Set("id", "v", "allnull")
    val aggs = targets.flatMap { c => Seq(
      count(col(c)).as(s"__n_$c"),
      count(when(col(c).isNull, 1)).as(s"__null_$c"),
      countDistinct(col(c)).as(s"__dist_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"),
      (if (numeric.contains(c))
        round(sum(col(c).cast("decimal(30,6)")).cast("double") / count(col(c)), 6)
      else lit(null).cast("double")).as(s"__mean_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = targets.map(c =>
      s"'$c', __n_$c, __null_$c, __dist_$c, __min_$c, __max_$c, __mean_$c").mkString(", ")
    val legacy = one.selectExpr(s"stack(${targets.size}, $stacked) as " +
        "(column, n, nulls, n_distinct, min_s, max_s, mean)")
      .orderBy("column")
      .as[(String, Long, Long, Long, String, String, Option[Double])]
      .collect().toSeq
    val got = Validate.profile(df)
      .as[(String, Long, Long, Long, String, String, Option[Double])]
      .collect().toSeq
    assert(got === legacy)
    // empty input: all-zero counts, null min/max/mean — same both forms
    val empty = Validate.profile(df.limit(0))
      .as[(String, Long, Long, Long, String, String, Option[Double])]
      .collect().toSeq
    assert(empty.map(r => (r._1, r._2, r._3, r._4)) ===
      targets.sorted.map(c => (c, 0L, 0L, 0L)))
    assert(empty.forall(r => r._5 == null && r._6 == null && r._7.isEmpty))
  }
}
