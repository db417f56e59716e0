package graft

import org.apache.spark.sql.functions._

import graft.ops.Upsert

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1, "old1", 10.0), (2, "old2", 20.0), (3, "old3", 30.0)
  ).toDF("id", "name", "score")

  test("upsert: updates win, inserts land, untouched rows survive") {
    val updates = Seq((2, "new2", 22.0), (4, "new4", 44.0)).toDF("id", "name", "score")
    val out = Upsert.upsert(target, updates, Seq("id"))
      .orderBy("id").as[(Int, String, Double)].collect()
    assert(out === Array(
      (1, "old1", 10.0), (2, "new2", 22.0), (3, "old3", 30.0), (4, "new4", 44.0)))
  }

  test("upsert is idempotent") {
    val updates = Seq((2, "new2", 22.0)).toDF("id", "name", "score")
    val once = Upsert.upsert(target, updates, Seq("id"))
    val twice = Upsert.upsert(once, updates, Seq("id"))
    assert(once.orderBy("id").collect() === twice.orderBy("id").collect())
  }

  test("upsert fails fast when a key column is missing (Load.py:125-133)") {
    val updates = Seq(("x", 1.0)).toDF("name", "score")
    val e = intercept[IllegalArgumentException](Upsert.upsert(target, updates, Seq("id")))
    assert(e.getMessage.contains("id"))
  }

  test("composite keys merge on the full tuple") {
    val t = Seq((1, "a", 1.0), (1, "b", 2.0)).toDF("k1", "k2", "v")
    val u = Seq((1, "b", 9.0), (2, "a", 3.0)).toDF("k1", "k2", "v")
    val out = Upsert.upsert(t, u, Seq("k1", "k2")).orderBy("k1", "k2")
      .as[(Int, String, Double)].collect()
    assert(out === Array((1, "a", 1.0), (1, "b", 9.0), (2, "a", 3.0)))
  }

  test("null keys are values: null-keyed updates replace, not duplicate") {
    val t = Seq((Option(1), "a", 1.0), (Option.empty[Int], "nullrow", 2.0)).toDF("id", "name", "score")
    val u = Seq((Option.empty[Int], "replaced", 9.0)).toDF("id", "name", "score")
    val once = Upsert.upsert(t, u, Seq("id"))
    assert(once.count() === 2)
    assert(once.filter(col("id").isNull).as[(Option[Int], String, Double)].collect() ===
      Array((None, "replaced", 9.0)))
    val twice = Upsert.upsert(once, u, Seq("id"))
    assert(twice.orderBy("name").collect() === once.orderBy("name").collect())
  }

  test("dedupLastWins keeps the highest-ordering row per key") {
    val batch = Seq((1, "v1", 1), (1, "v2", 2), (2, "w1", 1)).toDF("id", "name", "seq")
    val out = Upsert.dedupLastWins(batch, Seq("id"), "seq")
      .orderBy("id").as[(Int, String, Int)].collect()
    assert(out === Array((1, "v2", 2), (2, "w1", 1)))
  }

  test("reconcileSchema projects to target columns and reports drift") {
    val incoming = Seq((1, "a", true)).toDF("id", "name", "extra")
    val rec = Upsert.reconcileSchema(incoming, Seq("id", "name", "absent"), Seq("id"))
    assert(rec.df.columns === Array("id", "name"))
    assert(rec.dropped === Seq("extra"))
    assert(rec.absent === Seq("absent"))
    val e = intercept[IllegalArgumentException](
      Upsert.reconcileSchema(incoming, Seq("id", "name"), Seq("missing_key")))
    assert(e.getMessage.contains("missing_key"))
  }

  test("upsertPartitioned rewrites only touched date partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/t"
    val init = Seq((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)).toDF("id", "day", "v")
    init.write.partitionBy("day").parquet(dir)
    val updates = Seq((2, "2024-01-02", 22.0), (3, "2024-01-02", 3.0)).toDF("id", "day", "v")
    Upsert.upsertPartitioned(spark, dir, updates, Seq("id"), "day")
    val out = spark.read.parquet(dir).orderBy("id")
      .select("id", "v", "day").as[(Int, Double, String)].collect()
    assert(out === Array(
      (1, 1.0, "2024-01-01"), (2, 22.0, "2024-01-02"), (3, 3.0, "2024-01-02")))
  }

  test("upsertPartitioned reads only touched partitions: null, escaped and new values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-touched").toString + "/t"
    // `p` needs escaping in a directory name; null is the default partition
    val odd = "x/y=z:1%"
    val init = Seq[(Int, String, Double)]((1, "a", 1.0), (2, null, 2.0), (3, odd, 3.0),
      (4, "kept", 4.0)).toDF("id", "p", "v")
    init.write.partitionBy("p").parquet(dir)
    val batches = Seq(
      Seq[(Int, String, Double)]((2, null, 22.0), (5, null, 5.0), (3, odd, 33.0), (6, "new", 6.0)),
      Seq[(Int, String, Double)]((6, "new", 66.0), (7, "new", 7.0), (1, "a", 11.0)))
    /** Data files of each partition directory, with their mtimes. */
    def files(): Map[String, Set[(String, Long)]] =
      new java.io.File(dir).listFiles.filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles.filter(_.getName.startsWith("part-"))
          .map(f => f.getName -> f.lastModified).toSet
      }.toMap
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("p").cast("string"), col("v")).as[(Int, String, Double)]
        .collect().sortBy(_._1).toSeq
    var expected = init
    batches.zip(Seq(Set("p=a", "p=kept"),
        Set("p=__HIVE_DEFAULT_PARTITION__", "p=kept", "p=x%2Fy%3Dz%3A1%25")))
      .foreach { case (rows0, untouched) =>
        val before = files()
        val updates = rows0.toDF("id", "p", "v")
        Upsert.upsertPartitioned(spark, dir, updates, Seq("id"), "p")
        expected = Upsert.upsert(expected, updates, Seq("id")).localCheckpoint()
        assert(rows(spark.read.parquet(dir)) === rows(expected))
        untouched.foreach(d => assert(files()(d) === before(d), d))
      }
    assert(rows(expected).map(_._3) === Seq(11.0, 22.0, 33.0, 4.0, 5.0, 66.0, 7.0))
  }
}
