package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.ops.{Layout, Upsert}
import graft.pipeline.EtlPipeline

/** The local filesystem under its own scheme, `crashfs:///`. When armed
  * at k it throws on its k-th rename, which is where every table write
  * can be cut short: Spark's task and job commits and the staged swap.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = CrashFs.Uri
  override def rename(src: Path, dst: Path): Boolean = {
    if (CrashFs.renames.incrementAndGet() == CrashFs.crashAt)
      throw new IOException(s"injected crash: rename $src -> $dst")
    if (src.getParent.getName.startsWith(".graft_stage_")) CrashFs.promotions.incrementAndGet()
    super.rename(src, dst)
  }
}

object CrashFs {
  val Uri: URI = URI.create("crashfs:///")
  val renames = new AtomicInteger
  /** Renames that moved a staged unit (a table or one of its partitions)
    * into place since [[arm]]: one per unit a write commits.
    */
  val promotions = new AtomicInteger
  @volatile var crashAt = 0
  def arm(k: Int): Unit = { renames.set(0); promotions.set(0); crashAt = k }
  /** Disarm; returns the renames made since [[arm]]. */
  def disarm(): Int = { crashAt = 0; renames.get }
}

/** Every table write commits all-or-nothing, on any filesystem scheme:
  * for each write kind, a crash at every rename k of batch 1 followed by
  * batch 2 leaves old+b2 or old+b1+b2 (by whether batch 1's stage was
  * marked complete), and no stage or backup directory behind.
  */
class TableCommitSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
  }

  private def warehouse(tag: String): String =
    "crashfs://" + Files.createTempDirectory(tag).toString

  private def local(wh: String): File = new File(wh.stripPrefix("crashfs://"))

  private type Row = (String, String, Double) // id, day, average_score

  private def frame(rows: Seq[Row]): DataFrame =
    rows.map { case (id, day, v) => (id, Timestamp.valueOf(s"$day 10:00:00"), day, v) }
      .toDF("id", "start_dt", "day", "average_score")

  private def contents(df: DataFrame): Seq[String] =
    df.select("id", "average_score").as[(String, Double)].collect()
      .map { case (id, v) => s"$id:$v" }.toSeq.sorted

  test("table writes, reads and compaction work on a non-default filesystem scheme") {
    val wh = warehouse("graft-otherfs")
    val pipe = new EtlPipeline(spark, wh)
    pipe.loadTable("t", frame(Seq(("t1", "2024-06-01", 1.0), ("t2", "2024-06-01", 2.0))))
    pipe.loadTable("t", frame(Seq(("t2", "2024-06-01", 5.0), ("t3", "2024-06-02", 3.0))))
    assert(contents(pipe.readTable("t")) === Seq("t1:1.0", "t2:5.0", "t3:3.0"))
    pipe.loadTable("sessions", frame(Seq(("s1", "2024-06-01", 1.0))))
    pipe.loadTable("sessions", frame(Seq(("s2", "2024-06-02", 2.0))))
    assert(contents(pipe.readTable("sessions")) === Seq("s1:1.0", "s2:2.0"))
    assert(pipe.tableExists("sessions") && !pipe.tableExists("absent"))
    Layout.compact(spark, s"$wh/t", targetBytes = 1L << 30)
    assert(contents(pipe.readTable("t")) === Seq("t1:1.0", "t2:5.0", "t3:3.0"))
  }

  /** One write kind: `setup` lays down the old table, `write1` and
    * `write2` write batches 1 and 2 to the same target.
    */
  private final case class Kind(name: String, old: Seq[Row], b1: Seq[Row],
                                setup: String => Unit, write1: String => Unit,
                                write2: String => Unit, read: String => DataFrame)

  private val old = Seq(("o1", "2024-06-01", 1.0), ("o2", "2024-06-02", 2.0), ("o3", "2024-06-02", 7.0))
  // touches an existing partition and adds one
  private val b1 = Seq(("a1", "2024-06-02", 3.0), ("a2", "2024-06-03", 4.0))
  private val b2 = Seq(("b1", "2024-06-01", 5.0), ("b2", "2024-06-04", 6.0))

  private def load(table: String, rows: Seq[Row]): String => Unit =
    wh => new EtlPipeline(spark, wh).loadTable(table, frame(rows))
  private def upsert(rows: Seq[Row]): String => Unit =
    wh => Upsert.upsertPartitioned(spark, s"$wh/f", frame(rows), Seq("id"), "day")
  private def compact(sub: String): String => Unit =
    wh => Layout.compact(spark, s"$wh/$sub", targetBytes = 1L << 30)
  private def table(name: String): String => DataFrame =
    wh => spark.read.parquet(s"$wh/$name")

  private val kinds = Seq(
    Kind("first write", Nil, b1, _ => (), load("t", b1), load("t", b2), table("t")),
    Kind("unpartitioned full rewrite", old, b1, load("t", old), load("t", b1), load("t", b2),
      table("t")),
    Kind("partitioned delta adding a partition", old, b1, load("sessions", old),
      load("sessions", b1), load("sessions", b2), table("sessions")),
    Kind("pre-partitioning migration", old, b1,
      wh => frame(old).drop("day").write.parquet(s"$wh/sessions"),
      load("sessions", b1), load("sessions", b2), table("sessions")),
    Kind("Upsert.upsertPartitioned", old, b1, upsert(old), upsert(b1), upsert(b2), table("f")),
    Kind("compact on a table", old, Nil,
      wh => frame(old).repartition(3).write.parquet(s"$wh/t"),
      compact("t"), load("t", b2), table("t")),
    Kind("compact on one partition", old, Nil,
      wh => frame(old).repartition(3).write.partitionBy("day").parquet(s"$wh/f"),
      compact("f/day=2024-06-02"), upsert(b2), table("f")))

  private def walk(f: File): Seq[File] =
    f +: Option(f.listFiles).toSeq.flatten.flatMap(walk)

  private val liveDir = """(t|f|sessions|\w+=[\d-]+)""".r

  kinds.foreach { kind =>
    test(s"crash at every rename, then recovery: ${kind.name}") {
      def run(k: Int): (Int, Boolean) = {
        val wh = warehouse("graft-crash")
        kind.setup(wh)
        CrashFs.arm(k)
        val crashed = Try(kind.write1(wh)).isFailure
        val renames = CrashFs.disarm()
        val marked = walk(local(wh)).exists(_.getName == "_GRAFT_COMMIT")
        val committed = !crashed || marked
        kind.write2(wh)
        val expected = (kind.old ++ (if (committed) kind.b1 else Nil) ++ b2)
          .map { case (id, _, v) => s"$id:$v" }.sorted
        assert(contents(kind.read(wh)) === expected, s"crash at rename $k (batch 1 committed: $committed)")
        val left = walk(local(wh)).drop(1).filter(_.isDirectory).map(_.getName)
          .filterNot(liveDir.matches)
        assert(left.isEmpty, s"crash at rename $k left $left")
        (renames, committed)
      }
      val (n, cleanCommitted) = run(Int.MaxValue)
      assert(cleanCommitted && n > 0)
      info(s"$n renames in a clean batch-1 write")
      val outcomes = (1 to n).map(k => run(k)._2)
      // the sweep crossed the commit point: early crashes roll back,
      // crashes in the swap roll forward
      assert(outcomes.contains(false) && outcomes.contains(true), outcomes)
    }
  }
}
