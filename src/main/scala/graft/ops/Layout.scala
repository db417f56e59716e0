package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Morton (Z-order) interleaving for
  * write-time clustering.
  *
  * Why this matters at 100 TB: parquet data skipping prunes row groups
  * by per-column min/max. Sorting by one column gives perfect pruning
  * on that column and none on any other; interleaving the bits of two
  * (or more) columns makes rows close in EITHER dimension close on
  * disk, so a filter on any interleaved column prunes most files. This
  * is the layout step a warehouse runs before publishing a big fact
  * table queried by both key and date (Delta/Iceberg expose the same
  * idea as `ZORDER BY` / sort orders).
  *
  * The z-value is pure builtin bit arithmetic (shift/mask/or), fully
  * codegen'd — no UDF, no custom expression — and reproducible outside
  * the engine (the DuckDB oracle replays it bit-for-bit).
  */
object Layout {

  /** 2·bits-wide Morton code interleaving the low `bits` bits of two
    * non-negative integer columns: x occupies even bit positions, y odd.
    * With the default 31 bits per dimension the result stays positive
    * in a signed 64-bit long. Values are masked to `bits` (callers
    * should range-reduce wider domains first — e.g. days since an
    * epoch, bucketed ids).
    */
  def zValue(x: Column, y: Column, bits: Int = 31): Column =
    zValueN(Seq(x, y), bits)

  /** N-dimensional Morton code: bit i of column k lands at position
    * n·i + k. Two dimensions is the common case ([[zValue]]); three is
    * the 100-TB fact queried by key AND date AND region. `bits · n`
    * must stay ≤ 62 so the code stays positive in a signed long.
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 2, s"zValueN needs at least 2 columns, got $n")
    require(bits >= 1 && bits * n <= 62,
      s"bits*dims must be in [$n, 62], got ${bits}*$n")
    val longs = cols.map(_.cast("long"))
    (0 until bits).flatMap { i =>
      longs.zipWithIndex.map { case (c, k) =>
        shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), n * i + k)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Driver-side Morton code of a single (x, y) point — the scalar twin
    * of [[zValue]], used to compute probe ranges.
    */
  def zOf(x: Long, y: Long, bits: Int = 31): Long = zOfN(Seq(x, y), bits)

  /** Driver-side twin of [[zValueN]]. */
  def zOfN(xs: Seq[Long], bits: Int): Long = {
    val n = xs.size
    var z = 0L
    var i = 0
    while (i < bits) {
      var k = 0
      while (k < n) {
        z |= ((xs(k) >>> i) & 1L) << (n * i + k)
        k += 1
      }
      i += 1
    }
    z
  }

  /** Covering z-ranges for the box [xLo,xHi]×[yLo,yHi]: recursive
    * quadtree decomposition into ALIGNED cells — within an aligned
    * 2^L-side cell the Morton codes are one contiguous run of 4^L
    * values, so the box becomes a sorted, disjoint, EXACT set of
    * z-intervals (no false positives, nothing missed). This is the
    * read-side twin of [[zorderBy]]: a table sorted/partitioned by
    * z-value answers a two-dimensional box query as a handful of range
    * scans instead of a full pass. Range count grows with the box
    * perimeter (boundary cells), not its area; `maxRanges` coalesces
    * the smallest gaps past that bound — the result then over-covers
    * (still correct under a residual predicate, which [[scanZBox]]
    * always applies).
    */
  def zRangesForBox(xLo: Long, xHi: Long, yLo: Long, yHi: Long,
                    bits: Int = 31, maxRanges: Int = 64): Seq[(Long, Long)] = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val max = (1L << bits) - 1
    require(xLo >= 0 && yLo >= 0 && xHi <= max && yHi <= max && xLo <= xHi && yLo <= yHi,
      s"box [$xLo,$xHi]×[$yLo,$yHi] must sit in [0, $max]²")
    def go(xb: Long, yb: Long, level: Int): Vector[(Long, Long)] = {
      val side = 1L << level
      val xe = xb + side - 1
      val ye = yb + side - 1
      if (xe < xLo || xb > xHi || ye < yLo || yb > yHi) Vector.empty
      else if (xb >= xLo && xe <= xHi && yb >= yLo && ye <= yHi) {
        val zMin = zOf(xb, yb, bits)
        Vector((zMin, zMin + side * side - 1))
      } else {
        val h = side >> 1
        go(xb, yb, level - 1) ++ go(xb + h, yb, level - 1) ++
          go(xb, yb + h, level - 1) ++ go(xb + h, yb + h, level - 1)
      }
    }
    // quadtree ranges arrive disjoint; merge the contiguous ones
    val merged = go(0L, 0L, bits).sortBy(_._1)
      .foldLeft(Vector.empty[(Long, Long)]) {
        case (acc :+ ((lo, hi)), (lo2, hi2)) if lo2 == hi + 1 => acc :+ (lo, hi2)
        case (acc, r) => acc :+ r
      }
    // coalesce smallest inter-range gaps until under the bound (trades
    // exactness for probe count; over-coverage only)
    var rs = merged
    while (rs.size > maxRanges) {
      val gapIdx = rs.indices.drop(1)
        .minBy(i => rs(i)._1 - rs(i - 1)._2)
      rs = rs.patch(gapIdx - 1,
        Vector((rs(gapIdx - 1)._1, rs(gapIdx)._2)), 2)
    }
    rs
  }

  /** Box query against a z-laid-out table: the covering ranges join in
    * as a BROADCAST table (each range a contiguous scan of the z-sorted
    * layout — ranges are disjoint, so the join can't duplicate rows),
    * plus the exact residual predicate — correct even when the range
    * cover was coalesced. NOT an OR-of-betweens filter: Catalyst
    * inlines the z-value alias into every disjunct, duplicating the
    * whole Morton expression per range (64 ranges × ~2·bits bit-ops
    * blew the codegen budget, measured ~4s at sf0.1); through the join
    * the z-value is computed once per row and compared against 64
    * broadcast longs.
    */
  def scanZBox(df: DataFrame, x: Column, y: Column, zCol: Column,
               xLo: Long, xHi: Long, yLo: Long, yHi: Long,
               bits: Int = 31, maxRanges: Int = 64): DataFrame = {
    val ranges = zRangesForBox(xLo, xHi, yLo, yHi, bits, maxRanges)
    val spark = df.sparkSession
    val rangesDf = spark.createDataFrame(ranges.map(r => (r._1, r._2)))
      .toDF("__zlo", "__zhi")
    df.join(broadcast(rangesDf), zCol >= col("__zlo") && zCol <= col("__zhi"))
      .drop("__zlo", "__zhi")
      .filter(x.between(xLo, xHi) && y.between(yLo, yHi))
  }

  /** Cluster `df` into `numPartitions` z-ordered output partitions:
    * range-partition on the Morton code of (x, y), sort within each
    * partition by it. Written out, every file covers a compact z-range
    * — i.e. a small rectangle in (x, y) space — so min/max pruning
    * works on both columns. One shuffle (the range exchange), as any
    * global re-layout must.
    */
  def zorderBy(df: DataFrame, x: Column, y: Column, numPartitions: Int,
               bits: Int = 31): DataFrame = {
    val z = zValue(x, y, bits)
    df.repartitionByRange(numPartitions, z).sortWithinPartitions(z)
  }

  final case class CompactionReport(filesBefore: Int, bytesBefore: Long,
                                    filesAfter: Int, bytesAfter: Long)

  /** Bin-pack a parquet directory's data files into ≈`targetBytes`
    * outputs — the OPTIMIZE step for a directory whose files are smaller
    * than scans want (the classic small-file problem at 100 TB: a
    * 128 MB-row-group design degenerating into millions of 1 MB files).
    * Graft's own merges do not accrete files: each rewrites a touched
    * partition or table as one file under adaptive execution
    * ([[graft.sink.TableCommit.rightSized]]). This is for data written
    * otherwise, or with adaptive execution off.
    *
    * `shuffle=false` (default) coalesces — a NARROW rewrite, no
    * shuffle: adjacent input splits concatenate into fewer files.
    * `shuffle=true` repartitions for an even rebalance when input sizes
    * are skewed. The new layout commits through
    * [[graft.sink.TableCommit]], so `path` may be a whole table or one
    * `col=value` partition of one.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long, shuffle: Boolean = false): CompactionReport = {
    graft.sink.TableCommit.recover(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toIndexedSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) dataFiles(st.getPath)
        else Seq(st)
      }
    val before = dataFiles(root)
    val bytesBefore = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytesBefore.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val out = if (shuffle) df.repartition(nOut) else df.coalesce(nOut)
    graft.sink.TableCommit.replaceTable(out, path)
    val after = dataFiles(root)
    CompactionReport(before.size, bytesBefore, after.size, after.map(_.getLen).sum)
  }

  /** Per-partition compaction of a `col=value`-partitioned table: each
    * leaf partition bin-packs and commits independently. Driver loop is
    * O(partitions) job submissions, the standard shape for an OPTIMIZE
    * pass; filter the partition list upstream to compact only
    * recently-written dates.
    */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                        targetBytes: Long): Map[String, CompactionReport] = {
    graft.sink.TableCommit.recover(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map { st =>
        st.getPath.getName -> compact(spark, st.getPath.toString, targetBytes)
      }.toMap
  }
}
