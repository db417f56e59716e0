package graft.sink

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

/** The one commit protocol for every parquet table write: the ETL load
  * (`EtlPipeline.loadTable`), the partitioned upsert
  * (`Upsert.upsertPartitioned`, the streaming upsert sink's write) and
  * compaction (`Layout.compact`).
  *
  * A write stages the whole frame in `.graft_stage_<name>` beside the
  * target, then creates `_GRAFT_COMMIT` in the stage to mark it
  * complete. Each directory in the stage is one unit: `table` replaces
  * the whole target, `col=value` replaces that partition of it and
  * leaves every other partition as it is. A unit is promoted by three
  * steps: rename the live unit aside to `.graft_old_<unit>`, rename the
  * staged unit in, delete the backup. The stage is deleted once every
  * unit is in.
  *
  * [[recover]] runs at the start of every write, before the target is
  * read. It rolls a complete stage forward, deletes an incomplete one,
  * and restores a backup only when its live unit is missing (deleting
  * it otherwise), for the target and for each of its partitions. A
  * crash at any step therefore leaves a write either fully applied or
  * not applied at all once the next write to the target has started.
  *
  * Stage and backup names start with a dot: Spark's file listing skips
  * them at any depth, while an underscore is not enough for a directory
  * whose name holds `=` (it still parses as a partition column).
  *
  * [[read]] and [[readPartitions]] read a stored table without a Spark
  * job: the schema comes from one footer read on the driver, since
  * Spark writes its row schema into every data file, and a merge names
  * the partition directories it touches instead of listing the table.
  */
object TableCommit {

  private val StagePrefix = ".graft_stage_"
  private val BackupPrefix = ".graft_old_"
  private val Marker = "_GRAFT_COMMIT"
  private val WholeTable = "table"

  /** Finish or undo any write to `path` that a crash interrupted;
    * returns whether the target exists afterwards.
    */
  def recover(spark: SparkSession, path: String): Boolean = {
    val (fs, target) = resolve(spark, path)
    heal(fs, target)
    isTable(fs, target) && {
      val pending = fs.listStatus(target).map(_.getPath.getName).collect {
        case n if n.startsWith(StagePrefix) => n.stripPrefix(StagePrefix)
        case n if n.startsWith(BackupPrefix) => n.stripPrefix(BackupPrefix)
      }
      pending.distinct.foreach(unit => heal(fs, new Path(target, unit)))
      true
    }
  }

  /** The table at `path`, read with no Spark job. A table with more
    * partition directories than Spark's parallel-discovery threshold
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32)
    * still lists them in a job.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (fs, target) = resolve(spark, path)
    spark.read.schema(storedSchema(spark, fs, target)).parquet(target.toString)
  }

  /** The rows of the stored partitions among `values` of the column
    * `partition`, typed as `partition` says. A value is named as Spark's
    * partitioned write renders it as a string; null or empty is the
    * default partition. Only those directories are listed (under
    * `basePath`), so the read costs what the touched partitions hold, not
    * what the table holds; a value with no stored partition reads as no
    * rows. No Spark job runs while at most 32 directories are named.
    */
  def readPartitions(spark: SparkSession, path: String, partition: StructField,
                     values: Seq[String]): DataFrame = {
    val (fs, target) = resolve(spark, path)
    val schema = storedSchema(spark, fs, target).add(partition)
    val stored = fs.listStatus(target).map(_.getPath.getName).toSet
    val dirs = values.map(ExternalCatalogUtils.getPartitionPathString(partition.name, _))
      .distinct.filter(stored)
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", target.toString)
      .parquet(dirs.map(new Path(target, _).toString): _*)
  }

  /** `df` laid out for a merge's write. A `REBALANCE` hint, by the
    * partition column when there is one, lets adaptive execution write
    * one file per partition, or one for a small table, and split only
    * above its advisory partition size. Without adaptive execution the
    * hint would fix the file count at the shuffle partition count, so
    * `df` is returned as it is. Compaction does not use this: it sizes
    * its own output.
    */
  def rightSized(df: DataFrame, partitionCol: Option[String]): DataFrame =
    if (!df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true").toBoolean) df
    else df.hint("rebalance", partitionCol.map(col).toSeq: _*)

  /** Replace the whole table at `path` with `df`, laid out in
    * `col=value` directories when `partitionCol` is given.
    */
  def replaceTable(df: DataFrame, path: String, partitionCol: Option[String] = None): Unit =
    commit(df, path, partitionCol, wholeTable = true)

  /** Replace only the `partitionCol` partitions that `df` holds rows
    * for; the table at `path` must exist.
    */
  def replacePartitions(df: DataFrame, path: String, partitionCol: String): Unit =
    commit(df, path, Some(partitionCol), wholeTable = false)

  private def commit(df: DataFrame, path: String, partitionCol: Option[String],
                     wholeTable: Boolean): Unit = {
    val (fs, target) = resolve(df.sparkSession, path)
    val stage = stageOf(target)
    val out = if (wholeTable) new Path(stage, WholeTable) else stage
    val writer = df.write.mode(SaveMode.Overwrite)
    partitionCol.fold(writer)(writer.partitionBy(_)).parquet(out.toString)
    fs.create(new Path(stage, Marker)).close()
    promote(fs, stage, target)
  }

  /** Whether a table is at `target`; a plain file there fails naming it. */
  private def isTable(fs: FileSystem, target: Path): Boolean =
    fs.exists(target) && {
      if (!fs.getFileStatus(target).isDirectory)
        throw new IllegalStateException(
          s"table path $target is a plain file, not a table directory")
      true
    }

  /** The row schema of the table at `target`, from the footer of one of
    * its data files (Spark's own reader for that footer; no partition
    * columns, which Spark keeps in directory names).
    */
  private def storedSchema(spark: SparkSession, fs: FileSystem, target: Path): StructType = {
    if (!isTable(fs, target)) throw new FileNotFoundException(s"no table at $target")
    val file = firstDataFile(fs, target).getOrElse(
      throw new IllegalStateException(s"table $target holds no data file to read its schema from"))
    val conf = spark.sparkContext.hadoopConfiguration
    val options = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(SQLConf.get))
  }

  /** A data file under `dir`, skipping what Spark's listing skips. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val (dirs, files) = fs.listStatus(dir).partition(_.isDirectory)
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    }
    files.find(visible).orElse(
      dirs.iterator.filter(visible).flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
  }

  /** Complete the stage of `unit` (if any), then settle its backup. */
  private def heal(fs: FileSystem, unit: Path): Unit = {
    val stage = stageOf(unit)
    if (fs.exists(stage)) {
      if (fs.exists(new Path(stage, Marker))) promote(fs, stage, unit)
      else fs.delete(stage, true)
    }
    val backup = backupOf(unit)
    if (fs.exists(backup)) {
      if (fs.exists(unit)) fs.delete(backup, true)
      else renameOrDie(fs, backup, unit)
    }
  }

  private def promote(fs: FileSystem, stage: Path, target: Path): Unit = {
    fs.listStatus(stage).iterator
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .foreach { st =>
        val name = st.getPath.getName
        val live = if (name == WholeTable) target else new Path(target, name)
        val backup = backupOf(live)
        if (fs.exists(live)) {
          fs.delete(backup, true)
          renameOrDie(fs, live, backup)
        }
        renameOrDie(fs, st.getPath, live)
        fs.delete(backup, true)
      }
    fs.delete(stage, true)
  }

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def stageOf(unit: Path) = new Path(unit.getParent, StagePrefix + unit.getName)
  private def backupOf(unit: Path) = new Path(unit.getParent, BackupPrefix + unit.getName)

  /** Hadoop's rename reports most failures (missing source or parent,
    * quota, cross-filesystem) by returning false, not by throwing; a
    * swap that went on after one could delete the only surviving copy.
    */
  private def renameOrDie(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"rename failed: $src -> $dst")
}
