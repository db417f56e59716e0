package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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
    fs.exists(target) && {
      val pending = fs.listStatus(target).map(_.getPath.getName).collect {
        case n if n.startsWith(StagePrefix) => n.stripPrefix(StagePrefix)
        case n if n.startsWith(BackupPrefix) => n.stripPrefix(BackupPrefix)
      }
      pending.distinct.foreach(unit => heal(fs, new Path(target, unit)))
      true
    }
  }

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
