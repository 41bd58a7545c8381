package graft.sinks

import graft.ops.QualityGateFailure
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Using

/** Partitioned-lake writer with atomic publish + metadata sidecar
  * (SURVEY §4 P3/P4; reference `dags/coin_data_pipeline_optimized.py:443-479`:
  * write tmp key → copy to final → delete tmp → write sidecar). The sidecar
  * is named `.metadata.json` (dot-hidden): Spark's file index special-cases
  * any `_metadata*` name as a parquet summary file and would try to parse the
  * JSON as parquet footers — the reference's `_metadata.json` name is a
  * pandas-only convention that breaks a Spark parquet read of the directory.
  *
  * Spark-native realization: write the partition to a staging directory with
  * the normal committer (task/job atomicity), then a single filesystem
  * `rename` into the final `dt=…` directory — rename is atomic on
  * HDFS-compatible filesystems; on object stores the job committer provides
  * the all-or-nothing step instead and this layer degrades to copy+delete.
  * Re-running a day replaces the partition wholesale (idempotent, the
  * reference's `replace=True` semantics).
  */
object LakeSink {

  final case class PartitionMeta(
      dataset: String,
      schemaVersion: String,
      executionDate: String,
      rowCount: Long,
      sourcePath: String,
      createdAt: String
  )

  /** Write `df` as the single `dt=<dt>` partition of `<root>/<dataset>`,
    * atomically, and publish the metadata sidecar. Returns the row count.
    * A zero-row partition is refused before the swap (`non_empty`): the
    * freshness gate checks only that a partition exists. `check` then
    * gates the staged files, read under `df`'s schema (no inference, no
    * second pass over `df`'s inputs): if it throws, the staging directory
    * is removed and nothing is published.
    */
  def publishPartition(
      spark: SparkSession,
      df: DataFrame,
      root: String,
      dataset: String,
      dt: String,
      schemaVersion: String,
      sourcePath: String,
      check: DataFrame => Unit = _ => ()
  ): Long = {
    val fs       = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finalDir = new Path(s"$root/$dataset/dt=$dt")

    val rowCount = stageAndSwap(fs, finalDir) { staging =>
      df.write.mode("overwrite").parquet(staging.toString)
      // Row count from the written files' footers — no job, no pass over the data.
      val n = fs.listStatus(staging).iterator.filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(f,
          fs.getConf)))(_.getRecordCount)).sum
      if (n == 0L) throw QualityGateFailure("non_empty", s"$dataset dt=$dt is empty")
      check(spark.read.schema(df.schema).parquet(staging.toString))
      n
    }

    val meta = PartitionMeta(dataset, schemaVersion, dt, rowCount, sourcePath,
      java.time.Instant.now.toString)
    writeSidecar(fs, finalDir, meta)
    // The swap is a rename, not a Spark write to finalDir — the session's
    // file-listing cache still holds any previously-listed part files for
    // the path and a re-publish would leave readers hitting FILE_NOT_EXIST.
    spark.catalog.refreshByPath(finalDir.toString)
    rowCount
  }

  /** Raw-zone CSV write (SURVEY §2.1 S2 — the v1/day-9 DAGs' `to_csv` with
    * header, no index column). Same staging-dir + rename atomicity as the
    * parquet publish.
    */
  def writeCsv(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    val finalDir = new Path(dir)
    val fs       = finalDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stageAndSwap(fs, finalDir) { staging =>
      df.write.mode("overwrite").option("header", value = true).csv(staging.toString)
    }
    spark.catalog.refreshByPath(dir) // rename-swap bypasses Spark's cache invalidation
  }

  /** Retention for batch-versioned index roots (`v<digits>` dirs, the
    * layout both streaming ingests publish one full index copy per
    * micro-batch into): delete all but the newest `keepLast` versions.
    * Returns the dropped version numbers, oldest first.
    *
    * Safety: survivors are the newest versions, so any in-flight reader of
    * a kept version is untouched, and the replay contract (a retried batch
    * reads the newest version STRICTLY BELOW its own id) keeps working as
    * long as `keepLast` exceeds the retry horizon — pick it from the
    * stream's `maxFilesPerTrigger`/retry budget, not from disk pressure
    * alone. Non-version entries under `root` are ignored.
    */
  def vacuumVersions(spark: SparkSession, root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val p  = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val versions = fs.listStatus(p).iterator.map(_.getPath.getName)
        .collect { case s if s.startsWith("v") && s.drop(1).nonEmpty &&
          s.drop(1).forall(_.isDigit) => s.drop(1).toLong }
        .toSeq.sorted
      val dropped = versions.dropRight(keepLast)
      dropped.foreach(v => fs.delete(new Path(p, s"v$v"), true))
      dropped
    }
  }

  /** Stage-and-swap with failure cleanup: run `write` against a fresh
    * staging path, then [[swapIn]], and return what `write` returned; on
    * ANY failure the staging dir is removed so repeated failing runs can't
    * accumulate orphaned data.
    */
  private[graft] def stageAndSwap[T](fs: org.apache.hadoop.fs.FileSystem,
      finalDir: Path)(write: Path => T): T = {
    val staging = new Path(finalDir.getParent, s".staging-${java.util.UUID.randomUUID}")
    try {
      val out = write(staging)
      swapIn(fs, staging, finalDir)
      out
    } catch {
      case e: Throwable =>
        try fs.delete(staging, true) catch { case _: Exception => () }
        throw e
    }
  }

  /** Publish `staging` at `finalDir` without a data-loss window: the live
    * dir is renamed ASIDE (not deleted) before the staging rename, and
    * restored if that rename fails — a crash mid-swap leaves either the old
    * or the new fileset recoverable, never neither. (Plain
    * delete-then-rename loses the partition if the process dies between the
    * two calls.)
    */
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      staging: Path, finalDir: Path): Unit = {
    val backup = new Path(finalDir.getParent, s".backup-${finalDir.getName}-${java.util.UUID.randomUUID}")
    val hadOld = fs.exists(finalDir)
    if (hadOld && !fs.rename(finalDir, backup))
      throw new java.io.IOException(s"publish: cannot move $finalDir aside")
    if (!fs.rename(staging, finalDir)) {
      if (hadOld) fs.rename(backup, finalDir) // roll back
      throw new java.io.IOException(s"atomic publish failed: $staging -> $finalDir")
    }
    if (hadOld) fs.delete(backup, true)
  }

  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      m: PartitionMeta): Unit = {
    import MetaFile.jq
    val json =
      s"""{"dataset": ${jq(m.dataset)}, "schema_version": ${jq(m.schemaVersion)}, """ +
        s""""execution_date": ${jq(m.executionDate)}, "row_count": ${m.rowCount}, """ +
        s""""source_path": ${jq(m.sourcePath)}, "created_at": ${jq(m.createdAt)}}"""
    MetaFile.write(fs, new Path(dir, ".metadata.json"), json)
  }

  /** Read a partition's sidecar back (for reconciliation / freshness gates). */
  def readSidecar(spark: SparkSession, partitionDir: String): Option[String] = {
    val p  = new Path(partitionDir, ".metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None else Some(MetaFile.text(fs, p))
  }
}
