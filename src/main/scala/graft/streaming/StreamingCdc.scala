package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.Cdc
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming lift of the batch MERGE fold (Cdc.applyChanges): a
  * keyed+versioned change stream continuously maintains a materialized
  * latest-state snapshot — the streaming "upsert view" every corpus with
  * re-crawls/takedowns runs at ingest.
  *
  * Sink layout: VERSIONED SNAPSHOTS, hive-partitioned by `graft_version` =
  * the micro-batch id (the same idea as a table format's snapshot log,
  * built from plain parquet + a per-version partition write). Each batch
  * reads the latest PRIOR version, folds the batch with Cdc.applyChanges,
  * and overwrites ITS OWN version partition.
  *
  * Delivery: EXACTLY-ONCE across crash retries, by the same two-sided
  * argument as StreamingDedup: the prior-snapshot read EXCLUDES the current
  * batch's version (a retry cannot see its own half-written output), and
  * Structured Streaming pins batch contents in the checkpoint, so the
  * recomputed snapshot is identical and the overwrite of
  * version=batchId replaces the first attempt. Readers pick the max
  * committed version — never a torn one, because a version becomes visible
  * only at commit.
  *
  * Retention: superseded version partitions are dead after their successor
  * commits; fold them away with the same maintenance pass as the other
  * batch_id sinks (Layout.compactBatchSink's shape). At 100 TB the
  * snapshot-diff cost per batch is the anti equi-join in applyChanges —
  * |snapshot| ⋈ |batch| on the key, batch side broadcast when small.
  */
object StreamingCdc {

  val VersionCol = "graft_version"

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** All committed snapshot rows (every version), or empty before the
    * first commit. `snapSchema` = the snapshot row schema WITHOUT the
    * version column.
    */
  def readVersions(spark: SparkSession, dir: String, snapSchema: StructType): DataFrame =
    try spark.read.schema(snapSchema.add(VersionCol, LongType)).parquet(dir)
    catch { case _: AnalysisException => emptyOf(spark, snapSchema.add(VersionCol, LongType)) }

  /** The latest snapshot at or below `beforeVersion` (exclusive) — the
    * prior state a (possibly replayed) batch must fold onto.
    */
  def latestSnapshot(
      spark: SparkSession, dir: String,
      snapSchema: StructType, beforeVersion: Long): DataFrame = {
    val prior = readVersions(spark, dir, snapSchema)
      .filter(col(VersionCol) < beforeVersion)
    val maxV = prior.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) emptyOf(spark, snapSchema)
    else prior.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** Retention: drop snapshot versions STRICTLY OLDER than the newest
    * `keepLatest` committed ones — the maintenance pass that trades AS OF
    * history depth for storage (a table format's VACUUM). Never touches
    * the latest version, so readers and the next batch's prior-read are
    * unaffected; pruned versions simply stop time-traveling.
    */
  def pruneVersions(
      spark: SparkSession, dir: String,
      snapSchema: StructType, keepLatest: Int): Seq[Long] = {
    require(keepLatest >= 1, "pruneVersions: must keep at least the latest version")
    val versions = readVersions(spark, dir, snapSchema)
      .select(col(VersionCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val doomed = versions.dropRight(keepLatest)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$VersionCol=$v"), true)
    }
    doomed.toSeq
  }

  /** Time travel: the snapshot as of `version` (inclusive) — the state a
    * reader at that batch would have seen. Retained versions make this a
    * free capability of the layout (the same AS OF read a table format
    * sells); prune old version partitions to trade history for storage.
    */
  def snapshotAsOf(
      spark: SparkSession, dir: String,
      snapSchema: StructType, version: Long): DataFrame =
    latestSnapshot(spark, dir, snapSchema, version + 1)

  /** One micro-batch fold, exposed for the crash-retry spec. Idempotent in
    * `batchId`.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String): Unit = {
    val spark = batch.sparkSession
    val snapSchema = StructType(batch.schema.filterNot(_.name == deleteCol))
    val prev = latestSnapshot(spark, snapshotDir, snapSchema, batchId)
    Cdc.applyChanges(prev, batch, keyCols, versionCols, deleteCol)
      .overwritePartition(snapshotDir, VersionCol, batchId)
  }

  def start(
      changeStream: DataFrame,
      snapshotDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String): StreamingQuery =
    changeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, snapshotDir, keyCols, versionCols, deleteCol)
      }
      .start()
}
