package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Cdc
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental view maintenance (IVM) over a keyed+versioned change
  * stream: continuously maintain a per-group aggregate (live-key count +
  * exact decimal value sum) of the LATEST snapshot, updating only the
  * groups the batch touches — never rescanning the snapshot-wide
  * aggregate. This is the materialized-view half of the CDC story:
  * StreamingCdc maintains the per-key base table; StreamingIvm maintains
  * an aggregate VIEW over it from the same feed.
  *
  * Per batch:
  *   1. compact the batch to latest-change-per-key (Cdc.latestWins keeps
  *      non-tombstone latests; the touched-key set includes tombstones);
  *   2. retract the touched keys' OLD contributions — one equi-join of
  *      the batch's key set against the prior snapshot (batch-sized
  *      output; AQE broadcasts the key set when small);
  *   3. add the compacted batch's NEW contributions;
  *   4. fold retractions+additions into the prior view by per-group
  *      ADDITION (count deltas are integers; value deltas are
  *      DECIMAL(18,2) — exact, order-independent), then drop groups whose
  *      live-key count reaches zero, so the maintained view is
  *      row-identical to a from-scratch reaggregation (the spec's
  *      invariant).
  *
  * State = versioned parquet snapshots exactly like StreamingCdc: the
  * prior view read excludes the current batch's version, the fold
  * overwrites version=batchId dynamically — crash-retries refold
  * identical inputs (exactly-once by the snapshot-log argument).
  *
  * Scale: the view update cost follows |batch| and |touched groups|,
  * never |snapshot| — the reason IVM exists. The base-table fold it
  * composes with (StreamingCdc.processBatch) pays the usual anti-join on
  * the key; the view side adds two batch-sized aggs and a view-sized
  * merge (|groups| rows — domain-sized, not corpus-sized).
  */
object StreamingIvm {

  val VersionCol = "graft_version"

  private val viewSchema = StructType(Seq(
    StructField("grp", StringType),
    StructField("n_keys", LongType),
    StructField("sum_value", DecimalType(18, 2)),
    StructField(VersionCol, LongType)))

  /** Latest committed view strictly below `beforeVersion` (empty before
    * the first commit).
    */
  def readView(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
    val all =
      try spark.read.schema(viewSchema).parquet(dir)
        .filter(col(VersionCol) < beforeVersion)
      catch {
        case _: AnalysisException =>
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], viewSchema).drop(VersionCol)
      }
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) all.limit(0).drop(VersionCol)
    else all.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** The reference aggregation both the maintained view and the spec's
    * from-scratch recompute share: live keys and exact value sum per
    * group.
    */
  def aggregateSnapshot(snapshot: DataFrame, groupCol: String, valueCol: String): DataFrame =
    snapshot.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))

  /** One micro-batch view fold, idempotent in `batchId`. Also advances the
    * composed base-table snapshot (StreamingCdc.processBatch) AFTER the
    * view fold, so both states commit per batch and a retry of either is
    * safe. Expects the change-feed schema (keys, versions, groupCol,
    * valueCol, deleteCol).
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      viewDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      groupCol: String,
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    val snapSchema = StructType(batch.schema.filterNot(_.name == deleteCol))
    val prev = StreamingCdc.latestSnapshot(spark, snapshotDir, snapSchema, batchId)

    val touched = batch.select(keyCols.map(col): _*).distinct()
    val prevTouched = prev.join(touched, keyCols, "left_semi")
    val retract = aggregateSnapshot(prevTouched, groupCol, valueCol)
      .select(col("grp"), (-col("n_keys")).as("n_keys"),
        (-col("sum_value")).cast("decimal(18,2)").as("sum_value"))
    // Additions must apply the SAME latest-wins reconciliation the base
    // table does (Cdc.applyChanges: version-wise latest of {snapshot row,
    // batch}), not the batch alone — otherwise a stale/out-of-order batch
    // row (older version than the snapshot's, or a stale tombstone) leaves
    // the snapshot unchanged but swaps the view's contribution to the
    // stale value, permanently diverging view from snapshot. Restricting
    // the base side to touched keys keeps the fold batch-sized.
    val add = aggregateSnapshot(
      Cdc.applyChanges(prevTouched, batch, keyCols, versionCols, deleteCol),
      groupCol, valueCol)

    val prior = readView(spark, viewDir, batchId)
    val merged = prior.unionByName(retract).unionByName(add)
      .groupBy(col("grp"))
      .agg(sum(col("n_keys")).as("n_keys"),
        sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))
      .filter(col("n_keys") > 0)
    merged
      .select(col("grp"), col("n_keys").cast("long").as("n_keys"),
        col("sum_value").cast("decimal(18,2)").as("sum_value"))
      .overwritePartition(viewDir, VersionCol, batchId)

    StreamingCdc.processBatch(batch, batchId, snapshotDir, keyCols, versionCols, deleteCol)
  }

  private val mmViewSchema = StructType(Seq(
    StructField("grp", StringType),
    StructField("n_keys", LongType),
    StructField("min_value", DecimalType(18, 2)),
    StructField("max_value", DecimalType(18, 2)),
    StructField(VersionCol, LongType)))

  /** Latest committed min/max view strictly below `beforeVersion`. */
  def readMinMaxView(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
    val all =
      try spark.read.schema(mmViewSchema).parquet(dir)
        .filter(col(VersionCol) < beforeVersion)
      catch {
        case _: AnalysisException =>
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], mmViewSchema).drop(VersionCol)
      }
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) all.limit(0).drop(VersionCol)
    else all.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** The reference aggregation the min/max view maintains. */
  def aggregateSnapshotMinMax(
      snapshot: DataFrame, groupCol: String, valueCol: String): DataFrame =
    snapshot.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_keys"),
        min(col(valueCol).cast("decimal(18,2)")).as("min_value"),
        max(col(valueCol).cast("decimal(18,2)")).as("max_value"))

  /** MIN/MAX view maintenance — the NON-INVERTIBLE aggregates the
    * retract/add delta fold above cannot express (deleting the row that
    * held the minimum reveals a new minimum only the group's remaining
    * rows know). The standard IVM answer is RECOMPUTE-AFFECTED-GROUPS:
    *
    *   1. touched groups = groups named by the batch ∪ the PRIOR groups
    *      of every batched key (a key can move groups or die — both its
    *      old and new group must refresh);
    *   2. re-derive the next-snapshot rows of exactly those groups
    *      (latest-wins reconciliation restricted to the touched-group
    *      slice of the prior snapshot — the same Cdc.applyChanges the
    *      base table folds with, so view and snapshot cannot diverge on
    *      out-of-order batches);
    *   3. aggregate that slice from scratch, and splice it over the
    *      prior view's untouched rows (groups with no live keys simply
    *      drop out).
    *
    * Cost follows |touched groups' rows|, never |snapshot|'s group
    * count — on a group-partitioned snapshot store the slice read is
    * partition-pruned. Exactly-once by the same versioned-snapshot
    * argument as the delta view.
    */
  def processBatchMinMax(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      viewDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      groupCol: String,
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    val snapSchema = StructType(batch.schema.filterNot(_.name == deleteCol))
    val prev = StreamingCdc.latestSnapshot(spark, snapshotDir, snapSchema, batchId)

    val touchedKeys = batch.select(keyCols.map(col): _*).distinct()
    val tg = batch.select(col(groupCol).as("grp"))
      .unionByName(prev.join(touchedKeys, keyCols, "left_semi")
        .select(col(groupCol).as("grp")))
      .distinct()
    val prevTg = prev.join(tg, prev(groupCol) === tg("grp"), "left_semi")
    val nextTg = Cdc.applyChanges(prevTg, batch, keyCols, versionCols, deleteCol)
    val recomputed = aggregateSnapshotMinMax(nextTg, groupCol, valueCol)

    val prior = readMinMaxView(spark, viewDir, batchId)
    prior.join(tg, Seq("grp"), "left_anti")
      .unionByName(recomputed)
      .select(col("grp"), col("n_keys").cast("long").as("n_keys"),
        col("min_value").cast("decimal(18,2)").as("min_value"),
        col("max_value").cast("decimal(18,2)").as("max_value"))
      .overwritePartition(viewDir, VersionCol, batchId)

    StreamingCdc.processBatch(batch, batchId, snapshotDir, keyCols, versionCols, deleteCol)
  }

  def startMinMax(
      changeStream: DataFrame,
      snapshotDir: String,
      viewDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      groupCol: String,
      valueCol: String): StreamingQuery =
    changeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatchMinMax(batch, batchId, snapshotDir, viewDir,
          keyCols, versionCols, deleteCol, groupCol, valueCol)
      }
      .start()

  def start(
      changeStream: DataFrame,
      snapshotDir: String,
      viewDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      groupCol: String,
      valueCol: String): StreamingQuery =
    changeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, snapshotDir, viewDir,
          keyCols, versionCols, deleteCol, groupCol, valueCol)
      }
      .start()
}
