package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.Cdc
import graft.streaming.StreamingWrites.GuardedWrites

/** JOIN-view IVM: continuously maintain an aggregate over a STAR JOIN —
  * fact CDC feed ⋈ dimension table, grouped by a DIMENSION attribute
  * (the materialized `revenue per nation`-shaped view every warehouse
  * serves) — updating only the groups the batch touches. The join-IVM
  * identity this rests on: with the dimension static, Δ(F ⋈ D) =
  * ΔF ⋈ D, so the single-table retract/add fold (StreamingIvm) lifts to
  * the join view by routing both the retraction and the addition
  * through the same dimension join the reference aggregation uses.
  *
  * Per batch:
  *   1. retract the touched fact keys' OLD joined contributions (prior
  *      snapshot slice ⋈ dim, negated);
  *   2. add their NEW joined contributions (latest-wins reconciliation
  *      via Cdc.applyChanges, then ⋈ dim — the same reconciliation the
  *      base table folds with, so out-of-order batches cannot diverge
  *      view from snapshot);
  *   3. fold both into the prior view by per-group ADDITION (exact
  *      integer counts + DECIMAL sums), dropping zero-count groups.
  *
  * Facts whose foreign key misses the dimension contribute nothing
  * (inner-join view semantics), exactly as in the from-scratch
  * reaggregation the spec compares against.
  *
  * The dimension is broadcast per batch and must be STATIC for the
  * maintained view to equal the from-scratch join (the star-schema
  * operating point). A changed dimension row invalidates the
  * contributions of every fact that joins it — untouched groups
  * included — which per-batch touched-key folding cannot see; handle
  * dimension changes as a view REBUILD cutover (the QuantizerRefresh
  * versioned-artifact pattern), not as a fold.
  *
  * State/delivery: versioned parquet snapshots exactly like StreamingIvm
  * — prior reads exclude the current version, dynamic partition
  * overwrite keyed by version, crash-retries refold identical inputs.
  *
  * Scale: |batch| + |touched groups| per fold, never |snapshot|; the
  * dimension join is a broadcast (dimensions are small by definition —
  * a corpus-sized "dimension" belongs on the fact side of a shuffle
  * join, not in a view fold).
  */
object StreamingJoinIvm {

  val VersionCol: String = StreamingIvm.VersionCol

  /** The reference aggregation the maintained view targets: the fact
    * frame joined to the dimension, live fact rows and exact value sums
    * per dimension group. Shared by the fold and the spec's recompute.
    */
  def aggregateJoined(
      facts: DataFrame,
      dim: DataFrame,
      fkCol: String,
      dimKeyCol: String,
      dimGroupCol: String,
      valueCol: String): DataFrame = {
    val d = dim.select(col(dimKeyCol).as(fkCol), col(dimGroupCol).as("grp"))
    StreamingIvm.aggregateSnapshot(
      facts.join(broadcast(d), Seq(fkCol)), "grp", valueCol)
  }

  /** One micro-batch fold, idempotent in `batchId`. Expects the fact
    * change-feed schema (keys, versions, fkCol, valueCol, deleteCol);
    * advances the composed base snapshot after the view fold, exactly
    * like StreamingIvm.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      viewDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      dim: DataFrame,
      fkCol: String,
      dimKeyCol: String,
      dimGroupCol: String,
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    val snapSchema = StructType(batch.schema.filterNot(_.name == deleteCol))
    val prev = StreamingCdc.latestSnapshot(spark, snapshotDir, snapSchema, batchId)

    val touched = batch.select(keyCols.map(col): _*).distinct()
    val prevTouched = prev.join(touched, keyCols, "left_semi")
    val retract = aggregateJoined(
      prevTouched, dim, fkCol, dimKeyCol, dimGroupCol, valueCol)
      .select(col("grp"), (-col("n_keys")).as("n_keys"),
        (-col("sum_value")).cast("decimal(18,2)").as("sum_value"))
    val add = aggregateJoined(
      Cdc.applyChanges(prevTouched, batch, keyCols, versionCols, deleteCol),
      dim, fkCol, dimKeyCol, dimGroupCol, valueCol)

    val prior = StreamingIvm.readView(spark, viewDir, batchId)
    prior.unionByName(retract).unionByName(add)
      .groupBy(col("grp"))
      .agg(sum(col("n_keys")).as("n_keys"),
        sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))
      .filter(col("n_keys") > 0)
      .select(col("grp"), col("n_keys").cast("long").as("n_keys"),
        col("sum_value").cast("decimal(18,2)").as("sum_value"))
      .overwritePartition(viewDir, VersionCol, batchId)

    StreamingCdc.processBatch(batch, batchId, snapshotDir, keyCols, versionCols, deleteCol)
  }

  def start(
      changeStream: DataFrame,
      snapshotDir: String,
      viewDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      dim: DataFrame,
      fkCol: String,
      dimKeyCol: String,
      dimGroupCol: String,
      valueCol: String): StreamingQuery =
    changeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, snapshotDir, viewDir,
          keyCols, versionCols, deleteCol, dim, fkCol, dimKeyCol, dimGroupCol, valueCol)
      }
      .start()
}
