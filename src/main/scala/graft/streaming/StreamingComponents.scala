package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Dedup
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental EXACT connected components over a streaming edge feed —
  * the maintenance story for the near-dup component table that batch
  * `nearDupComponentsExact` computes once: as candidate pairs keep
  * arriving (from the incremental LSH band index), the component
  * assignment stays exact without ever rerunning the fixpoint over the
  * full graph.
  *
  * Per batch:
  *   1. touched components = representatives of every node the batch's
  *      edges name (one semi-join against prior state);
  *   2. rebuild the fixpoint over the batch edges ∪ the touched
  *      components' STAR edges (node—rep). The star preserves both
  *      connectivity and the component minimum, and it is the SMALLEST
  *      certificate of the prior structure — so the pointer-jumping
  *      rounds run on |batch| + |touched components| rows, never the
  *      full graph, and converge fast because the prior part is already
  *      depth-1;
  *   3. untouched components pass through unchanged.
  *
  * Cross-batch merges fall out: an edge bridging two old components
  * names nodes from both, so both stars join the rebuild and collapse
  * to the joint minimum (spec-pinned).
  *
  * State = versioned parquet like every sibling fold: prior read
  * excludes the current version, merged table dynamically overwrites
  * version=batchId — crash-retries refold identical inputs
  * (exactly-once by the snapshot-log argument).
  */
object StreamingComponents {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("rep", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed component table strictly below `beforeVersion`. */
  def readComponents(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
    val all =
      try spark.read.schema(stateSchema).parquet(dir)
        .filter(col(VersionCol) < beforeVersion)
      catch {
        case _: AnalysisException =>
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], stateSchema).drop(VersionCol)
      }
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) all.limit(0).drop(VersionCol)
    else all.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** One micro-batch fold, idempotent in `batchId`. Expects edge rows
    * (doc_a, doc_b).
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readComponents(spark, stateDir, batchId)
    val batchNodes = batch.select(col("doc_a").as("doc_id"))
      .unionByName(batch.select(col("doc_b").as("doc_id"))).distinct()
    val touchedReps = prior.join(batchNodes, Seq("doc_id"), "left_semi")
      .select(col("rep")).distinct()
    val affected = prior.join(touchedReps, Seq("rep"), "left_semi")
    // star edges carry the prior structure; self-loops (rep—rep) are
    // harmless to the fixpoint and keep single-node components alive
    val star = affected.select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
    val rebuilt = Dedup.nearDupComponentsExact(
      batch.select(col("doc_a"), col("doc_b")).unionByName(star))
    val untouched = prior.join(touchedReps, Seq("rep"), "left_anti")
      .select(col("doc_id"), col("rep"))
    untouched.unionByName(rebuilt.select(col("doc_id"), col("rep")))
      .overwritePartition(stateDir, VersionCol, batchId)
  }

  def start(
      edgeStream: DataFrame, stateDir: String, checkpointDir: String): StreamingQuery =
    edgeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir)
      }
      .start()
}
