package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, posexplode, udaf}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Sampling
import graft.streaming.StreamingWrites.GuardedWrites

/** Streaming weighted reservoir — the online twin of
  * Sampling.weightedReservoirPerSource, and the property that makes A-Res
  * the RIGHT weighted sampler for streams: the race key ln(u)/w is
  * intrinsic to the document (hash-drawn u, its own quality weight — no
  * corpus statistics), so reservoirs MERGE exactly: top-k of
  * (prior state ∪ batch top-k) = top-k of everything ever streamed. The
  * maintained sample therefore equals the batch operator over the full
  * history, bit for bit (proven in the spec), with state bounded at
  * k rows per source forever.
  *
  * A re-delivered document reproduces its exact (source, doc_id, key)
  * row and is collapsed by the pre-merge distinct — at-least-once
  * delivery upstream cannot double a doc's candidacy.
  *
  * State = versioned parquet exactly like StreamingCms/Moments: prior
  * read excludes the current batch's version, merged table dynamically
  * overwrites version=batchId — crash-retries refold identical inputs
  * (exactly-once by the snapshot-log argument).
  *
  * Scale: per batch one quality projection + bounded-heap agg over the
  * BATCH (≤ k rows per (source, partition) ship map-side), then a merge
  * agg over ≤ 2k rows per source.
  */
object StreamingReservoir {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("rank", IntegerType),
    StructField("doc_id", LongType),
    StructField("race_key", DoubleType),
    StructField(VersionCol, LongType)))

  /** Latest committed reservoir strictly below `beforeVersion` (empty
    * before the first commit).
    */
  def readReservoir(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** One micro-batch fold, idempotent in `batchId`. Expects document rows
    * (doc_id, text, source).
    */
  def processBatch(
      batch: DataFrame, batchId: Long, stateDir: String,
      k: Int = Sampling.ReservoirK): Unit = {
    val spark = batch.sparkSession
    val prior = readReservoir(spark, stateDir, batchId)
    val cand = Sampling.weightedReservoirPerSource(batch, k)
    val topk = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
    val merged = prior.select(col("source"), col("doc_id"), col("race_key"))
      .unionByName(cand.select(col("source"), col("doc_id"), col("race_key")))
      .distinct() // re-delivered docs reproduce identical rows — fold once
      .groupBy(col("source"))
      .agg(topk(col("race_key"), col("doc_id")).as("topk"))
      .select(col("source"), posexplode(col("topk")).as(Seq("i", "t")))
      .select(col("source"), (col("i") + 1).cast("int").as("rank"),
        col("t._2").as("doc_id"), col("t._1").as("race_key"))
    merged
      .overwritePartition(stateDir, VersionCol, batchId)
  }

  def start(
      docStream: DataFrame, stateDir: String, checkpointDir: String,
      k: Int = Sampling.ReservoirK): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir, k)
      }
      .start()
}
