package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TextOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Continuous dataset versioning: every micro-batch's per-source corpus
  * manifest (TextOps.corpusManifest — doc counts, char totals, and the
  * ORDER-INDEPENDENT content digest) folds into running state by
  * addition, with the digest re-reduced mod the Mersenne prime after
  * each merge. Because the digest is a commutative modular sum, the
  * maintained manifest equals the batch manifest of everything ever
  * streamed — bit for bit, at any batch boundary (proven in the spec).
  * This is what lets an ingest pipeline certify "this is exactly corpus
  * vX" continuously, without ever rescanning or sorting the corpus.
  *
  * State = versioned parquet exactly like the sibling folds
  * (StreamingMoments/Cms/Hll): prior read excludes the current batch's
  * version, the merged table dynamically overwrites version=batchId —
  * crash-retries refold identical inputs (exactly-once by the
  * snapshot-log argument).
  *
  * Scale: per batch one bounded hash agg over the BATCH (|sources| rows
  * out), one merge agg over state ∪ batch rows — both domain-sized.
  */
object StreamingManifest {

  val VersionCol = "graft_version"
  private val Modulus = 2147483647L

  private val stateSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("n_docs", LongType),
    StructField("total_chars", LongType),
    StructField("content_hash", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed manifest strictly below `beforeVersion` (empty
    * before the first commit).
    */
  def readManifest(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** One micro-batch fold, idempotent in `batchId`. Expects
    * (doc_id, text, source, n_chars) rows.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readManifest(spark, stateDir, batchId)
    val merged = prior
      .unionByName(TextOps.corpusManifest(batch))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("total_chars"),
        pmod(sum(col("content_hash")), lit(Modulus)).as("content_hash"))
    merged
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("total_chars").cast("long").as("total_chars"),
        col("content_hash").cast("long").as("content_hash"))
      .overwritePartition(stateDir, VersionCol, batchId)
  }

  def start(
      docStream: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir)
      }
      .start()
}
