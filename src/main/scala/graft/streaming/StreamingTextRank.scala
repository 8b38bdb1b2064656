package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TextOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental corpus-keyword maintenance: each micro-batch of arriving
  * documents contributes its window-2 co-occurrence pairs
  * (TextOps.textRankCooc over the BATCH — documents arrive whole, so
  * adjacency never crosses a batch boundary), folded into the maintained
  * pair table by per-pair INTEGER ADDITION; TextRank keywords are served
  * from the folded table (TextOps.textRankKeywordsFromCooc) — identical
  * to the batch operator over every document ever streamed
  * (spec-pinned). The keyword dashboard over a live corpus, without
  * re-scanning history: state is VOCABULARY-PAIR-sized (observed
  * adjacent pairs), never corpus-sized, and the serve-time PageRank runs
  * over that same bounded graph.
  *
  * State = versioned parquet exactly like StreamingEwma/StreamingCms:
  * prior read excludes the current version, merged table dynamically
  * overwrites version=batchId — crash-retries refold identical inputs
  * (exactly-once by the snapshot-log argument; the additive fold makes
  * the versioning load-bearing).
  */
object StreamingTextRank {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("tok_a", StringType),
    StructField("tok_b", StringType),
    StructField("cooc", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed pair table strictly below `beforeVersion`. */
  def readCooc(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** Corpus keywords served from the maintained graph — identical to
    * `TextOps.textRankKeywords` over every document ever streamed.
    */
  def serveKeywords(
      spark: SparkSession, dir: String,
      k: Int = TextOps.TextRankK): DataFrame =
    TextOps.textRankKeywordsFromCooc(readCooc(spark, dir, Long.MaxValue), k)

  /** One micro-batch fold, idempotent in `batchId` (exposed for the
    * crash-retry spec). Expects document rows (doc_id, text).
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readCooc(spark, stateDir, batchId)
    prior.unionByName(TextOps.textRankCooc(batch))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(sum(col("cooc")).as("cooc"))
      .select(col("tok_a"), col("tok_b"), col("cooc").cast("long").as("cooc"))
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
