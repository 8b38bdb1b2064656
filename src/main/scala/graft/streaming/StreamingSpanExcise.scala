package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.TextOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming lift of duplicate-SPAN excision
  * (TextOps.stripDupSpans — the substring-dedup treatment of Lee et al.,
  * arXiv:2107.06499): every micro-batch of arriving documents has its
  * fixed-width span hashes probed against an ACCUMULATED span-hash index
  * (span_h → canonical_id, the span's first holder), positions whose
  * span is already owned by an earlier document (or by a lower-id doc in
  * the same batch) are excised, the rebuilt text is appended to the
  * clean-corpus sink, and the batch's NEW spans (not yet in the index)
  * are appended to the index under its canonical holder — so history is
  * never re-tokenized and each span's content survives exactly once
  * across the whole stream.
  *
  * Streamed ≡ batch (spec-pinned): with doc ids nondecreasing in arrival
  * order — the natural ingest property — "first holder" coincides with
  * the batch op's min-doc_id canonical, so the streamed excision of every
  * document equals `stripDupSpans` run over the full history at once. A
  * regressing id could arrive after a higher-id holder was already
  * excised against it; the canonical table keeps FIRST-writer semantics
  * in that case (the streaming-native policy), diverging from the batch
  * min-id tie-break — documented, like the bounded-hop CC contract.
  *
  * Delivery: EXACTLY-ONCE by the family mechanism — span hashing is a
  * deterministic projection, the history read excludes the current
  * batch's partition (a retry sees exactly what the first attempt saw),
  * and both sinks dynamically overwrite their batch_id partition.
  *
  * Scale: per batch one exploded-token pass + one windowed span
  * projection over THIS batch only; the probe is a span_h equi-join
  * against the index (production buckets the index by span_h so the
  * probe co-locates — the band-index contract); the index holds one row
  * per DISTINCT span ever seen, the same asymptotics as the
  * suffix-array-free substring dedup it implements.
  */
object StreamingSpanExcise {

  private val BatchCol = "batch_id"

  private val indexSchema = StructType(Seq(
    StructField("span_h", LongType),
    StructField("canonical_id", LongType),
    StructField(BatchCol, LongType)))

  /** The accumulated span index (span_h, canonical_id), optionally
    * excluding one batch partition (the retry-exclusion read).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    try spark.read.schema(indexSchema).parquet(indexDir)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], indexSchema)
    }

  /** One micro-batch: excise spans duplicated against history or within
    * the batch, write the rebuilt docs (stripDupSpans schema) and the
    * batch's new spans. Idempotent in `batchId`.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      indexDir: String,
      cleanDir: String,
      spanTokens: Int = TextOps.SpanTokens): Unit = {
    val spark = batch.sparkSession
    val history = readIndex(spark, indexDir)
      .filter(col(BatchCol) =!= batchId)
      .select(col("span_h"), col("canonical_id"))
    val toks = TextOps.tokenPositions(batch).persist()
    val spans = TextOps.spanHashesOf(toks, spanTokens).persist()
    try {
      // canonical table = history ∪ this batch's first holders of spans
      // history doesn't know. A doc matching its OWN canonical row keeps
      // its copy (the keep-first excision filter is doc_id > canonical),
      // so unique spans flow through canon harmlessly — no ≥2-holder
      // prefilter needed.
      val batchCanon = spans.groupBy(col("span_h"))
        .agg(min(col("doc_id")).as("canonical_id"))
        .join(history.select(col("span_h")), Seq("span_h"), "left_anti")
      val canon = history.unionByName(batchCanon)
      TextOps.excisedRebuild(batch, toks, spans, canon, spanTokens)
        .overwritePartition(cleanDir, BatchCol, batchId)
      batchCanon
        .overwritePartition(indexDir, BatchCol, batchId)
    } finally {
      spans.unpersist()
      toks.unpersist()
    }
  }

  def start(
      docStream: DataFrame, indexDir: String, cleanDir: String,
      checkpointDir: String): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir, cleanDir)
      }
      .start()
}
