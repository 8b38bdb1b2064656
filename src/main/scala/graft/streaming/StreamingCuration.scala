package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit, not, sum, when}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TextOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming lift of the batch curation report
  * (TextOps.retentionReport): every micro-batch of arriving documents runs
  * the full gate chain — length, quality, repetition, PII — and is routed
  * to two sinks: KEPT documents (with PII already masked, the text a
  * training pipeline may actually retain) and a REJECTS audit table
  * carrying the first-breached gate per document, so per-reason loss
  * accounting streams alongside ingest instead of re-scanning the corpus.
  *
  * Scale: every gate is per-document (narrow projections + one bounded
  * per-doc bigram agg) — no history table, no streaming state, nothing for
  * watermarks to bound; each micro-batch is embarrassingly parallel.
  *
  * Delivery: EXACTLY-ONCE across JVM-crash retries by the same mechanism
  * as StreamingDedup — both sinks are hive-partitioned by `batch_id` and
  * written partition by partition (`overwritePartition`), so a replayed
  * batch replaces its own first attempt (Structured Streaming pins batch
  * contents in the checkpoint offset log, so the recomputation is
  * identical and the overwrite is a no-op rename).
  */
object StreamingCuration {

  private val BatchCol = "batch_id"

  /** One micro-batch of the curation loop, exposed for direct use and for
    * the crash-retry spec. Idempotent in `batchId`. Returns the batch's
    * observed metrics (rows in, rows kept, PII count), collected by the
    * `Observation` API as a side-channel of the kept-sink write — ZERO
    * extra passes. (The reference's foreachBatch logs `df.count()` before
    * writing, re-executing the whole batch plan — SURVEY §2 K6; persist
    * was the round-1 fix, observe is the no-cache-needed one.)
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      keptDir: String,
      rejectsDir: String): Map[String, Any] = {
    val obs = Observation(s"curation_$batchId")
    val report = TextOps.retentionReport(batch)
      .observe(obs, count(lit(1)).as("n_in"),
        sum(when(col("retained"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("had_pii"), 1L).otherwise(0L)).as("n_pii"))
    report.persist()
    try {
      // kept docs ship the SCRUBBED text: the PII gate flags, the scrub
      // masks — what leaves the pipeline is already masked
      val scrubbed = TextOps.scrubPii(batch).select(col("doc_id"), col("text_scrubbed"))
      report.filter(col("retained"))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("had_pii"))
        .join(scrubbed, Seq("doc_id"))
        .overwritePartition(keptDir, BatchCol, batchId)
      report.filter(not(col("retained")))
        .select(col("doc_id"), col("reject_reason"))
        .overwritePartition(rejectsDir, BatchCol, batchId)
      obs.get
    } finally report.unpersist()
  }

  /** Curation composed with duplicate-SPAN excision — the streaming twin
    * of the batch `span_clean_pack_report` chain (gates → stripDupSpans):
    * after the gate pass, THIS batch's kept (scrubbed) documents run
    * through StreamingSpanExcise against the accumulated span index, so
    * the clean sink carries gate-retained text with every
    * already-seen-elsewhere span excised. Exactly-once end to end: each
    * stage is idempotent in `batchId`, and the excision input is read
    * back from the kept sink's just-committed batch partition (a retry
    * re-reads the identical overwrite).
    */
  def processBatchWithSpanExcision(
      batch: DataFrame,
      batchId: Long,
      keptDir: String,
      rejectsDir: String,
      spanIndexDir: String,
      cleanDir: String): Map[String, Any] = {
    val metrics = processBatch(batch, batchId, keptDir, rejectsDir)
    val spark = batch.sparkSession
    // the guarded write in processBatch already refreshed keptDir's cached
    // file listing, so this read-back sees the overwrite, not a first
    // attempt's vanished files
    // declared schema: an all-rejected batch 0 leaves keptDir absent (or
    // schema-less), and the excision stage must see an empty frame — not
    // an inference AnalysisException that kills the query on every retry
    val keptSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_tokens", LongType),
      StructField("quality_score", DoubleType),
      StructField("had_pii", BooleanType),
      StructField("text_scrubbed", StringType),
      StructField(BatchCol, LongType)))
    val keptDocs =
      (try spark.read.schema(keptSchema).parquet(keptDir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keptSchema)
      })
        .filter(col(BatchCol) === batchId)
        .select(col("doc_id"), col("text_scrubbed").as("text"))
    StreamingSpanExcise.processBatch(keptDocs, batchId, spanIndexDir, cleanDir)
    metrics
  }

  def start(
      docsStream: DataFrame,
      keptDir: String,
      rejectsDir: String,
      checkpointDir: String): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, keptDir, rejectsDir): Unit
      }
      .start()
}
