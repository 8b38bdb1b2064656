package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.TimeSeries
import graft.streaming.StreamingWrites.GuardedWrites

/** Streaming distribution-drift monitor: every micro-batch's value
  * histogram is compared (PSI) against a STATIC reference histogram — a
  * trusted snapshot computed once with `TimeSeries.referenceHistogram` —
  * and one (key, psi, batch_id) metrics row per monitored key lands in the
  * metrics sink per batch. This is the in-flight twin of the batch
  * `psi_drift` query: the same bins, smoothing, and rollup
  * (`TimeSeries.psiOfCounts` is shared code), evaluated continuously so a
  * shifting upstream distribution pages someone BEFORE it contaminates a
  * training snapshot.
  *
  * Scale: the per-batch work is one hash agg over the batch (bins) + a
  * metadata-sized spine join against the broadcast reference; no streaming
  * state — the reference is the state, and it lives in a table.
  * Delivery: exactly-once via the same batch_id dynamic-partition
  * overwrite as every other graft streaming sink.
  */
object StreamingDrift {

  /** One micro-batch: histogram, fill against the reference spine, PSI,
    * write. Monitored keys are exactly the REFERENCE's keys (a key absent
    * from the batch still reports — all-smoothing PSI — and a novel key
    * in the batch is ignored until the reference is refreshed).
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      reference: DataFrame,
      metricsDir: String,
      keyCol: String,
      valueCol: String,
      binWidth: Double = TimeSeries.PsiBinWidth,
      nBins: Int = TimeSeries.PsiBins): Unit = {
    val cur = batch.select(col(keyCol),
        least(lit(nBins - 1), floor(col(valueCol) / binWidth)).cast("int").as("b"))
      .groupBy(col(keyCol), col("b")).agg(count(lit(1)).as("c_cur"))
    val spine = reference.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(nBins - 1))).as("b0"))
      .select(col(keyCol), col("b0").cast("int").as("b"))
    val filled = spine
      .join(broadcast(reference), Seq(keyCol, "b"), "left")
      .join(cur, Seq(keyCol, "b"), "left")
      .select(col(keyCol), col("b"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    TimeSeries.psiOfCounts(filled, keyCol, nBins)
      .overwritePartition(metricsDir, "batch_id", batchId)
  }

  def start(
      stream: DataFrame,
      reference: DataFrame,
      metricsDir: String,
      checkpointDir: String,
      keyCol: String,
      valueCol: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, reference, metricsDir, keyCol, valueCol)
      }
      .start()
}
