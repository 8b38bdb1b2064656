package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.Dedup
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming lift of the batch-incremental dedup
  * (Dedup.incrementalDedup): every micro-batch of arriving documents is
  * deduplicated (a) against the PERSISTED history band index via one
  * equi-join probe and (b) within itself, then survivors are appended to
  * the corpus sink and the survivors' MinHash bands are appended to the
  * history index — keeping the invariant that history is internally dedup'd
  * without ever recomputing old signatures.
  *
  * Scale: per batch the history side is a parquet scan of the BAND INDEX
  * (in production a table bucketed by (band, bh) — DedupSpec proves that
  * probe ships no history-side exchange), never the corpus. State grows in
  * the index, not in streaming state, so there is nothing for watermarks to
  * bound — the pattern Kafka-fed ingest dedup uses when the dedup horizon
  * is "all of history", beyond dropDuplicates' watermark window.
  *
  * Delivery: EXACTLY-ONCE across JVM-crash retries. Both sinks are
  * hive-partitioned by `batch_id` and written with dynamic partition
  * overwrite, so a replayed batch REPLACES its own first attempt instead of
  * appending beside it; and the history probe excludes the current batch's
  * partition, so a retry cannot collide with its own half-written output
  * (the replayed input and the history visible to it are both identical to
  * the first attempt — Structured Streaming pins batch contents in the
  * checkpoint offset log — hence the recomputed survivors are identical and
  * the overwrite is a no-op rename). The batch_id partition column doubles
  * as partition pruning on the retry-exclusion filter at scale.
  *
  * A missing or not-yet-created `historyDir` reads as an EMPTY history
  * (batch 0 needs no pre-seeded index); the first batch's survivors create
  * the table.
  */
object StreamingDedup {

  private val BatchCol = "batch_id"

  /** Band-index schema as written by this job: Dedup.minhashBands' columns
    * plus the batch_id partition key.
    */
  private val historySchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band", IntegerType),
    StructField("bh", LongType),
    StructField(BatchCol, LongType)))

  /** The accumulated band index, or an empty frame of the same shape when
    * the path does not exist yet / has no committed files (batch 0).
    */
  def readHistory(spark: SparkSession, historyDir: String): DataFrame =
    try spark.read.schema(historySchema).parquet(historyDir)
    catch {
      // PATH_NOT_FOUND (and the empty-dir schema-inference twin): the
      // stream hasn't written its first batch yet
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], historySchema)
    }

  /** One micro-batch of the ingest loop, exposed for direct use (and for
    * the crash-retry spec, which replays a batchId and asserts both sinks
    * end up with exactly one copy). Idempotent in `batchId`.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      historyDir: String,
      corpusDir: String): Unit = {
    val spark = batch.sparkSession
    // exclude this batch's OWN partition: on a retry the index already
    // holds the first attempt's bands and probing them would drop every
    // replayed doc as a "history" collision
    val history = readHistory(spark, historyDir).filter(col(BatchCol) =!= batchId)
    val survivors = Dedup.incrementalDedup(batch, history)
    // two writes read the survivors: persist for the scope of this
    // batch, release before the next (no cross-batch cache leak)
    survivors.persist()
    try {
      survivors.overwritePartition(corpusDir, BatchCol, batchId)
      Dedup.minhashBands(Dedup.minhashSignatures(survivors))
        .overwritePartition(historyDir, BatchCol, batchId)
    } finally survivors.unpersist()
  }

  /** TOMBSTONE propagation: remove the given doc_ids from BOTH sinks —
    * the survivor corpus and the band history. Scrubbing the bands is the
    * semantically load-bearing half: right-to-be-forgotten means the
    * dedup index must not REMEMBER the deleted content, so a later
    * re-submission of the same text (under a new id) must survive the
    * probe instead of being dropped against a ghost (spec-pinned).
    * Copy-on-write over affected batch partitions; idempotent.
    */
  def processDeletes(
      tombs: DataFrame,
      historyDir: String,
      corpusDir: String,
      excludeBatch: Option[Long] = None): Unit = {
    val spark = tombs.sparkSession
    val t = tombs.select(col("doc_id")).distinct()
    def scoped(df: DataFrame): DataFrame =
      excludeBatch.foldLeft(df)((d, b) => d.filter(col(BatchCol) =!= b))
    IndexTombstones.scrub(
      scoped(readHistory(spark, historyDir)), t, Seq("doc_id"),
      historyDir, Seq(BatchCol))
    // the corpus sink carries the caller's document schema — read by
    // inference (it exists iff any batch committed)
    val corpus =
      try Some(spark.read.parquet(corpusDir))
      catch { case _: AnalysisException => None }
    corpus.foreach(c =>
      IndexTombstones.scrub(scoped(c), t, Seq("doc_id"), corpusDir, Seq(BatchCol)))
  }

  def start(
      docsStream: DataFrame,
      historyDir: String,
      corpusDir: String,
      checkpointDir: String): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, historyDir, corpusDir)
      }
      .start()
}
