package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.ops.Multimodal
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming maintenance of the PERCEPTUAL media near-dup
  * index — the ingest + forget story for the media tier (r9 verdict #4),
  * mirroring what StreamingDedupIndex provides for text documents: every
  * micro-batch of arriving media rows is fingerprinted ONCE (the 64-block
  * blockhash, one partition-local byte pass), the fingerprints append
  * under batch_id partitions (history bytes are never re-decoded or
  * re-hashed — at 100 TB the media BYTES are the dominant cost and this
  * index touches them exactly once per item), and the banded probe against
  * the accumulated fingerprint index generates each near-dup pair exactly
  * once, in the batch of its later endpoint — so the appended pair
  * partitions reconstruct the batch `mediaNearDupPairs` over everything
  * ingested (spec-pinned per batch).
  *
  * Forget: `processDeletes` physically removes a media_id's fingerprint
  * row AND every pair naming it (both endpoints) via the IndexTombstones
  * copy-on-write scrub — after which the index equals a batch rebuild
  * over the surviving media (spec-pinned), and a re-submission of the
  * same bytes under a new id pairs afresh rather than colliding with a
  * ghost. `processCdcBatch` folds mixed takedown+upsert feeds in one
  * idempotent batch (the StreamingDedupIndex CDC shape).
  *
  * Delivery: EXACTLY-ONCE across crash retries by the family mechanism —
  * fingerprints are deterministic in the batch bytes, reads exclude the
  * current batch's own partition, and overwriting its own batch_id
  * partition makes a replayed batch REPLACE its first attempt.
  *
  * Scale: per batch one byte pass over THIS batch's media + one banded
  * equi-join (|batch|·4 band rows vs the index) — O(new collisions),
  * never history × history; production buckets the fingerprint index by
  * (band, bw) so the probe ships no history-side exchange.
  */
object StreamingMediaDedup {

  private val BatchCol = "batch_id"

  private val phashSchema = StructType(
    StructField("media_id", LongType) +:
      StructField("media_type", StringType) +:
      (0 until Multimodal.PhashBands).map(j => StructField(s"pb$j", IntegerType)) :+
      StructField(BatchCol, LongType))

  private val pairsSchema = StructType(Seq(
    StructField("media_a", LongType),
    StructField("media_b", LongType),
    StructField("hamming", LongType),
    StructField(BatchCol, LongType)))

  private def readOr(spark: SparkSession, path: String, schema: StructType): DataFrame =
    try spark.read.schema(schema).parquet(path)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Accumulated fingerprint index strictly below `beforeBatch`. */
  def readPhash(spark: SparkSession, indexDir: String, beforeBatch: Long): DataFrame =
    readOr(spark, s"$indexDir/phash", phashSchema)
      .filter(col(BatchCol) < beforeBatch).drop(BatchCol)

  /** Accumulated pair graph up to and including `throughBatch` —
    * reconstructs the batch `mediaNearDupPairs` over everything ingested.
    */
  def readPairs(spark: SparkSession, indexDir: String, throughBatch: Long = Long.MaxValue): DataFrame =
    readOr(spark, s"$indexDir/pairs", pairsSchema)
      .filter(col(BatchCol) <= throughBatch).drop(BatchCol)

  /** One micro-batch of NEW media rows (media_id, media_type, content).
    * Idempotent in `batchId`.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    val spark = batch.sparkSession
    // fingerprint the batch bytes exactly once: the write AND the probe
    // read this frame
    val newPh = Multimodal.perceptualHash(batch).persist()
    try {
      newPh.overwritePartition(s"$indexDir/phash", BatchCol, batchId)
      // probe: batch bands vs history ∪ batch (history read EXCLUDES this
      // batch's own partition so a retry probes what its first attempt saw)
      val history = readPhash(spark, indexDir, batchId)
      Multimodal.mediaNearDupPairsIncremental(newPh, history.unionByName(newPh))
        .overwritePartition(s"$indexDir/pairs", BatchCol, batchId)
    } finally newPh.unpersist()
  }

  /** TOMBSTONE propagation: physically remove the given media_ids'
    * fingerprint rows and every pair naming them (both endpoints).
    * Copy-on-write over affected batch partitions; idempotent, so replays
    * are exactly-once. Post-scrub the index equals a batch rebuild over
    * the surviving media: pair generation is pairwise in the two
    * endpoints' fingerprints, so no other row changes (spec-pinned).
    */
  def processDeletes(
      tombs: DataFrame, indexDir: String, excludeBatch: Option[Long] = None): Unit = {
    val spark = tombs.sparkSession
    val t = tombs.select(col("media_id")).distinct()
    def scoped(df: DataFrame): DataFrame =
      excludeBatch.foldLeft(df)((d, b) => d.filter(col(BatchCol) =!= b))
    IndexTombstones.scrub(
      scoped(readOr(spark, s"$indexDir/phash", phashSchema)),
      t, Seq("media_id"), s"$indexDir/phash", Seq(BatchCol))
    Seq("media_a", "media_b").foreach { end =>
      IndexTombstones.scrub(
        scoped(readOr(spark, s"$indexDir/pairs", pairsSchema)),
        t.withColumnRenamed("media_id", end), Seq(end),
        s"$indexDir/pairs", Seq(BatchCol))
    }
  }

  /** One micro-batch of a MIXED change feed — media rows plus a boolean
    * `deleteCol`: scrub the tombstoned ids out of PRIOR partitions, then
    * ingest the upserts under this batch's partitions. Idempotent in
    * `batchId` (the scrub excludes this batch's own partitions, so a
    * retry cannot eat its first attempt's upserts). Within one batch,
    * delete+insert of the same media_id resolves insert-wins.
    */
  def processCdcBatch(
      batch: DataFrame, batchId: Long, indexDir: String,
      deleteCol: String = "is_delete"): Unit = {
    processDeletes(
      batch.filter(col(deleteCol)).select(col("media_id")),
      indexDir, excludeBatch = Some(batchId))
    processBatch(batch.filter(!col(deleteCol)).drop(deleteCol), batchId, indexDir)
  }

  def start(
      mediaStream: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    mediaStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir)
      }
      .start()

  /** The change-feed twin of `start`: rows carry `deleteCol`. */
  def startCdc(
      cdcStream: DataFrame, indexDir: String, checkpointDir: String,
      deleteCol: String = "is_delete"): StreamingQuery =
    cdcStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCdcBatch(batch, batchId, indexDir, deleteCol)
      }
      .start()
}
