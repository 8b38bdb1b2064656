package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{Dedup, TextOps}
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming maintenance of the CHUNK-granularity near-dup
  * index — the ingest story for the paragraph tier (`chunk_neardup_pairs`
  * / `chunk_share_report`), mirroring what StreamingDedup provides for
  * whole documents: every micro-batch of arriving documents is chunked
  * into 32-token sliding pseudo-docs (id = doc_id·ChunkIdFactor +
  * chunk_idx — the same encoding the batch queries use), their MinHash
  * SIGNATURES are computed once and appended under batch_id partitions,
  * and cross-document chunk collisions are served FROM the accumulated
  * signature index — history is never re-chunked or re-hashed.
  *
  * Why signatures rather than bands (StreamingDedup's index): the chunk
  * tier's consumers need the pair ESTIMATE (est_jaccard drives the
  * share-report rollup and span-excision triage), and the estimate needs
  * all k signature positions, not just the banded hashes. Bands derive
  * from signatures in one projection at serve time
  * (Dedup.minhashLshPairsFromSignatures); the reverse is impossible.
  *
  * Delivery: EXACTLY-ONCE across crash retries by the family mechanism —
  * chunking + signatures are deterministic projections of the batch,
  * Structured Streaming pins batch contents in the checkpoint, and
  * overwriting its own batch_id partition makes a replayed batch REPLACE
  * its own first attempt.
  *
  * Scale: per batch one chunk explode + one signature groupBy over THIS
  * batch only; the accumulated index holds one 12-long row per chunk
  * (production buckets it by a band hash so the serve-time self-join
  * co-locates — the DedupSpec band-probe contract). Serving cost is the
  * banded equi-join over collisions, never all-pairs.
  */
object StreamingChunkDedup {

  /** Chunk pseudo-id encoding: doc_id · factor + chunk_idx (matches the
    * batch `chunk_neardup_pairs` query and its oracle). Assumes
    * < factor chunks per document — ~2.4M tokens at the default stride,
    * far beyond any pre-chunking document this pipeline admits.
    */
  val ChunkIdFactor = 100000L

  private val BatchCol = "batch_id"

  private val sigSchema = StructType(
    StructField("doc_id", LongType) +:
      (0 until Dedup.MinhashK).map(i => StructField(s"mh$i", LongType)) :+
      StructField(BatchCol, LongType))

  /** Chunk pseudo-docs of a document frame — the (doc_id, text) spine the
    * signature pass consumes, ids encoding (doc, chunk).
    */
  def chunkPseudoDocs(docs: DataFrame): DataFrame =
    TextOps.chunkDocuments(docs)
      .select((col("doc_id") * ChunkIdFactor + col("chunk_idx")).as("doc_id"),
        col("chunk_text").as("text"))

  /** The accumulated chunk signature index (doc_id, mh0..mh{k-1}). */
  def readSignatures(spark: SparkSession, indexDir: String): DataFrame =
    try spark.read.schema(sigSchema).parquet(indexDir).drop(BatchCol)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sigSchema)
          .drop(BatchCol)
    }

  /** Cross-DOCUMENT chunk collision pairs served from the signature
    * index: the banded self-join (history and new chunks alike live in
    * one index, so cross-batch collisions fall out of the same join),
    * keeping only pairs whose chunks come from different documents —
    * identical semantics to the batch `chunk_neardup_pairs` over
    * everything ingested (spec-pinned).
    */
  def crossDocPairsFrom(sig: DataFrame): DataFrame =
    Dedup.minhashLshPairsFromSignatures(sig)
      .filter(expr(s"doc_a DIV $ChunkIdFactor") =!= expr(s"doc_b DIV $ChunkIdFactor"))

  /** One micro-batch: chunk, sign, append under this batch's partition.
    * Idempotent in `batchId`.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    val chunks = chunkPseudoDocs(batch)
    Dedup.minhashSignatures(chunks)
      .overwritePartition(indexDir, BatchCol, batchId)
  }

  /** TOMBSTONE propagation: remove EVERY chunk signature of the given
    * documents (`tombs`: one `doc_id` column — DOCUMENT ids, not chunk
    * pseudo-ids; the encoding is inverted inside). Copy-on-write over
    * affected batch partitions; idempotent, so replays are exactly-once.
    * After the scrub, `crossDocPairsFrom` over the index equals the batch
    * chunk-pair derivation over the surviving corpus (spec-pinned).
    */
  def processDeletes(
      tombs: DataFrame, indexDir: String, excludeBatch: Option[Long] = None): Unit = {
    val spark = tombs.sparkSession
    val idx =
      try spark.read.schema(sigSchema).parquet(indexDir)
      catch { case _: AnalysisException => return }
    val scoped = excludeBatch.foldLeft(idx)((d, b) => d.filter(col(BatchCol) =!= b))
      .withColumn("graft_parent", expr(s"doc_id DIV $ChunkIdFactor"))
    IndexTombstones.scrub(
      scoped,
      tombs.select(col("doc_id").as("graft_parent")).distinct(),
      Seq("graft_parent"), indexDir, Seq(BatchCol), auxCols = Seq("graft_parent"))
  }

  def start(
      docStream: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir)
      }
      .start()
}
