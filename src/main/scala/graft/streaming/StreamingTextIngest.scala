package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming maintenance of the INVERTED text index — the
  * retrieval twin of StreamingAnnIngest: every micro-batch of arriving
  * documents is tokenized into postings (doc_id, tok, tf) and doc
  * lengths (doc_id, dl), appended under its own batch_id partitions;
  * `TextOps.bm25TopKFromIndex` serves BM25 rankings straight from the
  * accumulated tables, with document frequencies and corpus stats
  * derived from the index at query time — so serving from the streamed
  * index is EXACTLY the inline batch build over everything ingested
  * (proven in the spec).
  *
  * Delivery: EXACTLY-ONCE across crash retries by the StreamingAnnIngest
  * mechanism — tokenization is a deterministic projection, Structured
  * Streaming pins batch contents in the checkpoint, and each table is
  * written as its own batch_id partition (`overwritePartition`), so a
  * replayed batch REPLACES its own first attempt.
  *
  * Scale: per batch one narrow posexplode + one batch-keyed hash agg (the
  * postings of THIS batch), three partition writes. The accumulated
  * postings table is the one retrieval structure that actually scales —
  * production buckets it by `tok` so each query term reads its own
  * buckets (the same bucket-pruning contract DedupSpec proves for the
  * band index); df/stats are derivable aggregates, never driver state.
  * A BM25 or QL serve is one shuffle keyed by q_id: the query terms'
  * postings and every doc length once per query (|docs|·|queries| rows)
  * cross it, so the doclens table, not the postings, sets a serve's cost
  * as the index grows.
  */
object StreamingTextIngest {

  private val BatchCol = "batch_id"

  private val postingsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("tok", StringType),
    StructField("tf", LongType),
    StructField(BatchCol, LongType)))

  private val doclenSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("dl", LongType),
    StructField(BatchCol, LongType)))

  private val positionsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("pos", IntegerType),
    StructField("tok", StringType),
    StructField(BatchCol, LongType)))

  private def readOr(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    try spark.read.schema(schema).parquet(dir)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** The accumulated postings table (doc_id, tok, tf). */
  def readPostings(spark: SparkSession, indexDir: String): DataFrame =
    readOr(spark, s"$indexDir/postings", postingsSchema).drop(BatchCol)

  /** The accumulated doc-length table (doc_id, dl). */
  def readDoclens(spark: SparkSession, indexDir: String): DataFrame =
    readOr(spark, s"$indexDir/doclens", doclenSchema).drop(BatchCol)

  /** The accumulated positional index (doc_id, pos, tok; 1-based) —
    * what `TextOps.phraseSearch` answers exact-phrase queries from.
    * Contract: each (doc_id, pos) appears at most once, i.e. a doc_id is
    * ingested by one batch only (re-ingest goes through the delete path,
    * `processCdcBatch`). `phraseSearch` counts slot matches per phrase
    * start and relies on it.
    */
  def readPositions(spark: SparkSession, indexDir: String): DataFrame =
    readOr(spark, s"$indexDir/positions", positionsSchema).drop(BatchCol)

  /** One micro-batch: tokenize (doc_id, text) rows once into this
    * batch's positions, then postings (the positions counted per
    * (doc_id, tok)) and doc lengths, each written as the batch's own
    * batch_id partition. Idempotent in `batchId`; the plans carry no
    * batch-specific literal, so every batch reuses the same generated code.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    val toks = split(col("text"), " ")
    val positions = batch
      .select(col("doc_id"), posexplode(toks).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("int").as("pos"), col("tok"))
    val postings = positions
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val doclens = batch
      .select(col("doc_id"), size(toks).cast("long").as("dl"))
    def write(df: DataFrame, sub: String): Unit =
      df.overwritePartition(s"$indexDir/$sub", BatchCol, batchId)
    write(postings, "postings")
    write(doclens, "doclens")
    write(positions, "positions")
  }

  /** TOMBSTONE propagation into the retrieval tier: physically remove a
    * doc's postings, length row, and positions (`tombs`: one `doc_id`
    * column) from the accumulated index. Because document frequencies and
    * corpus statistics are DERIVED from the postings at query time (never
    * stored), every from-index ranker — BM25, Dirichlet-QL, RRF, phrase
    * search — reflects the deletion on its next serve with no rebuild and
    * no stale-stats window. Copy-on-write over affected batch partitions
    * (IndexTombstones); idempotent, so replays are exactly-once.
    */
  def processDeletes(
      tombs: DataFrame, indexDir: String, excludeBatch: Option[Long] = None): Unit = {
    val spark = tombs.sparkSession
    val t = tombs.select(col("doc_id")).distinct()
    Seq("postings" -> postingsSchema, "doclens" -> doclenSchema,
      "positions" -> positionsSchema).foreach { case (sub, schema) =>
      val dir = s"$indexDir/$sub"
      val idx = excludeBatch.foldLeft(readOr(spark, dir, schema)) {
        (d, b) => d.filter(col(BatchCol) =!= b)
      }
      IndexTombstones.scrub(idx, t, Seq("doc_id"), dir, Seq(BatchCol))
    }
  }

  /** One micro-batch of a MIXED change feed (document rows plus a boolean
    * `deleteCol`): scrub tombstoned doc_ids out of PRIOR partitions, then
    * ingest the upserts. Idempotent in `batchId`; within-batch
    * delete+insert of one doc_id resolves insert-wins (compact upstream
    * with `Cdc.latestWins` for strict version order).
    */
  def processCdcBatch(
      batch: DataFrame, batchId: Long, indexDir: String,
      deleteCol: String = "is_delete"): Unit = {
    processDeletes(
      batch.filter(col(deleteCol)).select(col("doc_id")),
      indexDir, excludeBatch = Some(batchId))
    processBatch(batch.filter(!col(deleteCol)).drop(deleteCol), batchId, indexDir)
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
