package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{abs, array_max, broadcast, col, lit, max, round, slice, sqrt, transform}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.VectorOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming maintenance of the IVF cell index: every
  * micro-batch of arriving vectors is assigned to its nearest coarse cell
  * against a FIXED quantizer (trained once offline — the serving contract
  * `ivfScored` documents: ingest must never re-train the index, or every
  * already-indexed vector would silently sit in a stale cell), then
  * appended to the cell-partitioned index that `VectorOps.ivfTopKFromIndex`
  * serves queries from. The twin of StreamingDedup for the similarity-search
  * side of the pipeline: state lives in the index table, not in streaming
  * state, so nothing needs a watermark bound.
  *
  * Layout: hive-partitioned by (cell, batch_id). `cell` first — the serving
  * probe prunes to its nprobe cells' directories at scan time (the same
  * partition-pruning contract ParquetLayoutSpec proves); `batch_id` second
  * for delivery.
  *
  * Delivery: EXACTLY-ONCE across JVM-crash retries, the StreamingDedup
  * mechanism: dynamic partition overwrite keyed by batch_id means a
  * replayed batch REPLACES its own first attempt. Cell assignment is a
  * deterministic projection and Structured Streaming pins batch contents in
  * the checkpoint offset log, so a retry writes exactly the same
  * (cell, batch_id) leaf partitions — any half-written first attempt is
  * fully covered by the overwrite.
  *
  * Scale: the per-batch work is one narrow literal-argmax projection (zero
  * shuffle) + one partitioned write; the index grows file-count-wise per
  * (cell × batch) — production compacts cold batches per cell, which is a
  * pure file rewrite invisible to readers of the (vec_id, cell, cv, cn)
  * schema.
  */
object StreamingAnnIngest {

  private val BatchCol = "batch_id"

  /** Index schema as written by this job: `assignCells` output plus the
    * int8 payload (`s` scale + `q` quantized components — what the
    * re-rank serving tier's first stage reads; 4× smaller than the f32
    * vector it stands in for) and the batch_id partition key.
    */
  private val indexSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell", IntegerType),
    StructField("cv", ArrayType(DoubleType)),
    StructField("cn", DoubleType),
    StructField("s", DoubleType),
    StructField("q", ArrayType(DoubleType)),
    // PQ codes (null when ingest runs without a codebook) — the
    // compressed tier `VectorOps.ivfPqTopKFromIndex` serves from
    StructField("codes", ArrayType(IntegerType)),
    // MRL prefix slice + its norm, stored as their own columns so the
    // funnel's stage 1 (`VectorOps.mrlIvfTopKFromIndex`) reads
    // prefixDim/dim of the vector bytes off the columnar scan
    StructField("mp", ArrayType(DoubleType)),
    StructField("mpn", DoubleType),
    // packed sign word (1 bit/dim) — the cheapest stage-1 payload,
    // served by `VectorOps.bqIvfTopKFromIndex`; pre-bw ingest reads NULL
    StructField("bw", LongType),
    StructField(BatchCol, LongType)))

  /** The accumulated cell index, or an empty same-shaped frame before the
    * first batch commits.
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    try spark.read.schema(indexSchema).parquet(indexDir)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], indexSchema)
    }

  /** One micro-batch: assign cells against the fixed quantizer, write
    * (vec_id, cell, cv, cn) under this batch's partitions. Idempotent in
    * `batchId`.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      cents: DataFrame,
      indexDir: String,
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): Unit = {
    import graft.functions.ArrayDotProduct.dot
    val quantized = VectorOps.assignCells(batch, cents)
      .select(col("vec_id"), col("cell"), col("v").as("cv"), col("vn").as("cn"),
        (lit(127.0) / array_max(transform(col("v"), x => abs(x)))).as("s"))
      .select(col("vec_id"), col("cell"), col("cv"), col("cn"), col("s"),
        transform(col("cv"), x => round(x * col("s")).cast("double")).as("q"))
    // PQ codes ride the same batch write when a FIXED codebook is supplied
    // (trained once offline, like the coarse quantizer — re-training
    // mid-stream would silently stale every already-written code)
    val coded = book match {
      case Some(b) => quantized.withColumn("codes",
        graft.functions.PqEncodeCodes.encode(col("cv"), b))
      case None => quantized.withColumn("codes", lit(null).cast("array<int>"))
    }
    coded
      // MRL prefix payload (same slice + codegen'd-dot norm as the inline
      // funnel computes, so index-served stage 1 is bit-identical)
      .withColumn("mp", slice(col("cv"), 1, prefixDim))
      .withColumn("mpn", sqrt(dot(col("mp"), col("mp"))))
      // packed sign word (same 64-term OR fold as the inline bq tier;
      // components beyond the vector's length contribute 0 bits)
      .withColumn("bw", VectorOps.packSignBits(col("cv"), VectorOps.EmbeddingDim))
      .withColumn(BatchCol, lit(batchId))
      .overwritePartitions(indexDir, "cell", BatchCol)
  }

  // ---- deletion-vector tier (merge-on-read) ------------------------------
  //
  // The two-tier delete story real table formats use (Iceberg/Delta
  // deletion vectors), for the case where copy-on-write per takedown batch
  // is too eager at 100 TB: a LOGICAL delete appends only the tombstoned
  // keys (O(|tombstones|), no index partition touched); serving reads the
  // index through an anti-join against the accumulated delete vector, so
  // the deletion is visible immediately; a deferred COMPACTION folds the
  // vector into the physical files (the processDeletes copy-on-write) and
  // truncates it. The `_deletes` subdirectory is underscore-prefixed, so
  // the plain index scan never sees it.
  //
  // Single-writer assumption (the family contract): appends and compaction
  // don't race — compaction runs from the same maintenance loop.

  private val DeletesSub = "_deletes"

  private val deleteSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField(BatchCol, LongType)))

  /** Logical delete: append this batch's tombstoned vec_ids to the delete
    * vector. Idempotent in `batchId` (partition overwrite). O(batch) —
    * touches no index partition.
    */
  def appendDeletes(tombs: DataFrame, batchId: Long, indexDir: String): Unit =
    tombs.select(col("vec_id")).distinct()
      .overwritePartition(s"$indexDir/$DeletesSub", BatchCol, batchId)

  /** The accumulated delete vector (empty before any logical delete),
    * one row per tombstoned vec_id. `del_batch` = the LATEST batch whose
    * delete named the id: a delete covers only index rows ingested at or
    * before it (`batch_id <= del_batch`), the Iceberg/Delta DV scoping —
    * without it, a vec_id re-ingested AFTER its logical delete would be
    * hidden by the live view and physically lost at compaction.
    */
  def readDeletes(spark: SparkSession, indexDir: String): DataFrame = {
    // probe existence explicitly: reading a missing path would throw the
    // (caught) PATH_NOT_FOUND analysis error anyway, but only after
    // FileStreamSink.hasMetadata log-warns a FileNotFoundException stack
    // per call — an empty delete vector is the NORMAL state, not an error
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$DeletesSub")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (fs.exists(p))
      spark.read.schema(deleteSchema).parquet(s"$indexDir/$DeletesSub")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], deleteSchema)
    ).groupBy(col("vec_id")).agg(max(col(BatchCol)).as("del_batch"))
  }

  /** The LIVE index view: physical rows minus the delete vector — what
    * every serving tier should read between compactions. The anti-join is
    * broadcast (tombstones are tiny next to the corpus), so the read adds
    * no shuffle; the `batch_id <= del_batch` bound keeps rows re-ingested
    * after their delete alive.
    */
  def readIndexLive(spark: SparkSession, indexDir: String): DataFrame = {
    val idx = readIndex(spark, indexDir)
    val dels = readDeletes(spark, indexDir)
    idx.join(broadcast(dels),
      idx("vec_id") === dels("vec_id") && idx(BatchCol) <= dels("del_batch"),
      "left_anti")
  }

  /** Fold the delete vector into the physical files (the copy-on-write
    * scrub) and truncate it. Exactly-once under crash-retry: the scrub is
    * idempotent, and a retry that finds rows already scrubbed simply drops
    * the remaining vector directory; between the two steps the anti-join
    * view stays correct (removing absent keys is a no-op). The scrub
    * removes exactly the (vec_id, batch_id <= del_batch) rows the live
    * view hides, so compaction never eats a post-delete re-insert.
    */
  def compactDeletes(spark: SparkSession, indexDir: String): Unit = {
    val idx = readIndex(spark, indexDir)
    val dels = readDeletes(spark, indexDir)
    // resolve the <= bound into exact composite keys (delete-vector-sized:
    // only rows that actually exist and are covered), then scrub on them
    val scoped = idx.join(broadcast(dels),
        idx("vec_id") === dels("vec_id") && idx(BatchCol) <= dels("del_batch"),
        "left_semi")
      .select(col("vec_id"), col(BatchCol)).distinct()
    IndexTombstones.scrub(
      idx, scoped, Seq("vec_id", BatchCol), indexDir, Seq("cell", BatchCol))
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$DeletesSub"), true): Unit
    spark.catalog.refreshByPath(indexDir)
  }

  /** TOMBSTONE propagation into the serving tier: physically remove every
    * index row of the given vec_ids (`tombs`: one `vec_id` column) from
    * the accumulated cell index — the right-to-be-forgotten path the
    * governance audits demand; a delete reaches every serving tier (IVF /
    * re-rank / PQ / MRL / BQ all read this one table) without a rebuild.
    * Affected (cell, batch_id) partitions are rewritten copy-on-write
    * (IndexTombstones); idempotent, so replays are exactly-once.
    * `excludeBatch` keeps a CDC batch's scrub off its OWN partition so a
    * crash-retry of the combined upsert+delete batch is deterministic.
    */
  def processDeletes(
      tombs: DataFrame, indexDir: String, excludeBatch: Option[Long] = None): Unit = {
    val spark = tombs.sparkSession
    val idx = excludeBatch.foldLeft(
      (try spark.read.schema(indexSchema).parquet(indexDir)
      catch { case _: AnalysisException => return })) {
      (d, b) => d.filter(col(BatchCol) =!= b)
    }
    IndexTombstones.scrub(
      idx, tombs.select(col("vec_id")).distinct(), Seq("vec_id"),
      indexDir, Seq("cell", BatchCol))
  }

  /** One micro-batch of a MIXED change feed (vector rows plus a boolean
    * `deleteCol`): scrub the tombstoned vec_ids out of PRIOR partitions,
    * then ingest the upserts under this batch's partitions. Idempotent in
    * `batchId` (scrub is idempotent; the insert overwrites its own
    * partitions). Within one batch a delete+insert of the same vec_id
    * resolves insert-wins — compact upstream with `Cdc.latestWins` when
    * strict per-key version order matters.
    */
  def processCdcBatch(
      batch: DataFrame,
      batchId: Long,
      cents: DataFrame,
      indexDir: String,
      deleteCol: String = "is_delete",
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): Unit = {
    processDeletes(
      batch.filter(col(deleteCol)).select(col("vec_id")),
      indexDir, excludeBatch = Some(batchId))
    processBatch(
      batch.filter(!col(deleteCol)).drop(deleteCol),
      batchId, cents, indexDir, book, prefixDim)
  }

  def start(
      vecStream: DataFrame,
      cents: DataFrame,
      indexDir: String,
      checkpointDir: String,
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cents, indexDir, book, prefixDim)
      }
      .start()

  /** The change-feed twin of `start`: rows carry `deleteCol`. */
  def startCdc(
      cdcStream: DataFrame,
      cents: DataFrame,
      indexDir: String,
      checkpointDir: String,
      deleteCol: String = "is_delete",
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): StreamingQuery =
    cdcStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCdcBatch(batch, batchId, cents, indexDir, deleteCol, book, prefixDim)
      }
      .start()
}
