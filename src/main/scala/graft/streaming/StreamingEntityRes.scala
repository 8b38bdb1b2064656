package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Entity
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming maintenance of the ENTITY-RESOLUTION index — the
  * ingest + forget story for the record tier, completing the family
  * pattern (text signatures, media fingerprints, ANN cells, graph lists,
  * chunk hashes all have one). Every micro-batch of arriving records
  * appends under batch_id partitions and is probed ONCE against the
  * accumulated record index on the blocking key — each matched pair is
  * generated exactly once, in the batch of its later endpoint, so the
  * appended pair partitions reconstruct the batch `resolvePairs` over
  * everything ingested (spec-pinned), and `serveGoldenRecords` equals
  * the batch survivorship at every point.
  *
  * Forget: `processDeletes` physically removes a record and every pair
  * naming it (both endpoints) via the IndexTombstones copy-on-write
  * scrub — pair generation is pairwise in the two endpoints, so
  * post-scrub the index equals a batch rebuild over survivors.
  * `processCdcBatch` folds mixed takedown+upsert feeds (an UPDATE
  * arrives as delete+insert of the same key) in one idempotent batch.
  *
  * Delivery: EXACTLY-ONCE across crash retries by the family mechanism —
  * batch writes overwrite their own batch_id partitions; the probe reads
  * history EXCLUDING the current batch's partitions, so a retry probes
  * exactly what its first attempt saw.
  *
  * Scale: per batch one block-key equi-join of |batch| records against
  * the accumulated index — O(new block collisions), never
  * history × history; production buckets the record index by the block
  * key so the probe ships no history-side exchange.
  */
object StreamingEntityRes {

  private val BatchCol = "batch_id"

  private val recordSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType),
    StructField(BatchCol, LongType)))

  private val pairsSchema = StructType(Seq(
    StructField("id_a", LongType),
    StructField("id_b", LongType),
    StructField("dist", IntegerType),
    StructField(BatchCol, LongType)))

  private def readOr(spark: SparkSession, path: String, schema: StructType): DataFrame =
    try spark.read.schema(schema).parquet(path)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Accumulated record index strictly below `beforeBatch`. */
  def readRecords(spark: SparkSession, indexDir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readOr(spark, s"$indexDir/records", recordSchema)
      .filter(col(BatchCol) < beforeBatch).drop(BatchCol)

  /** Accumulated matched-pair table — reconstructs the batch
    * `resolvePairs` over everything ingested.
    */
  def readPairs(spark: SparkSession, indexDir: String): DataFrame =
    readOr(spark, s"$indexDir/pairs", pairsSchema).drop(BatchCol)

  /** Golden records served from the maintained index — equals
    * `Entity.goldenRecords` over everything ingested minus forgotten.
    */
  def serveGoldenRecords(spark: SparkSession, indexDir: String): DataFrame =
    Entity.goldenRecordsFrom(
      readRecords(spark, indexDir), readPairs(spark, indexDir))

  /** One micro-batch of NEW records (the customer schema). Idempotent in
    * `batchId`.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    val spark = batch.sparkSession
    val newR = batch.select(col("c_custkey"), col("c_name"),
      col("c_nationkey").cast("int"), col("c_acctbal").cast("double"),
      col("c_mktsegment")).persist()
    try {
      newR.overwritePartition(s"$indexDir/records", BatchCol, batchId)
      val history = readRecords(spark, indexDir, batchId)
      Entity.resolvePairsIncremental(newR, history.unionByName(newR))
        .select(col("id_a"), col("id_b"), col("dist").cast("int"))
        .overwritePartition(s"$indexDir/pairs", BatchCol, batchId)
    } finally newR.unpersist()
  }

  /** TOMBSTONE propagation: physically remove the given keys' records
    * and every pair naming them (both endpoints). Idempotent.
    */
  def processDeletes(
      tombs: DataFrame, indexDir: String, excludeBatch: Option[Long] = None): Unit = {
    val spark = tombs.sparkSession
    val t = tombs.select(col("c_custkey")).distinct()
    def scoped(df: DataFrame): DataFrame =
      excludeBatch.foldLeft(df)((d, b) => d.filter(col(BatchCol) =!= b))
    IndexTombstones.scrub(
      scoped(readOr(spark, s"$indexDir/records", recordSchema)),
      t, Seq("c_custkey"), s"$indexDir/records", Seq(BatchCol))
    Seq("id_a", "id_b").foreach { end =>
      IndexTombstones.scrub(
        scoped(readOr(spark, s"$indexDir/pairs", pairsSchema)),
        t.withColumnRenamed("c_custkey", end), Seq(end),
        s"$indexDir/pairs", Seq(BatchCol))
    }
  }

  /** One micro-batch of a MIXED change feed — records plus a boolean
    * `deleteCol`: scrub the tombstoned keys out of PRIOR partitions,
    * then ingest the upserts under this batch's partitions. Idempotent
    * in `batchId`; within one batch delete+insert of the same key
    * resolves insert-wins (the UPDATE shape).
    */
  def processCdcBatch(
      batch: DataFrame, batchId: Long, indexDir: String,
      deleteCol: String = "is_delete"): Unit = {
    processDeletes(
      batch.filter(col(deleteCol)).select(col("c_custkey")),
      indexDir, excludeBatch = Some(batchId))
    processBatch(batch.filter(!col(deleteCol)).drop(deleteCol), batchId, indexDir)
  }

  def start(
      recordStream: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    recordStream.writeStream
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
