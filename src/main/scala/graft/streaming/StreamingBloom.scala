package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Sketches
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental membership-filter maintenance: each micro-batch's Bloom
  * words (Sketches.bloomSketch over the BATCH) fold into the running
  * filter by per-word BITWISE OR — associative, commutative, and (unlike
  * the additive CMS/HLL folds) IDEMPOTENT, so even a hypothetical
  * double-fold could not corrupt the filter; the versioned-state
  * exactly-once machinery is still used so the STATE LINEAGE matches its
  * siblings and a crash-retry provably rewrites the identical snapshot.
  * The maintained filter equals the batch filter of everything ever
  * streamed, bit for bit (spec-pinned), so probes served from the state
  * snapshot (Sketches.bloomProbeFrom) keep the zero-false-negative
  * guarantee over the stream's full history.
  *
  * This is the ingest-dedup primitive at its cheapest: "have we EVER seen
  * this key" in m/32 = 2048 words of state no matter how many billion
  * keys flowed past — the pre-filter in front of an exact dedup join
  * (definite-no answers skip the join entirely; possible-yes rows, the
  * only ones that pay the lookup, are bounded by true-dups + the FP
  * rate).
  *
  * Scale: per batch one bounded-cardinality hash agg over the BATCH
  * (map-side combine collapses every partition to ≤2048 rows), one merge
  * agg over state ∪ batch words — both exchanges carry at most 2×2048
  * rows total.
  */
object StreamingBloom {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("word_idx", LongType),
    StructField("bits", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed filter strictly below `beforeVersion` (empty frame
    * before the first commit — batch 0 needs no seeding).
    */
  def readFilter(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** One micro-batch fold, idempotent in `batchId` (exposed for the
    * crash-retry spec). Expects rows with a `user_id` column.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readFilter(spark, stateDir, batchId)
    val merged = prior
      .unionByName(Sketches.bloomSketch(batch))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(bits)").as("bits"))
    merged
      .select(col("word_idx").cast("long").as("word_idx"),
        col("bits").cast("long").as("bits"))
      .overwritePartition(stateDir, VersionCol, batchId)
  }

  def start(
      eventStream: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    eventStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir)
      }
      .start()
}
