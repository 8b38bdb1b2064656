package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Sketches
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental heavy-hitter maintenance: each micro-batch's count-min
  * cells (Sketches.cmsSketch over the BATCH) fold into the running sketch
  * by per-cell INTEGER ADDITION — associative, commutative, exact — so the
  * maintained sketch equals the batch sketch of everything ever streamed,
  * bit for bit (proven in the spec). Point estimates served from the state
  * snapshot (Sketches.cmsEstimatesFrom) are therefore identical to a full
  * rescan's, without ever storing per-key state: the whole sketch is
  * depth×width counters no matter how many billion keys flowed past —
  * the online twin of the Misra-Gries aggregator, with a domain-free
  * memory bound.
  *
  * State = versioned parquet exactly like StreamingMoments/StreamingCdc:
  * the prior-state read excludes the current batch's version and the
  * merged table dynamically overwrites version=batchId, so a crash-retry
  * refolds from identical inputs (exactly-once by the snapshot-log
  * argument — double-folding a batch would double every cell).
  *
  * Scale: per batch one bounded-cardinality hash agg over the BATCH
  * (map-side combine collapses every partition to ≤depth×width rows), one
  * merge agg over state ∪ batch-cells — both exchanges carry at most
  * 2·depth×width rows total.
  */
object StreamingCms {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("row_idx", IntegerType),
    StructField("col_idx", LongType),
    StructField("cnt", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed sketch strictly below `beforeVersion` (empty frame
    * before the first commit — batch 0 needs no seeding).
    */
  def readSketch(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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
    val prior = readSketch(spark, stateDir, batchId)
    val merged = prior
      .unionByName(Sketches.cmsSketch(batch))
      .groupBy(col("row_idx"), col("col_idx"))
      .agg(sum(col("cnt")).as("cnt"))
    merged
      .select(col("row_idx").cast("int").as("row_idx"),
        col("col_idx").cast("long").as("col_idx"),
        col("cnt").cast("long").as("cnt"))
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
