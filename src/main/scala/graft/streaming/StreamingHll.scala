package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Sketches
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental cardinality maintenance — the third streamed sketch fold
  * beside StreamingMoments (exact decimal sums) and StreamingCms (integer
  * cells): each micro-batch's per-(event_type, day) HLL partials
  * (Sketches.hllPartials) merge into the running state with
  * hll_union_agg — a register-wise max, so the fold is associative,
  * commutative, and IDEMPOTENT at the register level; the maintained
  * sketch yields the same estimate as sketching the full history in one
  * pass (proven in the spec), while state stays (types × days) ≤4 KiB
  * sketches no matter how many billions of users streamed through.
  *
  * State = versioned parquet exactly like the sibling folds: prior read
  * excludes the current batch's version, merged state dynamically
  * overwrites version=batchId — crash-retries refold identical inputs
  * (exactly-once by the snapshot-log argument; HLL union being
  * max-based would even forgive a double-fold of the SAME batch, but the
  * version guard keeps the contract uniform and the event counts exact).
  *
  * Scale: per batch one map-side-combinable sketch agg over the BATCH,
  * one union agg over state ∪ batch partials — the exchange carries one
  * ≤4 KiB sketch per (type, day, partition).
  */
object StreamingHll {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("sk", BinaryType),
    StructField("n_events", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed partials strictly below `beforeVersion` (empty
    * before the first commit).
    */
  def readPartials(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** One micro-batch fold, idempotent in `batchId`. Expects
    * (event_type, ts, user_id) rows.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readPartials(spark, stateDir, batchId)
    val merged = prior
      .unionByName(Sketches.hllPartials(batch))
      .groupBy(col("event_type"), col("day"))
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"),
        sum(col("n_events")).as("n_events"))
    merged
      .select(col("event_type"), col("day"), col("sk"),
        col("n_events").cast("long").as("n_events"))
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
