package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Sketches
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental corpus-statistics maintenance: each micro-batch's moment
  * partials (n, Σv, Σv², Σv³ per (event_type, day) — Sketches
  * .momentPartials) fold into the running state by DECIMAL ADDITION, so
  * unlike every float-sum streaming aggregate, the maintained state is
  * EXACTLY the batch recomputation — `momentsRollup` over the snapshot
  * equals a full rescan bit for bit, proven in the spec.
  *
  * State = versioned parquet exactly like StreamingCdc/StreamingKmeans:
  * the prior-state read excludes the current batch's version and the
  * merged table dynamically overwrites version=batchId, so a crash-retry
  * refolds from identical inputs (exactly-once by the snapshot-log
  * argument — double-folding a batch would double every power sum).
  *
  * Scale: per batch one map-side-combinable hash agg over the BATCH, one
  * merge agg over state ∪ batch-partials. State is domain-sized
  * (event types × days at the declared grain), never event-sized — the
  * whole point of maintaining sums instead of raw history.
  */
object StreamingMoments {

  val VersionCol = "graft_version"

  /** Fixed state column types: Spark's sum() widens decimal precision by
    * 10 (capped at 38), so partial types drift per fold unless the state
    * is re-cast to one declared schema after every merge.
    */
  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("n", LongType),
    StructField("s1", DecimalType(38, 2)),
    StructField("s2", DecimalType(38, 4)),
    StructField("s3", DecimalType(38, 6)),
    StructField(VersionCol, LongType)))

  private def normalize(df: DataFrame): DataFrame =
    df.select(col("event_type"), col("day"), col("n").cast("long").as("n"),
      col("s1").cast("decimal(38,2)").as("s1"),
      col("s2").cast("decimal(38,4)").as("s2"),
      col("s3").cast("decimal(38,6)").as("s3"))

  /** Latest committed partials strictly below `beforeVersion` (empty frame
    * before the first commit — batch 0 needs no seeding).
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

  /** One micro-batch fold, idempotent in `batchId` (exposed for the
    * crash-retry spec). Expects (event_type, ts, value) rows.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readPartials(spark, stateDir, batchId)
    val merged = normalize(prior)
      .unionByName(normalize(Sketches.momentPartials(batch)))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"), sum(col("s3")).as("s3"))
    normalize(merged)
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
