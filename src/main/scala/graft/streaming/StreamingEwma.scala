package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TimeSeries
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental smoothed-baseline maintenance: each micro-batch's hourly
  * event counts (TimeSeries.hourlyCounts over the BATCH) fold into the
  * maintained per-(type, hour) count table by per-cell INTEGER ADDITION,
  * and the dyadic EWMA is served from the maintained grid
  * (TimeSeries.ewmaFromCounts over the gap-filled state) — identical to
  * a full-history recompute, bit for bit (spec-pinned).
  *
  * Maintaining COUNTS rather than the smoothed values is what makes
  * LATE EVENTS exact: an event for an hour that already passed simply
  * increments that hour's cell, and the next serve re-smooths every
  * row the change influences — where a maintain-the-EWMA-directly fold
  * would need to back-propagate the correction through the recursion
  * (the watermark-and-drop compromise this design avoids). The state is
  * DOMAIN-sized (types × observed hours — a year of hourly grid is
  * 8.8k rows/type), never corpus-sized; the serve-time window block is
  * over that same domain-sized grid.
  *
  * State = versioned parquet exactly like StreamingCms: prior read
  * excludes the current version, merged table dynamically overwrites
  * version=batchId — crash-retries refold identical inputs
  * (exactly-once by the snapshot-log argument; double-folding a batch
  * would double its counts, so the versioning is load-bearing here,
  * unlike the idempotent Bloom fold).
  */
object StreamingEwma {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("h", LongType),
    StructField("c", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed count table strictly below `beforeVersion`. */
  def readCounts(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** The smoothed series served from the maintained grid — identical to
    * `TimeSeries.ewmaHourly` over every event ever streamed.
    */
  def serveEwma(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.ewmaFromCounts(
      TimeSeries.fillGrid(readCounts(spark, dir, Long.MaxValue)))

  /** One micro-batch fold, idempotent in `batchId` (exposed for the
    * crash-retry spec). Expects rows with `event_type` and `ts` columns.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = readCounts(spark, stateDir, batchId)
    prior.unionByName(TimeSeries.hourlyCounts(batch))
      .groupBy(col("event_type"), col("h"))
      .agg(sum(col("c")).as("c"))
      .select(col("event_type"), col("h").cast("long").as("h"),
        col("c").cast("long").as("c"))
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
