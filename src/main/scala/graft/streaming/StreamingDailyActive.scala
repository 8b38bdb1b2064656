package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TimeSeries
import graft.streaming.StreamingWrites.GuardedWrites

/** Incremental GROWTH-REPORT maintenance: each micro-batch's (day, user)
  * event census (`TimeSeries.dailyCensus` over the BATCH) folds into the
  * maintained census by per-cell INTEGER ADDITION, and the
  * active/new/returning report is served from the folded state
  * (`TimeSeries.dailyActiveNewFromCensus`) — identical to the batch
  * operator over every event ever streamed (spec-pinned).
  *
  * Why maintain the CENSUS rather than the report: "new" is a property of
  * a user's GLOBAL first-seen day, and a late event can move it backwards
  * — an event for a day that already passed simply increments its
  * (day, user) cell, and the next serve re-derives first-seen from the
  * census, reclassifying that user's old "new" day exactly (a
  * maintain-the-report fold would have to retract a previously published
  * n_new — the StreamingEwma argument, applied to retention). State is
  * (days × users-active-that-day)-sized — the events log compressed to
  * its distinct cells — never event-sized.
  *
  * State = versioned parquet like StreamingEwma: prior read excludes the
  * current version, the folded table dynamically overwrites
  * version=batchId — crash-retries refold identical inputs (exactly-once
  * by the snapshot-log argument; double-folding would double counts, so
  * the versioning is load-bearing).
  */
object StreamingDailyActive {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("d", LongType),
    StructField("user_id", LongType),
    StructField("c", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed census strictly below `beforeVersion`. */
  def readCensus(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** The growth report served from the maintained census — identical to
    * `TimeSeries.dailyActiveNew` over every event ever streamed.
    */
  def serveReport(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.dailyActiveNewFromCensus(readCensus(spark, dir, Long.MaxValue))

  /** One micro-batch fold, idempotent in `batchId`. Expects rows with
    * `ts` and `user_id` columns.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    readCensus(spark, stateDir, batchId)
      .unionByName(TimeSeries.dailyCensus(batch))
      .groupBy(col("d"), col("user_id"))
      .agg(sum(col("c")).as("c"))
      .select(col("d").cast("long").as("d"), col("user_id"),
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
