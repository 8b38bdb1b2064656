package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TimeSeries
import graft.streaming.StreamingWrites.GuardedWrites

/** Streaming CUSUM — an incremental PREFIX SCAN, one step past the
  * abelian folds (CMS/HLL/moments merge by addition; a scan has ORDER).
  * The batch operator's closed form S⁺ᵢ = Aᵢ − min(0, min_{j≤i} Aⱼ)
  * (A = running sum minus drift line) decomposes across a batch
  * boundary: with per-user state (i₀, p₀, m₀ = min over historical
  * prefixes, alarm counts, peaks), a new batch's rows score as
  *
  *   A_tot = A_local + (p₀ − i₀·c)       (one constant offset per user)
  *   S⁺    = A_tot − min(0, m₀, minlocal(A_local) + offset)
  *
  * so each micro-batch needs ONE keyed window over the BATCH plus a
  * per-user join against constant-width state — never a rescan of
  * history. The maintained per-user report (event count, alarm counts,
  * peak excursions) equals the batch operator over everything ever
  * streamed, proven in the spec.
  *
  * Contract: per-user event-time order across batches (the usual
  * keyed-stream delivery); within a batch rows are ordered by
  * (ts, event_id) exactly like the batch operator.
  *
  * State = versioned parquet like the sibling folds: prior read excludes
  * the current version, merged state dynamically overwrites
  * version=batchId — crash-retries refold identical inputs
  * (exactly-once by the snapshot-log argument).
  */
object StreamingCusum {

  val VersionCol = "graft_version"

  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("n_events", LongType),
    StructField("p", DecimalType(28, 2)),
    StructField("m_up", DecimalType(28, 2)),
    StructField("m_dn", DecimalType(28, 2)),
    StructField("n_up_alarms", LongType),
    StructField("n_down_alarms", LongType),
    StructField("peak_up", DecimalType(28, 2)),
    StructField("peak_down", DecimalType(28, 2)),
    StructField(VersionCol, LongType)))

  /** Latest committed per-user state strictly below `beforeVersion`. */
  def readState(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame = {
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

  /** The maintained report in the batch operator's exact output shape. */
  def report(spark: SparkSession, dir: String): DataFrame =
    readState(spark, dir, Long.MaxValue)
      .select(col("user_id"), col("n_events"),
        col("n_up_alarms"), col("n_down_alarms"),
        col("peak_up").cast("decimal(18,2)").cast("double").as("peak_up"),
        col("peak_down").cast("decimal(18,2)").cast("double").as("peak_down"))

  /** One micro-batch scan fold, idempotent in `batchId`. Expects
    * (user_id, ts, event_id, value) rows.
    */
  def processBatch(
      batch: DataFrame, batchId: Long, stateDir: String,
      target: String = TimeSeries.CusumTarget,
      slack: String = TimeSeries.CusumSlack,
      threshold: String = TimeSeries.CusumThreshold): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val dec = (s: String) => lit(s).cast("decimal(18,2)")
    val cUp = dec(target) + dec(slack)
    val cDn = dec(target) - dec(slack)
    val h = dec(threshold)
    val zero = lit("0.00").cast("decimal(28,2)")

    val prior = readState(spark, stateDir, batchId)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val local = batch
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,2)").as("v"))
      .withColumn("lp", sum(col("v")).over(w))
      .withColumn("li", row_number().over(w))
      .withColumn("la_up", (col("lp") - col("li") * cUp).cast("decimal(28,2)"))
      .withColumn("la_dn", (col("lp") - col("li") * cDn).cast("decimal(28,2)"))
      .withColumn("lmin_up", min(col("la_up")).over(w))
      .withColumn("lmax_dn", max(col("la_dn")).over(w))

    val joined = local.join(prior, Seq("user_id"), "left")
      .withColumn("i0", coalesce(col("n_events"), lit(0L)))
      .withColumn("p0", coalesce(col("p"), zero))
      .withColumn("off_up", (col("p0") - col("i0") * cUp).cast("decimal(28,2)"))
      .withColumn("off_dn", (col("p0") - col("i0") * cDn).cast("decimal(28,2)"))
      // least/greatest skip nulls, so an absent m0 (new user) falls back
      // to the batch-local extremum exactly
      .withColumn("s_plus", ((col("la_up") + col("off_up")) -
        least(zero, col("m_up"), (col("lmin_up") + col("off_up")).cast("decimal(28,2)")))
        .cast("decimal(28,2)"))
      .withColumn("s_minus", (greatest(zero, col("m_dn"),
        (col("lmax_dn") + col("off_dn")).cast("decimal(28,2)")) -
        (col("la_dn") + col("off_dn"))).cast("decimal(28,2)"))

    val perUser = joined.groupBy(col("user_id"))
      .agg(
        (first(col("i0")) + count(lit(1))).as("n_events"),
        (first(col("p0")) + sum(col("v"))).cast("decimal(28,2)").as("p"),
        least(first(col("m_up")),
          (min(col("la_up")) + first(col("off_up"))).cast("decimal(28,2)")).as("m_up"),
        greatest(first(col("m_dn")),
          (max(col("la_dn")) + first(col("off_dn"))).cast("decimal(28,2)")).as("m_dn"),
        (coalesce(first(col("n_up_alarms")), lit(0L)) +
          sum(when(col("s_plus") > h, 1L).otherwise(0L))).as("n_up_alarms"),
        (coalesce(first(col("n_down_alarms")), lit(0L)) +
          sum(when(col("s_minus") > h, 1L).otherwise(0L))).as("n_down_alarms"),
        greatest(first(col("peak_up")), max(col("s_plus"))).cast("decimal(28,2)").as("peak_up"),
        greatest(first(col("peak_down")), max(col("s_minus"))).cast("decimal(28,2)").as("peak_down"))

    val untouched = prior.join(batch.select(col("user_id")).distinct(),
      Seq("user_id"), "left_anti")
    untouched.unionByName(perUser)
      .overwritePartition(stateDir, VersionCol, batchId)
  }

  def start(
      eventStream: DataFrame, stateDir: String, checkpointDir: String,
      target: String = TimeSeries.CusumTarget,
      slack: String = TimeSeries.CusumSlack,
      threshold: String = TimeSeries.CusumThreshold): StreamingQuery =
    eventStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir, target, slack, threshold)
      }
      .start()
}
