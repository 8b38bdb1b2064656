package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.{Cdc, Privacy}
import graft.streaming.StreamingWrites.GuardedWrites

/** Incrementally-maintained GOVERNANCE audits over the CDC event feed —
  * k-anonymity and l-diversity as continuously-current views instead of
  * batch re-scans: the per-class census (quasi tuple → row count +
  * distinct sensitive users) is maintained per micro-batch by the
  * StreamingIvm RECOMPUTE-AFFECTED-GROUPS pattern (n_sens is a distinct
  * count — non-invertible, so delta folds can't express it; re-deriving
  * exactly the touched classes from the class-sized snapshot slice can),
  * and both reports roll up from the maintained view at read time
  * (Privacy.kAnonymityReportFromClasses / lDiversityReportFromClasses).
  *
  * Per batch:
  *   1. touched classes = quasi tuples of the batch's rows ∪ the PRIOR
  *      quasi tuples of every batched key (an update can move a row
  *      between classes; a tombstone shrinks its old class — both ends
  *      must refresh);
  *   2. reconcile the touched-class slice of the prior snapshot with the
  *      batch (Cdc.applyChanges — the SAME latest-wins fold the base
  *      table commits, so view and snapshot cannot diverge on
  *      out-of-order or stale batches);
  *   3. recompute those classes' census from the reconciled slice and
  *      splice it over the prior view's untouched rows (emptied classes
  *      simply drop out).
  *
  * Why this matters operationally: re-identification risk must be
  * re-checked every time rows land or die — a delete can push a class
  * below k silently. The maintained view makes the check O(|touched
  * classes' rows|) per batch, never O(|snapshot|); on a class-partitioned
  * snapshot store the slice read is partition-pruned.
  *
  * State = versioned parquet snapshots like every sibling fold: prior
  * view read excludes the current version, the fold overwrites
  * version=batchId dynamically — crash retries refold identical inputs
  * (exactly-once by the snapshot-log argument).
  */
object StreamingGovernance {

  val VersionCol = "graft_version"

  private val quasiCols = Seq("event_type", "day", "vb")

  private val viewSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("vb", LongType),
    StructField("cls_n", LongType),
    StructField("n_sens", LongType),
    StructField(VersionCol, LongType)))

  /** Shared versioned-view reader (the readCounts/readSketch shape):
    * latest committed rows strictly below `beforeVersion`, empty frame
    * before the first commit.
    */
  private def readVersionedView(
      spark: SparkSession, dir: String, schema: StructType,
      beforeVersion: Long): DataFrame = {
    val all =
      try spark.read.schema(schema).parquet(dir)
        .filter(col(VersionCol) < beforeVersion)
      catch {
        case _: AnalysisException =>
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema).drop(VersionCol)
      }
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) all.limit(0).drop(VersionCol)
    else all.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** Latest committed class view strictly below `beforeVersion`. */
  def readClassView(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame =
    readVersionedView(spark, dir, viewSchema, beforeVersion)

  private def withQuasi(df: DataFrame): DataFrame =
    df.withColumn("day", to_date(col("ts")))
      .withColumn("vb", floor(col("value") / lit(Privacy.ValueBucket)).cast("long"))

  /** One micro-batch fold, idempotent in `batchId`. Expects the event
    * change-feed schema: `keyCols` + `versionCols` + `deleteCol` plus the
    * audit columns (event_type, ts, value, user_id). Also advances the
    * composed base snapshot (StreamingCdc) after the view commit.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      viewDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String): Unit =
    foldViews(batch, batchId, snapshotDir, viewDir, None,
      keyCols, versionCols, deleteCol)

  /** The ONE touched-class fold both public entry points share — the
    * subtle exactly-once logic (touched-quasi set, latest-wins
    * reconciliation, splice-over-untouched) lives here exactly once;
    * `cuViewDir = Some(...)` additionally advances the (class, user)
    * census the t-closeness audit serves from.
    */
  private def foldViews(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      viewDir: String,
      cuViewDir: Option[String],
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String): Unit = {
    val spark = batch.sparkSession
    val snapSchema = StructType(batch.schema.filterNot(_.name == deleteCol))
    val prev = StreamingCdc.latestSnapshot(spark, snapshotDir, snapSchema, batchId)

    val touchedKeys = batch.select(keyCols.map(col): _*).distinct()
    val prevQ = withQuasi(prev)
    // tq and the reconciled slice feed up to two write jobs each —
    // persist both so neither job re-scans the base snapshot
    val tq = withQuasi(batch).select(quasiCols.map(col): _*)
      .unionByName(prevQ.join(touchedKeys, keyCols, "left_semi")
        .select(quasiCols.map(col): _*))
      .distinct().persist()
    val prevSlice = prevQ.join(tq, quasiCols, "left_semi").drop("day", "vb")
    val nextSlice =
      Cdc.applyChanges(prevSlice, batch, keyCols, versionCols, deleteCol).persist()
    try {
      readClassView(spark, viewDir, batchId)
        .join(tq, quasiCols, "left_anti")
        .unionByName(Privacy.classStats(nextSlice))
        .select(col("event_type"), col("day"), col("vb"),
          col("cls_n").cast("long").as("cls_n"), col("n_sens").cast("long").as("n_sens"))
        .overwritePartition(viewDir, VersionCol, batchId)

      cuViewDir.foreach { cuDir =>
        readCuView(spark, cuDir, batchId)
          .join(tq, quasiCols, "left_anti")
          .unionByName(Privacy.classUserCounts(nextSlice))
          .select(col("event_type"), col("day"), col("vb"),
            col("user_id").cast("long").as("user_id"), col("c_u").cast("long").as("c_u"))
          .overwritePartition(cuDir, VersionCol, batchId)
      }
    } finally { nextSlice.unpersist(); tq.unpersist(): Unit }

    StreamingCdc.processBatch(batch, batchId, snapshotDir, keyCols, versionCols, deleteCol)
  }

  private val cuViewSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("vb", LongType),
    StructField("user_id", LongType),
    StructField("c_u", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed (class, user) census strictly below `beforeVersion`. */
  def readCuView(spark: SparkSession, dir: String, beforeVersion: Long): DataFrame =
    readVersionedView(spark, dir, cuViewSchema, beforeVersion)

  /** t-closeness served from the maintained census — identical to the
    * batch audit over the latest snapshot: global counts and totals are
    * rollups OF the census, so maintaining the one (class, user) table
    * by touched-class recompute keeps the whole audit current (a class's
    * TVD depends on the global distribution, but that dependence lives
    * entirely in the read-time rollup, not in state).
    */
  def serveTCloseness(
      spark: SparkSession, cuViewDir: String,
      tPpm: Long = Privacy.TCloseTPpm): DataFrame =
    Privacy.tClosenessFromCounts(
      readCuView(spark, cuViewDir, Long.MaxValue), tPpm)

  /** The combined fold: the class census (k-anon/l-div view) AND the
    * (class, user) census (t-closeness view) advance from the same
    * reconciled touched-class slice, then the base snapshot commits —
    * one batch, three exactly-once state writes. Idempotent in
    * `batchId`.
    */
  def processBatchWithTCloseness(
      batch: DataFrame,
      batchId: Long,
      snapshotDir: String,
      viewDir: String,
      cuViewDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String): Unit =
    foldViews(batch, batchId, snapshotDir, viewDir, Some(cuViewDir),
      keyCols, versionCols, deleteCol)

  /** `cuViewDir = Some(...)` also maintains the t-closeness census from
    * the module's own streaming entry point (no hand-rolled foreachBatch
    * needed for the third view).
    */
  def start(
      changeStream: DataFrame,
      snapshotDir: String,
      viewDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      deleteCol: String,
      cuViewDir: Option[String] = None): StreamingQuery =
    changeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldViews(batch, batchId, snapshotDir, viewDir, cuViewDir,
          keyCols, versionCols, deleteCol)
      }
      .start()
}
