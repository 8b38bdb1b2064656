package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.VectorOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Mini-batch streaming k-means — the quantizer-DRIFT repair tier between
  * `StreamingDrift` (detects a shifted distribution) and
  * `StreamingAnnIngest` (indexes against a FIXED quantizer): each
  * micro-batch folds its per-cell means into the running centroids with
  * count-weighted blending,
  *
  *   c' = (n_hist·c + n_batch·mean_batch) / (n_hist + n_batch),
  *
  * the classic mini-batch/streaming k-means update (Sculley, WWW'10;
  * Spark MLlib's StreamingKMeans shape, re-expressed on DataFrames).
  *
  * State = the k×dim centroid table itself, persisted as VERSIONED
  * parquet exactly like StreamingCdc's snapshot log: the prior-centroid
  * read excludes the current batch's version, and the k-row write
  * dynamically overwrites version=batchId — so a crash-retry recomputes
  * from identical inputs and the fold is EXACTLY-ONCE by the same
  * argument (critical here, because double-folding a batch would
  * double-weight its points).
  *
  * Scale: per batch one zero-shuffle assignment projection over the batch
  * (never any historical data) + one k×dim aggregate collect; the blend
  * itself is k×dim driver arithmetic. Cold start seeds centroids from the
  * first batch's k lowest vec_ids (deterministic).
  */
object StreamingKmeans {

  val VersionCol = "graft_version"

  private def stateSchema(dim: Int) = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("centroid", ArrayType(DoubleType)),
    StructField("n_hist", LongType),
    StructField(VersionCol, LongType)))

  /** Latest committed centroids strictly below `beforeVersion`, or None
    * before the first commit.
    */
  def readCentroids(
      spark: SparkSession, dir: String, dim: Int,
      beforeVersion: Long): Option[Array[(Int, Seq[Double], Long)]] = {
    val all =
      try spark.read.schema(stateSchema(dim)).parquet(dir)
        .filter(col(VersionCol) < beforeVersion)
      catch { case _: AnalysisException => return None }
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) None
    else Some(all.filter(col(VersionCol) === maxV.getLong(0))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2)))
      .sortBy(_._1))
  }

  /** One micro-batch fold, exposed for the crash-retry spec. Idempotent in
    * `batchId`.
    */
  def processBatch(
      batch: DataFrame, batchId: Long,
      stateDir: String, k: Int, dim: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val prior = readCentroids(spark, stateDir, dim, batchId)
    val cents: Array[(Int, Seq[Double], Long)] = prior.getOrElse {
      batch.select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).limit(k).collect()
        .zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1), 0L) }
    }
    val stats = VectorOps
      .cellStats(VectorOps.assignCells(batch, cents.map(c => (c._1, c._2))), dim)
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Double](2)))
      .toMap
    val updated = cents.map { case (cell, c, nH) =>
      stats.get(cell) match {
        case Some((nB, m)) =>
          val nT = nH + nB
          val blended = c.zip(m).map { case (ci, mi) =>
            math.rint((nH * ci + nB * mi) / nT * 1e6) / 1e6
          }
          (cell, blended, nT)
        case None => (cell, c, nH) // empty cell this batch: unchanged
      }
    }
    updated.toSeq.toDF("cell", "centroid", "n_hist")
      .overwritePartition(stateDir, VersionCol, batchId)
  }

  def start(
      vecStream: DataFrame, stateDir: String, checkpointDir: String,
      k: Int, dim: Int): StreamingQuery =
    vecStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir, k, dim)
      }
      .start()
}
