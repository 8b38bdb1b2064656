package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, count, lit, max}
import org.apache.spark.sql.types._

import graft.ops.VectorOps
import graft.streaming.StreamingWrites.GuardedWrites

/** Quantizer-refresh CUTOVER — the composition StreamingKmeans (drift
  * repair: refreshed centroids) and StreamingAnnIngest (serving index
  * against a FIXED quantizer) deliberately leave open. The ingest contract
  * says the quantizer must never change under a live index (every indexed
  * vector would silently sit in a stale cell); this module is the only
  * sanctioned way a refreshed quantizer reaches serving:
  *
  *   1. the index root holds VERSIONED full indexes, `root/qv=N/…` (each
  *      an ordinary StreamingAnnIngest layout, cell-partitioned);
  *   2. `rebuild(newQv)` re-assigns + re-encodes the ACTIVE version's
  *      corpus against the refreshed centroids into `qv=newQv` — the old
  *      version keeps serving untouched while the rebuild runs;
  *   3. `commit(newQv)` appends one row to the commit log (`root/_commits`,
  *      dynamically overwritten on its qv partition) — the SWAP is this
  *      single metadata write: readers resolve max committed qv, so they
  *      serve entirely-old until the commit lands and entirely-new after.
  *      A probe can never mix versions because `readActiveIndex` reads
  *      exactly one version directory.
  *
  * Exactly-once by the same snapshot-log argument as StreamingCdc: a
  * crashed/retried rebuild rewrites `qv=newQv` from identical inputs
  * (dynamic partition overwrite keyed by (cell, batch_id) — the first
  * attempt's partial files are fully covered); a retried commit rewrites
  * the same qv partition of the log; and an UNCOMMITTED rebuild is
  * invisible to every reader. Rebuild reads the index's own full-precision
  * `cv` column, so no re-read of the source corpus is needed.
  *
  * Scale: the rebuild is the expensive step and is embarrassingly
  * parallel — one zero-shuffle assign/encode projection over the corpus
  * plus a cell-partitioned write (at 100 TB you shard it by the old
  * index's batch_id ranges; each shard is independently idempotent). The
  * cutover itself moves one commit-log row no matter the corpus size, and
  * old versions stay on disk for instant rollback (drop = delete the
  * commit row, then vacuum the directory).
  */
object QuantizerRefresh {

  val QvCol = "qv"

  def versionDir(root: String, qv: Long): String = s"$root/qv=$qv"
  private def commitsDir(root: String) = s"$root/_commits"

  private val commitSchema = StructType(Seq(
    StructField("n_rows", LongType),
    StructField("n_cells", LongType),
    StructField(QvCol, LongType)))

  /** Highest committed index version, or None before the first commit.
    * Only COMMITTED versions exist here — an in-flight rebuild has no row.
    */
  def activeVersion(spark: SparkSession, root: String): Option[Long] = {
    val log =
      try spark.read.schema(commitSchema).parquet(commitsDir(root))
      catch { case _: AnalysisException => return None }
    val maxV = log.agg(max(col(QvCol))).head()
    if (maxV.isNullAt(0)) None else Some(maxV.getLong(0))
  }

  /** The serving index: the single directory of the active version (the
    * empty StreamingAnnIngest frame before any commit). Single-directory
    * read = no probe can ever observe two quantizer versions at once.
    */
  def readActiveIndex(spark: SparkSession, root: String): DataFrame =
    activeVersion(spark, root) match {
      case Some(qv) => StreamingAnnIngest.readIndex(spark, versionDir(root, qv))
      case None => StreamingAnnIngest.readIndex(spark, versionDir(root, -1L))
    }

  /** Re-assign + re-encode the active version's corpus against refreshed
    * centroids into `qv=newQv` — the identical quantized projection ingest
    * runs (shared processBatch), so a served row is bit-compatible whether
    * it arrived by stream or by rebuild. Does NOT swap serving; the old
    * version remains active until `commit`. Idempotent in `newQv`.
    */
  def rebuild(
      spark: SparkSession,
      root: String,
      newQv: Long,
      cents: DataFrame,
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): Unit = {
    val src = readActiveIndex(spark, root)
      .select(col("vec_id"), col("cv").as("embedding"))
    StreamingAnnIngest.processBatch(
      src, batchId = 0L, cents, versionDir(root, newQv), book, prefixDim)
  }

  /** The cutover: publish `newQv` as the active version with one
    * commit-log row (row count + cell count of the rebuilt index, audited
    * at commit time). Idempotent — a retry overwrites the same qv
    * partition of the log.
    */
  def commit(spark: SparkSession, root: String, newQv: Long): Unit = {
    val idx = StreamingAnnIngest.readIndex(spark, versionDir(root, newQv))
    val stats = idx.agg(
      count(lit(1)).as("n_rows"), countDistinct(col("cell")).as("n_cells")).head()
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(stats.getLong(0), stats.getLong(1))), 1),
        StructType(commitSchema.filterNot(_.name == QvCol)))
      .overwritePartition(commitsDir(root), QvCol, newQv)
  }

  /** File-count COMPACTION as a same-quantizer cutover: rebuild the
    * active version against its OWN (unchanged) centroids into `newQv` —
    * one batch partition per cell instead of one per (cell × micro-batch
    * ever ingested) — and commit. The re-encode is a deterministic
    * projection of the stored full-precision vectors, so every row and
    * payload column is identical and serving is unchanged while the
    * per-cell file count collapses to one directory: the cold-batch
    * rewrite the ingest scaladoc promises, inheriting the commit-log
    * atomicity (a crashed compaction is invisible; a retry rewrites the
    * same version). Run it against a quiesced or checkpoint-committed
    * prefix — in-flight micro-batches keep landing in the OLD version
    * and simply ride along in the next compaction or refresh.
    */
  def compact(
      spark: SparkSession,
      root: String,
      newQv: Long,
      cents: DataFrame,
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): Unit =
    cutover(spark, root, newQv, cents, book, prefixDim)

  /** rebuild + commit in sequence — the full refresh handoff. Serving
    * reads see the old version during the rebuild and the new version
    * only after the commit row lands.
    */
  def cutover(
      spark: SparkSession,
      root: String,
      newQv: Long,
      cents: DataFrame,
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim): Unit = {
    rebuild(spark, root, newQv, cents, book, prefixDim)
    commit(spark, root, newQv)
  }

  // ---- GRAPH-TIER CLOSURE -------------------------------------------------
  //
  // StreamingGraphAnn's edges depend on the SAME fixed quantizer as the
  // cell index (candidates are probe-cell co-members), so a drift-
  // triggered refresh that rebuilt only the cell index would leave the
  // graph routing through stale cells. The graph joins the versioned
  // cutover: `graphRoot/qv=N/{postings,dlists}` holds one full graph per
  // quantizer version, rebuilt from the ACTIVE index's own full-precision
  // vectors (the cell index is the system of record; no source-corpus
  // re-read), and BOTH tiers resolve their active version from the ONE
  // commit log at the index root — the single commit row flips the cell
  // index and the graph together, so a reader can never probe new cells
  // while walking old edges or vice versa.

  def graphVersionDir(graphRoot: String, qv: Long): String = s"$graphRoot/qv=$qv"

  /** Re-derive the full proximity graph against refreshed centroids into
    * `graphRoot/qv=newQv`, from the active cell index's (vec_id, cv).
    * One whole-corpus batch through the streaming maintainer's own
    * processBatch, whose streamed-equals-batch invariant makes the result
    * ≡ `VectorOps.graphEdges` over the new centroids (spec-pinned). Does
    * NOT swap serving — the old graph version stays active until the
    * shared `commit`. Idempotent in `newQv` (partition overwrite under an
    * uncommitted, hence invisible, directory).
    */
  def rebuildGraph(
      spark: SparkSession,
      indexRoot: String,
      graphRoot: String,
      newQv: Long,
      cents: DataFrame,
      degree: Int = VectorOps.GraphDegree,
      probe: Int = VectorOps.GraphProbe): Unit = {
    val src = readActiveIndex(spark, indexRoot)
      .select(col("vec_id"), col("cv").as("embedding"))
    StreamingGraphAnn.processBatch(
      src, batchId = 0L, cents, graphVersionDir(graphRoot, newQv), degree, probe)
  }

  /** The serving graph: edges of the version the INDEX commit log names
    * active — same single-directory-read argument as `readActiveIndex`,
    * and the same log, so the two tiers cannot disagree on the version.
    */
  def readActiveGraphEdges(
      spark: SparkSession, indexRoot: String, graphRoot: String): DataFrame =
    StreamingGraphAnn.readEdges(spark,
      graphVersionDir(graphRoot, activeVersion(spark, indexRoot).getOrElse(-1L)))

  /** The active version's posting index (the graph walk's scoring side). */
  def readActiveGraphPostings(
      spark: SparkSession, indexRoot: String, graphRoot: String): DataFrame =
    StreamingGraphAnn.readPostings(spark,
      graphVersionDir(graphRoot, activeVersion(spark, indexRoot).getOrElse(-1L)))

  /** Atomic two-tier refresh: rebuild the cell index AND the graph
    * against the refreshed centroids, then publish both with the single
    * commit row. A crash anywhere before the commit leaves both tiers
    * serving the old version in full; a retry rewrites both uncommitted
    * directories identically.
    */
  def cutoverWithGraph(
      spark: SparkSession,
      indexRoot: String,
      graphRoot: String,
      newQv: Long,
      cents: DataFrame,
      book: Option[graft.functions.PqBook] = None,
      prefixDim: Int = VectorOps.MrlPrefixDim,
      degree: Int = VectorOps.GraphDegree,
      probe: Int = VectorOps.GraphProbe): Unit = {
    rebuildGraph(spark, indexRoot, graphRoot, newQv, cents, degree, probe)
    rebuild(spark, indexRoot, newQv, cents, book, prefixDim)
    commit(spark, indexRoot, newQv)
  }
}
