package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{Dedup, DedupIndex, Graph}
import graft.streaming.StreamingWrites.GuardedWrites

/** Structured-Streaming MAINTENANCE of the full near-dup graph artifact —
  * the batch `DedupIndex.build` kept current as documents arrive, so the
  * ~18 graph/survivorship reports that serve FROM the artifact never wait
  * for (or pay for) a full LSH + LPA + CC rebuild of the corpus.
  *
  * Per micro-batch of NEW documents (unique doc_ids across the stream —
  * an ingest feed, not a CDC feed):
  *
  *   1. SIGNATURES — MinHash the batch once, append under its batch_id
  *      partition (history is never re-shingled or re-hashed; the
  *      StreamingChunkDedup index shape, at document granularity).
  *   2. PAIRS — probe the batch's bands against the accumulated signature
  *      index (`Dedup.minhashLshPairsIncremental`): every candidate pair
  *      is generated exactly once, in the batch of its later endpoint, so
  *      the appended partitions reconstruct the batch pair graph exactly.
  *   3. COMPONENTS — the StreamingComponents fold over the new pairs:
  *      touched components re-enter the fixpoint as star edges only,
  *      untouched components pass through.
  *   4. LABELS — weighted-LPA communities maintained by TOUCHED-COMPONENT
  *      RECOMPUTE: LPA is a synchronous fixed-round propagation along
  *      edges, so a component's labels depend only on that component's
  *      edge set — recomputing LPA over just the touched components'
  *      accumulated pairs and splicing over untouched labels is EXACTLY
  *      the batch `labelPropagationWeighted` over the full graph
  *      (spec-pinned per batch, including cross-batch community merges).
  *
  * Scale: per batch the work is |batch| signature rows, one banded probe
  * (O(new collisions)), the star-certificate CC rebuild, and LPA over the
  * touched components' subgraph — nothing corpus-sized recomputes. The
  * label step reads the accumulated pair table sliced by a membership
  * semi-join; in production that table is bucketed by doc_a so the slice
  * is a pruned scan.
  *
  * Delivery: EXACTLY-ONCE across crash retries by the family mechanism —
  * every derived table is deterministic in (batch contents, prior
  * committed state), Structured Streaming pins batch contents in the
  * checkpoint, reads exclude the current batch's own partition/version,
  * and every write overwrites its own batch_id / version partition, so a
  * replayed batch REPLACES its own first attempt (replay spec-pinned).
  */
object StreamingDedupIndex {

  private val BatchCol = "batch_id"
  private val VersionCol = StreamingComponents.VersionCol

  private val sigSchema = StructType(
    StructField("doc_id", LongType) +:
      (0 until Dedup.MinhashK).map(i => StructField(s"mh$i", LongType)) :+
      StructField(BatchCol, LongType))

  private val pairsSchema = StructType(Seq(
    StructField("doc_a", LongType),
    StructField("doc_b", LongType),
    StructField("est_jaccard", org.apache.spark.sql.types.DoubleType),
    StructField(BatchCol, LongType)))

  private val labelsSchema = StructType(Seq(
    StructField("node", LongType),
    StructField("community", LongType),
    StructField(VersionCol, LongType)))

  private val comp3Schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("rep", LongType),
    StructField(VersionCol, LongType)))

  private def readOr(spark: SparkSession, path: String, schema: StructType): DataFrame =
    try spark.read.schema(schema).parquet(path)
    catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Whether any derived table (components/labels/components3) was ever
    * built — absent for `processBatchCore` deployments, whose forget path
    * then skips the derived recompute.
    */
  private def derivedTablesExist(spark: SparkSession, indexDir: String): Boolean =
    Seq("components", "labels", "components3").exists { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$sub")
      p.getFileSystem(spark.sessionState.newHadoopConf).exists(p)
    }

  /** Accumulated signature index strictly below `beforeBatch`. */
  def readSignatures(spark: SparkSession, indexDir: String, beforeBatch: Long): DataFrame =
    readOr(spark, s"$indexDir/signatures", sigSchema)
      .filter(col(BatchCol) < beforeBatch).drop(BatchCol)

  /** Accumulated pair graph up to and including `throughBatch`. */
  def readPairs(spark: SparkSession, indexDir: String, throughBatch: Long): DataFrame =
    readOr(spark, s"$indexDir/pairs", pairsSchema)
      .filter(col(BatchCol) <= throughBatch).drop(BatchCol)

  /** Latest committed label table strictly below `beforeVersion`. */
  def readLabels(spark: SparkSession, indexDir: String, beforeVersion: Long): DataFrame = {
    val all = readOr(spark, s"$indexDir/labels", labelsSchema)
      .filter(col(VersionCol) < beforeVersion)
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) all.limit(0).drop(VersionCol)
    else all.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** Latest committed bounded-hop component table strictly below
    * `beforeVersion` — maintained by the same touched-component recompute
    * as labels (bounded-hop labels, like LPA labels, depend only on the
    * node's own connected component's edge set, so splice ≡ batch).
    */
  def readComponents3(spark: SparkSession, indexDir: String, beforeVersion: Long): DataFrame = {
    val all = readOr(spark, s"$indexDir/components3", comp3Schema)
      .filter(col(VersionCol) < beforeVersion)
    val maxV = all.agg(max(col(VersionCol))).head()
    if (maxV.isNullAt(0)) all.limit(0).drop(VersionCol)
    else all.filter(col(VersionCol) === maxV.getLong(0)).drop(VersionCol)
  }

  /** The maintained artifact in `DedupIndex.Frames` shape, so every
    * `*From` report reads the streamed index exactly as it reads a batch
    * build.
    */
  def readIndex(spark: SparkSession, indexDir: String): DedupIndex.Frames =
    DedupIndex.Frames(
      pairs = readPairs(spark, indexDir, Long.MaxValue),
      labels = readLabels(spark, indexDir, Long.MaxValue),
      components = StreamingComponents.readComponents(
        spark, s"$indexDir/components", Long.MaxValue),
      components3 = readComponents3(spark, indexDir, Long.MaxValue))

  /** One micro-batch of the maintenance loop, idempotent in `batchId`.
    * Expects document rows (doc_id, text, ...).
    */
  /** PRIMARY-TABLES-ONLY fold: signatures + incremental pairs, no derived
    * communities/components. The deployment shape that serves the pair
    * graph alone (near-dup lookup, takedown compliance) pays only the
    * signature/probe cost per micro-batch — the derived fixpoints
    * (exact-CC, LPA, bounded-hop) are by far the fold's job-count hogs
    * and are pure overhead when nothing reads their tables. The forget
    * path detects the missing derived directories and skips their
    * recompute, so `processDeletes` against a core-built index costs only
    * the copy-on-write scrub.
    */
  def processBatchCore(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    Dedup.minhashSignatures(batch).overwritePartition(s"$indexDir/signatures", BatchCol, batchId)
    probeBatch(batch.sparkSession, indexDir, batchId)
      .overwritePartition(s"$indexDir/pairs", BatchCol, batchId)
  }

  /** This batch's new candidate pairs: its signatures, read back from
    * the partition just written, probed against the signature index
    * through this batch. The read stops at `batchId`, so a retry probes
    * the index its first attempt saw (its own partition rewritten
    * identically). Both sides are partition-pruned scans of one table:
    * no cached frame, no union, and the same plan every batch.
    */
  private def probeBatch(spark: SparkSession, indexDir: String, batchId: Long): DataFrame = {
    val sigs = readOr(spark, s"$indexDir/signatures", sigSchema)
      .filter(col(BatchCol) <= batchId)
    Dedup.minhashLshPairsIncremental(
      sigs.filter(col(BatchCol) === batchId).drop(BatchCol), sigs.drop(BatchCol))
  }

  def processBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    val spark = batch.sparkSession
    // every guarded write below also drops the shared file-status cache
    // entries for its directory (StreamingWrites), so a retry's reads see
    // the rewrite instead of the first attempt's vanished files
    // 1. signatures of the batch
    Dedup.minhashSignatures(batch).overwritePartition(s"$indexDir/signatures", BatchCol, batchId)
    // 2. pairs: batch bands vs the signature index through this batch
    val newPairs = probeBatch(spark, indexDir, batchId).persist()
    try {
      newPairs.overwritePartition(s"$indexDir/pairs", BatchCol, batchId)
      // 3. components: the star-certificate incremental fold
      StreamingComponents.processBatch(
        newPairs, batchId, s"$indexDir/components")
      // 4. labels: recompute LPA over the touched components only.
      // Touched = components (POST-fold, so merges are already joint)
      // containing any endpoint of this batch's new pairs.
      val comps = StreamingComponents.readComponents(
        spark, s"$indexDir/components", batchId + 1)
      val priorLabels = readLabels(spark, indexDir, batchId)
      val batchNodes = newPairs.select(col("doc_a").as("doc_id"))
        .unionByName(newPairs.select(col("doc_b").as("doc_id"))).distinct()
      val touchedReps = comps.join(batchNodes, Seq("doc_id"), "left_semi")
        .select(col("rep")).distinct()
      val members = comps.join(touchedReps, Seq("rep"), "left_semi")
        .select(col("doc_id"))
      // every pair is intra-component, so filtering on doc_a alone
      // selects exactly the touched components' edge sets (persisted:
      // both the LPA and bounded-hop recomputes read this slice)
      val subPairs = readPairs(spark, indexDir, batchId)
        .join(members.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .persist()
      try {
        val recomputed = Graph.labelPropagationWeightedEager(
          subPairs.withColumnRenamed("est_jaccard", "weight"))
        val untouched = priorLabels
          .join(members.withColumnRenamed("doc_id", "node"), Seq("node"), "left_anti")
        untouched.unionByName(recomputed)
          .overwritePartition(s"$indexDir/labels", VersionCol, batchId)
        // 5. bounded-hop components: same touched-component recompute —
        // the 3-iteration labels of a node depend only on its own
        // component's edges, so recompute-over-touched + splice is
        // EXACTLY the batch nearDupComponents over the full graph
        val priorC3 = readComponents3(spark, indexDir, batchId)
        priorC3.join(members, Seq("doc_id"), "left_anti")
          .unionByName(Dedup.nearDupComponents(subPairs))
          .overwritePartition(s"$indexDir/components3", VersionCol, batchId)
      } finally subPairs.unpersist()
    } finally newPairs.unpersist()
  }

  /** One micro-batch of a MIXED change feed — document rows plus a boolean
    * `deleteCol` — folding upserts AND takedowns into the maintained
    * artifact in one version write. The delete side is what the insert-only
    * fold cannot express: removing a doc can SPLIT a component (the doc
    * was the bridge), so the star certificate is insufficient and the
    * touched components re-enter the fixpoint over their SURVIVING edges:
    *
    *   1. SCRUB — the tombstoned docs' signature rows and every pair
    *      naming them are physically removed from prior partitions
    *      (IndexTombstones copy-on-write; both pair endpoints scrubbed).
    *      Post-scrub, signatures ≡ survivors' signatures and pairs ≡ the
    *      banded candidates over survivors — pair generation is pairwise
    *      in the two endpoint signatures, so no other row changes.
    *   2. INGEST — the upserts' signatures append under this batch's
    *      partition; new pairs come from the incremental banded probe
    *      against the scrubbed history (each pair generated exactly once).
    *   3. REBUILD TOUCHED — touched components = prior components of any
    *      tombstoned doc or new-pair endpoint. Their surviving prior edges
    *      (every pair is intra-component, so a doc_a membership semi-join
    *      selects them all) union the new pairs re-enter the exact-CC
    *      fixpoint and weighted LPA; splits (bridge removed), merges (new
    *      pair spans components), and vanishing nodes (no surviving edges)
    *      all fall out, untouched components pass through — EXACTLY the
    *      batch `DedupIndex.build` over the surviving corpus (spec-pinned).
    *
    * Delivery: exactly-once by the family argument — the scrub is
    * idempotent (it excludes this batch's own partitions, so a retry
    * cannot eat the first attempt's upserts), every read excludes the
    * current batch/version, every write overwrites its own partition.
    * Within one batch, delete+insert of the same doc_id resolves
    * insert-wins (compact upstream with `Cdc.latestWins` for strict
    * per-key version order).
    */
  def processCdcBatch(
      batch: DataFrame, batchId: Long, indexDir: String,
      deleteCol: String = "is_delete"): Unit = {
    val spark = batch.sparkSession
    val dels = batch.filter(col(deleteCol)).select(col("doc_id")).distinct().persist()
    val adds = batch.filter(!col(deleteCol)).drop(deleteCol)
    try {
      // 1. scrub: signatures, then pairs on both endpoints
      IndexTombstones.scrub(
        readOr(spark, s"$indexDir/signatures", sigSchema)
          .filter(col(BatchCol) =!= batchId),
        dels, Seq("doc_id"), s"$indexDir/signatures", Seq(BatchCol))
      Seq("doc_a", "doc_b").foreach { end =>
        IndexTombstones.scrub(
          readOr(spark, s"$indexDir/pairs", pairsSchema)
            .filter(col(BatchCol) =!= batchId),
          dels.withColumnRenamed("doc_id", end), Seq(end),
          s"$indexDir/pairs", Seq(BatchCol))
      }
      // 2. ingest the upserts (the insert fold's steps 1-2 verbatim).
      // A delete-only batch (the takedown path) skips the empty ingest —
      // writing empty signature/pair partitions is pure job overhead.
      val hasAdds = !adds.isEmpty
      if (hasAdds)
        Dedup.minhashSignatures(adds).overwritePartition(s"$indexDir/signatures", BatchCol, batchId)
      val newPairs = (if (hasAdds) probeBatch(spark, indexDir, batchId)
        else readPairs(spark, indexDir, batchId).limit(0)).persist()
      try {
        if (hasAdds) newPairs.overwritePartition(s"$indexDir/pairs", BatchCol, batchId)
        // 3. one exact rebuild over the touched components' surviving
        // edges ∪ the new pairs (disjoint by exactly-once generation,
        // so no weighted edge is double-counted). SKIPPED entirely when
        // the derived tables were never built (processBatchCore
        // deployments): recomputing communities nobody serves would
        // dominate the forget's cost for nothing.
        if (!derivedTablesExist(spark, indexDir)) return
        val prior = StreamingComponents.readComponents(
          spark, s"$indexDir/components", batchId)
        val priorLabels = readLabels(spark, indexDir, batchId)
        val touchNodes = newPairs.select(col("doc_a").as("doc_id"))
          .unionByName(newPairs.select(col("doc_b").as("doc_id")))
          .unionByName(dels).distinct()
        val touchedReps = prior.join(touchNodes, Seq("doc_id"), "left_semi")
          .select(col("rep")).distinct()
        val members = prior.join(touchedReps, Seq("rep"), "left_semi")
          .select(col("doc_id"))
        val oldEdges = readPairs(spark, indexDir, batchId - 1)
          .join(members.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        val edges = oldEdges.unionByName(newPairs).persist()
        try {
          val rebuilt = Dedup.nearDupComponentsExact(edges)
          prior.join(touchedReps, Seq("rep"), "left_anti")
            .select(col("doc_id"), col("rep"))
            .unionByName(rebuilt.select(col("doc_id"), col("rep")))
            .overwritePartition(s"$indexDir/components", VersionCol, batchId)
          val recomputed = Graph.labelPropagationWeightedEager(
            edges.withColumnRenamed("est_jaccard", "weight"))
          priorLabels
            .join(members.withColumnRenamed("doc_id", "node"), Seq("node"), "left_anti")
            .unionByName(recomputed)
            .overwritePartition(s"$indexDir/labels", VersionCol, batchId)
          // bounded-hop components over the same surviving edge set:
          // touched members (incl. every tombstoned doc) leave the prior
          // table; survivors with edges re-enter via the recompute
          readComponents3(spark, indexDir, batchId)
            .join(members, Seq("doc_id"), "left_anti")
            .unionByName(Dedup.nearDupComponents(edges))
            .overwritePartition(s"$indexDir/components3", VersionCol, batchId)
        } finally edges.unpersist()
      } finally newPairs.unpersist()
    } finally dels.unpersist()
  }

  /** Takedown-only batch: fold a frame of tombstoned doc_ids through the
    * CDC path (empty upsert side).
    */
  def processDeletes(tombs: DataFrame, batchId: Long, indexDir: String): Unit =
    processCdcBatch(
      tombs.select(col("doc_id")).distinct()
        .withColumn("text", lit("")).withColumn("is_delete", lit(true)),
      batchId, indexDir)

  /** PUBLISH the maintained artifact as a versioned BUCKETED serving
    * layout (verdict-r9 #3): snapshot the incrementally folded tables into
    * `root/v=<v>/{pairs,labels,components,components3}` through
    * `DedupIndex.writeVersionTables` and cut readers over with the one-row
    * commit marker. The expensive work (shingle/hash/probe, touched-CC,
    * touched-LPA) stays incremental in the fold; the publish is an
    * artifact-sized write (pair-graph-sized, never corpus-sized), and
    * `DedupIndex.readActive(root)` serves bucketed co-located joins with
    * atomic cutover — a live corpus gets incrementality AND the
    * half-written-rebuild-invisible guarantee.
    *
    * Exactly-once: the snapshot is deterministic in the maintained state,
    * a replayed publish overwrites its own version's tables and rewrites
    * the same marker row (the QuantizerRefresh argument).
    */
  def publishVersion(spark: SparkSession, indexDir: String, root: String,
      v: Long, tablePrefix: String = "graft_sdix"): Unit = {
    DedupIndex.writeVersionTables(readIndex(spark, indexDir), root, v, tablePrefix)
    DedupIndex.commit(spark, root, v, tablePrefix)
  }

  def start(
      docStream: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir)
      }
      .start()

  /** `start`, plus a versioned-bucketed publish every `publishEvery`
    * batches (and on batch 0, so the layout exists as soon as the stream
    * does). The maintained flat tables stay the fold's source of truth;
    * `root` is the SERVING artifact readers hit via `readActive`.
    */
  def startVersioned(
      docStream: DataFrame, indexDir: String, checkpointDir: String,
      root: String, tablePrefix: String = "graft_sdix",
      publishEvery: Int = 1): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir)
        if (batchId % publishEvery == 0)
          publishVersion(batch.sparkSession, indexDir, root, batchId, tablePrefix)
      }
      .start()

  /** The change-feed twin of `start`: rows carry `deleteCol`. */
  def startCdc(
      cdcStream: DataFrame, indexDir: String, checkpointDir: String,
      deleteCol: String = "is_delete"): StreamingQuery =
    cdcStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCdcBatch(batch, batchId, indexDir, deleteCol)
      }
      .start()
}
