package graft.ops

import graft.ops.Materialize.EagerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Deduplication operators for LLM training-data pipelines over `documents`.
  *
  * Four families, increasing fuzziness:
  *  1. exact          — hash-groupBy on canonical text bytes
  *  2. MinHash + LSH  — shingle → k min-hashes → banded bucket join
  *  3. SimHash        — bit-vote fingerprint + byte-band candidate join
  *  4. fingerprint Jaccard — winnowed shingle-hash sets, exact overlap
  *
  * Scale design (the 100 TB story):
  *  - every candidate-generation step is a hash-bucket equi-join (band hash /
  *    byte band / shared fingerprint), never an all-pairs product — candidate
  *    cost is O(collisions), not O(n²);
  *  - signatures are computed in ONE groupBy over the exploded shingle set
  *    (k min-aggregates in a single shuffle; partial aggregation runs
  *    map-side so the exchange carries one row per (doc, ·) not per shingle);
  *  - the hash is pluggable: `PortableHash.h31` (md5-based) lets the DuckDB
  *    oracle replay bit-identical results; swap `PortableHash.fast`
  *    (xxhash64, codegen'd) for production throughput.
  */
object Dedup {

  /** MinHash geometry: k = bands × rows signature values. */
  val MinhashBands = 4
  val MinhashRows = 3
  val MinhashK: Int = MinhashBands * MinhashRows

  /** Mersenne prime 2^31−1: the universe for all portable hash values. */
  val P31 = 2147483647L

  /** Affine permutation constants (aᵢ ∈ [1,p), bᵢ ∈ [0,p)) from a fixed
    * 64-bit LCG — the classic universal-hash MinHash construction
    * (Broder'97): mhᵢ = min over shingles of (aᵢ·h + bᵢ) mod p. One md5
    * evaluation per shingle instead of k; the k permutations are two integer
    * ops each. Deterministic pure values shared with the oracle SQL.
    */
  val minhashSeeds: Seq[(Long, Long)] = {
    var x = 0x9E3779B9L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; x }
    (0 until MinhashK).map(_ => ((next() % (P31 - 1)) + 1, next() % P31))
  }

  /** SimHash width (bits) and candidate byte-bands. */
  val SimhashBits = 32
  val SimhashBytes = 4

  /** Exact dedup: canonical-text hash groups. Output one row per distinct
    * text with the surviving (minimum) doc_id and the duplicate count.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct 3-token shingles per document (see
    * TextOps.shingleOccurrences for the codegen/partitioning rationale).
    */
  def shingles(docs: DataFrame): DataFrame = TextOps.shingleSet(docs)

  /** MinHash signatures: one row per doc, columns mh0..mh{k-1}.
    * groupBy(doc_id) with k min-aggregates over the k affine permutations
    * of ONE base hash. The base hash is materialized in a child
    * projection — aggregate expressions referencing an inline hash would
    * re-evaluate the md5 chain once per aggregate per row (no CSE across
    * aggregate expressions). A min ignores repeated shingles, so the
    * aggregate reads the shingle occurrences, not the distinct set: it
    * combines map-side in the scan's pipeline and shuffles one partial
    * row per doc and task, with no distinct before it.
    */
  def minhashSignatures(
      docs: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val hashed = TextOps.shingleOccurrences(docs)
      .select(col("doc_id"), hash("mh", col("shingle")).as("h"))
    val aggs = minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P31).as(s"mh$i")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over the signatures: band j hashes signature values
    * [j*r, (j+1)*r); docs colliding in ANY band become a candidate pair.
    * Output: (doc_a, doc_b, est_jaccard) where est_jaccard = fraction of the
    * k signature positions that agree (the unbiased MinHash estimator).
    */
  def minhashLshPairs(
      docs: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    // The signature table is tiny (one row/doc) but expensive to derive;
    // persist it so the band self-join reads it once instead of recomputing
    // the whole shingle+hash pipeline on both sides. At 100 TB the
    // signature table is the thing you'd write to storage anyway.
    // This helper OWNS that cache (the DedupIndex.build convention): the
    // pair frame is materialized eagerly via localCheckpoint — truncating
    // its lineage off the cached signatures — and the signature cache is
    // released before returning, so a long-lived driver hitting the inline
    // path repeatedly (chunk pairs, leakage splits) never accumulates
    // pinned corpus-sized signature caches. The checkpointed pair blocks
    // themselves are GC-managed (ContextCleaner frees them with the frame).
    //
    // LOCAL-MODE TRADE-OFF (module-wide, every eagerCkpt here): by default
    // the seam is localCheckpoint — executor-local blocks, NOT
    // fault-tolerant: on a real cluster an executor loss makes the
    // returned frame unrecoverable (job failure instead of lineage
    // recompute), and the call fully materializes the pair set even if
    // the caller consumes a fraction. That is the right trade for this
    // single-JVM bench/driver (no executor loss; the callers consume
    // their frames whole). Cluster deployments set
    // spark.graft.checkpointDir and EVERY materialization in the library
    // switches to reliable checkpoint(eager) (Materialize.scala,
    // MaterializeSpec pins both paths) — or serve from the persisted
    // DedupIndex artifact, which is the production path.
    val sig = minhashSignatures(docs, hash).persist()
    try minhashLshPairsFromSignatures(sig, hash).eagerCkpt
    finally sig.unpersist()
  }

  /** The banding + candidate self-join over a PREBUILT signature table
    * (mh0..mh{k-1} per doc) — the serving half of the LSH pipeline, split
    * out so an accumulated signature index (StreamingChunkDedup) can
    * derive pairs without recomputing history signatures. The caller owns
    * persistence of `sig` (a parquet-backed index needs none).
    */
  def minhashLshPairsFromSignatures(
      sig: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val banded = bandedSignatures(sig, hash)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        sigAgreementEst.as("est_jaccard"))
      .distinct()
  }

  /** One row per (doc, band): the banded projection of a signature table —
    * doc_id, the k signature columns (carried through so the join can
    * compute est_jaccard), band, bh. Shared by the self-join
    * (`minhashLshPairsFromSignatures`) and the incremental probe
    * (`minhashLshPairsIncremental`).
    */
  private def bandedSignatures(
      sig: DataFrame, hash: (String, Column) => Column): DataFrame =
    bandedSignaturesWith(sig, hash, MinhashBands, MinhashRows)

  /** The banding projection under an ARBITRARY (bands, rows) split of the
    * k signature columns — the production (4, 3) path above and the
    * tuning sweep below share this one definition, so the sweep measures
    * exactly what the pipeline would run.
    */
  private def bandedSignaturesWith(
      sig: DataFrame, hash: (String, Column) => Column,
      bands: Int, rows: Int): DataFrame = {
    require(bands * rows == MinhashK,
      s"banding: $bands x $rows != $MinhashK signature columns")
    val bandStructs = (0 until bands).map { j =>
      val cols = (j * rows until (j + 1) * rows)
        .map(i => col(s"mh$i").cast("string"))
      struct(lit(j).as("band"), hash(s"band$j", concat_ws(",", cols: _*)).as("bh"))
    }
    sig.withColumn("b", explode(array(bandStructs: _*)))
      .select(col("doc_id") +: (0 until MinhashK).map(i => col(s"mh$i")) :+
        col("b.band").as("band") :+ col("b.bh").as("bh"): _*)
  }

  /** The unbiased MinHash estimator over a joined (a, b) signature pair:
    * fraction of the k positions that agree, 6dp-rounded. Symmetric in the
    * two sides, so canonicalizing doc order after the join is safe.
    */
  private def sigAgreementEst: Column =
    round((0 until MinhashK)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(MinhashK.toDouble), 6)

  /** INCREMENTAL candidate pairs: collisions of the NEW signatures against
    * an accumulated signature table (which should already include the new
    * rows, so within-batch collisions fall out of the same join). This is
    * the maintenance half of the LSH pipeline: when documents arrive in
    * batches with unique doc_ids, every pair (a, b) is generated exactly
    * once — in the batch of its LATER endpoint — so appending each batch's
    * output reconstructs `minhashLshPairsFromSignatures(allSig)` exactly
    * (StreamingDedupIndexSpec pins the equivalence).
    *
    * Scale: per batch one banded equi-join of |batch|·bands rows against
    * the band index — O(new collisions), never history × history. In
    * production the accumulated side is bucketed by (band, bh) so the
    * probe ships no history-side exchange (the StreamingDedup contract).
    */
  def minhashLshPairsIncremental(
      newSig: DataFrame,
      allSig: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val a = bandedSignatures(newSig, hash).as("a")
    val b = bandedSignatures(allSig, hash).as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        sigAgreementEst.as("est_jaccard"))
      .distinct()
  }

  /** Cross-source contamination matrix: per unordered source pair, how many
    * near-dup candidate pairs straddle the two sources and their mean
    * estimated Jaccard — the "which sources copy from which" audit a corpus
    * curator reads before setting per-source mixing weights (a source that
    * heavily near-duplicates another adds tokens but no information; the
    * diagonal entries are within-source template churn).
    *
    * Scale: the near-dup PAIR GRAPH (already ~250×-pruned by LSH banding)
    * is what joins against the (doc_id, source) projection — two equi-joins
    * keyed on doc id, then one hash agg over the ≤|sources|² matrix;
    * the corpus itself is only read by the underlying signature pass.
    * The unordered pair canonicalizes via least/greatest so (A,B) and
    * (B,A) fold into one cell on both engines.
    */
  def sourceContamination(
      docs: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame =
    sourceContaminationFrom(minhashLshPairs(docs, hash), docs)

  /** `sourceContamination` served from a PREBUILT pair graph (the
    * DedupIndex artifact) — the report body without the signature pass.
    */
  def sourceContaminationFrom(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("est_jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("est_jaccard")), 6).as("mean_est_jaccard"))
  }

  /** (doc_id, band, bh) banding of a signature table — the join key table an
    * incremental pipeline persists (bucketed by (band, bh)) so each new
    * batch probes history with one co-located equi-join.
    */
  def minhashBands(
      sig: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val bandStructs = (0 until MinhashBands).map { j =>
      val cols = (j * MinhashRows until (j + 1) * MinhashRows)
        .map(i => col(s"mh$i").cast("string"))
      struct(lit(j).as("band"), hash(s"band$j", concat_ws(",", cols: _*)).as("bh"))
    }
    sig.withColumn("b", explode(array(bandStructs: _*)))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Incremental MinHash-LSH dedup — the 100 TB ingest shape: each arriving
    * batch is deduplicated (a) against the persisted HISTORY band table via
    * one equi-join probe (never recomputing history signatures) and
    * (b) within itself (keep-lowest-id policy). Returns the surviving new
    * docs; a production job then appends the survivors' bands to the
    * history table, keeping the invariant that history is internally
    * dedup'd. History cost per batch is O(collisions) — the corpus is
    * touched only through the band index.
    */
  def incrementalDedup(
      newDocs: DataFrame,
      historyBands: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val newBands = minhashBands(minhashSignatures(newDocs, hash), hash).persist()
    try {
      val vsHistory = newBands.join(historyBands,
        Seq("band", "bh"), "left_semi").select(col("doc_id"))
      val withinBatch = newBands.as("a").join(newBands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") > col("b.doc_id"))
        .select(col("a.doc_id")) // the higher id of any colliding pair drops
      val dropIds = vsHistory.union(withinBatch).distinct()
      // own the band cache: a streaming caller runs this per micro-batch,
      // so an unreleased persist would pin one batch-sized cache per batch
      // for the life of the stream
      newDocs.join(dropIds, Seq("doc_id"), "left_anti").eagerCkpt
    } finally newBands.unpersist()
  }

  /** SimHash fingerprint (Charikar, STOC'02): each shingle votes ±1 on each
    * of 32 bit positions by its hash bits; the sign of the tally is the
    * fingerprint bit. One groupBy, 32 conditional-sum aggregates.
    */
  def simhash(
      docs: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    // Materialize the hash in a child projection: 32 aggregate expressions
    // over an inline hash would evaluate the md5 chain 32× per row.
    val hashed = shingles(docs).select(col("doc_id"), hash("sh", col("shingle")).as("h"))
    val votes = (0 until SimhashBits).map { p =>
      sum(when(shiftright(col("h"), p).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$p")
    }
    val tallied = hashed.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until SimhashBits)
      .map(p => when(col(s"v$p") > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
    tallied.select(col("doc_id"), fp.as("simhash"))
  }

  /** Exact-Jaccard threshold above which a candidate pair counts as a true
    * near-dup in `minhashQualityReport` (the ngramJaccardPairs default).
    */
  val EstAuditThreshold = 0.3

  /** Estimator-quality audit for the MinHash pipeline — the signature
    * twin of `VectorOps` ann_recall_report: for every LSH candidate pair,
    * compare the k-position signature-agreement ESTIMATE against the EXACT
    * 3-shingle Jaccard, and report candidate count, true-near-dup count +
    * precision (integer ppm), MAE, signed bias, and worst error. The
    * report that decides whether k=12 signatures are enough before anyone
    * trusts `dedup_apply_minhash` at a new corpus mix.
    *
    * Scale: exact Jaccard is computed ONLY for documents that appear in a
    * candidate pair (semi-join gate), so the shingle equi-join runs over
    * the candidate subset — pair-graph-sized, never corpus-sized; the
    * report itself is one global aggregate row.
    */
  def minhashQualityReport(
      docs: DataFrame,
      trueThreshold: Double = EstAuditThreshold,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame =
    minhashQualityReportFrom(minhashLshPairs(docs, hash), docs, trueThreshold)

  /** `minhashQualityReport` over a PREBUILT pair graph (the DedupIndex
    * artifact): only the exact-Jaccard truth side still reads the corpus
    * (gated to candidate docs by the semi-join), the estimate side comes
    * from the artifact.
    */
  def minhashQualityReportFrom(
      pairs: DataFrame,
      docs: DataFrame,
      trueThreshold: Double = EstAuditThreshold): DataFrame = {
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val shp = shingles(docs).join(nodes, Seq("doc_id"), "left_semi").persist()
    try {
      val sz = shp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = shp.as("a").join(shp.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val err = col("est_jaccard") - col("exact_jaccard")
      pairs
        .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .select(col("est_jaccard"),
          round(coalesce(col("i"), lit(0L)).cast("double")
            / (col("na") + col("nb") - coalesce(col("i"), lit(0L))).cast("double"), 6)
            .as("exact_jaccard"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("exact_jaccard") >= lit(trueThreshold), 1L).otherwise(0L))
            .as("n_true"),
          round(avg(abs(err)), 6).as("mae"),
          round(avg(err), 6).as("bias"),
          round(max(abs(err)), 6).as("max_abs_err"))
        .select(col("n_pairs"), col("n_true"),
          floor(col("n_true") * lit(1000000L) / col("n_pairs"))
            .cast("bigint").as("precision_ppm"),
          col("mae"), col("bias"), col("max_abs_err"))
        // own the gated-shingle cache (read by sz AND both arms of inter)
        .eagerCkpt
    } finally shp.unpersist()
  }

  /** The (bands, rows) splits of the k=12 signature the tuning sweep
    * measures — every factorization except the degenerate rows=1 (a
    * single-hash band collides on ANY shared min-shingle: its S-curve
    * P(cand|s) = 1-(1-s)^12 admits nearly everything, and on a templated
    * corpus the band buckets go quadratic — the sweep exists to show a
    * curator the usable region, not to execute the pathological point).
    */
  val LshTuningConfigs: Seq[(Int, Int)] =
    Seq((1, MinhashK), (2, 6), (3, 4), (4, 3), (6, 2))

  /** LSH parameter-tuning sweep: for each (bands, rows) factorization of
    * the k-hash signature, run the ACTUAL banded candidate join on THIS
    * corpus and report the exact candidate-pair count and the mean
    * signature-agreement estimate over those candidates — the measured
    * S-curve trade a curator reads to pick (b, r) before a 100 TB run
    * (more bands / fewer rows = recall up, candidate volume up; the
    * degenerate rows=1 point is excluded, see LshTuningConfigs). Because
    * bands of r2 rows align inside bands of r1 = m·r2 rows, candidate
    * sets are NESTED along (1,12) ⊆ (2,6) ⊆ (4,3) ⊆ (6,2) — the report's
    * n_candidate_pairs is monotone in that chain (spec-pinned), which is
    * the sanity check that the sweep measured the same signatures.
    *
    * Scale: one signature pass (persisted), then one banded equi-join
    * per config — each the standard LSH join, bucket-sized quadratic at
    * worst, never corpus². Output is |configs| rows.
    */
  def lshTuningReport(
      docs: DataFrame,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val sig = minhashSignatures(docs, hash).persist()
    try {
      LshTuningConfigs.map { case (b, r) =>
        val banded = bandedSignaturesWith(sig, hash, b, r)
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            sigAgreementEst.as("est_jaccard"))
          .distinct()
          .agg(count(lit(1)).as("n_candidate_pairs"),
            coalesce(round(avg(col("est_jaccard")), 6), lit(0.0))
              .as("mean_est_jaccard"))
          .select(lit(b).as("n_bands"), lit(r).as("n_rows"),
            col("n_candidate_pairs"), col("mean_est_jaccard"))
      }.reduce(_ unionByName _)
        .eagerCkpt // own the signature cache across all config joins
    } finally sig.unpersist()
  }

  /** SimHash near-dup pairs: candidates share at least one of the 4 bytes of
    * the fingerprint. By pigeonhole, any pair within Hamming distance 3 of
    * 32 bits agrees on ≥1 whole byte, so the byte-band equi-join has perfect
    * recall for maxHamming ≤ 3; the Hamming filter on candidates is exact.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val fp = simhash(docs, hash).persist() // one row/doc; read twice by the self-join
    try {
      val bands = (0 until SimhashBytes).map { j =>
        struct(lit(j).as("band"), shiftright(col("simhash"), 8 * j).bitwiseAND(lit(255L)).as("bv"))
      }
      val banded = fp.withColumn("b", explode(array(bands: _*)))
        .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
      val a = banded.as("a")
      val b = banded.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
        .eagerCkpt // own the fingerprint cache
    } finally fp.unpersist()
  }

  /** Near-dup clustering: iterated min-label propagation over the candidate
    * pair graph, so transitive duplicate chains (A~B, B~C) collapse to ONE
    * surviving representative per connected component — pairwise keep-lowest
    * dedup would keep C when only (A,B),(B,C) paired. `iters` bounds the
    * propagated hop distance (labels converge once iters ≥ the distance
    * from each node to its component's minimum; near-dup components are
    * shallow in practice — SemDeDup and the Gopher dedup pipeline run the
    * same bounded-iteration CC). Deterministic: every step is a min over an
    * equi-join, and the fixed iteration count lets the DuckDB oracle unroll
    * the loop into chained CTEs exactly like the k-means oracle.
    *
    * Scale: per iteration one equi-join (edges ⋈ labels on dst) + one
    * min-aggregate on src — alternating-star optimizations exist for
    * adversarially deep graphs, but each step here is plain hash-join +
    * partial-agg, shuffling only the (small) pair graph, never the corpus.
    * The edge list is persisted once (cache lifetime belongs to the caller,
    * as everywhere in graft): deriving it re-runs the LSH pipeline, and the
    * loop reads it 2×iters times.
    */
  def nearDupComponents(pairs: DataFrame, iters: Int = 3): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    try {
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("rep", col("doc_id"))
      for (_ <- 0 until iters) {
        val nmin = edges
          .join(labels.select(col("doc_id").as("nbr"), col("rep").as("nrep")),
            col("dst") === col("nbr"))
          .groupBy(col("src")).agg(min(col("nrep")).as("nmin"))
        labels = labels
          .join(nmin, labels("doc_id") === nmin("src"), "left")
          .select(labels("doc_id"),
            least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"))
      }
      // own the edge cache: materialize the result eagerly, release before
      // returning (the minhashLshPairs convention)
      labels.eagerCkpt
    } finally edges.unpersist()
  }

  /** EXACT connected components over the pair graph: min-label propagation
    * iterated to FIXPOINT (each round, every node takes the minimum of its
    * own and its neighbors' labels), with a driver-side convergence check —
    * one changed-row COUNT scalar per round, the same k-sized-aggregate
    * budget as the k-means loop. Converges in ≤ diameter rounds; near-dup
    * components are shallow (stars and short chains), so the loop is a few
    * rounds in practice, and `maxIters` is a hard backstop (it throws
    * rather than silently returning unconverged labels — the bounded-hop
    * variant `nearDupComponents` is the one with a DOCUMENTED approximation
    * contract).
    *
    * Scale: every round is one equi-join + one hash agg over the PAIR
    * GRAPH only (never the corpus); each round's labels are persisted and
    * the previous round's cache released, so lineage stays one round deep.
    */
  def nearDupComponentsExact(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("rep", col("doc_id"))
      .persist()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nmin = edges
        .join(labels.select(col("doc_id").as("nbr"), col("rep").as("nrep")),
          col("dst") === col("nbr"))
        .groupBy(col("src")).agg(min(col("nrep")).as("nmin"))
      val hopped = labels
        .join(nmin, labels("doc_id") === nmin("src"), "left")
        .select(labels("doc_id"),
          least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"),
          col("rep").as("prev"))
      // POINTER JUMP (path halving): follow the label's own label, so the
      // distance to the component minimum halves per round — convergence
      // in O(log diameter) rounds instead of O(diameter), which is what
      // keeps the backstop comfortable on adversarial chain-shaped
      // components at scale
      // localCheckpoint (eager) TRUNCATES the logical plan each round:
      // persist alone caches data but the plan tree still nests — with the
      // pointer-jump self-join it would DOUBLE per round and the planner
      // itself becomes the bottleneck (the standard iterative-lineage
      // hazard GraphX solves the same way)
      val next = hopped
        .join(hopped.select(col("doc_id").as("p_id"), col("rep").as("p_rep")),
          hopped("rep") === col("p_id"), "left")
        .select(hopped("doc_id"),
          least(hopped("rep"), coalesce(col("p_rep"), hopped("rep"))).as("rep"),
          col("prev"))
        .eagerCkpt
      val changed = next.filter(col("rep") =!= col("prev")).count()
      labels.unpersist()
      labels = next.drop("prev")
      converged = changed == 0
      it += 1
    }
    // Release the cached edge frame BEFORE the backstop check: the result
    // is localCheckpoint-materialized so it no longer depends on the
    // cache, and a caller catching the non-convergence throw to retry
    // with a larger bound must not strand one cached frame per attempt.
    // A long-running caller (the per-micro-batch StreamingComponents
    // fold) would otherwise accumulate one orphaned cache per batch.
    edges.unpersist()
    require(converged,
      s"nearDupComponentsExact: no fixpoint after $maxIters rounds — raise maxIters " +
        "(pointer jumping makes the bound logarithmic in component diameter)")
    labels
  }

  /** Drop set of the 2-hop survivorship bound, computed WITHOUT the label
    * chain: a doc is dropped iff its 2-step propagated label differs from
    * its own id, and algebraically
    *   rep2(x) != x  ⟺  min over neighbors y of rep1(y) < x,
    * where rep1(y) = least(y, min N(y)). (rep2(x) = least(rep1(x),
    * min_y rep1(y)); if rep1(x) < x then some neighbor y < x exists and
    * rep1(y) ≤ y < x already witnesses the right side.) That collapses the
    * unrolled 2-iteration propagation — two outer-joined label steps each
    * reading the edge list twice — to TWO hash aggregations and ONE
    * equi-join over the pair graph. Same result set as
    * `nearDupComponents(pairs, iters = 2).filter(rep != doc_id)`
    * (spec-proven in DedupSpec, including the >2-hop chain where the bound
    * over-keeps); same scale shape (shuffles only the pair graph).
    */
  def nearDupDropSet(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist() // read by both the rep1 aggregate and the 2-hop join
    try {
      val r1 = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("nbr"), least(col("src"), col("mn")).as("rep1"))
      edges.join(r1, col("dst") === col("nbr"))
        .groupBy(col("src")).agg(min(col("rep1")).as("m"))
        .filter(col("m") < col("src"))
        .select(col("src").as("doc_id"))
        .eagerCkpt // own the edge cache
    } finally edges.unpersist()
  }

  /** Exact Jaccard over winnowed fingerprint sets (TextOps.fingerprints):
    * candidates = docs sharing ≥1 fingerprint hash (equi-join, no n²);
    * J = |A∩B| / |A∪B| computed from exact set sizes.
    */
  /** Deterministic containment-test augmentation (same role as
    * plantedCorpus/withPlantedBoilerplate): every `every`-th document
    * gains a truncated twin — its first half (≥3 tokens) under
    * `doc_id + idOffset` — so near-subset pairs provably exist in the
    * synthetic corpus. Output is the (doc_id, text) spine containment
    * detection consumes.
    */
  def withPlantedQuotes(
      docs: DataFrame, every: Int = 25, idOffset: Long = 2000000L): DataFrame = {
    val g = docs.agg(max(col("doc_id"))).collect()(0)
    require(g.getLong(0) < idOffset,
      s"withPlantedQuotes: max(doc_id)=${g.getLong(0)} >= idOffset=$idOffset — " +
        "planted quote ids would collide with genuine rows; raise idOffset")
    val t = split(col("text"), " ")
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % every === 0)
        .select((col("doc_id") + idOffset).as("doc_id"),
          concat_ws(" ",
            slice(t, lit(1), greatest(floor(size(t) / 2), lit(3)).cast("int"))).as("text")))
  }

  /** Asymmetric CONTAINMENT pairs (Broder's near-subset relation):
    * c(A→B) = |A∩B| / |A| over the winnowed fingerprint sets — flags a
    * document mostly CONTAINED in another (quotes, reposts, expanded
    * revisions) that symmetric Jaccard misses whenever the host is much
    * larger (J = i/(|A|+|B|−i) stays small while i/|A| ≈ 1). Emits the
    * ordered (contained, container) pair with both directions checked;
    * same equi-join candidate shape as the Jaccard op — never O(n²).
    */
  def fingerprintContainmentPairs(
      docs: DataFrame,
      minContainment: Double = 0.8,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val fp = TextOps.fingerprints(docs, hash).persist()
    try {
      val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = fp.as("a").join(fp.as("b"),
          col("a.fp_hash") === col("b.fp_hash") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_host"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.as("sa"), col("doc_in") === col("sa.doc_id"))
        .select(col("doc_in"), col("doc_host"),
          round(col("i").cast("double") / col("sa.n").cast("double"), 6).as("containment"))
        .filter(col("containment") >= minContainment)
        // own the fingerprint cache (read by sizes and both join arms)
        .eagerCkpt
    } finally fp.unpersist()
  }

  def fingerprintJaccardPairs(
      docs: DataFrame,
      minJaccard: Double = 0.3,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val fp = TextOps.fingerprints(docs, hash).persist() // read 3× below
    try {
      val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = fp.as("a").join(fp.as("b"),
          col("a.fp_hash") === col("b.fp_hash") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          round(col("i").cast("double") / (col("sa.n") + col("sb.n") - col("i")).cast("double"), 6)
            .as("jaccard"))
        .filter(col("jaccard") >= minJaccard)
        .eagerCkpt // own the fingerprint cache
    } finally fp.unpersist()
  }

  /** Retention-policy comparison for near-dup cluster survivorship: the
    * standard "keep the smallest id" policy (deterministic, metadata-only)
    * vs "keep the highest-quality member" (argmax of the quality score,
    * ties by id) — the decision a curation run actually faces. Both keep
    * exactly one doc per component plus every unpaired singleton, so
    * `n_kept` is identical BY CONSTRUCTION; what moves is the quality
    * mass retained, which this report quantifies (decimal-exact sums of
    * the 6dp scores, so the comparison is reproducible at any
    * partitioning).
    *
    * Scale: components + quality are the existing operators; each policy
    * adds one component-keyed agg/window over the PAIRED docs only and an
    * anti-join for singletons — never a corpus-sized sort.
    */
  /** The three survivor building blocks shared by the policy report and
    * the survivor extractor: (min-id winners, best-quality winners,
    * unpaired singletons, quality table).
    */
  private def policyKeeps(
      docs: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) =
    policyKeepsFrom(docs, nearDupComponentsExact(minhashLshPairs(docs)))

  private def policyKeepsFrom(
      docs: DataFrame, comp: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val cq = comp.join(q, Seq("doc_id"))
    val minKeep = cq.groupBy(col("rep")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val wq = Window.partitionBy(col("rep"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val qKeep = cq.withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1).select(col("doc_id"))
    val singles = q.select(col("doc_id"))
      .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
    (minKeep, qKeep, singles, q)
  }

  /** The corpus after best-quality survivorship: one top-quality doc per
    * near-dup component plus every singleton, with all document columns —
    * the frame downstream stages (packing, mixture, export) consume.
    */
  def bestQualitySurvivors(docs: DataFrame): DataFrame = {
    val (_, qKeep, singles, _) = policyKeeps(docs)
    docs.join(qKeep.union(singles), Seq("doc_id"))
  }

  /** Best-quality survivor corpus from the PREBUILT exact-component table
    * (the DedupIndex artifact) — keeper window + singleton anti-join only.
    */
  def bestQualitySurvivorsFrom(docs: DataFrame, components: DataFrame): DataFrame = {
    val (_, qKeep, singles, _) = policyKeepsFrom(docs, components)
    docs.join(qKeep.union(singles), Seq("doc_id"))
  }

  /** The corpus after best-quality survivorship at weighted-COMMUNITY
    * granularity: one top-quality doc per weighted-LPA community plus
    * every unpaired singleton. This is the APPLY path for the granularity
    * dedupGranularityReport recommends — a template hub welds unrelated
    * cliques into one connected component (bestQualitySurvivors then keeps
    * ONE doc for what are really several distinct groups), while
    * similarity-mass label propagation keeps the cliques apart, so this
    * survivor set retains one representative per genuine duplicate group.
    * Caveat (shared with the report, spec-pinned): synchronous LPA
    * 2-cycles on isolated PAIRS, so pair-clusters keep both docs —
    * community granularity is the conservative upper bound of the
    * survivorship band.
    *
    * Scale: one LSH pair graph (the persisted band-index artifact), one
    * bounded label-propagation pass over it, one window partitioned by
    * community over the PAIRED docs only, and an anti-join for
    * singletons — never a corpus-wide sort.
    */
  def bestQualitySurvivorsCommunities(docs: DataFrame): DataFrame =
    // eager LPA: the label table feeds both the keeper window and the
    // singleton anti-join; the Eager variant materializes it once and
    // releases its own edge cache (nothing left pinned after the call)
    bestQualitySurvivorsCommunitiesFrom(docs,
      graft.ops.Graph.labelPropagationWeightedEager(
        minhashLshPairs(docs).withColumnRenamed("est_jaccard", "weight")))

  /** Community-granularity survivorship from a PREBUILT label table
    * (node, community) — the DedupIndex artifact path: no LSH, no LPA
    * rounds, just one keeper window + one singleton anti-join against
    * the label table.
    */
  def bestQualitySurvivorsCommunitiesFrom(
      docs: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comm = labels.select(col("node").as("doc_id"), col("community").as("grp"))
    val q = TextOps.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val kept = comm.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("doc_id"))
    val singles = q.select(col("doc_id"))
      .join(comm.select(col("doc_id")), Seq("doc_id"), "left_anti")
    docs.join(kept.union(singles), Seq("doc_id"))
  }

  /** Survivorship GRANULARITY comparison: keep one best-quality doc per
    * connected COMPONENT vs per weighted-LPA COMMUNITY. A template hub
    * welds unrelated cliques into one component, so component-granular
    * dedup over-drops (one survivor for what are really several
    * distinct groups); community granularity keeps one per clique. The
    * report quantifies the difference — docs kept and decimal-exact
    * quality mass retained under each granularity (community ≥ component
    * by construction, since communities refine the partition of paired
    * docs). Caveat pinned in spec: synchronous LPA 2-cycles on isolated
    * PAIRS (labels swap each round), so pair-clusters surface as
    * singleton communities — the two granularities are the upper and
    * lower bounds of the survivorship band, not two equally-final
    * answers.
    *
    * Scale: the pair graph is computed once; each granularity adds its
    * label pass plus one window over the PAIRED docs.
    */
  def dedupGranularityReport(docs: DataFrame): DataFrame = {
    // minhashLshPairs returns an eagerly checkpointed frame, so both
    // downstream passes read materialized blocks — no extra pin needed
    val pairs = minhashLshPairs(docs)
    dedupGranularityReportFrom(docs,
      graft.ops.Graph.labelPropagationWeightedEager(
        pairs.withColumnRenamed("est_jaccard", "weight")),
      nearDupComponentsExact(pairs))
  }

  /** Granularity report from PREBUILT label + component tables (the
    * DedupIndex artifact): both label passes come from the artifact, so
    * the report is two keeper windows over the paired docs.
    */
  def dedupGranularityReportFrom(
      docs: DataFrame, labels: DataFrame, components: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val comp = components.select(col("doc_id"), col("rep").as("grp"))
    val comm = labels.select(col("node").as("doc_id"), col("community").as("grp"))
    val paired = comp.select(col("doc_id"))
    val singles = q.select(col("doc_id")).join(paired, Seq("doc_id"), "left_anti")
    def roll(granularity: String, labels: DataFrame) = {
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      val kept = labels.join(q, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("doc_id"))
      kept.union(singles).join(q, Seq("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("quality_score").cast("decimal(18,6)"))
            .cast("decimal(18,6)").as("tq"))
        .select(lit(granularity).as("granularity"), col("n_kept"),
          col("tq").cast("double").as("total_quality"))
    }
    roll("component", comp).unionByName(roll("community", comm))
  }

  /** Modularity threshold above which a community is trusted as a real
    * duplicate group (q_contrib > 0: more intra-community similarity
    * mass than the null model expects). Shared with the oracle SQL.
    */
  val ModularityTrustMin = 0.0

  /** Modularity-GATED survivorship report: communities the modularity
    * audit trusts (q_contrib > ModularityTrustMin) keep one best-quality
    * doc per community; docs in untrusted communities fall back to
    * connected-COMPONENT granularity. This closes the survivorship band
    * dedupGranularityReport leaves open — in particular the synchronous-
    * LPA pair 2-cycle (an isolated near-dup pair oscillates into two
    * singleton communities, so pure community granularity keeps BOTH
    * docs): a singleton community has s_in = 0, hence q_contrib < 0,
    * hence untrusted — the pair collapses to its component and keeps one
    * doc, while hub-welded trusted cliques still keep one doc each.
    *
    * Output: one row per final grouping kind — `community` (trusted),
    * `component` (fallback), `singleton` (never-paired docs) — with
    * group, member, and keeper counts plus decimal-exact keeper quality.
    *
    * Scale: ONE persisted pair graph feeds the LPA rounds, the
    * modularity audit, and the exact-CC fixpoint; everything downstream
    * is keyed windows/aggs over the PAIRED docs only.
    */
  /** The gated grouping shared by the report and the survivor extractor:
    * (ranked paired docs with rn=1 marking keepers, quality table) — one
    * pair graph, one LPA pass, one modularity audit, one CC fixpoint.
    */
  private def gatedRanked(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // pairs arrive checkpointed (minhashLshPairs owns its cache); edges +
    // labels are this function's own caches, released after the three
    // result frames are materialized off them
    val pairs = minhashLshPairs(docs)
    val wp = pairs.withColumnRenamed("est_jaccard", "weight")
    val edges = graft.ops.Graph.symmetrizedWeighted(wp).persist()
    val labels = graft.ops.Graph.lpaWeightedLoop(edges, graft.ops.Graph.LpIters).persist()
    try {
      val (a, b, c) = gatedRankedFrom(docs, edges, labels, nearDupComponentsExact(pairs))
      (a.eagerCkpt, b.eagerCkpt, c.eagerCkpt)
    } finally { labels.unpersist(); edges.unpersist() }
  }

  /** The gated grouping from PREBUILT artifact frames: symmetrized
    * weighted edges (derived cheaply from the artifact's pair table),
    * LPA labels, and exact components — only the modularity audit and the
    * keyed windows/aggs still run; no signature pass, no iterative loops.
    */
  private def gatedRankedFrom(
      docs: DataFrame,
      edges: DataFrame,
      labels: DataFrame,
      comp: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val mod = graft.ops.Graph.modularityFrom(edges, labels)
    val q = TextOps.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val trusted = mod.select(col("community"),
      (col("q_contrib") > lit(ModularityTrustMin)).as("trusted"))
    val grouped = labels.select(col("node").as("doc_id"), col("community"))
      .join(trusted, Seq("community"))
      .join(comp, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("trusted"), concat(lit("c"), col("community")))
          .otherwise(concat(lit("k"), col("rep"))).as("grp"),
        when(col("trusted"), lit("community")).otherwise(lit("component")).as("kind"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    // comp rides along for the singleton anti-join: it is the CHEAP
    // (localCheckpoint-materialized) paired-doc set — anti-joining
    // against `ranked` instead would re-run the whole LPA + modularity
    // chain a second time just to enumerate paired ids
    (grouped.join(q, Seq("doc_id")).withColumn("rn", row_number().over(w)), q, comp)
  }

  /** The gated survivor CORPUS — the consumable relation the report
    * above describes: rn=1 keepers at the gated granularity plus every
    * unpaired singleton, with all document columns.
    */
  /** Derive the symmetrized weighted edge frame a gated computation needs
    * from an artifact pair table (two projections + a union — cheap
    * against a parquet read, no signature work).
    */
  private def gatedEdgesOf(pairs: DataFrame): DataFrame =
    graft.ops.Graph.symmetrizedWeighted(
      pairs.withColumnRenamed("est_jaccard", "weight"))

  def modularityGatedSurvivors(docs: DataFrame): DataFrame = {
    val (ranked, q, comp) = gatedRanked(docs)
    gatedSurvivorsOf(docs, ranked, q, comp)
  }

  /** Gated survivor corpus served from the DedupIndex artifact frames. */
  def modularityGatedSurvivorsFrom(
      docs: DataFrame, pairs: DataFrame,
      labels: DataFrame, components: DataFrame): DataFrame = {
    val (ranked, q, comp) =
      gatedRankedFrom(docs, gatedEdgesOf(pairs), labels, components)
    gatedSurvivorsOf(docs, ranked, q, comp)
  }

  private def gatedSurvivorsOf(
      docs: DataFrame, ranked: DataFrame,
      q: DataFrame, comp: DataFrame): DataFrame = {
    val keep = ranked.filter(col("rn") === 1).select(col("doc_id"))
    val singles = q.select(col("doc_id"))
      .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
    docs.join(keep.union(singles), Seq("doc_id"))
  }

  def modularityGatedReport(docs: DataFrame): DataFrame = {
    val (ranked, q, comp) = gatedRanked(docs)
    gatedReportOf(ranked, q, comp)
  }

  /** Gated survivorship report served from the DedupIndex artifact frames. */
  def modularityGatedReportFrom(
      docs: DataFrame, pairs: DataFrame,
      labels: DataFrame, components: DataFrame): DataFrame = {
    val (ranked, q, comp) =
      gatedRankedFrom(docs, gatedEdgesOf(pairs), labels, components)
    gatedReportOf(ranked, q, comp)
  }

  private def gatedReportOf(
      ranked: DataFrame, q: DataFrame, comp: DataFrame): DataFrame = {
    val pairedRoll = ranked.groupBy(col("kind"))
      .agg(countDistinct(col("grp")).as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, col("quality_score").cast("decimal(18,6)"))
            .otherwise(lit(0).cast("decimal(18,6)")))
          .cast("decimal(18,6)").as("tq"))
      .select(col("kind"), col("n_groups"), col("n_docs"),
        col("tq").cast("double").as("kept_quality"))
    val singles = q
      .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_groups"), count(lit(1)).as("n_docs"),
        sum(col("quality_score").cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("tq"))
      .select(lit("singleton").as("kind"), col("n_groups"), col("n_docs"),
        col("tq").cast("double").as("kept_quality"))
    pairedRoll.unionByName(singles)
  }

  def dedupPolicyReport(docs: DataFrame): DataFrame =
    policyReportOf(policyKeeps(docs))

  /** Policy report from the PREBUILT exact-component table (the DedupIndex
    * artifact) — two keeper selections + the singleton anti-join, no LSH.
    */
  def dedupPolicyReportFrom(docs: DataFrame, components: DataFrame): DataFrame =
    policyReportOf(policyKeepsFrom(docs, components))

  private def policyReportOf(
      keeps: (DataFrame, DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (minKeep, qKeep, singles, q) = keeps
    def roll(policy: String, kept: DataFrame) =
      kept.union(singles).join(q, Seq("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("quality_score").cast("decimal(18,6)"))
            .cast("decimal(18,6)").as("tq"))
        .select(lit(policy).as("policy"), col("n_kept"),
          col("tq").cast("double").as("total_quality"),
          round(col("tq").cast("double") / col("n_kept").cast("double"), 6)
            .as("mean_quality"))
    roll("min_id", minKeep).unionByName(roll("best_quality", qKeep))
  }
}
