package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Multimodal, TextOps, VectorOps}
import graft.streaming.{StreamingAnnIngest, StreamingMediaDedup, StreamingSpannIngest, StreamingTextIngest}

/** Build-once registry of the derived artifacts the serving queries read:
  * indexes and graphs on disk, trained centroids and codebooks, corpus
  * guards. One entry per (kind, application, sf dir); the first caller
  * of a key builds it, concurrent callers of the same key wait for that
  * build, and callers of other keys build at the same time. A build that
  * throws is not recorded, so the next call builds again. A build may
  * call the registry for another key (the IVF index trains its PQ
  * codebooks and label centroids through it): the map lookup is a
  * non-blocking `computeIfAbsent` of an empty cell, and only the cell's
  * own monitor is held while its build runs.
  *
  * Values are driver-side data (centroid arrays, codebooks, id rows) or
  * the path of an on-disk artifact, never DataFrames: readers re-open the
  * parquet on each call, so a bench-loop `clearCache()` between reps
  * invalidates nothing, exactly as with production storage. Every
  * artifact directory is made by `sweptTempDir`, whose one list the
  * JVM-exit sweep deletes.
  *
  * STATIC-FIXTURE CONTRACT: entries are keyed on (applicationId, sf dir)
  * with no data-change invalidation. If the parquet under `dir` were
  * regenerated within one application, the stale artifact would keep
  * serving, and the directories are driver-local filesystem only. Both
  * hold for the bench/driver contract (fixtures are immutable per run,
  * Spark runs in local mode); a deployment serving live corpora uses the
  * versioned production layout (`DedupIndex.buildVersioned` + the `v=N`
  * commit-marker cutover) or the streaming maintainers instead.
  */
object Artifacts {

  private final case class Key(kind: String, app: String, dir: String)

  /** One key's value: built under the cell's monitor by the first caller,
    * left empty when the build throws.
    */
  private final class Cell {
    @volatile private var value: Option[Any] = None
    def get(build: => Any): Any = value.getOrElse(synchronized {
      value.getOrElse {
        val v = build
        require(!v.isInstanceOf[Dataset[_]],
          "Artifacts: a registry value must be driver-side data or a path, not a DataFrame")
        value = Some(v)
        v
      }
    })
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  /** The value of (kind, this application, dir), built by `build` on the
    * first call.
    */
  private[graft] def once[A](kind: String, s: SparkSession, dir: String)(build: => A): A =
    cells.computeIfAbsent(Key(kind, s.sparkContext.applicationId, dir), _ => new Cell)
      .get(build).asInstanceOf[A]

  // temp roots the JVM-exit sweep deletes: bench/driver processes on a
  // shared machine must not accumulate artifact parquet under /tmp across
  // invocations, and under Bench's best-of-reps + retry passes a leak here
  // is several artifact trees per round
  private val tempRoots = new ConcurrentLinkedQueue[String]
  private lazy val artifactCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempRoots.forEach { d =>
        def rec(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(): Unit
        }
        rec(new java.io.File(d))
      }
    }))

  /** A fresh temp root registered with the JVM-exit sweep. */
  private[graft] def sweptTempDir(prefix: String): String = {
    artifactCleanupHook
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    tempRoots.add(tmp)
    tmp
  }

  /** The directory of an on-disk artifact, written by `build` into a
    * fresh swept temp root on the first call.
    */
  private[graft] def dirOf(kind: String, s: SparkSession, dir: String)(
      build: String => Unit): String =
    once(kind, s, dir) {
      val tmp = sweptTempDir(s"graft-$kind")
      build(tmp)
      tmp
    }

  /** Trained (cell, centroid) rows kept as k×dim driver-side doubles and
    * served as a fresh local frame each call.
    */
  private[graft] def centroidsOf(kind: String, s: SparkSession, dir: String)(
      train: => DataFrame): DataFrame = {
    val arr = once(kind, s, dir) {
      train.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    }
    import s.implicits._
    arr.toDF("cell", "centroid")
  }

  /** The near-dup graph artifact, built ONCE per (application, sf dir) and
    * served to every graph/survivorship query from parquet — the
    * from-index pattern the retrieval queries use for postings. The
    * LSH + weighted-LPA + exact-CC chain used to run inline in ~15
    * registered queries (~25 s of the bench was one identical chain
    * recomputed per report); with the artifact it runs exactly once.
    * Queries keep their inline-derived oracle SQL, so a hash-green round
    * certifies from-artifact ≡ inline per query (DedupIndexSpec pins the
    * same equivalence as a unit test).
    */
  private[graft] def dedupIndexOf(s: SparkSession, dir: String): graft.ops.DedupIndex.Frames =
    graft.ops.DedupIndex.read(s,
      dirOf("dedup-index", s, dir) { tmp =>
        graft.ops.DedupIndex.build(Tables.documents(s, dir), tmp)
      })

  private def annGraphDirOf(s: SparkSession, dir: String): String =
    dirOf("ann-graph", s, dir) { tmp =>
      val emb = Tables.embeddings(s, dir)
      // OCCUPANCY-SIZED quantizer (round 13, SCALING.md §4): the graph
      // build's within-cell candidate join is quadratic in cell occupancy,
      // and the fixed 10-cell label quantizer OOMed the x30 audit corpus;
      // cells = ceil(N/64) bounds candidate volume linearly no matter the
      // corpus. Resizes in production ride QuantizerRefresh.cutoverWithGraph.
      val coarse = kmCentsAutoOf(s, dir)
      coarse.write.mode("overwrite").parquet(s"$tmp/cents")
      VectorOps.graphEdges(emb, coarse = Some(coarse))
        .write.mode("overwrite").parquet(s"$tmp/edges")
      // the HNSW upper layer: same build over the hash-sampled subset
      VectorOps.graph2Layer1Edges(emb, coarse = Some(coarse))
        .write.mode("overwrite").parquet(s"$tmp/edges1")
      val centArr = coarse.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      VectorOps.assignCells(emb, centArr)
        .select(col("vec_id"), col("cell"), col("v").as("cv"),
          graft.functions.ArrayDotProduct.dot(col("v"), col("v")).as("sq"))
        .select(col("vec_id"), col("cell"), col("cv"), sqrt(col("sq")).as("cn"))
        .write.mode("overwrite").parquet(s"$tmp/index")
    }

  /** The navigable-graph ANN artifact, built once per (application, sf
    * dir): proximity edges + assigned cell index + coarse centroids —
    * the three tables `graphTopKFromIndex` serves from (in production the
    * cell index is exactly what StreamingAnnIngest maintains, edges are
    * rebuilt per corpus version like the DedupIndex artifact). Oracles
    * replay the full inline derivation, so hash-green certifies
    * from-artifact == inline.
    */
  private[graft] def annGraphOf(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val d = annGraphDirOf(s, dir)
    (s.read.schema("src bigint, dst bigint, cos double").parquet(s"$d/edges"),
      s.read.schema("vec_id bigint, cell int, cv array<double>, cn double")
        .parquet(s"$d/index"),
      s.read.schema("cell int, centroid array<double>").parquet(s"$d/cents"))
  }

  /** The layer-1 (upper) graph of the same memoized artifact. */
  private[graft] def annGraphLayer1Of(s: SparkSession, dir: String): DataFrame =
    s.read.schema("src bigint, dst bigint, cos double")
      .parquet(s"${annGraphDirOf(s, dir)}/edges1")

  /** The entity-resolution index (records + matched pairs), built once
    * per (application, sf dir) by ONE StreamingEntityRes fold over the
    * planted customer table — the serve-side cache for
    * `entity_resolution_pairs` and `entity_golden_records`. Registered
    * queries keep their inline-derived oracle SQL, so a hash-green round
    * certifies the maintained index reproduces the inline derivation.
    */
  private[graft] def entityIndexOf(s: SparkSession, dir: String): String =
    dirOf("entity-res", s, dir) { tmp =>
      graft.streaming.StreamingEntityRes.processBatch(
        graft.ops.Entity.withPlantedDirty(Tables.customer(s, dir)), 0L, tmp)
    }

  /** Lloyd-quantizer centroids memoized per (application, sf dir) — the
    * same trained-once contract as the PQ codebooks (k×dim doubles).
    */
  private[graft] def kmCentsOf(s: SparkSession, dir: String): DataFrame =
    centroidsOf("km", s, dir)(
      VectorOps.kmeansCentroids(Tables.embeddings(s, dir), k = 10, iters = 3))

  /** The OCCUPANCY-SIZED Lloyd quantizer (k = ceil(N/64), SCALING.md
    * §3/§4's scale knob), memoized like kmCentsOf — the production
    * quantizer the graph artifact and the auto-IVF tier serve under.
    */
  private[graft] def kmCentsAutoOf(s: SparkSession, dir: String): DataFrame =
    centroidsOf("kmauto", s, dir)(VectorOps.kmeansCentroidsAuto(Tables.embeddings(s, dir)))

  /** Label-mean coarse centroids memoized per (application, sf dir) — the
    * FIXED pedagogical quantizer every inline fixed-k query derives per
    * serve (one corpus-wide 64-column aggregation + collect each time).
    * k×dim doubles of driver state, the same trained-once contract as
    * kmCentsOf; values are the exact deterministic aggregate the inline
    * derivation produces, so passing the memo as `coarse` changes no
    * query's result (oracles keep replaying the inline derivation).
    */
  private[graft] def labelCentsOf(s: SparkSession, dir: String): DataFrame =
    centroidsOf("label", s, dir)(
      VectorOps.centroids(Tables.embeddings(s, dir))
        .select(col("label").as("cell"), col("centroid")))

  /** The maintained FIXED-QUANTIZER cell index, built once per
    * (application, sf dir) by ONE StreamingAnnIngest fold over the corpus
    * — the (vec_id, cell, cv, cn, s, q, codes, mp, mpn, bw) table every
    * fixed-k serving tier reads instead of re-assigning / re-encoding the
    * corpus per serve (the round-13 from-index pattern, VERDICT r13 #1,
    * extended from the auto tier to the fixed tier). Assignment, int8
    * quantization, PQ encoding, the MRL prefix and the packed sign word
    * are all deterministic projections of the same corpus, so serving
    * from the index is bit-identical to the inline derivation the
    * registered oracles replay — hash-green certifies from-index ≡ inline.
    */
  private[graft] def ivfIndexOf(s: SparkSession, dir: String): DataFrame = {
    val d = dirOf("ivf-index", s, dir) { tmp =>
      val book = graft.functions.PqBook(pqCbsOf(s, dir, "plain"), VectorOps.PqSubDim)
      StreamingAnnIngest.processBatch(
        Tables.embeddings(s, dir), 0L, labelCentsOf(s, dir),
        s"$tmp/index", book = Some(book))
    }
    StreamingAnnIngest.readIndex(s, s"$d/index")
  }

  private def textIndexDirOf(s: SparkSession, dir: String): String =
    dirOf("text-index", s, dir) { tmp =>
      StreamingTextIngest.processBatch(Tables.documents(s, dir), 0L, s"$tmp/index")
    } + "/index"

  /** The inverted-index pair (postings, doclens) exactly as
    * StreamingTextIngest materializes it, built once per (application, sf
    * dir) by ONE StreamingTextIngest fold over the corpus — the tables the
    * `*_from_index` lexical rankers read instead of re-tokenizing +
    * re-aggregating the corpus per serve (round 14 — the same from-index
    * retirement as the vector tier; tokenization and tf/dl aggregation are
    * deterministic, so hash-green certifies from-index ≡ inline).
    */
  private[graft] def textIndexOf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = textIndexDirOf(s, dir)
    (StreamingTextIngest.readPostings(s, d), StreamingTextIngest.readDoclens(s, d))
  }

  /** The positional table of the same maintained text index (1-based
    * positions of the identical split-on-space tokenization) — what
    * `phrase_search` answers from instead of re-posexploding the corpus.
    */
  private[graft] def textPositionsOf(s: SparkSession, dir: String): DataFrame =
    StreamingTextIngest.readPositions(s, textIndexDirOf(s, dir))

  /** The maintained SPANN posting index under the same fixed quantizer,
    * built once per (application, sf dir) by ONE StreamingSpannIngest fold
    * — closure assignment is a deterministic projection, so serving from
    * the postings is bit-identical to the inline spannAssign derivation.
    */
  private[graft] def spannIndexOf(s: SparkSession, dir: String): DataFrame = {
    val d = dirOf("spann-index", s, dir) { tmp =>
      StreamingSpannIngest.processBatch(
        Tables.embeddings(s, dir), 0L, labelCentsOf(s, dir), s"$tmp/index")
    }
    StreamingSpannIngest.readIndex(s, s"$d/index")
  }

  /** Trained PQ codebooks memoized per (application, sf dir, variant) —
    * driver-side state of m·k·subdim doubles (tiny), the production
    * "codebooks trained once offline" contract the from-index PQ tier
    * already serves under: every PQ query used to re-run the Lloyd loop
    * (3 driver-collect rounds) per serve. Oracles replay training inline,
    * so hash-green certifies memo ≡ inline.
    */
  private[graft] def pqCbsOf(s: SparkSession, dir: String, variant: String): VectorOps.PqCbs =
    once(s"pq-$variant", s, dir) {
      val emb = Tables.embeddings(s, dir)
      variant match {
        case "plain" => VectorOps.pqCodebooks(emb)
        case "rot" => VectorOps.pqCodebooks(VectorOps.rotatedEmbeddings(emb))
        case "opq" => VectorOps.pqCodebooks(VectorOps.opqEmbeddings(emb))
        case "rpq" => VectorOps.ivfRpqCodebooks(emb)
        case v => throw new IllegalArgumentException(s"pqCbsOf: unknown variant $v")
      }
    }

  /** The per-(doc, class) fixed-point NB score table, built once per
    * (application, sf dir) — classify/confusion/margin are all rollups of
    * it (each used to re-run the hashed token scan + C-fanout scoring).
    */
  private[graft] def nbScoresOf(s: SparkSession, dir: String): DataFrame = {
    val d = dirOf("nb-scores", s, dir) { tmp =>
      graft.ops.Classify.nbLangScores(Tables.documents(s, dir))
        .write.mode("overwrite").parquet(s"$tmp/scores")
    }
    s.read.schema("doc_id bigint, lang string, cls string, score_fp bigint")
      .parquet(s"$d/scores")
  }

  /** The StreamingMediaDedup index directory behind `mediaPairsOf`; the
    * perceptual top-k and curation queries read its fingerprint table.
    */
  private[graft] def mediaDedupDirOf(s: SparkSession, dir: String): String =
    dirOf("media-dedup", s, dir) { tmp =>
      StreamingMediaDedup.processBatch(
        Multimodal.mediaTable(
          Multimodal.withPlantedMediaDups(Tables.documents(s, dir))), 0L, tmp)
    }

  /** The perceptual media near-dup pair graph, built once per
    * (application, sf dir) by ONE StreamingMediaDedup fold over the
    * planted media table — the serve-side cache for `media_neardup_pairs`
    * and `media_dedup_apply`, and the from-index proof: the registered
    * queries keep their inline-derived oracle SQL, so a hash-green round
    * certifies the maintained index reproduces the inline derivation.
    */
  private[graft] def mediaPairsOf(s: SparkSession, dir: String): DataFrame =
    StreamingMediaDedup.readPairs(s, mediaDedupDirOf(s, dir))

  /** The TextRank co-occurrence table, built once per (application, sf
    * dir) — the serve-side cache for `textrank_keywords`: the registered
    * query used to re-run the corpus scan + 15 weighted-PageRank rounds
    * per serve; with the artifact the corpus is scanned once and every
    * serve is vocabulary-sized (StreamingTextRank maintains the same
    * table incrementally in production). The query keeps its
    * inline-derived oracle SQL, so a hash-green round certifies
    * from-artifact ≡ inline.
    */
  private[graft] def textRankCoocOf(s: SparkSession, dir: String): DataFrame = {
    val d = dirOf("trcooc", s, dir) { tmp =>
      TextOps.textRankCooc(Tables.documents(s, dir))
        .write.mode("overwrite").parquet(s"$tmp/cooc")
    }
    s.read.schema("tok_a string, tok_b string, cooc bigint").parquet(s"$d/cooc")
  }

  /** The planted-corpus guard (`VectorOps.plantedCorpus`'s max-id / dim
    * aggregate) proves a STATIC property of the sf dir, so it runs once
    * per (application, dir) instead of one corpus-scan job per serve. It
    * is recorded only after it passes, so a failing guard keeps failing.
    */
  private[graft] def plantedGuardOf(s: SparkSession, dir: String): Unit =
    once("planted-guard", s, dir) {
      VectorOps.plantedCorpus(Tables.embeddings(s, dir), guard = true): Unit
    }
}
