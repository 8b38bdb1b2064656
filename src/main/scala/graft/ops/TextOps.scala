package graft.ops

import graft.ops.Materialize.EagerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything is built from codegen'd higher-order array functions
  * (`split`/`transform`/`filter`/`aggregate`) — no UDFs — so the whole
  * per-document feature computation happens inside WholeStageCodegen with
  * zero shuffles (narrow, embarrassingly parallel: scales linearly to any
  * number of executors; at 100 TB each task processes its parquet split
  * independently).
  *
  * Determinism contract: every floating-point output is produced by the same
  * IEEE-754 double operations in the same order as the DuckDB oracle SQL and
  * rounded to 6 decimals; no transcendental functions (libm results differ
  * across engines in the last ulp).
  */
object TextOps {

  private def tokens(text: Column): Column = split(text, " ")

  /** Distinct 3-token shingles per document — the set representation used
    * by MinHash/SimHash/Jaccard fingerprinting.
    */
  def shingleSet(docs: DataFrame): DataFrame = shingleOccurrences(docs).distinct()

  /** Every 3-token shingle occurrence (doc_id, shingle), repeats kept —
    * `shingleSet` before its distinct, for consumers whose aggregate
    * ignores repeats (a min).
    *
    * Built from fully codegen'd primitives: split → posexplode → the next
    * two tokens read from the same token array by position → concat_ws,
    * all inside the scan's pipeline, with no shuffle and no sort of its
    * own. The obvious alternative (`transform(sequence(...), i ->
    * concat_ws(element_at...))`) is a higher-order lambda =
    * CodegenFallback: interpreted per-element eval, measured ~10× slower.
    * A per-doc consumer aggregates map-side first, so only its partial
    * results are shuffled on doc_id — at 100 TB, the downstream
    * parallelism is set by that exchange, not by the input file count.
    */
  private[graft] def shingleOccurrences(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("tok"),
        get(col("toks"), col("pos") + 1).as("tok1"),
        get(col("toks"), col("pos") + 2).as("tok2"))
      .filter(col("tok2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("tok1"), col("tok2")).as("shingle"))

  /** Per-document token statistics: count, distinct count, type-token ratio. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      round(size(array_distinct(t)).cast("double") / size(t).cast("double"), 6).as("ttr"))
  }

  /** Per-(source, cohort) smoothed unigram distributions — the shared
    * frame behind `corpusTokenDrift` (the rollup) and `tokenDriftTop`
    * (the per-token attribution). Cohorts = doc-id parity (the
    * quantizer_drift convention: a deterministic stand-in for
    * crawl-version cohorts); add-one smoothing over each source's union
    * vocabulary so a token seen in only one cohort still contributes
    * finite mass.
    */
  private def tokenCohortDists(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("source"), (col("doc_id") % 2 === 0).as("is_ref"),
        explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = tok.groupBy(col("source"), col("tok"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))
    val tots = counts.groupBy(col("source"))
      .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"),
        count(lit(1)).as("v"))
    counts.join(broadcast(tots), Seq("source"))
      .select(col("source"), col("tok"), col("n_ref"), col("n_cur"), col("v"),
        ((col("c_ref") + 1).cast("double") / (col("n_ref") + col("v")).cast("double"))
          .as("pr"),
        ((col("c_cur") + 1).cast("double") / (col("n_cur") + col("v")).cast("double"))
          .as("pc"))
  }

  /** TEXT-side distribution drift: per source, the Jensen-Shannon
    * divergence between the two doc-parity cohorts' unigram
    * distributions — the "did the new crawl shift this source's
    * language?" audit, the corpus twin of the events-side
    * psi/ks/jsd panel (whose bins are value buckets; here the support is
    * the source's vocabulary). Identical cohorts give EXACTLY 0 (pr = pc
    * termwise); disjoint vocabularies approach ln 2.
    *
    * Scale: one exploded-token aggregation per (source, token) — the
    * same single shuffle every retrieval statistic here pays — then a
    * source-sized rollup; no all-pairs anywhere.
    */
  def corpusTokenDrift(docs: DataFrame): DataFrame = {
    val m = (col("pr") + col("pc")) / 2
    tokenCohortDists(docs)
      .groupBy(col("source"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        max(col("v")).as("vocab"),
        round(sum(col("pr") * log(col("pr") / m) / 2 +
          col("pc") * log(col("pc") / m) / 2), 6).as("jsd"))
  }

  /** The attribution half of `corpusTokenDrift`: per source, the
    * top-`k` tokens by JSD contribution — WHICH words moved, the line a
    * curator actually reads when a source's drift score alerts. Ranked
    * on the 6dp-ROUNDED contribution with a token tie-break, so
    * sub-rounding float noise can never reorder rows across engines.
    */
  def tokenDriftTop(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = (col("pr") + col("pc")) / 2
    val contrib = tokenCohortDists(docs)
      .select(col("source"), col("tok"),
        round(col("pr") * log(col("pr") / m) / 2 +
          col("pc") * log(col("pc") / m) / 2, 6).as("contrib"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("contrib").desc, col("tok").asc)
    contrib.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("tok"), col("contrib"))
  }

  /** Stopword list shared with the oracle SQL (English function words; the
    * synthetic corpus contains `the`/`a`/`of` etc.).
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Heuristic document quality score: linear blend of type-token ratio,
    * non-stopword density, and a length credit — the shape (not the exact
    * weights) of production quality classifiers' hand-crafted features.
    */
  /** The 6dp-rounded blended score, shared by `qualityScore` and
    * `qualityQuantileFilter` so the two can never drift.
    */
  private def qualityScoreExpr: Column = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(t, x => array_contains(stopArr, x))).cast("double")
    val ttr = size(array_distinct(t)).cast("double") / nTok
    val stopRatio = nStop / nTok
    val lenCredit = least(nTok / lit(100.0), lit(1.0))
    round(lit(0.5) * ttr + lit(0.3) * (lit(1.0) - stopRatio) + lit(0.2) * lenCredit, 6)
  }

  def qualityScore(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(t, x => array_contains(stopArr, x))).cast("double")
    val meanLen = (length(col("text")).cast("double") - nTok + lit(1.0)) / nTok
    val stopRatio = nStop / nTok
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      round(meanLen, 6).as("mean_token_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      qualityScoreExpr.as("quality_score"))
  }

  /** Token count below which a vocabulary entry counts as "rare" for the
    * rare-token fraction signal.
    */
  val RareTokenMax: Long = 5L

  /** Corpus-unigram language-model document scoring — the shape of the
    * perplexity-based quality filter (CCNet/KenLM-style): train a unigram
    * LM on the corpus itself (token → count, one map-side-combinable hash
    * aggregate), then score every document by its mean token log-probability
    * ln(c_tok/N). Low scores = documents dominated by rare tokens
    * (boilerplate, code dumps, mojibake) — the model-based gate that runs
    * after the hand-crafted heuristics in `qualityScore`. Also emits the
    * integer-exact rare-token fraction (share of tokens with corpus count
    * < RareTokenMax).
    *
    * Scale: vocabulary counts are a hash agg over exploded tokens; the
    * token-instance ⋈ vocabulary equi-join shuffles on the token — a
    * Zipf-skewed key ("the" carries ~5% of instances), which is exactly the
    * case AQE skew-join splitting handles (proven live in SkewJoinSpec);
    * the one-row total is the labeled broadcast one-row cross (same shape
    * as temperature_mix). ln(c/N) is evaluated per JOIN ROW from two
    * integer columns, so every per-token term is bit-identical across
    * engines; the per-doc mean is rounded 6dp (repo float convention).
    */
  def unigramLogprob(docs: DataFrame, rareMax: Long = RareTokenMax): DataFrame = {
    val inst = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vc = inst.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = vc.agg(sum(col("c")).as("n"))
    inst.join(vc, "tok").crossJoin(broadcast(tot))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("n").cast("double"))), 6)
          .as("mean_logprob"),
        round(sum(when(col("c") < rareMax, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("rare_frac"))
  }

  /** Jelinek-Mercer interpolation weight on the bigram term (0.75 and its
    * complement 0.25 are exact in binary — the blend introduces no
    * cross-engine rounding).
    */
  val BigramLambda = 0.75

  /** Corpus-bigram language-model document scoring with Jelinek-Mercer
    * backoff — the next step up from `unigramLogprob` toward the KenLM
    * n-gram perplexity filters (CCNet): p(w|v) = λ·c(v,w)/c(v) +
    * (1−λ)·c(w)/N, first tokens scored by the unigram term alone. A
    * document of individually-common but incoherently-ordered tokens
    * (shuffled text, keyword stuffing) scores near its unigram mean;
    * coherent text scores markedly higher — the delta is the signal the
    * unigram gate cannot see.
    *
    * Every probability is assembled from INTEGER counts per join row
    * (c(v,w) ≥ 1 whenever v is present — the LM is self-trained — so the
    * left joins only go null for first tokens), making each term
    * bit-identical across engines; the per-doc mean is rounded 6dp.
    *
    * Scale: two hash aggs (unigram, bigram vocabularies) + three
    * token-keyed equi-joins over the instance stream — Zipf-skewed keys,
    * the AQE skew-join case (SkewJoinSpec), same as unigramLogprob; the
    * one-row total is the labeled broadcast one-row cross.
    */
  def bigramLogprob(docs: DataFrame, lambda: Double = BigramLambda): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val inst = docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val withPrev = inst.select(col("doc_id"), col("pos"), col("tok"),
      lag(col("tok"), 1).over(w).as("prev"))
    val vc = inst.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val tot = vc.agg(sum(col("cu")).as("n"))
    val bc = withPrev.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cb"))
    val ctx = vc.select(col("tok").as("prev"), col("cu").as("cp"))
    val uniTerm = col("cu").cast("double") / col("n").cast("double")
    val p = when(col("prev").isNull, uniTerm)
      .otherwise(lit(lambda) * col("cb").cast("double") / col("cp").cast("double") +
        lit(1.0 - lambda) * uniTerm)
    withPrev.join(vc, "tok").join(ctx, Seq("prev"), "left").join(bc, Seq("prev", "tok"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(p)), 6).as("mean_logprob_bi"))
  }

  /** DSIR feature-hash buckets (hashed word-bigram features). 1024 keeps
    * the bucket-stats table broadcast-sized while leaving collisions rare
    * on this vocabulary; the bucket count also appears as the Laplace
    * smoothing denominator term.
    */
  val DsirBuckets = 1024

  /** Documents selected by `dsirResample`. */
  val DsirK = 200

  /** Seeds for the DSIR feature hash and the per-doc Gumbel gate. */
  val DsirSeed = "dsir"
  val DsirGumbelSeed = "dsir-g"

  /** The stand-in target domain: labeled-English documents. */
  val DsirTargetLang = "en"

  /** Data Selection via Importance Resampling (DSIR, Xie et al. NeurIPS'23):
    * select raw documents whose hashed-n-gram profile looks like a target
    * domain, by (1) estimating target and raw unigram distributions over
    * HASHED BIGRAM features (h31 % buckets — the fixed-width sketch that
    * makes the estimator corpus-size-independent), (2) scoring every doc
    * with its importance log-weight Σ_b n_b·(ln p̂_target(b) − ln p̂_raw(b))
    * under Laplace smoothing, and (3) sampling k docs WITHOUT replacement
    * with probability ∝ weight via the Gumbel-top-k trick — the Gumbel
    * noise derived deterministically from the portable doc-id hash
    * (u = (h%1e6 + 0.5)/1e6, g = −ln(−ln u)), so the "random" resample is
    * bit-reproducible and oracle-replayable, the same integer-ppm
    * convention as Sampling.
    *
    * Every probability assembles per join row from INTEGER counts
    * ((c+1)/(N+B)); the per-doc feature-sum is rounded 6dp (≤ `buckets`
    * addends — summation-order drift ~1e-12, absorbed), and the final key
    * once more after the Gumbel add. Docs with < 2 tokens have no bigram
    * features and drop out of the resample on both engines.
    *
    * Scale: bigrams via the codegen'd posexplode+lead shape (shared with
    * frequentBigrams — the doc_id window exchange also re-partitions to
    * post-explode volume); doc×bucket counts are one hash agg; the
    * bucket-stats side is HARD-BOUNDED at `buckets` rows (broadcast), the
    * totals one row (labeled broadcast cross); selection is a TakeOrdered —
    * k rows cross the final exchange, never a global sort or window.
    */
  def dsirResample(
      docs: DataFrame,
      k: Int = DsirK,
      buckets: Int = DsirBuckets,
      targetLang: String = DsirTargetLang): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = docs
      .select(col("doc_id"), (col("lang") === targetLang).as("is_t"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("is_t"), col("tok"), lead(col("tok"), 1).over(w).as("tok1"))
      .filter(col("tok1").isNotNull)
      .select(col("doc_id"), col("is_t"),
        pmod(PortableHash.h31(DsirSeed, concat_ws(" ", col("tok"), col("tok1"))),
          lit(buckets.toLong)).as("bucket"))
    val db = bg.groupBy(col("doc_id"), col("is_t"), col("bucket")).agg(count(lit(1)).as("n"))
    val bs = db.groupBy(col("bucket")).agg(
      sum(col("n")).as("cr"),
      sum(when(col("is_t"), col("n")).otherwise(0L)).as("ct"))
    val tot = bs.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val term = col("n").cast("double") *
      (log((col("ct").cast("double") + lit(1.0)) /
           (col("nt").cast("double") + lit(buckets.toDouble))) -
       log((col("cr").cast("double") + lit(1.0)) /
           (col("nr").cast("double") + lit(buckets.toDouble))))
    val lw = db.join(broadcast(bs), Seq("bucket")).crossJoin(broadcast(tot))
      .groupBy(col("doc_id")).agg(round(sum(term), 6).as("log_w"))
    val u = (pmod(PortableHash.h31(DsirGumbelSeed, col("doc_id").cast("string")),
      lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
    lw.select(col("doc_id"), col("log_w"),
        round(col("log_w") + -log(-log(u)), 6).as("gkey"))
      .orderBy(col("gkey").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Quantile position of the per-language keep threshold, in ppm (300000 =
    * drop the bottom ~30% of each language) — integer ppm so the cutoff
    * count is exact integer arithmetic in every engine, the same convention
    * as Sampling.
    */
  val QualityQuantilePpm: Long = 300000L

  /** Per-language quality-quantile filtering: drop each language's bottom
    * p-quantile by quality score — the relative-threshold gate data recipes
    * use instead of one absolute cutoff (an absolute threshold calibrated
    * on English over-drops morphologically rich languages).
    *
    * The threshold is the empirical (type-1) p-quantile computed from a
    * per-(lang, score) HISTOGRAM, not an exact-percentile aggregate:
    * Spark's `percentile` buffers every value per group (corpus-sized state
    * on #lang reducers — a 100 TB scale-killer), while the histogram is a
    * map-side-combinable hash aggregate whose output is HARD-BOUNDED at
    * ≤ 1e6+1 rows per language (scores live in [0,1] rounded to 6dp), so
    * the cumulative-sum window that follows runs over a bounded frame no
    * matter how large the corpus — same justification class as the
    * PlanAudit allowlist's bounded windows. Threshold = smallest score with
    * cum_count ≥ ⌈n·p/1e6⌉, tested as the cross-multiplied integer
    * comparison cum·1e6 ≥ n·p (⌈⌉-equivalent for integers, overflow-safe to
    * n ≈ 9·10¹², and free of any division an engine could round); survivors
    * keep score strictly above it. The tiny threshold table broadcast-joins
    * back onto the corpus.
    */
  def qualityQuantileFilter(docs: DataFrame, pPpm: Long = QualityQuantilePpm): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("lang"), qualityScoreExpr.as("quality_score"))
    val hist = scored.groupBy(col("lang"), col("quality_score")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("quality_score"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val thr = cum
      .filter(col("cum") * lit(1000000L) >= col("n") * lit(pPpm))
      .groupBy(col("lang")).agg(min(col("quality_score")).as("lang_thr"))
    scored.join(broadcast(thr), Seq("lang"))
      .filter(col("quality_score") > col("lang_thr"))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("lang_thr"))
  }

  /** Marker-token lists per language; priority order below breaks ties. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "los", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("的", "是", "了"))

  /** N-gram/marker language identification: per-language marker hit counts +
    * arg-max prediction with fixed priority tie-break.
    */
  def langId(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val scoreCols = langMarkers.map { case (lang, ms) =>
      val arr = array(ms.map(lit): _*)
      size(filter(t, x => array_contains(arr, x))).as(s"s_$lang")
    }
    val scored = docs.select(col("doc_id") +: scoreCols: _*)
    val langs = langMarkers.map(_._1)
    val pred = langs.foldRight(lit(langs.last)) { (lang, elseCol) =>
      val ge = langs.filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(ge, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** GPT-2-style pre-tokenizer regex, simplified to the subset both Java
    * (Spark) and RE2 (DuckDB) evaluate identically: contraction suffixes,
    * space-prefixed letter runs, digit runs, punctuation runs. No lookahead
    * (RE2 has none). Shared verbatim with the oracle SQL.
    */
  val bpePattern: String = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Subword-level token counting (the "BPE-ish" estimate LLM pipelines use
    * to budget sequence lengths): count of pre-tokenizer matches plus the
    * chars-per-token compression ratio. Narrow, codegen'd, no shuffle.
    */
  def subwordStats(docs: DataFrame): DataFrame =
    // child projection materializes the regex count once; nullif keeps the
    // empty-text ratio NULL by the same rule in both engines (raw x/0 is a
    // cross-engine divergence: Spark NULL vs DuckDB inf)
    docs.select(
        col("doc_id"), length(col("text")).as("n_chars"),
        regexp_count(col("text"), lit(bpePattern)).as("n_subtokens"))
      .select(
        col("doc_id"), col("n_subtokens"),
        round(col("n_chars").cast("double") /
          nullif(col("n_subtokens"), lit(0)).cast("double"), 6).as("chars_per_token"))

  /** Canonical text form for near-exact dedup (the C4-style normalization
    * pass): lowercase, strip punctuation, collapse whitespace runs. Exact
    * dedup over this catches case/punctuation variants that byte-identity
    * misses, at identical (narrow hash-groupBy) cost.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Near-exact dedup on the normalized form: one row per canonical text
    * with the surviving doc and duplicate count.
    */
  def normalizedDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(normalized(col("text"))).as("norm_md5"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** PII scrub patterns (shared with the oracle SQL; RE2/Java-common subset,
    * no lookbehind): email addresses, then 6+-digit runs (ids, phones).
    * Order matters — emails first so their digits don't get half-masked.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{6,}" -> "<NUM>")

  /** PII masking pass: every document with emails/long digit runs replaced
    * by typed placeholder tokens + a flag column for audit sampling.
    * Narrow, codegen'd regexp_replace chain — no shuffle.
    */
  def scrubPii(docs: DataFrame): DataFrame = {
    val scrubbed = piiPatterns.foldLeft(col("text")) {
      case (c, (pat, repl)) => regexp_replace(c, pat, repl)
    }
    docs.select(
      col("doc_id"),
      scrubbed.as("text_scrubbed"),
      (scrubbed =!= col("text")).as("had_pii"))
  }

  /** Training-shard assignment + greedy sequence packing: hash-spread docs
    * over `nShards` (hashing avoids ordered-id skew), then within each shard
    * fill fixed `tokenBudget` bins in doc_id order by cumulative token
    * count — the sequence-packing step a pretraining data pipeline runs
    * before tokenizer sharding. Bin ids are a pure function of the running
    * sum, so the whole assignment is deterministic and SQL-replayable.
    *
    * The per-shard running sum is a TWO-LEVEL distributed prefix sum, so
    * parallelism is never bounded by `nShards` (r3's single window per
    * shard meant 8 tasks each sorting ~1/8 of the corpus — at 100 TB, 8
    * tasks sorting 12.5 TB each):
    *  1. docs are blocked by contiguous doc_id range (`block =
    *     floor(doc_id / blockSpan)`, order-preserving since the id is the
    *     pack order); the running sum WITHIN each (shard, block) is a
    *     window whose keyspace — and therefore parallelism — scales with
    *     corpus size;
    *  2. each block's start offset is the prefix sum of per-block totals —
    *     a corpus/blockSpan-row aggregate (the classic carry table), joined
    *     back on (shard, block). The join reuses the level-1 hash
    *     partitioning, so the corpus is never re-exchanged, and the carry
    *     side is deliberately NOT broadcast-hinted: at extreme scale the
    *     carry table itself outgrows a broadcast, and the planner/AQE picks
    *     broadcast whenever it genuinely fits.
    * `global cum = block_offset + local_cum` reproduces the r3 single-window
    * sum exactly (blocking by id range preserves the per-shard doc_id
    * order), so bins — and the unchanged single-window oracle SQL — are
    * bit-identical. doc_id must be non-negative (floor semantics) and
    * < 2^53 (the block id is computed in double); both hold for every
    * harness scale factor and are asserted in TextOpsSpec.
    */
  def packShards(
      docs: DataFrame,
      nShards: Int = 8,
      tokenBudget: Int = 1000,
      blockSpan: Long = 1024L,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      (hash("shard", col("doc_id").cast("string")) % nShards).as("shard"),
      floor(col("doc_id") / blockSpan).cast("bigint").as("block"))
    val wLocal = Window.partitionBy(col("shard"), col("block")).orderBy(col("doc_id"))
    val local = base.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    // carry table: one row per (shard, block); the window here partitions
    // by shard only, but over block TOTALS — corpus/blockSpan rows, the
    // metadata-sized level of the prefix sum
    val wOff = Window.partitionBy(col("shard")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("shard"), col("block"))
      .agg(sum(col("n_tokens")).as("block_total"))
      .select(col("shard"), col("block"),
        coalesce(sum(col("block_total")).over(wOff), lit(0L)).as("block_offset"))
    local.join(offsets, Seq("shard", "block"))
      // bin = which budget-window the doc STARTS in (greedy sequential fill)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("block_offset") + col("local_cum") - col("n_tokens")).cast("double") / tokenBudget)
          .cast("bigint").as("bin"))
  }

  /** Packing-efficiency audit over the packShards layout: per shard, how
    * many budget windows the greedy fill used, how full they are
    * (`fill_ratio` — the fraction of window capacity carrying real
    * tokens; the complement is padding waste the training loop pays for),
    * and how many documents STRADDLE a window boundary (`split_docs` —
    * each one either truncates or costs a cross-window attention mask).
    * These are the two numbers every sequence-packing pipeline reports
    * before committing a shard layout.
    *
    * All decisions are integer arithmetic on the same prefix sums
    * packShards computes (a doc splits iff strt mod budget + n_tokens >
    * budget), so the oracle replays the report exactly. The window count
    * is derived from the shard's token TOTAL — n_bins = ceil(total /
    * budget) — not from counting distinct start-bins: a document longer
    * than the budget spans whole windows in which no doc starts, and a
    * start-bin count would omit those, undercounting n_bins and letting
    * fill_ratio exceed 1.0. Scale: the same two-level windowed prefix sum
    * as packShards, then one bounded per-shard hash agg.
    */
  def packEfficiencyReport(
      docs: DataFrame,
      nShards: Int = 8,
      tokenBudget: Int = 1000,
      blockSpan: Long = 1024L,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      (hash("shard", col("doc_id").cast("string")) % nShards).as("shard"),
      floor(col("doc_id") / blockSpan).cast("bigint").as("block"))
    val wLocal = Window.partitionBy(col("shard"), col("block")).orderBy(col("doc_id"))
    val local = base.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    val wOff = Window.partitionBy(col("shard")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("shard"), col("block"))
      .agg(sum(col("n_tokens")).as("block_total"))
      .select(col("shard"), col("block"),
        coalesce(sum(col("block_total")).over(wOff), lit(0L)).as("block_offset"))
    val placed = local.join(offsets, Seq("shard", "block"))
      .select(col("shard"), col("n_tokens"),
        (col("block_offset") + col("local_cum") - col("n_tokens")).as("strt"))
      .select(col("shard"), col("n_tokens"),
        when(pmod(col("strt"), lit(tokenBudget.toLong)) + col("n_tokens") > tokenBudget, 1L)
          .otherwise(0L).as("split"))
    placed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("split")).as("split_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("shard"),
        // exact integer ceil — DIV keeps the oracle replay bit-identical
        expr(s"CAST((total_tokens + ${tokenBudget - 1}) DIV $tokenBudget AS BIGINT)")
          .as("n_bins"),
        col("n_docs"), col("split_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") /
          (expr(s"(total_tokens + ${tokenBudget - 1}) DIV $tokenBudget") * lit(tokenBudget))
            .cast("double"), 6).as("fill_ratio"))
  }

  /** Tokens per boilerplate-removal segment (the "line" unit — the synthetic
    * corpus has no newlines, so segmentation is fixed-width in tokens; a
    * production corpus would split on newline/sentence boundaries instead,
    * changing only the segmenter, not the algorithm).
    */
  val SegTokens = 8

  /** Minimum distinct documents sharing a segment before it counts as
    * boilerplate.
    */
  val BoilerMinDocs = 3

  /** Every `PlantEvery`-th document gets the planted boilerplate prefix. */
  val PlantEvery = 4

  /** Deterministic boilerplate: exactly 2×SegTokens tokens, so planting
    * shifts the original text's segment boundaries uniformly.
    */
  val BoilerplateText: String =
    "subscribe to our newsletter for more updates click " +
      "here to accept cookies and privacy terms now"

  /** Deterministic test augmentation (same role as VectorOps.plantedCorpus):
    * prepend the fixed boilerplate to every `every`-th document, so
    * cross-document repeated segments provably exist in the synthetic
    * corpus. A real web crawl arrives with its boilerplate built in.
    */
  def withPlantedBoilerplate(docs: DataFrame, every: Int = PlantEvery): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % every === 0, concat(lit(BoilerplateText), lit(" "), col("text")))
        .otherwise(col("text")))

  /** Cross-document boilerplate removal (the RefinedWeb/CCNet line-dedup
    * pass): segment every document into fixed-width token windows, count
    * distinct documents per segment, strip segments shared by ≥ `minDocs`
    * docs, and reassemble the survivors in order. Catches nav bars, cookie
    * banners, and license headers that document-level dedup cannot see
    * (the documents differ; their segments repeat).
    *
    * Scale shape: one hash agg over segments for the frequency table; the
    * boilerplate set is small by construction (segments repeated across
    * ≥ minDocs docs are boilerplate precisely because the web has few of
    * them repeated many times), so it BROADCASTS and the corpus-side strip
    * is an anti join with no corpus exchange beyond the segment groupBy.
    * Per-group state is bounded: ≤ segTokens tokens per segment buffer and
    * ≤ one doc's segments per reassembly buffer — never corpus-sized.
    * Output `text_clean` is NULL for a document whose every segment was
    * boilerplate (n_removed = n_segments).
    */
  def stripBoilerplate(
      docs: DataFrame,
      segTokens: Int = SegTokens,
      minDocs: Int = BoilerMinDocs,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val segs = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"), floor(col("pos") / segTokens).cast("bigint").as("seg_idx"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))), s => s("tok")),
        " ").as("seg"))
      .withColumn("seg_h", hash("seg", col("seg")))
    val boiler = segs.groupBy(col("seg_h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("seg_h"))
    val kept = segs.join(broadcast(boiler), Seq("seg_h"), "left_anti")
    val totals = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segments"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))), s => s("seg")),
          " ").as("text_clean"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        col("text_clean"))
  }

  /** Chunk width in tokens for document chunking. */
  val ChunkTokens = 32

  /** Chunk stride in tokens (stride < width ⇒ overlapping chunks). */
  val ChunkStride = 24

  /** Overlapping fixed-token document chunking — the retrieval/embedding
    * preprocessing step (RAG indexing, long-doc embedding): chunk k of a
    * document covers tokens [k·stride, k·stride + width), for every k with
    * k·stride < n_tokens; the final chunk may run short. stride < width
    * gives the overlap that keeps sentences straddling a boundary visible
    * to both neighbors.
    *
    * Scale: a pure zero-shuffle projection — tokenize, explode the chunk
    * index range, `slice` each chunk out of the token array. No window, no
    * groupBy, no exchange: chunking 100 TB is embarrassingly parallel and
    * this plan keeps it that way (parallelism rides the scan; the explode
    * multiplies rows ~n/stride per doc).
    */
  def chunkDocuments(
      docs: DataFrame,
      width: Int = ChunkTokens,
      stride: Int = ChunkStride): DataFrame = {
    require(stride >= 1 && width >= stride,
      s"chunkDocuments: need 1 <= stride <= width, got width=$width stride=$stride")
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L),
          floor((size(col("t")) - 1).cast("double") / stride).cast("long"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        least(lit(width), size(col("t")) - col("chunk_idx").cast("int") * stride)
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"), (col("chunk_idx").cast("int") * stride) + 1, lit(width)))
          .as("chunk_text"))
  }

  /** Window width (tokens) for cross-document duplicate-span analysis. */
  val SpanTokens = 5

  /** Cross-document duplicate-span statistics — the fixed-width
    * approximation of exact-substring training-data dedup (Lee et al.,
    * ACL'22, arXiv:2107.06499: duplicated ≥50-token spans; width scaled to
    * the synthetic corpus): a position's span is DUPLICATED iff the same
    * `spanTokens`-token window appears in ≥2 distinct documents. Emits, per
    * document, the duplicated-span count and the fraction of TOKENS covered
    * by at least one duplicated span (overlapping spans merged by interval
    * union, not double-counted) — the signal used to cut repeated
    * boilerplate/licensing/quote content before training.
    *
    * Scale shape: positional spans shuffle once on doc_id (the window that
    * assembles each span), the span-frequency table is one hash agg over
    * (span_h, doc_id) pairs, and the dup marking is an equi-join on span_h
    * — never broadcast, because adversarial corpora can have corpus-sized
    * dup sets. The interval union is a per-doc window over DUP positions
    * only (≤ spans per doc), then one final per-doc agg.
    */
  def dupSpanStats(
      docs: DataFrame,
      spanTokens: Int = SpanTokens,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spanTokens >= 2, s"dupSpanStats: spanTokens=$spanTokens must be >= 2")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until spanTokens).map(i => lead(col("tok"), i).over(w))
    val spans = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (col("tok") +: leads): _*).as("span"),
        leads.last.isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("pos"), hash("ds", col("span")).as("span_h"))
    val dup = spans.select(col("span_h"), col("doc_id")).distinct()
      .groupBy(col("span_h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("span_h"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = spans.join(dup, Seq("span_h"), "left_semi")
      .select(col("doc_id"), col("pos"),
        least(lit(spanTokens),
          coalesce(lead(col("pos"), 1).over(wd) - col("pos"), lit(spanTokens))).as("cov"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cov")).cast("bigint").as("dup_tokens"),
        count(lit(1)).as("n_dup_spans"))
    val totals = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("n_tokens"),
      greatest(size(tokens(col("text"))) - (spanTokens - 1), lit(0)).cast("bigint").as("n_spans"))
    totals.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_token_frac"))
  }

  /** The APPLY path for cross-document span duplication (the
    * substring-dedup treatment of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — keep ONE
    * occurrence of each duplicated span, excise the rest): a token is
    * removed iff it is covered by some `spanTokens`-token window that
    * also occurs in another document AND this document is not the span's
    * canonical (minimum-doc_id) holder. Keep-first semantics: canonical
    * docs keep their copy, so every span's content survives somewhere;
    * within-doc repeats are NOT touched (same cross-doc-only convention
    * as dupSpanStats, whose per-doc numbers predict exactly what this
    * removes). Emits the rebuilt text plus before/after token counts.
    *
    * Scale: the same single exploded-token pass as dupSpanStats (spans
    * are a window projection, the dup table a span-hash groupBy), a
    * bounded ×spanTokens coverage explode on the DUP spans only, one
    * anti-join keyed (doc_id, pos), and a per-doc rebuild agg. No
    * suffix array needed: fixed-width windows give the same excision
    * set as a suffix automaton for matches ≥ spanTokens, at hash-join
    * cost.
    */
  def stripDupSpans(
      docs: DataFrame,
      spanTokens: Int = SpanTokens,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    require(spanTokens >= 2, s"stripDupSpans: spanTokens=$spanTokens must be >= 2")
    val toks = tokenPositions(docs)
      .persist() // feeds the span pass AND the final rebuild anti-join
    val spans = spanHashesOf(toks, spanTokens, hash)
    val canon = spans.select(col("span_h"), col("doc_id")).distinct()
      .groupBy(col("span_h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("span_h"), col("canonical_id"))
    excisedRebuild(docs, toks, spans, canon, spanTokens)
  }

  /** (doc_id, pos, tok) exploded token positions — the spine both the
    * batch span pass and the streamed excision fold consume.
    */
  private[graft] def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))

  /** Full-width span hashes (doc_id, pos, span_h) from a token-position
    * table: span at `pos` covers tokens [pos, pos+spanTokens).
    */
  private[graft] def spanHashesOf(
      toks: DataFrame, spanTokens: Int,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until spanTokens).map(i => lead(col("tok"), i).over(w))
    toks
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (col("tok") +: leads): _*).as("span"),
        leads.last.isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("pos"), hash("ds", col("span")).as("span_h"))
  }

  /** Excise every span position whose canonical holder is a LOWER doc id
    * (`canon`: span_h → canonical_id; a doc matching its own canonical
    * row keeps its copy) and rebuild the surviving text in position
    * order — the shared apply step of batch `stripDupSpans` and the
    * streamed span-excision fold (where `canon` also carries history).
    */
  private[graft] def excisedRebuild(
      docs: DataFrame, toks: DataFrame, spans: DataFrame,
      canon: DataFrame, spanTokens: Int): DataFrame = {
    val drop = spans.join(canon, Seq("span_h"))
      .filter(col("doc_id") > col("canonical_id"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanTokens - 1))).as("pos"))
      .distinct()
    val rebuilt = toks.join(drop, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_after"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("text_clean"))
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_tokens_after"), lit(0L)).as("n_tokens_after"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Head size for the Zipf rank-frequency fit. */
  val ZipfTopN = 200

  /** Zipf rank-frequency fit over the corpus vocabulary: OLS of
    * ln(frequency) on ln(rank) for the top-`n` terms — the classic
    * "is this natural language" corpus diagnostic (slope ≈ −1 for
    * organic text; synthetic/templated corpora flatten, log-spam
    * steepens), plus r² as the power-law goodness gate.
    *
    * The ranking never needs a global sort: the vocabulary count agg is
    * map-side-combinable, and the head is taken by the bounded-heap
    * TopKAggregator keyed (count, portable token hash) — ties rank by
    * hash, replayed by the oracle's identical window order. Only the
    * head's (rank, count) pairs feed the fit, so the token strings
    * themselves never leave the aggregation.
    *
    * Scale: one vocab hash agg + a ≤n-row heap + one n-row closed-form
    * OLS — no window over the vocabulary, nothing corpus-sized moves.
    */
  def zipfFit(
      docs: DataFrame,
      n: Int = ZipfTopN,
      hash: (String, Column) => Column = PortableHash.h31): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(n),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
    val counts = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(col("c"), hash("zipf", col("tok")).as("tid"))
    val pts = counts
      .agg(topk(col("c").cast("double"), col("tid")).as("topk"))
      .select(posexplode(col("topk")).as(Seq("i", "t")))
      .select(log((col("i") + 1).cast("double")).as("x"), log(col("t._1")).as("y"))
    val sums = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val vx = nD * col("sxx") - col("sx") * col("sx")
    val vy = nD * col("syy") - col("sy") * col("sy")
    val cov = nD * col("sxy") - col("sx") * col("sy")
    sums.select(col("n").as("n_terms"),
      round(when(vx > 0, cov / vx).otherwise(lit(0.0)), 6).as("slope"),
      round(when(vx > 0, (col("sy") * col("sxx") - col("sx") * col("sxy")) / vx)
        .otherwise(lit(0.0)), 6).as("intercept"),
      round(when(vx > 0 && vy > 0, cov * cov / (vx * vy)).otherwise(lit(0.0)), 6)
        .as("r2"))
  }

  /** Misra-Gries sketch capacity for frequent-bigram mining. */
  val FreqSketchK = 400

  /** Frequency threshold in ppm — must exceed the MG guarantee 1/(k+1). */
  val FreqMinPpm = 3000L

  /** Corpus-wide frequent-bigram mining via a bounded-memory Misra-Gries
    * sketch + exact recount — the boilerplate-n-gram miner that feeds lists
    * like `stripBoilerplate`'s at corpus scale. Two passes:
    *
    *  1. CANDIDATES: one `FreqItemsAggregator` pass over all bigram
    *     instances. The exchange carries ≤ k counters per partition (vs the
    *     vocabulary-sized shuffle of a plain groupBy — billions of distinct
    *     n-grams at 100 TB), and MG guarantees every bigram with true
    *     frequency > N/(k+1) survives.
    *  2. EXACT RECOUNT: instances semi-filtered by the ≤ k-row broadcast
    *     candidate set, exact-counted, thresholded at `minPpm` (integer
    *     cross-multiplication — no division to round).
    *
    * Because `minPpm/1e6 > 1/(k+1)` (enforced), the output is EXACTLY the
    * set of bigrams at or above the threshold with exact counts —
    * deterministic even though the sketch's internal estimates are
    * partition-order dependent. The oracle is therefore plain SQL, and the
    * sketch is load-bearing: a dropped guaranteed candidate loses a row.
    */
  def frequentBigrams(
      docs: DataFrame,
      k: Int = FreqSketchK,
      minPpm: Long = FreqMinPpm): DataFrame = {
    require(minPpm * (k + 1) > 1000000L,
      s"frequentBigrams: threshold $minPpm ppm must exceed the MG guarantee " +
        s"1/(k+1) = ${1000000L / (k + 1)} ppm, or the sketch may drop a qualifying bigram")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // the exploded+windowed instance frame is consumed by BOTH passes —
    // persist it so posexplode + the per-doc lead() window run once, and
    // own the cache (eager result, release before return)
    val inst = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("tok"), lead(col("tok"), 1).over(w).as("tok1"))
      .filter(col("tok1").isNotNull)
      .select(concat_ws(" ", col("tok"), col("tok1")).as("bigram"))
      .persist()
    try {
      val mg = udaf(new graft.functions.FreqItemsAggregator(k),
        org.apache.spark.sql.Encoders.STRING)
      // one pass yields the candidate set AND the instance total (each
      // ≤ k-row candidate carries n, so no separate count scan or cross
      // join is needed)
      val cand = inst.agg(mg(col("bigram")).as("sk"), count(lit(1)).as("n"))
        .select(explode(map_keys(col("sk"))).as("bigram"), col("n"))
      inst.join(broadcast(cand), Seq("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"), first(col("n")).as("n"))
        .filter(col("cnt") * lit(1000000L) >= col("n") * lit(minPpm))
        .select(col("bigram"), col("cnt"),
          round(col("cnt").cast("double") / col("n").cast("double"), 6).as("frac"))
        .eagerCkpt
    } finally inst.unpersist()
  }

  /** PMI collocation floor: pairs below this exact count are too rare for
    * a stable association estimate (and unsmoothed PMI explodes on
    * singletons), the standard Church-Hanks practice.
    */
  val PmiMinCount = 5L

  /** Collocations reported by `pmiCollocations`. */
  val PmiK = 30

  /** Pointwise-mutual-information collocation mining (Church & Hanks 1990):
    * PMI(v,w) = ln(p(v,w) / (p(v)·p(w))) over adjacent token pairs — the
    * ASSOCIATION-strength signal `frequentBigrams`' raw counts cannot see
    * (frequent-but-independent pairs score ~0; rare-but-always-together
    * phrases score high — multiword expressions, templated boilerplate
    * stubs). Floored at `minCount` exact occurrences.
    *
    * Every probability ratio assembles per join row from INTEGER counts as
    * separate IEEE divisions — (cb/nb) / ((cv/n)·(cw/n)), never a cross-
    * multiplied integer product (cb·n² overflows int64 at corpus scale) —
    * identical expression shape in the oracle; one ln, rounded 6dp; full
    * (pmi, v, w) ordering so the k-boundary is deterministic.
    *
    * Scale: bigrams via the codegen'd posexplode+lead shape; the pair and
    * unigram vocabularies are hash aggs; cb⋈cu joins key on the token over
    * VOCABULARY-sized tables (not instances); the one-row (n, nb) stats
    * frame is the labeled broadcast cross; selection is a TakeOrdered — k
    * rows cross the final exchange.
    */
  def pmiCollocations(
      docs: DataFrame,
      k: Int = PmiK,
      minCount: Long = PmiMinCount): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val inst = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("tok"), lead(col("tok"), 1).over(w).as("tok1"))
    val stats = inst.agg(count(lit(1)).as("n"), count(col("tok1")).as("nb"))
    val cu = inst.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val cb = inst.filter(col("tok1").isNotNull)
      .groupBy(col("tok"), col("tok1")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    val pmi = round(log(
      (col("cb").cast("double") / col("nb").cast("double")) /
        ((col("cuv").cast("double") / col("n").cast("double")) *
         (col("cuw").cast("double") / col("n").cast("double")))), 6)
    cb.join(cu.select(col("tok"), col("cu").as("cuv")), Seq("tok"))
      .join(cu.select(col("tok").as("tok1"), col("cu").as("cuw")), Seq("tok1"))
      .crossJoin(broadcast(stats))
      .select(col("tok"), col("tok1"), col("cb"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("tok").asc, col("tok1").asc)
      .limit(k)
  }

  /** Terms kept per document by `tfidfTopTerms`. */
  val TfidfK = 5

  /** Per-document top-k TF-IDF terms — the classic salient-term extraction
    * (document keywords, sparse retrieval features). Smooth IDF
    * (ln((1+N)/(1+df)) + 1, the sklearn convention: never zero, no
    * division by an absent term), score = raw term count × IDF, rounded
    * 6dp. Every input to the score is an exact integer, so the ranking —
    * ties broken by token — replays bit-identically in the oracle.
    *
    * Scale: term frequencies and document frequencies are two hash aggs
    * over the exploded tokens; the tf⋈df equi-join shuffles on the token
    * (Zipf-skewed — the AQE skew-split case, like unigramLogprob); the
    * final per-doc ranking window partitions by doc_id with group size
    * bounded by the document's distinct-token count, never corpus-sized.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = TfidfK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inst = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = inst.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val df = inst.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, Seq("tok")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("cnt").cast("double") *
          (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + lit(1.0)), 6).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"), col("tok"), col("tfidf"))
  }

  /** Top-V corpus vocabulary size for OOV-rate reporting. */
  val VocabSize = 20

  /** Vocabulary coverage / out-of-vocabulary rate: build the top-`vocabSize`
    * corpus vocabulary (count desc, token asc tie-break — fully
    * deterministic), then report each document's OOV token fraction — the
    * tokenizer-coverage signal a pipeline checks before committing to a
    * vocab (high OOV = wrong language mix or a corpus the tokenizer wasn't
    * trained for).
    *
    * Scale: the vocabulary is a TakeOrdered over the token-count agg (k
    * rows cross the final exchange, never a global sort), and the per-doc
    * pass joins against it BROADCAST — the corpus sees one explode + one
    * doc_id hash agg, no token-keyed shuffle.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = VocabSize): DataFrame = {
    val inst = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = inst.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1).as("iv"))
    inst.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6).as("oov_frac"))
  }

  /** Winnowing-style document fingerprint (0-mod-p scheme, Schleimer et al.,
    * SIGMOD'03): 3-token shingles → portable hash → keep hashes ≡ 0 (mod 8).
    * Output is the exploded (doc_id, fp_hash) set — the input to any
    * fingerprint-overlap dedup join.
    */
  def fingerprints(docs: DataFrame, hash: (String, Column) => Column = PortableHash.h31): DataFrame =
    shingleSet(docs)
      .select(col("doc_id"), hash("fp", col("shingle")).as("fp_hash"))
      .filter(col("fp_hash") % 8 === 0)
      .distinct()

  /** Every `BenchEvery`-th document contributes one benchmark entry. */
  val BenchEvery = 50

  /** Tokens per benchmark entry (a short eval prompt/answer span). */
  val BenchPrefixTokens = 8

  /** Deterministic evaluation-benchmark stand-in derived from the corpus
    * itself: every `BenchEvery`-th document contributes its first
    * `BenchPrefixTokens` tokens as one benchmark entry — so contamination
    * provably exists in any test corpus (the contributing documents
    * themselves) without shipping a real eval set. A production run passes
    * its actual benchmark table to `decontaminate` instead.
    */
  def benchmarkSet(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % BenchEvery === 0)
      .select(col("doc_id").as("bench_id"),
        concat_ws(" ", slice(tokens(col("text")), 1, BenchPrefixTokens)).as("text"))

  /** Benchmark decontamination — the train/test-overlap gate every serious
    * pretraining pipeline runs before training: a document is contaminated
    * iff it shares at least one 3-token shingle with the evaluation set
    * (`bench`: one (bench_id, text) row per benchmark entry). Emits per-doc
    * `n_hits` (distinct overlapping shingles) and the `contaminated` flag,
    * so callers can either drop flagged docs or audit overlap depth.
    *
    * Scale: the benchmark side is small by nature (eval sets are ~1e4-1e6
    * rows vs the 100 TB corpus), so its distinct shingle set is BROADCAST
    * and the corpus-side join is shuffle-free; the only corpus exchange is
    * the per-doc hit count (map-side combinable) that shingleSet's explode
    * already pays. At production scale key the join on
    * PortableHash.fast(shingle) instead of the raw string — identical
    * decisions on both sides of the join, 8-byte keys across the wire.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame): DataFrame = {
    val benchSh = shingleSet(bench.select(col("bench_id").as("doc_id"), col("text")))
      .select(col("shingle")).distinct()
    val hits = shingleSet(docs).join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** End-to-end corpus curation report — the filter chain a pretraining
    * pipeline runs per document, composed from the individual operators:
    * length gate, quality-score gate, repetition gate (first breached gate
    * wins as `reject_reason`, in that order), plus the PII audit flag
    * (scrubbing keeps a document; it never rejects). `retained` is simply
    * `reject_reason IS NULL`, so the report drives both the keep-filter and
    * per-reason loss accounting in one pass.
    *
    * Scale: quality and PII are narrow projections; repetition is the only
    * aggregation, and its per-doc result joins back on doc_id. Docs too
    * short to have bigrams coalesce to non-repetitive (they are rejected by
    * the length gate anyway).
    */
  def retentionReport(
      docs: DataFrame,
      minTokens: Int = 20,
      minQuality: Double = 0.6,
      dupFracMax: Double = 0.2,
      topFracMax: Double = 0.1): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val rep = repetitionStats(docs, dupFracMax, topFracMax)
      .select(col("doc_id"), col("repetitive"))
    val pii = scrubPii(docs).select(col("doc_id"), col("had_pii"))
    q.join(rep, Seq("doc_id"), "left").join(pii, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        coalesce(col("repetitive"), lit(false)).as("repetitive"), col("had_pii"),
        when(col("n_tokens") < minTokens, "short")
          .when(col("quality_score") < minQuality, "low_quality")
          .when(coalesce(col("repetitive"), lit(false)), "repetitive")
          .as("reject_reason"))
      .withColumn("retained", col("reject_reason").isNull)
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021 §A1.1):
    * over the document's bigram MULTISET, the duplicate fraction
    * (1 − distinct/total) and the top-bigram share — the two filters that
    * catch boilerplate loops and keyword-stuffed spam that dedup across
    * documents cannot see. `repetitive` flags docs breaching either
    * threshold on the ROUNDED fractions (so the flag is bit-stable across
    * engines). Docs with <2 tokens have no bigrams and drop out, matching
    * the oracle's derivation. Two hash aggregations over exploded bigrams —
    * partial aggregation runs map-side, so the exchange carries one row per
    * (doc, distinct-bigram), not per token.
    */
  def repetitionStats(
      docs: DataFrame,
      dupFracMax: Double = 0.2,
      topFracMax: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("tok"), lead(col("tok"), 1).over(w).as("tok1"))
      .filter(col("tok1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("tok1")).as("bigram"))
    bigrams
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("mx"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("dup_frac"),
        round(col("mx").cast("double") / col("n_bigrams").cast("double"), 6).as("top_frac"))
      .withColumn("repetitive",
        col("dup_frac") > dupFracMax || col("top_frac") > topFracMax)
  }

  /** BM25 parameters (Robertson-Spärck Jones; the k1/b defaults every
    * search engine ships) and the fixed query set — literal constants so
    * the oracle replays the exact same retrieval.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg", "stream"),
    3 -> Seq("vector", "scan"),
    4 -> Seq("customer", "order", "merge"),
    5 -> Seq("slow", "query"))

  /** The per-(term, doc) BM25 contribution as ONE ANSI-SQL expression
    * string, evaluated verbatim by Spark's `expr` and the DuckDB oracle —
    * identical expression shape means identical IEEE operation order, so
    * the 6dp rounding only has to absorb the engines' ln() ulp, not a
    * different arithmetic tree. Column contract: tf, df, dl, n_docs,
    * sum_dl in scope.
    */
  def bm25TermSql: String = bm25TermSqlOf("tf", "df")

  /** `bm25TermSql` over the named tf and df columns. */
  private def bm25TermSqlOf(tf: String, df: String): String =
    s"round(ln((n_docs - $df + 0.5) / ($df + 0.5) + 1) * ($tf * ${Bm25K1 + 1}) / " +
      s"($tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl / (CAST(sum_dl AS DOUBLE) / n_docs))), 6)"

  /** BM25 top-k lexical retrieval over the corpus for the fixed query
    * set — the inverted-index posting join expressed relationally: the
    * token table filtered to query terms (tf), term document frequencies,
    * the (n_docs, sum_dl) corpus stats, and document lengths. avgdl
    * derives from INTEGER sums (sum_dl/n_docs), never a double avg()
    * crossing the engine boundary.
    *
    * Scale: the query-term tokens aggregate to postings (one shuffle on
    * (doc_id, tok), combined map-side), then `lexicalTopK`'s one shuffle
    * keyed by q_id.
    */
  def bm25TopK(
      docs: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      k: Int = 10): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    lexicalTopK(tf, dl, queries, k, Bm25Ranker)
  }

  /** BM25 ranking from an inverted-index pair of tables — postings
    * (doc_id, tok, tf) and doc lengths (doc_id, dl) — the serving path
    * over a PERSISTED index (e.g. the streamed fold in
    * StreamingTextIngest). Query-term selection is a pushdown-able filter
    * on the postings scan (at 100 TB the postings table is bucketed by
    * tok, so each query term reads its own buckets); document-frequency
    * and corpus stats derive from the index itself, so serving equals the
    * inline build exactly — proven in StreamingTextIngestSpec.
    *
    * Scale: two jobs and one shuffle keyed by q_id (`lexicalTopK`); the
    * shuffle carries the query terms' postings and |docs|·|queries|
    * doc-length rows, the doc lengths fanned out to every query.
    */
  def bm25TopKFromIndex(
      postings: DataFrame,
      doclens: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      k: Int = 10): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    lexicalTopK(postings.filter(col("tok").isin(terms: _*))
        .select(col("doc_id"), col("tok"), col("tf")),
      doclens.select(col("doc_id"), col("dl")), queries, k, Bm25Ranker)
  }

  /** Which score `lexicalTopK` ranks by. */
  private val Bm25Ranker = 0
  private val QlRanker = 1

  /** The ONE scoring plan of both lexical rankers over query-term
    * postings (doc_id, tok, tf) + doc lengths (doc_id, dl), run as one
    * exchange keyed by q_id. Each posting fans out to the (q_id, slot)s
    * of its term (a repeated query term fills each of its slots), each
    * doc length to every q_id, and the union is repartitioned by q_id.
    * hash(q_id) satisfies every later clustering, so nothing shuffles
    * again:
    *  - the (q_id, doc_id) gather of dl and every slot's tf (null when
    *    the doc lacks the term);
    *  - per-q_id windows for n_docs and sum_dl (integer sums, so avgdl
    *    derives exactly) and each slot's df and cf;
    *  - the score of each candidate (a doc with a length and at least one
    *    slot's tf), summed over the slots in order: BM25's term expression
    *    (shared verbatim with the oracle SQL; an absent term adds nothing)
    *    or Dirichlet QL's (an absent term adds its smoothing mass); a term
    *    with df = 0 adds nothing to either;
    *  - the per-q_id row_number top-k.
    *
    * `ranker` and `k` reach the plan only as data of the fanned-out
    * posting rows, never as literals in it, so BM25 and QL run the same
    * plan and reuse each other's generated code.
    *
    * Scale: one shuffle, which |docs|·|queries| doc-length rows cross
    * beside the query terms' postings, and every row of one query lands
    * in one partition: sized for a few queries per serve, not for a
    * batch of thousands.
    */
  private def lexicalTopK(
      tf: DataFrame,
      dl: DataFrame,
      queries: Seq[(Int, Seq[String])],
      k: Int,
      ranker: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQuery = queries.groupBy(_._1).map { case (q, qs) => q -> qs.flatMap(_._2) }
    val slots = 0 until byQuery.values.map(_.size).max
    // term → its (q_id, slot, ranker, k) slots: a constant of the plan
    val slotsOfTerm = typedLit(byQuery.toSeq
      .flatMap { case (q, ts) => ts.zipWithIndex.map { case (t, i) => t -> (q, i, ranker, k) } }
      .groupBy(_._1).map { case (t, ss) => t -> ss.map(_._2) })
    val postings = tf
      .select(col("doc_id"), col("tf"), explode(element_at(slotsOfTerm, col("tok"))).as("s"))
      .select(col("s._1").as("q_id"), col("doc_id"), col("s._2").as("slot"), col("tf"),
        col("s._3").as("ranker"), col("s._4").as("k"))
    val lengths = dl
      .select(explode(typedLit(byQuery.keys.toSeq)).as("q_id"), col("doc_id"), col("dl"))
    val perQuery = Window.partitionBy(col("q_id"))
    val stats = Seq("n_docs" -> count(col("dl")), "sum_dl" -> sum(col("dl"))) ++
      slots.flatMap(i => Seq(s"df$i" -> count(col(s"tf$i")), s"cf$i" -> sum(col(s"tf$i"))))
    val gathered = postings.unionByName(lengths, allowMissingColumns = true)
      .repartition(col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(max(col("dl")).as("dl"), max(col("ranker")).as("ranker") +: max(col("k")).as("k") +:
        slots.map(i => max(when(col("slot") === i, col("tf"))).as(s"tf$i")): _*)
      .select(col("*") +: stats.map { case (name, f) => f.over(perQuery).as(name) }: _*)
    def term(i: Int): Column = {
      val ql = log((coalesce(col(s"tf$i"), lit(0L)).cast("double") +
          lit(QlMu) * (col(s"cf$i").cast("double") / col("sum_dl").cast("double"))) /
        (col("dl").cast("double") + lit(QlMu)))
      coalesce(when(col(s"df$i") > 0,
        when(col("ranker") === Bm25Ranker, expr(bm25TermSqlOf(s"tf$i", s"df$i"))).otherwise(ql)),
        lit(0.0))
    }
    val scored = gathered
      .filter(col("dl").isNotNull && coalesce(slots.map(i => col(s"tf$i")): _*).isNotNull)
      .select(col("q_id"), col("doc_id"), col("k"),
        round(slots.map(term).reduce(_ + _), 6).as("score"))
    val w = perQuery.orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= col("k"))
      .select(col("q_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Heaps'-law vocabulary-growth fit V = K·N^β across sources: per-source
    * (total tokens N, distinct tokens V) points, log-log OLS for (K, β, r²)
    * — the corpus-growth diagnostic behind tokenizer-vocab sizing and
    * dedup sanity (β far above the usual 0.4-0.6 band flags synthetic or
    * ID-like token churn; β near 0 flags template spam where new text adds
    * no new vocabulary).
    *
    * The regression runs over the |sources|-row point set; x=ln N, y=ln V
    * are each ONE libm call on an exact integer — the ulp plus the tiny
    * few-point sum drift is absorbed by the final 6dp rounds (repo
    * convention); vx/vy=0 degenerate guards mirror hourlyTrend's.
    *
    * Scale: one hash agg over exploded tokens to per-source (N, V) —
    * count-distinct's partial de-dup shuffles (source, tok) pairs,
    * vocabulary-sized per source — then a zero-group agg over the tiny
    * point frame. Output is ONE row.
    */
  def heapsLawFit(docs: DataFrame): DataFrame = {
    val inst = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val per = inst.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("v_tok"))
    val pts = per.select(
      log(col("n_tok").cast("double")).as("x"), log(col("v_tok").cast("double")).as("y"))
    val s = pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    s.select(col("n").as("n_sources"),
      round(when(vx > 0, cov / vx).otherwise(lit(0.0)), 6).as("beta"),
      round(when(vx > 0, exp((col("sy") - (cov / vx) * col("sx")) / col("n")))
        .otherwise(lit(0.0)), 6).as("k_coeff"),
      round(when(vx > 0 && vy > 0, cov * cov / (vx * vy)).otherwise(lit(0.0)), 6).as("r2"))
  }

  /** Dirichlet query-likelihood smoothing mass (Zhai-Lafferty μ; 2000 is
    * the classic TREC default) and the RRF constant/pool/output sizes.
    */
  val QlMu = 2000.0
  val RrfC = 60
  val RrfPoolK = 20
  val RrfK = 10

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * SIGIR'01): score(q,d) = Σ_{t∈q} ln((tf + μ·cf_t/N) / (dl + μ)) — the
    * probabilistic LM ranker that pairs with BM25 in every fusion
    * baseline. Scored over the candidate pool (docs matching ≥1 query
    * term); a query term with tf=0 still contributes its smoothing-only
    * mass (its candidate slot is empty), which is what makes two-term
    * docs comparable to one-term docs. All inputs are integers; the
    * 2-3-term sum rounds 6dp before ranking (the cross-engine ln-ulp
    * convention).
    *
    * Scale: the same plan as bm25TopK (`lexicalTopK`): the postings of
    * the query terms and |docs|·|queries| doc-length rows cross one
    * shuffle keyed by q_id; the statistics, scores and top-k reuse it.
    */
  def qlTopK(
      docs: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      k: Int = RrfPoolK): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    lexicalTopK(tf, dl, queries, k, QlRanker)
  }

  /** Dirichlet-QL from the inverted-index tables (see bm25TopKFromIndex):
    * collection frequencies derive from the postings themselves
    * (cf = Σ tf per term), so the one streamed index serves both rankers.
    */
  def qlTopKFromIndex(
      postings: DataFrame,
      doclens: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      k: Int = RrfPoolK): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    lexicalTopK(postings.filter(col("tok").isin(terms: _*))
        .select(col("doc_id"), col("tok"), col("tf")),
      doclens.select(col("doc_id"), col("dl")), queries, k, QlRanker)
  }

  /** Content-addressable corpus manifest: per source, the document
    * count, total characters, and an ORDER-INDEPENDENT content hash
    * (sum of per-doc (id, text) fingerprints mod 2³¹−1 — commutative, so
    * any partitioning/arrival order yields the same digest). This is the
    * dataset-versioning primitive: two pipelines (or two runs at
    * different cluster sizes) produced the same corpus iff the manifests
    * match, without any canonical-order sort of 100 TB. The Mersenne
    * modulus bounds per-doc fingerprints so the running BIGINT sum is
    * safe to ~2³² docs per source (beyond, widen the sum to DECIMAL —
    * the digest definition is unchanged).
    */
  def corpusManifest(docs: DataFrame): DataFrame = {
    val m = 2147483647L // 2^31 - 1
    val fp = pmod(
      PortableHash.h31("manifest", concat_ws(":", col("doc_id"), col("text"))) *
        lit(65537L) + col("doc_id"), lit(m))
    docs.select(col("source"), col("n_chars"), fp.as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        pmod(sum(col("fp")), lit(m)).as("content_hash"))
  }

  /** Exact-phrase queries evaluated by the positional index (1-based
    * token positions; shared with the oracle SQL).
    */
  val PhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "hash join", 2 -> "slow query", 3 -> "customer order merge")

  /** Exact phrase search over a positional index (doc_id, pos, tok):
    * a phrase of n words matches where its n words line up at consecutive
    * positions in one document. One scan reads the postings of every
    * phrase word and fans each out to its (q_id, offset, n_words) slots;
    * a start position `pos - offset` whose group fills all n slots is
    * one occurrence (substring LIKE cannot count
    * overlapping/adjacent repeats and scans full text). Emits exact
    * per-document occurrence counts.
    *
    * Contract: each (doc_id, pos) appears at most once (see
    * `StreamingTextIngest.readPositions`), so a slot is filled by at most
    * one row and a repeated word fills each of its slots separately.
    *
    * Scale: one selective scan (bucketed by tok at 100 TB, so it reads
    * only the phrase words' buckets), one shuffle keyed by (q_id, doc_id)
    * that both aggregations reuse, whatever the phrase lengths.
    */
  def phraseSearch(
      positions: DataFrame,
      phrases: Seq[(Int, String)] = PhraseQueries): DataFrame = {
    val slots = phrases.flatMap { case (qid, phrase) =>
      val words = phrase.split(" ").toSeq
      words.zipWithIndex.map { case (w, i) => w -> (qid, i, words.size) }
    }
    // word → its (q_id, offset, n_words) slots: a constant of the plan
    val slotsOfWord = typedLit(slots.groupBy(_._1).map { case (w, ss) => w -> ss.map(_._2) })
    positions.filter(col("tok").isin(slots.map(_._1).distinct: _*))
      .select(col("doc_id"), col("pos"), explode(element_at(slotsOfWord, col("tok"))).as("s"))
      .select(col("s._1").as("q_id"), col("doc_id"), col("s._3").as("n_words"),
        (col("pos") - col("s._2")).as("start"))
      .repartition(col("q_id"), col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"), col("n_words"), col("start"))
      .agg(count(lit(1)).as("filled"))
      .filter(col("filled") === col("n_words"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** The positional index of a docs frame — (doc_id, pos, tok), 1-based
    * positions; exactly what StreamingTextIngest persists.
    */
  def positionalIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) of the BM25 and
    * Dirichlet-QL rankers: rrf(d) = Σ_r 1/(C + rank_r(d)) over the two
    * top-`poolK` lists, C=60 — the standard hybrid-retrieval combiner
    * (rank-only, so incomparable score scales fuse without calibration;
    * the same shape fuses lexical with ANN lists in a RAG stack). A doc
    * in one list only gets that list's term (the union-fusion
    * convention). Ranks are integers, so each 1/(C+r) is an exactly
    * rounded IEEE division — bit-identical across engines pre-round.
    *
    * Scale: both ranker pools are ≤ |queries|·poolK rows; the fusion is a
    * full-outer equi-join + per-query window over that tiny frame — the
    * corpus is touched only inside the two rankers.
    */
  def rrfFusion(
      docs: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      poolK: Int = RrfPoolK,
      k: Int = RrfK): DataFrame =
    rrfFuse(bm25TopK(docs, queries, poolK), qlTopK(docs, queries, poolK), k)

  /** RRF over the two from-index rankers — the whole hybrid-retrieval
    * stack served from the one streamed inverted index.
    */
  def rrfFusionFromIndex(
      postings: DataFrame,
      doclens: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      poolK: Int = RrfPoolK,
      k: Int = RrfK): DataFrame =
    rrfFuse(bm25TopKFromIndex(postings, doclens, queries, poolK),
      qlTopKFromIndex(postings, doclens, queries, poolK), k)

  private def rrfFuse(
      bm25Ranked: DataFrame,
      qlRanked: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = bm25Ranked
      .select(col("q_id"), col("doc_id"), col("rank").as("ra"))
    val b = qlRanked
      .select(col("q_id").as("qb"), col("doc_id").as("db"), col("rank").as("rb"))
    val fused = a.join(b, col("q_id") === col("qb") && col("doc_id") === col("db"), "full_outer")
      .select(
        coalesce(col("q_id"), col("qb")).as("q_id"),
        coalesce(col("doc_id"), col("db")).as("doc_id"),
        round(
          coalesce(lit(1.0) / (col("ra") + lit(RrfC)).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (col("rb") + lit(RrfC)).cast("double"), lit(0.0)), 6).as("rrf"))
    fused.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** nDCG@k evaluation of the three retrieval systems (BM25, Dirichlet
    * QL, RRF fusion) against a DETERMINISTIC graded ground truth:
    * rel(q, d) = number of distinct query terms present in d (0..|q|) —
    * the term-coverage qrels a self-contained eval can define without
    * human judgments, and exactly the signal the rankers are supposed to
    * recover (so a broken ranker scores visibly below its peers).
    *
    * DCG = Σ (2^rel − 1) / log2(rank + 1). 2^rel − 1 is an exact small
    * integer (rel is bounded by the query length, rendered as a CASE so
    * both engines evaluate the same integer table — no cross-engine
    * pow()); each rank term is quantized to integer micro-units before
    * summation (the Classify fixed-point convention), so per-query DCG
    * and ideal DCG are exact integers and their final ratio is the only
    * float — deterministic at any cluster size.
    *
    * Scale: qrels is one distinct-(doc, tok) ⋈ broadcast-query-terms agg;
    * the ideal ranking is a per-query top-k window over qrels; each
    * system's ranked list is ≤ |queries|·k rows. Nothing here touches
    * corpus-sized data beyond the posting scans the systems already do.
    */
  /** `index` = the maintained (postings, doclens) tables (round 14): when
    * present, all three rankers run their FromIndex twins and the qrels
    * doc-term table reads the postings' distinct (doc_id, tok) pairs —
    * row-identical to the inline explode+distinct even when a doc's
    * postings were written by more than one batch — and the report runs
    * ZERO corpus scans. Results are bit-identical either way (same
    * oracle).
    */
  def retrievalNdcgReport(
      docs: DataFrame,
      queries: Seq[(Int, Seq[String])] = Bm25Queries,
      k: Int = RrfK,
      index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("q_id", "qtok")
    val maxRel = queries.map(_._2.size).max

    // exact 2^rel − 1 as a CASE over the bounded rel domain
    def gainInt(rel: Column): Column =
      (0 to maxRel).foldLeft(lit(0L)) { (acc, r) =>
        when(rel === r, lit((1L << r) - 1L)).otherwise(acc)
      }
    def termFp(rel: Column, rank: Column): Column =
      round(lit(1e6) * gainInt(rel).cast("double") /
        log2(rank.cast("double") + lit(1.0)), 0).cast("long")

    val dt = index match {
      case Some((p, _)) => p.select(col("doc_id"), col("tok")).distinct()
      case None =>
        docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok")).distinct()
    }
    val qrels = dt.join(broadcast(qterms), col("tok") === col("qtok"))
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("rel"))

    val iw = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("doc_id").asc)
    val idcg = qrels.withColumn("rank", row_number().over(iw)).filter(col("rank") <= k)
      .groupBy(col("q_id")).agg(sum(termFp(col("rel"), col("rank"))).as("idcg_fp"))

    val ranked = (index match {
      case Some((p, d)) => Seq(
        "bm25" -> bm25TopKFromIndex(p, d, queries, k),
        "ql" -> qlTopKFromIndex(p, d, queries, k),
        "rrf" -> rrfFusionFromIndex(p, d, queries, RrfPoolK, k))
      case None => Seq(
        "bm25" -> bm25TopK(docs, queries, k),
        "ql" -> qlTopK(docs, queries, k),
        "rrf" -> rrfFusion(docs, queries, RrfPoolK, k))
    }).map { case (m, df) =>
        df.select(lit(m).as("method"), col("q_id"), col("rank"), col("doc_id"))
      }.reduce(_.unionByName(_))

    val dcg = ranked.join(qrels, Seq("q_id", "doc_id"), "left")
      .groupBy(col("method"), col("q_id"))
      .agg(sum(termFp(coalesce(col("rel"), lit(0L)), col("rank"))).as("dcg_fp"))
    dcg.join(idcg, Seq("q_id"))
      .select(col("q_id"), col("method"),
        round(col("dcg_fp").cast("double") / col("idcg_fp").cast("double"), 6).as("ndcg"))
  }

  /** Shannon entropy (bits) of a character-level symbol array, as a pure
    * projection expression: H = log2(n) - (Σ c·log2 c)/n over the
    * per-symbol occurrence counts c. The count list is sorted ascending
    * and left-folded so both engines execute the IDENTICAL sequence of
    * IEEE additions — `array_distinct`/`list_distinct` return different
    * orders (DuckDB's is not first-occurrence), and double summation is
    * order-dependent, so without the sort the 6dp rounding could flip on
    * a boundary.
    */
  private def symbolEntropy(symbols: Column): Column = {
    val n = size(symbols).cast("double")
    val counts = array_sort(transform(array_distinct(symbols),
      c => size(filter(symbols, x => x === c)).cast("double")))
    val sumClog = aggregate(counts, lit(0.0), (acc, c) => acc + c * log2(c))
    log2(n) - sumClog / n
  }

  /** Character- and character-bigram-level Shannon entropy per document —
    * the classic gibberish/junk detector (low entropy = repeated filler or
    * binary padding; low CONDITIONAL entropy `cond_entropy` = each char is
    * predictable from its predecessor, i.e. looping text). Zero-shuffle by
    * design: every column is a narrow per-row projection over the doc's
    * own char array (distinct-alphabet × length comparisons per doc — for
    * natural text the alphabet is ~30-300 symbols, so this beats the
    * explode + two-shuffle groupBy shape by the full shuffle volume at
    * 100 TB). `cond_entropy` is derived from the two ROUNDED entropies so
    * the flag algebra stays bit-stable across engines.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val chars = split(col("text"), "")
    val n = size(chars)
    val bigrams = zip_with(
      slice(chars, lit(1), n - 1), slice(chars, lit(2), n - 1),
      (a, b) => concat(a, b))
    docs
      .select(col("doc_id"), chars.as("ch"), bigrams.as("bg"))
      .select(
        col("doc_id"),
        size(col("ch")).as("n_chars"),
        size(array_distinct(col("ch"))).as("n_uniq_chars"),
        round(symbolEntropy(col("ch")), 6).as("char_entropy"),
        round(symbolEntropy(col("bg")), 6).as("bigram_entropy"))
      .withColumn("cond_entropy",
        round(col("bigram_entropy") - col("char_entropy"), 6))
  }

  /** Number of BPE merge rules the corpus-trained tokenizer learns (the
    * oracle unrolls exactly this many training iterations, so it must be
    * a shared compile-time constant like the Lloyd iteration counts).
    */
  val BpeMergeCount = 24

  /** Training-vocabulary cap for BPE: only the top-K words by corpus
    * frequency (ties broken on the word, ascending — a total order both
    * engines share) participate in merge training. At web-corpus scale
    * the distinct-"word" table (typos, ids, junk) is far beyond driver
    * memory, and the tail's singleton words contribute almost nothing to
    * pair counts; the cap turns the one driver-side collect into a
    * TakeOrdered whose size is a compile-time constant. 65536 is a no-op
    * on every test SF (the synthetic corpora have far fewer distinct
    * words) so the committed oracle hashes are unaffected; encoding is
    * never capped — every document word is tokenized under the learned
    * table regardless.
    */
  val BpeMaxVocab = 65536

  /** Greedy-merge BPE training (Sennrich et al. ACL'16, word-frequency
    * formulation): ONE corpus aggregation produces the (word, freq)
    * table — the only distributed step, a single partial-agg shuffle whose
    * result is capped at `maxVocab` rows ([[BpeMaxVocab]]: a TakeOrdered
    * keeps only the top-K words by frequency, so the driver-side table is
    * bounded even over a web-scale corpus whose distinct-"word" tail of
    * typos/ids/junk would otherwise exceed driver memory) — then the merge
    * loop runs driver-side over that tiny table. Deterministic: pair
    * counts weight every
    * adjacent symbol occurrence by word frequency; ties break on the
    * lexicographically smallest parenthesized pair string (the exact
    * ORDER BY the oracle's unrolled iterations use); merges apply
    * left-to-right non-overlapping (`BpeCodec.applyMerge` — the SQL
    * `replace` scan order).
    */
  def bpeTrainMerges(
      docs: DataFrame, numMerges: Int = BpeMergeCount,
      maxVocab: Int = BpeMaxVocab): Seq[(String, String)] = {
    val wf: Array[(Array[String], Long)] = docs
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxVocab) // TakeOrdered: the collect is now ≤ maxVocab rows
      .collect()
      .map(r => (r.getString(0).toCharArray.map(String.valueOf(_)), r.getLong(1)))
    var words = wf
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.minBy { case ((a, b), n) => (-n, s"($a)($b)") }._1
        merges += best
        words = words.map { case (syms, n) =>
          (graft.functions.BpeCodec.applyMerge(syms, best._1, best._2), n)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** The learned merge table as a frame (step, lhs, rhs) — the persistable
    * tokenizer artifact, hash-checked against the oracle's unrolled
    * training replay.
    */
  def bpeMerges(docs: DataFrame, numMerges: Int = BpeMergeCount): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainMerges(docs, numMerges).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("step", "lhs", "rhs")
  }

  /** Per-document BPE token statistics under the corpus-trained tokenizer
    * — the sequence-length budget statistic every LLM-data pipeline
    * reports. Training happens once (driver-side loop over the word-freq
    * aggregate); encoding is a zero-shuffle narrow projection whose merge
    * table rides the generated code as a reference object
    * (`BpeTokenCount`), so the corpus pass is one codegen'd scan.
    */
  def bpeTokenStats(docs: DataFrame, numMerges: Int = BpeMergeCount): DataFrame = {
    val table = new graft.functions.BpeTable(bpeTrainMerges(docs, numMerges).toArray)
    docs.select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .cast("long").as("n_words"),
        graft.functions.BpeTokenCount.count(col("text"), table).as("n_tokens"))
      .withColumn("tokens_per_word",
        round(col("n_tokens").cast("double") /
          nullif(col("n_words"), lit(0L)).cast("double"), 6))
  }

  /** TextRank keyword budget (top-k corpus keywords emitted). */
  val TextRankK = 20

  /** Adjacent-token co-occurrence pairs over the corpus — TextRank's
    * window-2 graph (Mihalcea & Tarau, EMNLP'04): undirected, weighted
    * by co-occurrence count, stopwords break the link (a function word
    * between two content words contributes no edge). One posexplode +
    * one keyed lag window + a bounded groupBy (≤ vocab² pairs, in
    * practice vocab-sized) — the corpus is scanned once, nothing
    * corpus-sized shuffles twice.
    */
  def textRankCooc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    t.withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("tok") &&
        !col("tok").isin(stopwords: _*) && !col("prev").isin(stopwords: _*))
      .select(least(col("prev"), col("tok")).as("tok_a"),
        greatest(col("prev"), col("tok")).as("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("cooc"))
  }

  /** TextRank corpus keywords: weighted PageRank over the co-occurrence
    * graph, top-k tokens by rank (token tie-break). Tokens become graph
    * node ids through the portable hash — the SAME mapping the oracle
    * applies, so even a (vanishingly unlikely) collision merges the same
    * two tokens in both engines. The whole computation after the one
    * corpus scan is vocabulary-sized: the co-occurrence agg, the
    * PrIters rank joins, and a TakeOrdered top-k — no global sort of
    * anything corpus-scale.
    */
  def textRankKeywords(docs: DataFrame, k: Int = TextRankK): DataFrame =
    textRankKeywordsFromCooc(textRankCooc(docs), k)

  /** The ranking half over a PREBUILT (tok_a, tok_b, cooc) table — e.g.
    * the maintained StreamingTextRank state: co-occurrence counts fold
    * additively across batches (documents arrive whole, so adjacency
    * never crosses a batch boundary), and serving from the folded table
    * equals the batch keywords over every document ever streamed.
    */
  def textRankKeywordsFromCooc(pairs: DataFrame, k: Int = TextRankK): DataFrame = {
    // not-yet-built state (or an all-stopword corpus) degrades to the
    // empty keyword set — pageRankWeighted requires a non-empty graph,
    // and the module convention is empty-answer, never serve-time throw
    if (pairs.limit(1).isEmpty) {
      import pairs.sparkSession.implicits._
      return Seq.empty[(String, Long, Double)].toDF("token", "weight_fp", "rank")
    }
    val idp = pairs.select(
      PortableHash.h31("tr", col("tok_a")).as("doc_a"),
      PortableHash.h31("tr", col("tok_b")).as("doc_b"),
      col("cooc").cast("double").as("weight"))
    val vocab = pairs.select(col("tok_a").as("token"))
      .unionByName(pairs.select(col("tok_b").as("token")))
      .distinct()
      .select(col("token"), PortableHash.h31("tr", col("token")).as("node"))
    Graph.pageRankWeighted(idp)
      .join(vocab, Seq("node"))
      .orderBy(col("rank").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("weight_fp"), col("rank"))
  }
}
