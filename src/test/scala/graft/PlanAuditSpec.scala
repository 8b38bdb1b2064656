package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.PlanAudit

/** SURVEY §8.3's plan invariant, enforced: every registered query's physical
  * plan must be free of CartesianProduct / nested-loop joins /
  * single-partition windows / sort-aggregate fallbacks / codegen fallbacks,
  * except where a query is explicitly allowlisted with a reason. The seeded
  * tests prove the auditor actually fires on each violation class.
  */
class PlanAuditSpec extends AnyFunSpec with Matchers with SparkSessionTestWrapper {

  private val sfDir = "/root/testdata/sf0.001"

  /** kind-level allowlist per query, each entry with its justification.
    * Anything NOT listed here is a hard failure — a new global window,
    * cartesian product, sort-aggregate fallback, nested-loop join, or
    * codegen fallback in any query must either be fixed or justified by an
    * entry below.
    */
  private val allow: Map[String, Set[String]] = Map(
    // labeled all-pairs baselines: the non-equi (<, >=) self-join IS the
    // operator; the bucketed LSH path is the scale twin
    "embedding_neardup" -> Set("nested-loop-join"),
    "ann_brute_topk" -> Set("nested-loop-join"),
    // same broadcast query-set × corpus shape as ann_brute_topk — ADC
    // scores EVERY corpus row by design (the compression is in bytes
    // read per row, not rows touched; cell-pruned variants are the IVF
    // family)
    // labeled brute-scan query join + the bounded-heap top-k UDAF (the
    // intentional typed-aggregator fallback, as in the IVF family)
    "pq_adc_topk" -> Set("nested-loop-join", "codegen-fallback"),
    // the rotated twins share pq_adc_topk's labeled shape exactly — the
    // Hadamard pretransform is a narrow codegen'd projection adding no
    // join or fallback of its own; the recall report adds the labeled
    // brute-truth join
    "pq_rot_adc_topk" -> Set("nested-loop-join", "codegen-fallback"),
    "pq_rot_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // the OPQ-allocation twins share pq_adc_topk's labeled shape exactly —
    // the variance-balanced permutation is a narrow codegen'd projection
    // (moments collected driver-side) adding no join or fallback of its
    // own; the recall report adds the labeled brute-truth join
    "pq_opq_topk" -> Set("nested-loop-join", "codegen-fallback"),
    "pq_opq_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // SPANN closure assignment: the ranked-cell struct array is sorted,
    // sliced, and filtered per row by interpreted higher-order ops over
    // C=10 constant-size elements (not a hot path), plus the bounded-heap
    // top-k UDAF; the candidate join stays a cell equi-join (no BNLJ);
    // the recall report adds the labeled brute-truth join
    "ann_spann_topk" -> Set("codegen-fallback"),
    "spann_from_index_topk" -> Set("codegen-fallback"), // same stages over the posting frame
    "spann_cell_stats" -> Set("codegen-fallback"),
    "spann_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // navigable-graph tier: per-node probe-cell ranking is the same
    // interpreted sort/slice over C=10 constant-size structs as SPANN
    // (build-side, not per-query); the recall report adds the labeled
    // brute-truth join. ann_graph_topk itself serves from an eagerly
    // materialized result (localCheckpoint), so its plan is already flat.
    "ann_graph_degree_stats" -> Set("codegen-fallback"),
    "ann_graph_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    "ann_graph2_recall_report" -> Set("nested-loop-join", "codegen-fallback"), // same brute-truth join
    "ann_graph2_degree_stats" -> Set("codegen-fallback"),
    // filtered walk: same brute-truth join (candidate-restricted) in the
    // report; the topk itself serves from a materialized result
    "ann_graph_filtered_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // hierarchical + filtered composition: same candidate-restricted
    // brute-truth join in the report; the topk serves from a
    // materialized result
    "ann_graph2_filtered_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // composes the labeled all-pairs semantic baseline (0.35 is below any
    // LSH-able threshold; at a real >=0.85 threshold the LSH path applies)
    "dedup_crossmodal" -> Set("nested-loop-join"),
    // one-row bounds aggregate broadcast-crossed onto the grid spine
    "resample_hourly" -> Set("nested-loop-join"),
    // one-row average-balance aggregate broadcast-crossed onto customer
    // (the Q22 scalar subquery threshold)
    "q22_sales_opportunity" -> Set("nested-loop-join"),
    // one-row corpus-total aggregate broadcast-crossed onto the per-part
    // value table (the Q11 HAVING threshold)
    "q11_important_stock" -> Set("nested-loop-join"),
    // one-row totals aggregate broadcast-crossed onto the few-row
    // per-source counts (never the corpus)
    "temperature_mix" -> Set("nested-loop-join"),
    // one-row (n_total, n_keys) totals aggregate broadcast-crossed onto
    // the per-key estimate table (the mean-rate threshold)
    "cms_heavy_hitters" -> Set("nested-loop-join"),
    // |types|²-row sketch pair cross (≤4 KiB sketches, a handful of
    // types — never the corpus); the DataSketches HLL expressions are
    // intrinsically interpreted built-ins (CodegenFallback in Spark)
    "hll_overlap_report" -> Set("nested-loop-join", "codegen-fallback"),
    // two one-row aggregates (exact total, sketch-min estimate) crossed
    // into the single report row — never the corpus
    "cms_join_size" -> Set("nested-loop-join"),
    // C-row class-list broadcast deliberately fanning every token
    // instance out to all |classes| candidates (bounded ×C blowup — the
    // NB scoring shape), plus the one-row doc-total prior cross
    "nb_lang_classify" -> Set("nested-loop-join"),
    "nb_lang_confusion" -> Set("nested-loop-join"),
    "nb_margin_calibration" -> Set("nested-loop-join"),
    // ≤7-element per-row arrays: collect_list window aggs and
    // comparator array_sort are interpreted by design; the work per row
    // is a constant-size sort, not a codegen hot path
    "rolling_median_7" -> Set("codegen-fallback"),
    // one-row (tot_tokens, p_sum) totals aggregate broadcast-crossed onto
    // the per-source census (a handful of rows)
    "mixture_epoch_plan" -> Set("nested-loop-join"),
    // one-row min-bucket-count aggregate broadcast-crossed onto the
    // few-row per-bucket counts (never the corpus)
    "length_matched_sample" -> Set("nested-loop-join"),
    // one-row (nr, nt) feature-total aggregate broadcast-crossed onto the
    // doc×bucket counts (the DSIR Laplace denominators)
    "dsir_resample" -> Set("nested-loop-join"),
    // one-row (n, nb) token/bigram-total aggregate broadcast-crossed onto
    // the vocabulary-sized pair table (the PMI denominators)
    "pmi_collocations" -> Set("nested-loop-join"),
    // one-row 2×dim moment aggregate broadcast-crossed onto the
    // zero-shuffle standardization projection
    "embedding_standardize" -> Set("nested-loop-join"),
    // one-row vocabulary-total broadcast-crossed onto the instance⋈vocab
    // join output (the N in ln(c/N))
    "text_unigram_logprob" -> Set("nested-loop-join"),
    // same one-row total cross for the interpolated bigram LM
    "text_bigram_logprob" -> Set("nested-loop-join"),
    // one-row corpus-count broadcast-crossed onto tf⋈df (the N in the IDF)
    "tfidf_top_terms" -> Set("nested-loop-join"),
    // query-side nprobe cell ranking: a k-row centroid table broadcast onto
    // n/100 query rows (the corpus side assigns cells via projection);
    // centroid tables are built with collect_list + transform + array_sort
    // over k grouped rows — interpreted eval on k rows, not a hot path
    "ann_ivf_topk" -> Set("nested-loop-join", "codegen-fallback"),
    "ann_ivf_topk_np2" -> Set("nested-loop-join", "codegen-fallback"),
    "ann_ivf_filtered_topk" -> Set("nested-loop-join", "codegen-fallback"),
    // same IVF probe shape + per-row int8 transform() quantization (one
    // interpreted pass; production precomputes the quantized index)
    "ann_ivf_rerank_topk" -> Set("nested-loop-join", "codegen-fallback"),
    // same IVF probe shape + the bounded-heap top-k UDAF
    "hard_negatives" -> Set("nested-loop-join", "codegen-fallback"),
    // composes the labeled brute baseline (all-pairs truth) with the IVF
    // path — inherits both queries' labeled exceptions
    "ann_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // composes the same labeled brute baseline with the ADC ranking —
    // inherits ann_brute_topk's and pq_adc_topk's labeled exception
    "pq_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // the MRL stage-1 prefix scan is the labeled all-pairs baseline shape
    // (scan-bandwidth tier; compose with IVF cell pruning at scale); the
    // bounded-heap top-k UDAF is the intentional typed-aggregator fallback
    "mrl_topk" -> Set("nested-loop-join", "codegen-fallback"),
    "mrl_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // the 1-bit tier's stage-1 Hamming scan is the same labeled all-pairs
    // baseline shape (scale path: packed words ride the IVF cell index);
    // the bounded-heap top-k UDAF is the intentional typed fallback
    "bq_topk" -> Set("nested-loop-join", "codegen-fallback"),
    "bq_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // the composed path is a pure cell equi-join — no all-pairs shape
    // left; just the centroid collect_list build + bounded-heap UDAF
    "bq_ivf_topk" -> Set("codegen-fallback"),
    "bq_ivf_from_index_topk" -> Set("codegen-fallback"), // same stages over the index frame
    // the composed path keeps the IVF probe's interpreted k-row centroid
    // ranking and the bounded-heap top-k UDAF; its recall report adds the
    // labeled all-pairs brute TRUTH join (the thing being audited against)
    "mrl_ivf_topk" -> Set("codegen-fallback"),
    // index-served funnel shares mrlFunnelStages with mrl_ivf_topk — same
    // intentional bounded-heap top-k UDAF fallback (and the index-build
    // prefix slice's lambda); still an equi-join on cell, no BNLJ
    "mrl_ivf_from_index_topk" -> Set("codegen-fallback"),
    "mrl_ivf_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // IVFPQ serving: equi-join on cell (no BNLJ); the probe ranking's
    // interpreted k-row centroid sort and the top-k UDAF are the labeled
    // fallbacks; the recall report adds the labeled brute-truth join
    "ivf_pq_topk" -> Set("codegen-fallback"),
    "ivf_pq_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    "ivf_pq_filtered_topk" -> Set("codegen-fallback"),
    "ivf_rpq_topk" -> Set("codegen-fallback"),
    "ivf_rpq_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // IVFPQ,refine: stage 1 is ivf_pq_topk's audited shape (cell equi-join,
    // no BNLJ); stage 2 is broadcast-shortlist equi-join fetch; the top-k
    // UDAF and probe ranking keep the family's labeled fallbacks
    "ivf_pq_refine_topk" -> Set("codegen-fallback"),
    "ivf_pq_refine_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    "ann_ivf_kmeans_topk" -> Set("nested-loop-join", "codegen-fallback"),
    // the occupancy-sized scale default: pure cell equi-join (no BNLJ) —
    // only the family's labeled fallbacks (interpreted k-row centroid
    // ranking, bounded-heap top-k UDAF); its recall report adds the
    // labeled all-pairs brute-TRUTH join like every other recall report
    "ann_ivf_auto_topk" -> Set("codegen-fallback"),
    // from-index twin: the same serving expressions over the pre-assigned
    // artifact (assignment paid at ingest) — same labeled fallbacks
    "ann_ivf_auto_from_index_topk" -> Set("codegen-fallback"),
    "ann_ivf_auto_recall_report" -> Set("nested-loop-join", "codegen-fallback"),
    // planted near-dup copies use transform() on the every-20th slice —
    // interpreted on 5% of rows by design (exact ±1/64 double nudges)
    "embedding_lsh_pairs" -> Set("codegen-fallback"),
    // per-vector higher-order transform/aggregate for int8 quantization —
    // one interpreted pass per row, narrow projection, no shuffle
    "embedding_quantize" -> Set("codegen-fallback"),
    // intrinsically interpreted built-ins: the expression class itself is
    // CodegenFallback in Spark, there is no codegen'd alternative
    "json_pipeline" -> Set("codegen-fallback"),   // from_json
    "variant_props" -> Set("codegen-fallback"),   // parse_json/variant_get
    "json_dead_letter" -> Set("codegen-fallback"), // from_json
    "pivot_event_counts" -> Set("codegen-fallback"), // pivotfirst
    "unpivot_event_counts" -> Set("codegen-fallback"), // same pivotfirst input
    "value_percentiles" -> Set("codegen-fallback"),  // exact percentile agg
    "conversion_latency" -> Set("codegen-fallback"), // exact percentile agg (one-row rollup)
    "approx_distinct_users" -> Set("codegen-fallback"), // HLL++ agg
    "windowed_distinct_users" -> Set("codegen-fallback"), // HLL++ agg
    "approx_percentiles" -> Set("codegen-fallback"), // GK sketch + exact percentile aggs
    "value_outliers" -> Set("codegen-fallback"), // exact percentile (median/MAD) aggs
    // higher-order filter() over the token array (stopword/marker ratios)
    "text_quality" -> Set("codegen-fallback"),
    // higher-order array lambdas (transform/filter/aggregate/zip_with) are
    // interpreted by design — the zero-shuffle per-row entropy projection
    // trades codegen for shipping no char-level rows at all
    "text_entropy" -> Set("codegen-fallback"),
    "quality_quantile_filter" -> Set("codegen-fallback"), // same score expr as text_quality
    "text_langid" -> Set("codegen-fallback"),
    "langid_confusion" -> Set("codegen-fallback"), // composes text_langid
    "corpus_retention" -> Set("codegen-fallback"), // composes text_quality
    "weighted_sample" -> Set("codegen-fallback"), // composes text_quality's score expr
    // text_quality's score expr + the bounded-heap per-source reservoir UDAF
    "weighted_reservoir_sample" -> Set("codegen-fallback"),
    "dedup_policy_report" -> Set("codegen-fallback"), // composes text_quality's score expr
    "curation_pack_report" -> Set("codegen-fallback"), // survivorship composes the same score expr
    // one-row total-strength (2m) aggregate broadcast-crossed onto the
    // |communities|-row strength table
    "neardup_modularity" -> Set("nested-loop-join"),
    "dedup_granularity_report" -> Set("codegen-fallback"), // composes text_quality's score expr
    "dedup_apply_communities" -> Set("codegen-fallback"), // composes text_quality's score expr
    // text_quality's score expr + the modularity audit's labeled one-row
    // total-strength (2m) broadcast cross
    "dedup_modularity_gated" -> Set("codegen-fallback", "nested-loop-join"),
    "dedup_apply_gated" -> Set("codegen-fallback", "nested-loop-join"), // same composed chain
    "curation_pipeline" -> Set("codegen-fallback"), // composes corpus_retention
    // our own typed bounded-heap UDAF — imperative by design
    "topk_agg_per_segment" -> Set("codegen-fallback"),
    "zipf_fit" -> Set("codegen-fallback"), // bounded-heap vocabulary head
    "capped_per_source" -> Set("codegen-fallback"), // same bounded-heap UDAF
    "media_curation_pipeline" -> Set("codegen-fallback"), // same bounded-heap UDAF (capped sample stage)
    "embedding_curation_pipeline" -> Set("codegen-fallback"), // same bounded-heap UDAF (capped sample stage)
    // bounded-heap UDAF over the literal-argmax cell assignment; the
    // k-row centroid aggregate is the same interpreted collect_list path
    // as the IVF family
    "cluster_balanced_sample" -> Set("codegen-fallback"),
    // global (zero-grouping-key) aggregate with string-typed min/max
    // buffers: variable-width buffers exclude HashAggregate, but a
    // SortAggregate over ONE group sorts nothing — it is a linear fold
    // with map-side partials, not the per-key sort the audit class hunts
    "profile_events" -> Set("sort-aggregate"),
    "knn_lexical" -> Set("codegen-fallback"), // same bounded-heap UDAF
    // DataSketches HLL agg/union/estimate are intrinsically interpreted
    // built-ins (no codegen'd alternative exists)
    "hll_sketch_users" -> Set("codegen-fallback"),
    // collect_list + transform + array_sort assemble segments/documents from
    // ≤ segment-/doc-sized buffers AFTER the hash agg — interpreted eval on
    // bounded post-agg groups, not the corpus scan path
    "strip_boilerplate" -> Set("codegen-fallback"),
    // same doc-rebuild shape (collect_list + transform + array_sort over
    // bounded post-agg per-doc groups) for the span-excision apply path
    "strip_dup_spans" -> Set("codegen-fallback"),
    "span_clean_pack_report" -> Set("codegen-fallback"), // composes strip_dup_spans' rebuild
    // SAX word assembly: collect_list + transform + array_sort over the
    // 6-row per-user segment groups AFTER the hash agg (same bounded
    // post-agg shape as strip_boilerplate)
    "ts_similarity_pairs" -> Set("codegen-fallback"),
    // our own typed Misra-Gries UDAF (imperative by design) + the one-row
    // corpus-total broadcast-crossed onto the ≤k-row candidate counts
    // (same one-row-bounds shape as temperature_mix)
    "frequent_bigrams" -> Set("codegen-fallback", "nested-loop-join"))

  describe("PlanAudit seeded violations") {
    it("fires on a global (single-partition) window") {
      import spark.implicits._
      val df = Seq((1, 2), (3, 4)).toDF("a", "b")
      val bad = df.withColumn("r", row_number().over(Window.orderBy($"a")))
      PlanAudit.audit(bad).map(_.kind) should contain("global-window")
      // and stays quiet once the window is keyed
      val good = df.withColumn("r", row_number().over(Window.partitionBy($"b").orderBy($"a")))
      PlanAudit.audit(good).map(_.kind) should not contain "global-window"
    }

    it("fires on a cartesian product") {
      import spark.implicits._
      // getOption: if the conf was never explicitly set, restore by
      // UNSETTING (writing back the resolved default would pin it)
      val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val a = Seq(1, 2).toDF("a")
        val b = Seq(3, 4).toDF("b")
        PlanAudit.audit(a.crossJoin(b)).map(_.kind) should contain("cartesian")
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }

    it("fires on a broadcast nested-loop join") {
      import spark.implicits._
      val a = Seq(1, 2).toDF("a")
      val b = Seq(3, 4).toDF("b")
      // non-equi condition with a broadcastable side → BNLJ
      PlanAudit.audit(a.join(b, $"a" < $"b")).map(_.kind) should
        contain("nested-loop-join")
    }

    it("fires on a sort-aggregate fallback") {
      import spark.implicits._
      // grouping by an unhashable-for-HashAggregate buffer shape: min/max
      // over an array column forces SortAggregate
      val df = Seq((1, Seq(1.0, 2.0)), (1, Seq(0.5, 3.0))).toDF("k", "v")
      PlanAudit.audit(df.groupBy($"k").agg(min($"v"))).map(_.kind) should
        contain("sort-aggregate")
    }

    it("fires on a codegen-fallback expression") {
      import spark.implicits._
      // non-foldable json over a Range scan: a LocalRelation fixture would
      // be evaluated away by ConvertToLocalRelation before planning
      val bad = spark.range(2).select(
        from_json(concat(lit("{\"a\": "), $"id".cast("string"), lit("}")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "a", org.apache.spark.sql.types.IntegerType)))).as("s"))
      PlanAudit.audit(bad).map(_.kind) should contain("codegen-fallback")
    }
  }

  describe("PlanAudit over every registered query") {
    it("finds no violations outside the labeled allowlist") {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val extra = PlanAudit.audit(fn(spark, sfDir))
          .filterNot(v => allow.getOrElse(name, Set.empty).contains(v.kind))
        spark.catalog.clearCache()
        if (extra.nonEmpty) { info(s"$name: ${extra.distinct.mkString("; ")}"); Some(name) }
        else None
      }
      offenders shouldBe empty
    }
  }
}
