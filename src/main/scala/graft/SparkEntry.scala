package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts._
import graft.model.Tables
import graft.ops.{ActivityOps, Dedup, Multimodal, Relational, Sampling, Sketches, TextOps, VectorOps}
import graft.oracle.DuckDbOracles

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry composes the reusable transforms in `graft.ops.*` over the
  * harness parquet tables; `oracleSql` holds the DuckDB-equivalent SQL the
  * driver differential-tests against. Column names and (for inexact types)
  * value arithmetic are kept engine-stable — see notes in graft.ops.
  */
object SparkEntry {

  /** Flagship: the reference pipeline's core question — filtered, 1-minute
    * tumbling windowed counts per (user, event_type) — over `events`
    * (reference: spark/spark_streaming.py:50-65). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("windowed_count")(spark, "/root/testdata/sf0.001")

  private val keepList = Seq("click", "purchase")

  /** Shared with the recursive-CTE oracle (DuckDbOracles.customSessions). */
  private val SessionGapMs = 600000L
  private val SessionCapMs = 1800000L

  /** Columns profiled by `profile_events` — shared with the oracle twin. */
  private val ProfileCols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity (SURVEY.md §2) over `events` -------------------
    "windowed_count" -> ((s, dir) =>
      ActivityOps.windowedCount(
        ActivityOps.filterEvents(Tables.events(s, dir), keepList),
        tsCol = "ts", keyCols = Seq("user_id", "event_type"),
        windowDuration = "1 minute", watermark = Some("10 seconds"))),

    "windowed_sum_1h" -> ((s, dir) =>
      ActivityOps.windowedSum(
        Tables.events(s, dir),
        tsCol = "ts", keyCols = Seq("event_type"), valueCol = "value",
        windowDuration = "1 hour", watermark = Some("10 seconds"))),

    "raw_insert" -> ((s, dir) =>
      ActivityOps.filterEvents(Tables.events(s, dir), Seq("click", "purchase", "signup"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("props"))),

    "filter_not_in" -> ((s, dir) =>
      ActivityOps.filterEventsNot(Tables.events(s, dir), keepList)
        .select(col("event_id"), col("user_id"), col("event_type"))),

    "null_guard" -> ((s, dir) =>
      ActivityOps.nonNullEvents(Tables.events(s, dir), Seq("event_type", "props"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))),

    "json_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))),

    // Spark 4 collated comparison: case-insensitivity declared ON THE TYPE
    // (UTF8_LCASE) instead of wrapping every predicate in lower() — the
    // collation-aware equality the lower()-roundtrip ci_filter predates.
    "collated_filter" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(collate(col("event_type"), "UTF8_LCASE") === lit("CLICK"))
        .select(col("event_id"), col("user_id"), col("event_type"))),

    // UNPIVOT/melt: the per-user event-type count matrix back to long form
    // (ids stay columns, the five count columns become (event_type, n)).
    "unpivot_event_counts" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
    }),

    // Spark 4 VARIANT path for semi-structured props: parse once into the
    // binary variant encoding, extract typed fields with variant_get —
    // the shredded-at-scan answer to per-access get_json_object string
    // re-parsing (each g_j_o call re-parses the JSON text; variant parses
    // once and serves every extraction from the encoded form).
    "variant_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          try_variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))),

    "epoch_millis_roundtrip" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), expr("timestamp_millis(unix_millis(ts))").as("ts_ms"))),

    "ci_filter" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("event_type_uc", upper(col("event_type")))
        .filter(lower(col("event_type_uc")) === lit("click"))
        .select(col("event_id"), col("user_id"), lower(col("event_type_uc")).as("event_type"))),

    "dedup_exact" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event_id"))),

    // Full reference parse chain (P14+P1+P2+P4-P9+F1+A3-A6) exercised
    // batch-side: events → JSON wire shape (uppercased on the wire to prove
    // the lower() normalization) → parse → clean → filter → windowed count.
    "json_pipeline" -> ((s, dir) => {
      val raw = Tables.events(s, dir).select(
        to_json(struct(
          col("user_id").cast("string").as("id"),
          unix_millis(col("ts")).as("date"),
          struct(upper(col("event_type")).as("event_type"), col("props").as("url")).as("event")
        )).cast("binary").as("value"))
      val clean = graft.streaming.ActivityStream.parseAndClean(raw)
      ActivityOps.windowedCount(
        ActivityOps.filterEvents(clean, keepList),
        tsCol = "date", keyCols = Seq("id", "event_type"), windowDuration = "1 minute")
    }),

    // Corrupt-record dead-letter routing — the ingest-reliability twin of
    // json_pipeline: every 13th wire payload is truncated (deterministic
    // corruption stand-in for real-world mangled messages), and the
    // PERMISSIVE parse must null EXACTLY those rows; the router flags them
    // for a quarantine sink instead of silently dropping. The oracle checks
    // the routing contract end to end (valid ⟺ uncorrupted); the parse
    // mechanics on malformed text are spec-covered (ActivityGoldenSpec).
    "json_dead_letter" -> ((s, dir) => {
      val payload = to_json(struct(
        col("user_id").cast("string").as("id"),
        unix_millis(col("ts")).as("date"),
        struct(upper(col("event_type")).as("event_type"), col("props").as("url")).as("event")))
      Tables.events(s, dir)
        .select(col("event_id"), payload.as("payload"))
        .select(col("event_id"),
          when(col("event_id") % 13 === 0,
            col("payload").substr(lit(1), length(col("payload")) - 1))
            .otherwise(col("payload")).as("wire"))
        .select(col("event_id"),
          from_json(col("wire"), graft.model.Schemas.activitySchema).as("data"))
        .select(col("event_id"), col("data.id").isNotNull.as("parse_ok"))
    }),

    "dedup_distinct" -> ((s, dir) =>
      ActivityOps.distinctRows(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), date_trunc("hour", col("ts")).as("h")))),

    "session_windows" -> ((s, dir) =>
      ActivityOps.sessionWindowCount(
        Tables.events(s, dir), tsCol = "ts", keyCols = Seq("user_id"), gap = "10 minutes")),

    // Custom-policy sessionization (gap + duration cap) via
    // flatMapGroupsWithState running in batch mode — the cap depends on the
    // running session start, a sequential per-key fold no plain window
    // function expresses; the oracle replays it with a recursive CTE
    // (semantics also golden-tested in StatefulSessionSpec, streaming
    // timeout behavior included).
    "custom_sessions" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.Sessionize.sessionize(
        Tables.events(s, dir)
          .select(col("user_id").cast("string").as("user_id"), col("ts"))
          .as[graft.streaming.Sessionize.SEvent],
        gapMs = SessionGapMs, capMs = SessionCapMs).toDF()
    }),

    "sliding_window_count" -> ((s, dir) =>
      ActivityOps.slidingWindowCount(
        Tables.events(s, dir), tsCol = "ts", keyCols = Seq("event_type"),
        windowDuration = "10 minutes", slide = "5 minutes")),

    // Windowed distinct users per event type (1-hour tumbling): exact
    // count + HLL++ estimate under a ±max(5%, 3 users) contract — the
    // per-window cardinality panel of a streaming dashboard,
    // batch-checked. The absolute floor exists because windows with tens
    // of users sit in HLL's sparse/linear-counting transition, where the
    // integer-granular estimate can step past a sub-one-user 5% band
    // (measured at sf0.1: 4 of 3600 windows, all n_users 16-19, off by
    // 1-2); at dashboard-relevant cardinalities the 5% term dominates.
    "windowed_distinct_users" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("user_id"), 0.01).as("approx"))
        .select(col("event_type"),
          col("window.start").as("window_start"), col("window.end").as("window_end"),
          col("n_users"),
          (abs(col("approx") - col("n_users")).cast("double") <=
            greatest(col("n_users").cast("double") * 0.05, lit(3.0)))
            .as("approx_within_budget"))),

    // As-of join (operator Spark lacks): each event joined to the latest
    // order of the same customer placed at-or-before the event time.
    "asof_join_orders" -> ((s, dir) =>
      graft.ops.Joins.asofJoin(
        Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        Tables.orders(s, dir),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        rightVals = Seq("o_orderkey", "o_orderdate"),
        rightTieBreak = "o_orderkey")),

    // Same as-of semantics on the native merge operator (custom
    // LogicalPlan/Strategy/SparkPlan tier, graft.plans.AsofJoinExec) —
    // differential-tested against the same DuckDB oracle.
    "asof_join_merge" -> ((s, dir) =>
      graft.ops.Joins.asofJoinMerge(
        Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        // o_orderdate is parquet TIMESTAMP_NTZ; the merge operator requires
        // identical ts types (it compares raw internal values), so the cast
        // is explicit here — the visible-cast contract the operator enforces
        Tables.orders(s, dir)
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        rightVals = Seq("o_orderkey", "o_orderdate"),
        rightTieBreak = "o_orderkey")),

    // Correlation + conditional aggregation (FILTER-style) over lineitem.
    "lineitem_condstats" -> ((s, dir) =>
      Tables.lineitem(s, dir).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        count(when(col("l_discount") > 0.05, 1)).as("n_high_disc"),
        sum(when(col("l_returnflag") === "R", col("l_quantity").cast("decimal(18,2)")))
          .cast("double").as("qty_returned"))),

    // ---- relational core (joins/agg/ranking at scale) --------------------
    // SQL surface: spark.sql over temp views, with an IN-subquery (Q18
    // shape). Catalyst rewrites the subquery to a semi join — no manual
    // decorrelation. Quantities are integer-valued doubles, so the sums are
    // exact in any accumulation order.
    "q18_large_orders" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c.c_name, o.o_orderkey, sum(l.l_quantity) AS total_qty
        FROM v_customer c
        JOIN v_orders o ON c.c_custkey = o.o_custkey
        JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM v_lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        GROUP BY c.c_name, o.o_orderkey""")
    }),

    // Correlated EXISTS (Q4 shape): orders with any lineitem shipped more
    // than 90 days after the order date, counted by priority.
    "q4_late_orders" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o.o_orderpriority, count(*) AS n_orders
        FROM v_orders o
        WHERE EXISTS (
          SELECT 1 FROM v_lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY o.o_orderpriority""")
    }),

    "q1_pricing" -> ((s, dir) => Relational.pricingSummary(s, dir)),
    "q3_top_orders" -> ((s, dir) => Relational.topRevenueOrders(s, dir)),
    // Q9 shape: nation×year profit with the retailprice-derived supply
    // cost; tight decimals keep both engines exact end to end.
    "q9_product_profit" -> ((s, dir) => Relational.productTypeProfit(s, dir)),
    // Q11 shape: per-part value vs a broadcast scalar total, compared in
    // cross-multiplied integer form.
    "q11_important_stock" -> ((s, dir) => Relational.importantStock(s, dir)),
    // Q12 shape: CASE-sum priority counts among late lines per returnflag.
    "q12_priority_lateness" -> ((s, dir) => Relational.priorityLateness(s, dir)),
    // Q20 shape: the nested semi-join chain to promotable suppliers.
    "q20_promotable_suppliers" -> ((s, dir) => Relational.promotableSuppliers(s, dir)),
    // Q21 shape: sole-late-supplier detection, hand-decorrelated to one
    // scan + one shuffle; the oracle runs the literal EXISTS/NOT-EXISTS.
    "q21_waiting_suppliers" -> ((s, dir) => Relational.waitingSuppliers(s, dir)),
    "q5_region_revenue" -> ((s, dir) => Relational.revenueByNation(s, dir)),
    // Q7 shape: bilateral-trade revenue by ship year — two broadcast nation
    // resolutions, one fact-fact shuffle.
    "q7_volume_shipping" -> ((s, dir) => Relational.volumeShipping(s, dir)),
    // Q10 shape: top returned-item customers in a date window.
    "q10_returned_items" -> ((s, dir) => Relational.returnedItemLosses(s, dir)),
    // Q14 shape: promo revenue share (conditional agg over lineitem⋈part).
    "q14_promo_revenue" -> ((s, dir) => Relational.promoRevenueShare(s, dir)),
    // Q19 shape: OR-of-ANDs predicate groups across the join.
    "q19_disjunctive_revenue" -> ((s, dir) => Relational.disjunctiveRevenue(s, dir)),
    // Q13 shape: left-outer order-count distribution per customer.
    "q13_customer_distribution" -> ((s, dir) => Relational.customerDistribution(s, dir)),
    // Q17 shape: decorrelated per-part scalar-average subquery.
    "q17_small_quantity_revenue" -> ((s, dir) => Relational.smallQuantityRevenue(s, dir)),
    // Q22 shape: scalar-avg threshold + NOT EXISTS anti join.
    "q22_sales_opportunity" -> ((s, dir) => Relational.globalSalesOpportunity(s, dir)),
    // Q15 shape: view + max scalar subquery as an exact-decimal equi-join.
    "q15_top_supplier" -> ((s, dir) => Relational.topSupplier(s, dir)),
    // Q2 shape: correlated per-part min subquery as a supplier-bounded
    // ranking window over the derived offer table.
    "q2_min_cost_supplier" -> ((s, dir) => Relational.minCostSupplier(s, dir)),
    // Q6 shape: forecast-revenue-change — pure predicate pushdown + one
    // global decimal agg, the scan-bound query row-group stats must carry.
    "q6_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),
    // Q8 shape: per-year supplier-nation market share — a conditional
    // share over the year's total, exact decimals to the division.
    "q8_market_share" -> ((s, dir) => {
      val dec18 = (c: String) => col(c).cast("decimal(18,2)")
      val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (dec18("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec18("l_discount")))
            .as("rev"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("yr"), col("n_name"))
        .agg(sum(col("rev")).as("rev_dec"))
        .withColumn("yr_total",
          sum(col("rev_dec")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("yr"))))
        .select(col("yr"), col("n_name"),
          col("rev_dec").cast("double").as("revenue"),
          round(col("rev_dec").cast("double") / col("yr_total").cast("double"), 6)
            .as("share"))
    }),
    // Q16 shape: distinct supplier counts with a NOT IN deny list.
    "q16_supplier_part_counts" -> ((s, dir) => Relational.supplierPartCounts(s, dir)),
    "top_orders_per_segment" -> ((s, dir) => Relational.topOrdersPerSegment(s, dir)),
    "topk_agg_per_segment" -> ((s, dir) => Relational.topOrdersPerSegmentAgg(s, dir)),
    "customer_order_stats" -> ((s, dir) => Relational.customerOrderStats(s, dir)),

    // Pivot: per-user event-type count matrix (explicit value list so the
    // output schema is static — required at scale and for the oracle).
    "pivot_event_counts" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))),

    // Set operations: (user, hour) cells with clicks but no errors.
    "set_ops_clickers_no_errors" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), date_trunc("hour", col("ts")).as("h"))
      ev.filter(col("event_type") === "click").select(col("user_id"), col("h")).distinct()
        .except(ev.filter(col("event_type") === "error").select(col("user_id"), col("h")).distinct())
    }),

    // Rolling 3-row moving average per user (analytic window frame).
    "rolling_avg_3" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(w), 6).as("mavg3"))
    }),

    // Rolling 7-row EXACT median per user — the robust smoother beside
    // rolling_avg_3 (a single spike moves the mean, not the median). The
    // window collects ≤7 values, sorts, and takes the type-2 median
    // ((a+b)/2 on even counts — exact at 3dp over 2dp inputs); both
    // engines evaluate the identical sorted-array arithmetic.
    "rolling_median_7" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      val arr = array_sort(collect_list(col("value")).over(w))
      val n = size(arr)
      val med = when(n % 2 === 1, element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise((element_at(arr, (n / 2).cast("int")) +
          element_at(arr, (n / 2).cast("int") + 1)) / 2)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), round(med, 6).as("rmed7"))
    }),

    // Corpus-level top-20 bigrams (text analysis).
    "top_bigrams" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .select(col("tok"), lead(col("tok"), 1).over(w).as("tok1"))
        .filter(col("tok1").isNotNull)
        .select(concat_ws(" ", col("tok"), col("tok1")).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    }),

    // Time-series resample: 1-hour buckets per user, gap-filled with NULLs.
    "resample_hourly" -> ((s, dir) =>
      graft.ops.TimeSeries.resampleAvg(
        Tables.events(s, dir), tsCol = "ts", keyCol = "user_id",
        valueCol = "value", stepMillis = 3600000L)),

    // Distribution-drift monitor: PSI of `value` per event type between
    // the reference half and the current half of the event window.
    "psi_drift" -> ((s, dir) =>
      graft.ops.TimeSeries.psiDrift(
        Tables.events(s, dir), tsCol = "ts", keyCol = "event_type",
        valueCol = "value", splitTs = graft.ops.TimeSeries.PsiSplitTs)),

    // Jensen-Shannon drift: the symmetric, [0, ln 2]-bounded companion —
    // the comparable-across-keys drift score (PSI is unbounded, KS sees
    // only the max gap).
    "jsd_drift" -> ((s, dir) =>
      graft.ops.TimeSeries.jsDrift(
        Tables.events(s, dir), tsCol = "ts", keyCol = "event_type",
        valueCol = "value", splitTs = graft.ops.TimeSeries.PsiSplitTs)),
    // TEXT-side drift: per-source unigram JSD between doc-parity cohorts
    // — "did the new crawl shift this source's language?" — plus the
    // per-token attribution a curator reads when the score alerts.
    "corpus_token_drift" -> ((s, dir) =>
      TextOps.corpusTokenDrift(Tables.documents(s, dir))),
    "token_drift_top" -> ((s, dir) =>
      TextOps.tokenDriftTop(Tables.documents(s, dir))),

    // Daily active/new/returning users (first-seen derived once, never a
    // day-by-day scan) — the growth/retention axis.
    "daily_active_new" -> ((s, dir) =>
      graft.ops.TimeSeries.dailyActiveNew(Tables.events(s, dir))),

    // Time-to-convert: first signup → first strictly-later purchase,
    // exact interpolated latency percentiles + integer-ppm rate.
    "conversion_latency" -> ((s, dir) =>
      graft.ops.TimeSeries.conversionLatency(Tables.events(s, dir))),

    // Z-order (Morton) key for 2-D storage clustering — the layout that
    // makes a (user, value) box predicate prune row groups on BOTH columns
    // (skipping measured live in ParquetLayoutSpec).
    "zorder_events" -> ((s, dir) => graft.ops.Layout.zorderEvents(Tables.events(s, dir))),

    // Distributed time-series similarity search: SAX half-word banding
    // generates candidate user pairs via an equi-join (never an all-pairs
    // series cross-product); exact z-Euclidean verifies.
    "ts_similarity_pairs" -> ((s, dir) =>
      graft.ops.TimeSeries.saxSimilarPairs(Tables.events(s, dir))),
    // Bounded-output similarity SERVING (SCALING.md §2: the all-pairs
    // contract's output is quadratic in SAX-bucket occupancy; top-k
    // emission is |users| x k regardless of saturation).
    "ts_similar_topk" -> ((s, dir) =>
      graft.ops.TimeSeries.saxSimilarTopK(Tables.events(s, dir))),
    // Per-band SAX saturation audit (the mediaBandStats discipline): the
    // 64-value band words saturate ∝ users with no entropy to
    // redistribute, so the occupancy cap is the serving tier's only
    // linear-work guarantee — this report prices what it skips.
    "ts_band_stats" -> ((s, dir) =>
      graft.ops.TimeSeries.saxBandStats(Tables.events(s, dir))),

    // Rolling z-score anomaly detection: each value vs its user's trailing
    // window (current row excluded), 6dp-rounded moments before the flag
    // comparison (cross-engine window-summation order differs).
    // Per-user CUSUM change points (Page's test) via the prefix-scan
    // closed form of the clamped folds — running sum + running extremum
    // per user, decimal-exact, no recursion, no UDF.
    "cusum_changepoints" -> ((s, dir) =>
      graft.ops.TimeSeries.cusumChangepoints(Tables.events(s, dir))),

    "rolling_zscore_anomalies" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingZscore(Tables.events(s, dir))),

    // Fuzzy entity resolution: blocked (nationkey, exact-decimal balance)
    // candidates verified by levenshtein <= 2 over the planted-dirty
    // customer table — record linkage as equi-join + cheap verify, never a
    // name cross-product.
    // Served FROM the StreamingEntityRes-maintained index (one fold over
    // the planted table, memoized per application) — the oracle replays
    // the inline blocking+verify, so hash-green certifies maintained ≡
    // inline every round.
    "entity_resolution_pairs" -> ((s, dir) =>
      graft.streaming.StreamingEntityRes.readPairs(s, entityIndexOf(s, dir))),
    // The survivorship stage completing the record-linkage chain: exact
    // CC over the matched pairs (typo chains fold transitively), min-key
    // golden record per entity with keeper-name + max-balance merge —
    // served from the same maintained index.
    "entity_golden_records" -> ((s, dir) =>
      graft.streaming.StreamingEntityRes.serveGoldenRecords(s, entityIndexOf(s, dir))),
    // The right-to-be-forgotten COMPLIANCE LEDGER end to end: build all
    // eight serving artifacts fresh (the sweep mutates them, so every
    // invocation gets its own temp root), fan a BATCH of two takedown
    // tickets across them in ONE folded sweep, and report per-ticket ×
    // per-surface rows-scrubbed + rows-remaining. The oracle recomputes
    // every scrubbed count from each artifact's inline derivation and
    // pins rows_remaining to zero — a scrub bug on ANY tier breaks the
    // hash, so this one query transitively certifies the whole
    // governance fan-out every round.
    "takedown_batch_report" -> ((s, dir) => takedownBatchReportOf(s, dir)),

    // CDC snapshot maintenance (MERGE INTO shape): the event stream as a
    // keyed change feed (user_id, version (ts, event_id), error = tombstone);
    // snapshot-at-cutoff incrementally merged with the post-cutoff batch.
    // The oracle recomputes the final snapshot DIRECTLY over all changes —
    // the maintenance invariant merge(snap(t0), changes) == snap(t1) IS the
    // correctness contract.
    "cdc_latest_state" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .withColumn("is_delete", col("event_type") === "error")
      val cutoff = lit("2024-01-21").cast("timestamp")
      val base = graft.ops.Cdc.latestWins(
        ev.filter(col("ts") < cutoff), Seq("user_id"), Seq("ts", "event_id"), "is_delete")
      graft.ops.Cdc.applyChanges(
        base, ev.filter(col("ts") >= cutoff), Seq("user_id"), Seq("ts", "event_id"), "is_delete")
    }),

    // SCD2 history: every non-tombstone change becomes a version row with
    // a validity interval to the key's next change; the open interval is
    // the current row — AS-OF-any-version reads over the same feed
    // cdc_latest_state compacts.
    "cdc_scd2_history" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .withColumn("is_delete", col("event_type") === "error")
      graft.ops.Cdc.scd2History(ev, Seq("user_id"), Seq("ts", "event_id"), "is_delete")
    }),

    // Statistical aggregates (Welford-merged moments, rounded for
    // cross-engine ulp stability).
    "value_stats" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(avg(col("value")), 6).as("avg_v"),
          round(stddev_samp(col("value")), 6).as("sd_v"),
          round(var_samp(col("value")), 6).as("var_v"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))),

    // Exact linear-interpolation percentiles per event type.
    "value_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"))),

    // HLL++ cardinality sketch with a driver-checkable contract: the raw
    // sketch estimate is engine-specific (DuckDB cannot replay Spark's
    // HLL++), so the emitted columns are the EXACT distinct count plus a
    // boolean asserting the sketch landed within a 5% relative-error
    // budget — the oracle computes the exact side and emits TRUE, so an
    // out-of-bound sketch hash-mismatches instead of going unchecked.
    // The sketch runs at rsd=0.01, making the 5% budget a 5-sigma bound:
    // at the DEFAULT rsd 0.05 the budget is one sigma, which genuinely
    // fails ~1/3 of the time once cardinalities leave HLL's exact sparse
    // range (observed at sf0.1: all five groups out of bound).
    // Absolute sketch accuracy curves live in SketchSpec.
    "approx_distinct_users" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("event_type"), col("n_users"),
          (abs(col("approx") - col("n_users")).cast("double") / col("n_users")
            <= 0.05).as("approx_within_5pct"))),

    // Mergeable HLL sketch tables (DataSketches): per-(type, day) partial
    // sketches rolled up by register-wise union — the pre-aggregation that
    // answers distinct-count rollups at 100 TB without rescanning raw
    // events. Contract check: the union estimate lands within the 5-sigma
    // budget of the exact count (same shape as approx_distinct_users).
    "hll_sketch_users" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val rolled = Sketches.hllRollup(Sketches.hllPartials(ev))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      exact.join(rolled, Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_days"),
          (abs(col("approx_users") - col("n_users").cast("double")) /
            col("n_users").cast("double") <= Sketches.ErrorBudget)
            .as("union_within_budget"))
    }),

    // Pairwise audience overlap via HLL inclusion–exclusion (the
    // set-intersection question sketches can't answer directly), audited
    // against the exact overlap — exact values + a budget boolean, the
    // sketch-family oracle contract.
    "hll_overlap_report" -> ((s, dir) =>
      Sketches.hllOverlapReport(Tables.events(s, dir))),

    // Mergeable quantile partials: per-(type, day) value histograms at a
    // declared 2dp granularity, merged by addition and answered with the
    // integer-exact type-1 cutoff — EXACT quantiles of rounded values from
    // a partials table, no raw rescan, no sketch error. Oracle recomputes
    // directly from raw events: partials+merge == direct is the contract.
    "quantile_rollup" -> ((s, dir) =>
      Sketches.quantileRollup(Sketches.quantilePartials(Tables.events(s, dir)))),

    // Mergeable moment partials: per-(type, day) EXACT decimal power sums
    // (n, Σv, Σv², Σv³) merged by addition, derived into mean / sample
    // variance / skewness — the moments twin of quantile_rollup. Oracle
    // recomputes direct from raw: partials+merge == direct, exactly.
    "moments_rollup" -> ((s, dir) =>
      Sketches.momentsRollup(Sketches.momentPartials(Tables.events(s, dir)))),

    // Count-min sketch in table form: depth×width = 4×8192 = 32768 integer
    // counters — the bounded-state heavy-hitter primitive. The groupBy
    // cardinality is the GEOMETRY, not the key domain, so map-side combine
    // collapses any partition to ≤32768 rows before the only exchange; cells merge by
    // exact addition across days/shards/streams.
    "cms_sketch" -> ((s, dir) => Sketches.cmsSketch(Tables.events(s, dir))),
    // AMS/CMS join-size estimation: the clicks x purchases per-user join
    // sized from two sketch inner products (min over hash rows) without
    // touching either input — the optimizer's cardinality question,
    // integer-exact in the oracle, overestimate >= 0 by construction.
    "cms_join_size" -> ((s, dir) =>
      Sketches.cmsJoinSizeEstimate(Tables.events(s, dir))),
    // Bloom membership filter: 2048 bit_or-merged words answer "seen
    // before?" for any key with zero false negatives — the idempotent
    // sketch (a replayed shard cannot corrupt it); the probe report is
    // its accuracy audit (present hit rate must be exactly 1.0, the
    // anti-joined absent cohort's hit rate IS the measured FP rate).
    "bloom_sketch" -> ((s, dir) => Sketches.bloomSketch(Tables.events(s, dir))),
    "bloom_probe_report" -> ((s, dir) =>
      Sketches.bloomProbeReport(Tables.events(s, dir))),

    // Heavy hitters from the CMS: est(x) = min over hash rows, threshold
    // as exact integer cross-multiplication; exact counts reported beside
    // the estimates make the query its own accuracy audit
    // (overestimate ≥ 0 always — CMS never undercounts).
    "cms_heavy_hitters" -> ((s, dir) =>
      Sketches.cmsHeavyHitters(Tables.events(s, dir))),

    // Column-profiling audit: one row per column (nulls, exact distincts,
    // typed min/max) in a single Expand-based scan.
    "profile_events" -> ((s, dir) =>
      graft.ops.Profile.profile(Tables.events(s, dir), ProfileCols)),

    // Data-contract validation: every rule's violation count + exact ppm
    // from ONE scan; rules are ANSI predicates shared with the oracle.
    "contract_report" -> ((s, dir) =>
      graft.ops.Profile.contractReport(Tables.events(s, dir))),

    // Bucketized interval join: events ⋈ [error, error+30 min) incident
    // windows as an EQUI join on time buckets + residual range filter —
    // the technique that keeps a range-only join off the nested-loop
    // path at scale. Oracle replays the plain range join (same result).
    "incident_window_hits" -> ((s, dir) =>
      graft.ops.TimeSeries.incidentWindowHits(Tables.events(s, dir))),

    // Robust outliers: exact histogram median + MAD per type, rows beyond
    // k·MAD counted with an integer-ppm share — the estimator a cleaning
    // pipeline trusts where a contaminated tail masks the z-score gate.
    "mad_outliers" -> ((s, dir) =>
      Sketches.madOutliers(Tables.events(s, dir))),

    // Percentile time series: per-(type, day) exact p10/p50/p90 bands —
    // the envelope plot that shows variance drift the daily mean hides.
    "daily_value_bands" -> ((s, dir) =>
      Sketches.dailyValueBands(Tables.events(s, dir))),

    // Storage-encoding advisor: per column, exact distinct and run-count
    // stats with integer-ppm quotients and the rle/dict/plain advice — the
    // layout decision a 100 TB table pays for on every scan.
    "storage_profile" -> ((s, dir) =>
      graft.ops.Profile.storageProfile(Tables.events(s, dir))),

    // k-anonymity audit: per event_type, equivalence-class stats over the
    // (type, day, value-bucket) quasi-identifier and the exact integer-ppm
    // share of re-identifiable rows (class < k) — the governance panel
    // after PII scrubbing.
    "k_anonymity_report" -> ((s, dir) =>
      graft.ops.Privacy.kAnonymityReport(Tables.events(s, dir))),

    // l-diversity audit: the homogeneity attack k-anonymity misses — a
    // k-sized class owned by ONE user is fully re-identifying; classes
    // must mix >= l distinct users.
    "l_diversity_report" -> ((s, dir) =>
      graft.ops.Privacy.lDiversityReport(Tables.events(s, dir))),

    // t-closeness: the attack l-diversity misses — a class can mix l
    // users yet have a distribution wildly different from the table's;
    // TVD per class is an exact integer ppm (no float accumulation).
    "t_closeness_report" -> ((s, dir) =>
      graft.ops.Privacy.tClosenessReport(Tables.events(s, dir))),

    // t-closeness REMEDIATION: iterated far-class suppression (dropping a
    // far class shifts the global distribution, so the drop cascades);
    // output = surviving events, whose own audit passes at t.
    "t_closeness_apply" -> ((s, dir) =>
      graft.ops.Privacy.tClosenessApply(Tables.events(s, dir))
        .select(col("event_id"), col("event_type"), col("user_id"))),

    // Suppression-based k-anonymization: quasi columns NULLed for rows in
    // classes below k, with the suppression flag emitted.
    "k_anonymize" -> ((s, dir) =>
      graft.ops.Privacy.kAnonymize(Tables.events(s, dir))),

    // Winsorization: clip values to the per-type [p01, p99] cutoffs from
    // the same granularity-bounded histogram as quantile_rollup — the
    // robust-cleaning TRANSFORM the outlier report motivates. The clipped
    // sum is exact (values are 2dp ⇒ DECIMAL(18,2) casts are lossless).
    "winsorize_values" -> ((s, dir) => {
      val cuts = Sketches.quantileRollup(
        Sketches.quantilePartials(Tables.events(s, dir)),
        Seq("p01" -> 10000L, "p99" -> 990000L))
        .select(col("event_type"), col("p01"), col("p99"))
      Tables.events(s, dir)
        .join(broadcast(cuts), Seq("event_type"))
        .select(col("event_type"),
          greatest(least(col("value"), col("p99")), col("p01")).as("w"),
          (col("value") < col("p01")).as("lo"),
          (col("value") > col("p99")).as("hi"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
          sum(col("w").cast("decimal(18,2)")).cast("double").as("sum_winsorized"))
    }),

    // Robust outlier detection per event type: |x - median| > 3 * MAD
    // (median absolute deviation — resistant to the outliers it hunts,
    // unlike stddev-based z-scores). Two exact-percentile aggregation
    // passes. med and mad are rounded to 6dp BEFORE the 3*MAD comparison
    // (repo convention for any cross-engine float compare): Spark's
    // percentile and DuckDB's quantile_cont interpolate with different
    // formulas that can differ in the last ulp, and an unrounded boundary
    // row could flip n_outliers at a new scale factor.
    "value_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"), col("med"))
        .agg(round(expr("percentile(abs(value - med), 0.5D)"), 6).as("mad"))
      ev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("value") - col("med")) > col("mad") * 3, 1).otherwise(0))
            .as("n_outliers"))
        .select(col("event_type"), col("n"), col("n_outliers"),
          round(col("n_outliers").cast("double") / col("n").cast("double"), 6)
            .as("outlier_rate"))
    }),

    // Quantile sketch (Greenwald-Khanna style approx_percentile) with the
    // same driver-checkable contract as the HLL query: the sketch value is
    // engine-specific, so emit the EXACT percentiles plus booleans
    // asserting the sketch landed inside the ±1% rank window around its
    // target (10x its configured 1/1000 rank-error budget) — the oracle
    // computes the exact side and emits TRUE.
    "approx_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, array(0.5D, 0.9D), 1000)").as("ap"),
          expr("percentile(value, array(0.49D, 0.5D, 0.51D, 0.89D, 0.9D, 0.91D))").as("ex"))
        .select(col("event_type"),
          round(element_at(col("ex"), 2), 6).as("p50_exact"),
          round(element_at(col("ex"), 5), 6).as("p90_exact"),
          (element_at(col("ap"), 1) >= element_at(col("ex"), 1) &&
            element_at(col("ap"), 1) <= element_at(col("ex"), 3)).as("p50_in_rank_window"),
          (element_at(col("ap"), 2) >= element_at(col("ex"), 4) &&
            element_at(col("ap"), 2) <= element_at(col("ex"), 6)).as("p90_in_rank_window"))),

    // Conversion funnel: per user the furthest stage reached — first click,
    // then a purchase within 24h of that first click. Two conditional
    // min-aggregates + semi-join flags; no per-user sequence explosion.
    "funnel_stages" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val fc = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(unix_millis(col("ts"))).as("c_ms"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("p_ms"))
      val conv = fc.join(purch, Seq("user_id"))
        .filter(col("p_ms") >= col("c_ms") && col("p_ms") <= col("c_ms") + 86400000L)
        .select(col("user_id")).distinct().withColumn("converted", lit(true))
      ev.select(col("user_id")).distinct()
        .join(fc.select(col("user_id"), lit(true).as("clicked")), Seq("user_id"), "left")
        .join(conv, Seq("user_id"), "left")
        .select(when(col("converted"), 2).when(col("clicked"), 1).otherwise(0).as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
    }),

    // ORDERED funnel: signup → first click strictly after it → first
    // purchase strictly after that — each stage's timestamp anchors the
    // next (the sequencing constraint funnel_stages' presence flags can't
    // express). A cascade of min-aggregates + user-keyed joins: every
    // exchange is on user_id, so the three stages reuse one partitioning.
    "ordered_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).filter(col("ms") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id")).filter(col("ms") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("t3"))
      s1.agg(count(lit(1)).as("n_users")).select(lit("signup").as("stage"), col("n_users"))
        .unionByName(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("click_after_signup").as("stage"), col("n_users")))
        .unionByName(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("purchase_after_click").as("stage"), col("n_users")))
    }),

    // Two-sample KS drift per event_type at the psi split: exact
    // D = max |F_ref - F_cur| + the alpha=0.05 rejection flag — the
    // binning-free companion to psi_drift.
    "ks_drift" -> ((s, dir) =>
      graft.ops.TimeSeries.ksDrift(Tables.events(s, dir),
        tsCol = "ts", keyCol = "event_type", valueCol = "value",
        splitTs = graft.ops.TimeSeries.PsiSplitTs)),

    // Hourly-count autocorrelation at lags 1-3 per event_type over the
    // gap-filled grid — the seasonality probe; exact integer power sums.
    "hourly_acf" -> ((s, dir) =>
      graft.ops.TimeSeries.hourlyAcf(Tables.events(s, dir))),

    // Per-key OLS trend over the same grid: slope/intercept/r² from exact
    // integer normal-equation sums — the growth probe beside hourly_acf.
    "hourly_trend" -> ((s, dir) =>
      graft.ops.TimeSeries.hourlyTrend(Tables.events(s, dir))),

    // Dyadic EWMA (α = 1/2) over the same grid: every weight and the
    // head-normalization denominator are exact powers of two, so the
    // smoothing is integer arithmetic + one IEEE division — the smoothed
    // baseline the anomaly read compares current counts against.
    "ewma_hourly" -> ((s, dir) =>
      graft.ops.TimeSeries.ewmaHourly(Tables.events(s, dir))),

    // Theil-Sen robust daily trend: exact median of pairwise slopes —
    // spike-immune where the OLS slope chases outliers quadratically.
    "theilsen_trend" -> ((s, dir) =>
      graft.ops.TimeSeries.theilSenDaily(Tables.events(s, dir))),

    // Weekly seasonal decomposition (STL-lite, period 7): centered-window
    // detrending kept integer-exact (7c − sum7), one division per
    // (type, dow) — the weekday-activity audit.
    "seasonal_dow" -> ((s, dir) =>
      graft.ops.TimeSeries.seasonalDow(Tables.events(s, dir))),

    // Markov next-event transition matrix — see TimeSeries.transitions
    // (no user shares a microsecond in this data, so the (ts, event_id)
    // order is identical across engines).
    "event_transitions" -> ((s, dir) =>
      graft.ops.TimeSeries.transitions(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id")))),

    // Key-skew diagnostic over (event_type, user_id) — see Profile.keySkew.
    "key_skew_report" -> ((s, dir) =>
      graft.ops.Profile.keySkew(Tables.events(s, dir), "event_type", "user_id")),

    // Weekly cohort retention: users grouped by first-activity week, counted
    // in every later week they reappear. Two aggregations, one equi-join.
    "cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort"))
      val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
      first.join(active, Seq("user_id"))
        .select(col("cohort"),
          ((unix_millis(col("wk")) - unix_millis(col("cohort"))) / 604800000L)
            .cast("bigint").as("week_offset"))
        .groupBy(col("cohort"), col("week_offset")).agg(count(lit(1)).as("n_users"))
    }),

    // Attribution interval join via the time-binned equi-join: clicks in
    // the hour before each same-user purchase. A raw BETWEEN join would
    // plan as a nested loop (quadratic); binning makes it a hash join.
    "attribution_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"),
          (unix_millis(col("ts")) - 3600000L).as("start_ms"),
          unix_millis(col("ts")).as("end_ms"))
      graft.ops.Joins.binnedRangeJoin(clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTsMs = "ts_ms", startMs = "start_ms", endMs = "end_ms",
          binMillis = 3600000L)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_clicks_1h_before"))
    }),

    // Hierarchical totals via ROLLUP (grouping-sets family).
    "rollup_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),

    // Date/time extraction family: year/quarter/month plus a
    // Monday=0 day-of-week (both engines' raw dow conventions differ —
    // Spark dayofweek is 1=Sunday, DuckDB isodow is 1=Monday — so the
    // query pins an explicit convention both can compute).
    "orders_seasonality" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          ((dayofweek(col("o_orderdate")) + 5) % 7).as("dow_mon0"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))),

    // Full grouping-sets lattice via CUBE.
    "cube_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),

    // Analytic-function breadth over one window: offsets, ranks, tiles,
    // distribution — all computed in a single per-user sort.
    "window_analytics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cdist"))
    }),

    // Value-RANGE window frame: trailing-1h sum/count per user keyed on
    // the ORDER BY value (epoch ms), not row offsets — frames are
    // peer-inclusive, so the result is order-independent as a set (the 6dp
    // rounding absorbs summation-order ulps only).
    "range_frame_sum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ms"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 6).as("sum_1h"))
    }),

    // Semi/anti join pair: customers with ≥1 urgent order vs none.
    "semi_anti_customers" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      val c = Tables.customer(s, dir)
      val withU = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit(true).as("has_urgent"))
      val without = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit(false).as("has_urgent"))
      withU.unionByName(without)
    }),

    // ---- text analysis (north star) over `documents` ---------------------
    "text_token_stats" -> ((s, dir) => TextOps.tokenStats(Tables.documents(s, dir))),
    "text_subword_stats" -> ((s, dir) => TextOps.subwordStats(Tables.documents(s, dir))),
    // TRUE corpus-trained BPE (not the regex estimate): one word-freq
    // aggregation + a driver-side merge loop train the tokenizer; the
    // merge table and the per-doc encode are both oracle-replayed
    "text_bpe_merges" -> ((s, dir) => TextOps.bpeMerges(Tables.documents(s, dir))),
    "text_bpe_tokens" -> ((s, dir) => TextOps.bpeTokenStats(Tables.documents(s, dir))),
    "text_quality" -> ((s, dir) => TextOps.qualityScore(Tables.documents(s, dir))),
    // Per-language bottom-quantile drop via a bounded score histogram
    // (exact-percentile aggs buffer corpus-sized state; this doesn't).
    "quality_quantile_filter" -> ((s, dir) =>
      TextOps.qualityQuantileFilter(Tables.documents(s, dir))),
    // Corpus-unigram LM scoring (CCNet/KenLM-shape model-based filter).
    "text_unigram_logprob" -> ((s, dir) =>
      TextOps.unigramLogprob(Tables.documents(s, dir))),
    // Corpus-bigram LM with Jelinek-Mercer backoff — orders matter: the
    // coherence signal the unigram gate cannot see.
    "text_bigram_logprob" -> ((s, dir) =>
      TextOps.bigramLogprob(Tables.documents(s, dir))),
    "text_langid" -> ((s, dir) => TextOps.langId(Tables.documents(s, dir))),
    // Supervised hashed-feature multinomial NB (the CCNet/fastText-style
    // curation classifier) with fixed-point log terms so the argmax is
    // exactly reproducible across engines and cluster sizes — see
    // graft.ops.Classify.
    // All three NB reports are rollups of the same per-(doc, class)
    // fixed-point score table — served from the memoized artifact so the
    // hashed token scan + C-fanout scoring run once per corpus, not once
    // per report (oracles replay the inline training, so hash-green
    // certifies from-artifact == inline).
    "nb_lang_classify" -> ((s, dir) =>
      graft.ops.Classify.nbLangClassifyFrom(nbScoresOf(s, dir))),
    "nb_lang_confusion" -> ((s, dir) =>
      graft.ops.Classify.nbLangConfusionFrom(nbScoresOf(s, dir))),
    // Calibration by decision margin: per margin-bucket accuracy as exact
    // integer ppm — the audit behind "keep only confident docs" gates.
    "nb_margin_calibration" -> ((s, dir) =>
      graft.ops.Classify.nbMarginCalibrationFrom(nbScoresOf(s, dir))),
    // Classifier-quality audit: language-ID prediction vs the labeled lang
    // column as a confusion matrix — the accuracy panel read before
    // trusting langId gates in a curation run.
    "langid_confusion" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.langId(docs).select(col("doc_id"), col("lang_pred"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    }),
    "text_fingerprint" -> ((s, dir) => TextOps.fingerprints(Tables.documents(s, dir))),
    // Vocabulary coverage: top-V corpus vocab (TakeOrdered, broadcast) →
    // per-doc OOV token fraction — the tokenizer-fit signal.
    "vocab_coverage" -> ((s, dir) => TextOps.vocabCoverage(Tables.documents(s, dir))),
    // Per-doc top-5 TF-IDF terms (smooth IDF) — salient-term extraction.
    "tfidf_top_terms" -> ((s, dir) => TextOps.tfidfTopTerms(Tables.documents(s, dir))),
    // TextRank corpus keywords: weighted PageRank over the window-2
    // token co-occurrence graph (stopwords break the link) — the
    // graph-centrality keyword lens beside tfidf's frequency lens.
    "textrank_keywords" -> ((s, dir) =>
      TextOps.textRankKeywordsFromCooc(textRankCoocOf(s, dir))),
    // Cross-document boilerplate removal over fixed-width token segments
    // (RefinedWeb line-dedup shape), on the deterministically-planted
    // corpus — the raw synthetic docs share no segments.
    "strip_boilerplate" -> ((s, dir) =>
      TextOps.stripBoilerplate(TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))),
    // Frequent-bigram mining via bounded-memory Misra-Gries sketch + exact
    // recount: output = exactly the >=threshold bigrams (planted boilerplate
    // bigrams at ~0.46% vs organic ~0.1%), sketch candidacy load-bearing.
    "frequent_bigrams" -> ((s, dir) =>
      TextOps.frequentBigrams(TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))),
    // Overlapping fixed-token chunking (RAG/embedding preprocessing) — a
    // pure zero-shuffle projection: tokenize, explode chunk ids, slice.
    "chunk_documents" -> ((s, dir) =>
      TextOps.chunkDocuments(Tables.documents(s, dir))),
    // Cross-doc duplicate-span coverage (fixed-width exact-substring dedup
    // signal, Lee et al. ACL'22) on the planted corpus — the boilerplate
    // prefix is the provable duplicated span source.
    // Zipf rank-frequency fit: the "is this natural language" corpus
    // diagnostic — slope ~ -1 organic, flattened = templated, with r2 as
    // the power-law goodness gate; head taken by a bounded heap, never a
    // vocabulary sort.
    "zipf_fit" -> ((s, dir) => TextOps.zipfFit(Tables.documents(s, dir))),

    "dup_span_stats" -> ((s, dir) =>
      TextOps.dupSpanStats(TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))),

    // The APPLY path for the signal above: excise every cross-doc
    // duplicated span occurrence except its canonical (min-doc_id) copy
    // and rebuild the text — fixed-width substring dedup with keep-first
    // semantics; dup_span_stats' per-doc numbers predict the removal.
    "strip_dup_spans" -> ((s, dir) =>
      TextOps.stripDupSpans(TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))),

    // Composed: span excision → shard-packing occupancy. Quantifies what
    // substring dedup does to the packed-corpus shape (shorter docs, less
    // splitting, lower fill) — the downstream readout a curator checks
    // before re-tokenizing the cleaned corpus.
    "span_clean_pack_report" -> ((s, dir) =>
      TextOps.packEfficiencyReport(
        TextOps.stripDupSpans(TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))
          .select(col("doc_id"), col("text_clean").as("text")))),

    // ---- deduplication (north star) --------------------------------------
    "dedup_exact_docs" -> ((s, dir) => Dedup.exactDedup(Tables.documents(s, dir))),
    "dedup_normalized" -> ((s, dir) => TextOps.normalizedDedup(Tables.documents(s, dir))),
    "text_scrub_pii" -> ((s, dir) => TextOps.scrubPii(Tables.documents(s, dir))),
    "pack_training_shards" -> ((s, dir) => TextOps.packShards(Tables.documents(s, dir))),
    // Per-shard packing audit: window fill ratio (padding waste) and
    // boundary-straddling doc count (truncation / cross-window masking) —
    // the two numbers read before committing a packed shard layout.
    "pack_efficiency_report" -> ((s, dir) =>
      TextOps.packEfficiencyReport(Tables.documents(s, dir))),

    // Composed: quality-aware survivorship → shard packing. The packing
    // audit of the corpus a best-quality dedup pass actually ships —
    // fill ratios shift as clusters collapse to single survivors.
    "curation_pack_report" -> ((s, dir) =>
      TextOps.packEfficiencyReport(
        Dedup.bestQualitySurvivorsFrom(
          Tables.documents(s, dir), dedupIndexOf(s, dir).components))),
    // Deterministic hash-based stratified sampling + train/val split: the
    // reproducible-subset op a training pipeline runs before tokenization.
    "stratified_sample" -> ((s, dir) => Sampling.stratifiedSample(Tables.documents(s, dir))),
    // Length-histogram matching: flatten the token-length distribution to
    // the rarest bucket's mass via integer-ppm acceptance per bucket.
    "length_matched_sample" -> ((s, dir) =>
      Sampling.histogramMatch(Tables.documents(s, dir))),
    // Temperature-based source mixing: p_s ∝ sqrt(share_s), deterministic
    // ppm hash gate — the skew-flattening resampler in LLM data recipes.
    "temperature_mix" -> ((s, dir) => Sampling.temperatureMix(Tables.documents(s, dir))),
    // the scheduling half of the data recipe: per-source epoch counts for
    // a token budget under a temperature-flattened target with a repeat cap
    "mixture_epoch_plan" -> ((s, dir) => Sampling.mixtureEpochPlan(Tables.documents(s, dir))),
    // Quality-weighted Bernoulli sampling: keep probability ∝ the 6dp
    // quality score — the soft gate between hard filtering and uniform
    // sampling; same deterministic ppm hash machinery.
    // Fixed-size weighted sampling WITHOUT replacement per source
    // (Efraimidis-Spirakis A-Res): hash-drawn u, ln(u)/w race key,
    // bounded-heap per-source top-k — fixed-size AND quality-weighted,
    // completing the spectrum beside Bernoulli weighting and uniform caps.
    "weighted_reservoir_sample" -> ((s, dir) =>
      Sampling.weightedReservoirPerSource(Tables.documents(s, dir))),

    "weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        TextOps.qualityScore(Tables.documents(s, dir))
          .select(col("doc_id"), col("quality_score")))),
    // Per-source quota cap ("max N docs per domain") via the bounded-heap
    // aggregator — no per-source sort ever materializes.
    "capped_per_source" -> ((s, dir) => Sampling.cappedPerSource(Tables.documents(s, dir))),
    // Leakage-safe split: hash the near-dup component representative so no
    // near-dup pair straddles train and validation.
    "leakage_safe_split" -> ((s, dir) =>
      Sampling.leakageSafeSplit(Tables.documents(s, dir),
        dedupIndexOf(s, dir).components3)),
    // Benchmark decontamination: flag docs sharing a 3-shingle with the
    // (corpus-derived, oracle-replayable) benchmark set.
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.decontaminate(docs, TextOps.benchmarkSet(docs))
    }),
    // Gopher-style intra-doc repetition signals (dup-bigram / top-bigram
    // fractions + threshold flag).
    "text_repetition" -> ((s, dir) => TextOps.repetitionStats(Tables.documents(s, dir))),
    // Character/bigram Shannon entropy — the gibberish detector (binary
    // junk, looping filler). Zero-shuffle narrow projection per doc.
    "text_entropy" -> ((s, dir) => TextOps.charEntropy(Tables.documents(s, dir))),
    // BM25 lexical retrieval: query-term postings and doc lengths meet
    // in one shuffle keyed by query; per-query statistics and ranking
    // windows reuse it.
    "bm25_topk" -> ((s, dir) => TextOps.bm25TopK(Tables.documents(s, dir))),
    // BM25 served from the inverted-index tables (full postings + doc
    // lengths, the frames StreamingTextIngest maintains): df/corpus stats
    // derive from the index at query time, term selection is a pushdown
    // filter on the postings scan — result ≡ the inline build (same
    // oracle).
    // Served from the MEMOIZED StreamingTextIngest artifact (round 14 —
    // the inline invertedIndexOf lambda re-tokenized + re-aggregated the
    // corpus per serve; tokenization is deterministic, same oracle).
    "bm25_from_index_topk" -> ((s, dir) => {
      val (p, d) = textIndexOf(s, dir)
      TextOps.bm25TopKFromIndex(p, d)
    }),
    // Heaps'-law vocabulary-growth fit across sources — the
    // tokenizer-vocab-sizing / dedup-sanity diagnostic.
    "heaps_law_fit" -> ((s, dir) => TextOps.heapsLawFit(Tables.documents(s, dir))),
    // Dirichlet query-likelihood retrieval — the probabilistic LM ranker
    // that pairs with BM25 in fusion baselines.
    "ql_topk" -> ((s, dir) => TextOps.qlTopK(Tables.documents(s, dir))),
    // QL and the full RRF hybrid stack served from the same inverted
    // index tables as bm25_from_index_topk (cf = sum tf per term).
    "ql_from_index_topk" -> ((s, dir) => {
      val (p, d) = textIndexOf(s, dir)
      TextOps.qlTopKFromIndex(p, d)
    }),
    "rrf_from_index" -> ((s, dir) => {
      val (p, d) = textIndexOf(s, dir)
      TextOps.rrfFusionFromIndex(p, d)
    }),
    // Content-addressable corpus manifest: per source, an
    // order-independent content digest — the dataset-versioning check
    // that says two runs produced the same corpus without sorting it.
    "corpus_manifest" -> ((s, dir) =>
      TextOps.corpusManifest(Tables.documents(s, dir))),

    // Lexical→vector hybrid with pseudo-relevance feedback (Rocchio):
    // per-query PRF vector = mean embedding of its BM25 top-3 docs; the
    // RRF pool reranked by cosine to it — the RAG bridge step composed
    // from existing operators.
    "prf_hybrid_rerank" -> ((s, dir) =>
      VectorOps.prfHybridRerank(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        textIndex = Some(textIndexOf(s, dir)))),

    // Exact phrase search from the positional index: n-way positional
    // self-join at consecutive positions, exact per-doc occurrence
    // counts — the query class bag-of-words postings cannot answer.
    // Served from the maintained positional index (round 14 — the inline
    // form re-posexploded the corpus per serve; same split-on-space
    // tokenization, 1-based positions, same oracle).
    "phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(textPositionsOf(s, dir))),
    // Reciprocal-rank fusion of the BM25 and QL pools — hybrid retrieval's
    // calibration-free rank combiner.
    "rrf_fusion" -> ((s, dir) => TextOps.rrfFusion(Tables.documents(s, dir))),
    // nDCG@k of all three retrieval systems against deterministic
    // term-coverage qrels — the self-contained ranking-quality panel
    // (fixed-point DCG terms; see TextOps.retrievalNdcgReport).
    "retrieval_ndcg_report" -> ((s, dir) =>
      TextOps.retrievalNdcgReport(Tables.documents(s, dir),
        index = Some(textIndexOf(s, dir)))),
    // DSIR importance resampling: hashed-bigram target/raw log-ratio
    // weights + deterministic hash-Gumbel top-k selection.
    "dsir_resample" -> ((s, dir) => TextOps.dsirResample(Tables.documents(s, dir))),
    // PMI collocation mining over the planted-boilerplate corpus —
    // association strength, the signal raw bigram counts can't see.
    "pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))),
    // E2E curation report: length/quality/repetition gates with first-match
    // reject reason + PII audit flag — the whole filter chain in one pass.
    "corpus_retention" -> ((s, dir) => TextOps.retentionReport(Tables.documents(s, dir))),
    // THE composed pipeline: retention gates → MinHash-LSH near-dup
    // survivors among the retained docs → deterministic stratified
    // sample + train/val split. One query, four operators, one oracle —
    // the end-to-end "prepare training data" chain a user actually runs.
    "curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val retained = TextOps.retentionReport(docs)
        .filter(col("retained")).select(col("doc_id"))
      val kept = docs.join(retained, Seq("doc_id"))
      // LSH pairs over the retained subset == the artifact's full-corpus
      // pairs with BOTH endpoints retained (signatures and banding are
      // per-doc), so the dedup stage serves from the DedupIndex artifact
      // instead of re-running the signature pipeline on the subset
      val dupes = dedupIndexOf(s, dir).pairs
        .join(retained.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(retained.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
        .select(col("doc_b")).distinct()
      val surv = kept.join(dupes, kept("doc_id") === dupes("doc_b"), "left_anti")
      Sampling.stratifiedSample(surv)
    }),
    "minhash_signatures" -> ((s, dir) => Dedup.minhashSignatures(Tables.documents(s, dir))),
    // The pair table SERVED FROM the DedupIndex artifact — its oracle is
    // the inline LSH derivation, so hash-green here certifies the
    // artifact reproduces the inline build byte-for-byte every round.
    "minhash_lsh_pairs" -> ((s, dir) => dedupIndexOf(s, dir).pairs),
    // Cross-source contamination matrix over the LSH pair graph — the
    // which-sources-copy-from-which audit behind per-source mix weights.
    "source_contamination" -> ((s, dir) =>
      Dedup.sourceContaminationFrom(
        dedupIndexOf(s, dir).pairs, Tables.documents(s, dir))),
    // Estimator-quality audit: signature-agreement estimate vs exact
    // shingle Jaccard on every candidate pair (precision ppm, MAE, bias,
    // worst error) — decides whether k=12 is enough for a new corpus mix.
    "minhash_quality_report" -> ((s, dir) =>
      Dedup.minhashQualityReportFrom(
        dedupIndexOf(s, dir).pairs, Tables.documents(s, dir))),
    // Parameter-tuning sweep: the ACTUAL banded join at every usable
    // (bands, rows) factorization of k=12 — measured candidate volume vs
    // estimate quality, the trade read before picking (b, r) at 100 TB.
    "lsh_tuning_report" -> ((s, dir) =>
      Dedup.lshTuningReport(Tables.documents(s, dir))),
    "simhash_docs" -> ((s, dir) => Dedup.simhash(Tables.documents(s, dir))),
    "simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir))),
    "ngram_jaccard_pairs" -> ((s, dir) => Dedup.fingerprintJaccardPairs(Tables.documents(s, dir))),
    // Asymmetric containment (near-subset) pairs over planted truncated
    // twins — catches quotes/reposts symmetric Jaccard misses.
    "containment_pairs" -> ((s, dir) =>
      Dedup.fingerprintContainmentPairs(Dedup.withPlantedQuotes(Tables.documents(s, dir)))),
    // Lexical kNN: each doc's top-3 fingerprint-Jaccard neighbors over the
    // symmetrized candidate graph — text-side similarity SEARCH (not just
    // dedup pairs), through the bounded-heap aggregator.
    "knn_lexical" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
      val pairs = Dedup.fingerprintJaccardPairs(Tables.documents(s, dir), minJaccard = 0.1)
      val sym = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nb"), col("jaccard"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nb"), col("jaccard")))
      sym.groupBy(col("doc_id"))
        .agg(topk(col("jaccard"), col("nb")).as("topk"))
        .select(col("doc_id"), posexplode(col("topk")).as(Seq("i", "t")))
        .select(col("doc_id"), (col("i") + 1).cast("int").as("rank"),
          col("t._2").as("neighbor_id"), col("t._1").as("jaccard"))
    }),

    // Cross-modal dedup triage: per document, a lexical flag (member of any
    // MinHash-LSH pair) and a semantic flag (member of any embedding
    // cosine pair via the aligned vec_id) — both = high-confidence dup,
    // semantic-only = paraphrase candidate, lexical-only = shared
    // template/boilerplate. The triage step SemDeDup-style pipelines run
    // before choosing a removal policy per category.
    "dedup_crossmodal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lex = dedupIndexOf(s, dir).pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
        .withColumn("l", lit(true))
      val sem = VectorOps.cosineNearDupPairs(Tables.embeddings(s, dir))
        .select(explode(array(col("vec_a"), col("vec_b"))).as("doc_id")).distinct()
        .withColumn("s", lit(true))
      docs.select(col("doc_id"))
        .join(lex, Seq("doc_id"), "left").join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("l"), lit(false)).as("lexical_dup"),
          coalesce(col("s"), lit(false)).as("semantic_dup"))
    }),

    // Transitive near-dup clustering: bounded min-label propagation over
    // the LSH pair graph — one representative per connected component
    // (pairwise keep-lowest would over-keep on chains A~B~C).
    // Served DIRECTLY from the artifact's bounded-hop table (the
    // 3-iteration chain ran once at build; the oracle still replays the
    // full inline derivation, proving the stored table IS that result).
    "dedup_components" -> ((s, dir) => dedupIndexOf(s, dir).components3),

    // EXACT connected components — served DIRECTLY from the artifact's
    // component table (the fixpoint ran once at build; the oracle still
    // replays the full inline derivation, proving the stored table IS the
    // fixpoint).
    "dedup_components_exact" -> ((s, dir) => dedupIndexOf(s, dir).components),

    // Survivorship GRANULARITY comparison: one best-quality keeper per
    // component vs per weighted community — quantifies the over-dropping
    // a hub-welded giant component causes. Both label passes come from
    // the artifact.
    "dedup_granularity_report" -> ((s, dir) => {
      val f = dedupIndexOf(s, dir)
      Dedup.dedupGranularityReportFrom(Tables.documents(s, dir), f.labels, f.components)
    }),

    // Survivorship-policy comparison: keep-min-id vs keep-best-quality
    // per component (+ singletons) — same n_kept by construction; the
    // report quantifies the quality mass each policy retains.
    "dedup_policy_report" -> ((s, dir) =>
      Dedup.dedupPolicyReportFrom(
        Tables.documents(s, dir), dedupIndexOf(s, dir).components)),

    // PageRank over the near-dup pair graph: hub documents entangled with
    // many near-duplicates (template centers) — centrality the component
    // SIZE distribution cannot distinguish (chain vs star).
    "pagerank_neardup" -> ((s, dir) =>
      graft.ops.Graph.pageRank(dedupIndexOf(s, dir).pairs)),

    // Per-node triangles + clustering coefficient over the near-dup graph:
    // high-degree/low-coefficient nodes are template hubs bridging
    // unrelated docs; coefficient ≈ 1 marks a genuine duplicate clique —
    // the signal deciding "drop the hub" vs "drop the cluster".
    // Chunk-granular near-dup: the LSH pipeline over 32-token sliding
    // chunks as pseudo-docs (StreamingChunkDedup.chunkPseudoDocs — the
    // SAME id encoding the streamed chunk index writes, via the shared
    // ChunkIdFactor constant), keeping only CROSS-document collisions —
    // catches partially-copied passages whole-document MinHash dilutes
    // below its threshold (the paragraph tier between doc-level LSH and
    // exact span excision).
    "chunk_neardup_pairs" -> ((s, dir) => {
      val f = graft.streaming.StreamingChunkDedup.ChunkIdFactor
      val chunks = graft.streaming.StreamingChunkDedup
        .chunkPseudoDocs(Tables.documents(s, dir))
      Dedup.minhashLshPairs(chunks)
        .filter(expr(s"doc_a DIV $f") =!= expr(s"doc_b DIV $f"))
    }),

    // Doc-pair rollup of the chunk collisions: per cross-document pair,
    // how many chunks collide and how strongly — the "how much of B is
    // copied from A" panel a curator reads before choosing between
    // doc-level drop and span-level excision.
    "chunk_share_report" -> ((s, dir) => {
      val f = graft.streaming.StreamingChunkDedup.ChunkIdFactor
      val chunks = graft.streaming.StreamingChunkDedup
        .chunkPseudoDocs(Tables.documents(s, dir))
      Dedup.minhashLshPairs(chunks)
        .filter(expr(s"doc_a DIV $f") =!= expr(s"doc_b DIV $f"))
        // chunk ids order by (doc, idx), so doc_a < doc_b already
        // canonicalizes the DOC pair
        .groupBy(expr(s"doc_a DIV ${graft.streaming.StreamingChunkDedup.ChunkIdFactor}").as("doc_a"),
          expr(s"doc_b DIV ${graft.streaming.StreamingChunkDedup.ChunkIdFactor}").as("doc_b"))
        .agg(count(lit(1)).as("shared_chunks"),
          round(avg(col("est_jaccard")), 6).as("mean_est_jaccard"),
          round(max(col("est_jaccard")), 6).as("max_est_jaccard"))
    }),

    // k-core of the near-dup graph: the EXACT fixpoint peel (backstop
    // throws, never truncates) leaves the DENSE heart of duplication
    // (template farms, mirror clusters) — chains and star leaves peel
    // away; the set-level density certificate beside triangleStats'
    // per-node coefficient.
    "neardup_kcore" -> ((s, dir) =>
      graft.ops.Graph.kCore(dedupIndexOf(s, dir).pairs)),

    "neardup_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleStats(dedupIndexOf(s, dir).pairs)),

    // Synchronous label-propagation communities over the near-dup graph:
    // finer than connected components (a template hub welds unrelated
    // cliques into one component; LPA keeps the cliques apart) — the
    // granularity "keep one representative per group" should operate at.
    "neardup_communities" -> ((s, dir) =>
      graft.ops.Graph.labelPropagation(dedupIndexOf(s, dir).pairs)),

    // Weighted PageRank: hub rank follows similarity MASS — a hub of
    // borderline collisions ranks below a tightly-duplicated center.
    "pagerank_neardup_weighted" -> ((s, dir) =>
      graft.ops.Graph.pageRankWeighted(
        dedupIndexOf(s, dir).pairs.withColumnRenamed("est_jaccard", "weight"))),

    // Weighted LPA communities — served DIRECTLY from the artifact's
    // label table (the LPA rounds ran once at build; the oracle replays
    // the inline derivation).
    "neardup_communities_weighted" -> ((s, dir) => dedupIndexOf(s, dir).labels),

    // Per-community modularity of the weighted partition: the
    // structure-vs-noise audit before a survivorship policy trusts the
    // communities (Σ q_contrib = Newman modularity). Labels come from the
    // artifact, so only the two label-keyed edge joins run here.
    "neardup_modularity" -> ((s, dir) => {
      val f = dedupIndexOf(s, dir)
      graft.ops.Graph.modularityReportFrom(
        f.pairs.withColumnRenamed("est_jaccard", "weight"), f.labels)
    }),

    // LPA over the positive-PMI collocation graph: tokens that habitually
    // co-occur propagate to shared labels — topic-ish vocabulary clusters
    // from two existing operators composed (PMI pair graph → communities).
    "token_communities" -> ((s, dir) =>
      graft.ops.Graph.labelPropagation(
        TextOps.pmiCollocations(
            TextOps.withPlantedBoilerplate(Tables.documents(s, dir)))
          .filter(col("pmi") > 0)
          .select(col("tok").as("doc_a"), col("tok1").as("doc_b")))),

    // Dedup-cluster audit: component-size distribution over the near-dup
    // graph — the sanity panel read before applying a drop policy (one
    // giant component = a boilerplate artifact, not real duplication).
    "dedup_cluster_stats" -> ((s, dir) => {
      val comp = dedupIndexOf(s, dir).components3
      comp.groupBy(col("rep")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"),
          sum(col("sz")).as("n_nodes"),
          max(col("sz")).as("max_size"),
          round(avg(col("sz")), 6).as("avg_size"))
    }),

    // Shard-balance audit over the packed training shards: per shard, doc
    // and token totals and bins filled — the check that the hash spread
    // actually balanced the corpus before a tokenizer run fans out.
    "shard_balance" -> ((s, dir) =>
      TextOps.packShards(Tables.documents(s, dir))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          (max(col("bin")) + 1).as("n_bins"))),

    // Dedup applied via components: survivors = each component's minimum
    // representative. Strictly stronger than the pairwise policy below on
    // star shapes — pairs (5,9),(7,9) leave both 5 and 7 under pairwise
    // keep-lowest (only 9 is ever a doc_b), while CC keeps only 5.
    // This applies the 2-HOP survivorship bound (Dedup.nearDupDropSet, the
    // collapsed algebraic form of nearDupComponents at iters=2; the oracle
    // unrolls the same 2 steps, so the engines stay in lockstep). The
    // bound's failure shape, explicitly: a node whose nearest lower-id
    // label sits MORE than 2 hops away is over-KEPT — e.g. the chain
    // 3—9—7—1 keeps both 1 and 3, because 3's label reaches 1 only after 3
    // propagation steps. Over-keeping is the conservative direction for
    // dedup (never drops a component minimum); the full-depth policy lives
    // in dedup_components above, and both derive from the SAME LSH pair
    // table (in production, the persisted band-index artifact that
    // incrementalDedup maintains — computed once, not per policy).
    "dedup_apply_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val drops = Dedup.nearDupDropSet(dedupIndexOf(s, dir).pairs)
      docs.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Modularity-GATED survivorship: communities the modularity audit
    // trusts (q_contrib > 0) keep one best-quality doc each; docs in
    // untrusted communities (e.g. the synchronous-LPA pair 2-cycle's
    // singleton communities, q < 0 by construction) fall back to exact
    // component granularity — the audit signal actually steering the
    // drop policy instead of just describing it.
    "dedup_modularity_gated" -> ((s, dir) => {
      val f = dedupIndexOf(s, dir)
      Dedup.modularityGatedReportFrom(
        Tables.documents(s, dir), f.pairs, f.labels, f.components)
    }),

    // The consumable survivor corpus at the GATED granularity the report
    // above audits — trusted communities keep their best doc, untrusted
    // ones collapse to component keepers, singletons always survive.
    "dedup_apply_gated" -> ((s, dir) => {
      val f = dedupIndexOf(s, dir)
      Dedup.modularityGatedSurvivorsFrom(
          Tables.documents(s, dir), f.pairs, f.labels, f.components)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Dedup applied at weighted-COMMUNITY granularity: one best-quality
    // survivor per weighted-LPA community plus singletons — the APPLY path
    // for the granularity dedup_granularity_report recommends (a template
    // hub welds unrelated cliques into one component; similarity-mass LPA
    // keeps the cliques apart, so this keeps one doc per genuine group
    // where the component policy would keep one for all of them).
    "dedup_apply_communities" -> ((s, dir) =>
      Dedup.bestQualitySurvivorsCommunitiesFrom(
          Tables.documents(s, dir), dedupIndexOf(s, dir).labels)
        .select(col("doc_id"), col("lang"), col("source"))),

    // Dedup applied end-to-end: survivors = docs never appearing as the
    // higher id of a MinHash-LSH near-dup pair (greedy keep-lowest policy).
    "dedup_apply_minhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dupes = dedupIndexOf(s, dir).pairs.select(col("doc_b")).distinct()
      docs.join(dupes, docs("doc_id") === dupes("doc_b"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Per-dimension corpus standardization: one moment aggregate broadcast
    // back onto a zero-shuffle projection.
    "embedding_standardize" -> ((s, dir) => VectorOps.standardize(Tables.embeddings(s, dir))),

    // Per-vector scalar features: L2 norm and dimensionality.
    "embedding_norms" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(sqrt(graft.functions.ArrayDotProduct.dot(col("embedding"), col("embedding"))), 6)
          .as("l2_norm"))),

    // Symmetric int8 quantization summarized to hash-comparable scalars.
    "embedding_quantize" -> ((s, dir) => VectorOps.quantizeStats(Tables.embeddings(s, dir))),

    // ---- similarity search (north star) over `embeddings` ----------------
    "embedding_neardup" -> ((s, dir) => VectorOps.cosineNearDupPairs(Tables.embeddings(s, dir))),
    // LSH at a REAL near-dup threshold (cos >= 0.85, 8 bands x 12 bits,
    // ~250x candidate pruning). The synthetic embeddings are near-isotropic
    // (max pairwise cos ~0.6), so the corpus is augmented with deterministic
    // planted copies (exact +-1/64 component nudges, oracle-replayable) —
    // otherwise a realistic threshold would have nothing to find.
    "embedding_lsh_pairs" -> ((s, dir) => {
      plantedGuardOf(s, dir)
      VectorOps.lshNearDupPairsVec(
        VectorOps.plantedCorpus(Tables.embeddings(s, dir), guard = false))
    }),
    "ann_brute_topk" -> ((s, dir) => VectorOps.bruteForceTopK(Tables.embeddings(s, dir))),
    "ann_ivf_topk" -> ((s, dir) => VectorOps.ivfTopK(Tables.embeddings(s, dir))),
    // SPANN-style closure multi-assignment: boundary vectors posted to
    // every cell within eps of their best centroid, so SINGLE-probe
    // queries stop missing across-the-Voronoi-edge neighbors; recall
    // rises via storage replication instead of probe fan-out.
    "ann_spann_topk" -> ((s, dir) => VectorOps.spannTopK(
      Tables.embeddings(s, dir), coarse = Some(labelCentsOf(s, dir)))),
    // SPANN served FROM the memoized posting index (ONE StreamingSpannIngest
    // fold per application — the maintained-artifact pattern the graph/media
    // tiers already serve under; round 14 retired this query's per-serve
    // inline rebuild: centroid aggregate + closure assignment + repartition
    // every invocation). Same oracle as the inline query: closure assignment
    // is a deterministic projection of the corpus, so hash-green certifies
    // from-index ≡ inline.
    "spann_from_index_topk" -> ((s, dir) =>
      VectorOps.spannTopKFromIndex(spannIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),
    "spann_recall_report" -> ((s, dir) =>
      VectorOps.spannRecallReport(Tables.embeddings(s, dir),
        coarse = Some(labelCentsOf(s, dir)))),
    "spann_cell_stats" -> ((s, dir) =>
      VectorOps.spannCellStats(Tables.embeddings(s, dir),
        coarse = Some(labelCentsOf(s, dir)))),
    // Navigable-graph ANN (HNSW/DiskANN shape): bounded-degree proximity
    // graph from probe-2 cell co-membership, IVF-seeded beam traversal —
    // the serving tier whose per-query cost is O(rounds·beam·degree)
    // distance evals instead of a cell fraction of the corpus. The final
    // top-k dominates its IVF-nprobe=1 seeds by construction.
    // Served FROM the memoized artifact (edges + cell index + centroids);
    // the oracle replays the full inline build+search, so hash-green
    // certifies from-artifact == inline.
    "ann_graph_topk" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      VectorOps.graphTopKFromIndex(edges, index,
        VectorOps.querySet(Tables.embeddings(s, dir)), coarse)
    }),
    "ann_graph_recall_report" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      VectorOps.graphRecallReportFrom(Tables.embeddings(s, dir),
        VectorOps.graphTopKFromIndex(edges, index,
          VectorOps.querySet(Tables.embeddings(s, dir)), coarse))
    }),
    // Build-side audit: is the graph actually bounded-degree?
    "ann_graph_degree_stats" -> ((s, dir) =>
      VectorOps.graphDegreeStatsFrom(annGraphOf(s, dir)._1)),
    // HIERARCHICAL entry (HNSW upper layer): a hash-sampled layer-1
    // graph walked first with a narrow beam; its final beam unions with
    // the IVF seeds for the layer-0 traversal — a seed-pool superset of
    // the flat walk, biasing entry quality upward (recall ≥ flat is
    // geometry-dependent, not a theorem; spec-pinned on the planted
    // Voronoi-bridge corpus). Both layers served from the same memoized
    // artifact.
    // Quantizer staleness audit: per-cell occupancy + assignment-cosine
    // drift between parity cohorts — the report that decides when the
    // streaming-ANN family's fixed coarse quantizer must be retrained
    // and cut over (QuantizerRefresh).
    "quantizer_drift_report" -> ((s, dir) =>
      VectorOps.quantizerDriftReport(Tables.embeddings(s, dir),
        coarse = Some(labelCentsOf(s, dir)))),
    "ann_graph2_topk" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      VectorOps.graph2TopKFromIndex(edges, annGraphLayer1Of(s, dir), index,
        VectorOps.querySet(Tables.embeddings(s, dir)), coarse)
    }),
    "ann_graph2_recall_report" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      VectorOps.graphRecallReportFrom(Tables.embeddings(s, dir),
        VectorOps.graph2TopKFromIndex(edges, annGraphLayer1Of(s, dir), index,
          VectorOps.querySet(Tables.embeddings(s, dir)), coarse))
    }),
    // The upper layer's own bounded-degree audit.
    "ann_graph2_degree_stats" -> ((s, dir) =>
      VectorOps.graphDegreeStatsFrom(annGraphLayer1Of(s, dir))),
    // FILTERED graph traversal (the ACORN / filtered-DiskANN shape):
    // metadata predicate passes half the corpus; the beam keeps passing
    // nodes only while each round's expansion looks TWO hops out along
    // the unfiltered graph, so non-passing bridge nodes are stepped
    // through, never kept. Same memoized artifact; the oracle replays
    // the inline build + filtered walk.
    "ann_graph_filtered_topk" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      val emb = Tables.embeddings(s, dir)
      VectorOps.graphTopKFilteredFromIndex(edges, index,
        VectorOps.querySet(emb), coarse,
        emb.filter(pmod(col("label"), lit(2)) === 0).select(col("vec_id")))
    }),
    // Recall vs the brute-force truth RESTRICTED to passing candidates —
    // the selectivity audit run before the filtered path serves.
    "ann_graph_filtered_recall_report" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      val emb = Tables.embeddings(s, dir)
      val pred = pmod(col("label"), lit(2)) === 0
      VectorOps.graphFilteredRecallReport(emb,
        VectorOps.graphTopKFilteredFromIndex(edges, index,
          VectorOps.querySet(emb), coarse,
          emb.filter(pred).select(col("vec_id"))), pred)
    }),
    // HIERARCHICAL + FILTERED composition (the production hybrid-search
    // shape): the upper layer routes UNFILTERED, its final beam expands
    // two hops out along layer 0 so non-passing entry nodes act as
    // stepping stones, then the passing-only filtered rounds serve.
    "ann_graph2_filtered_topk" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      val emb = Tables.embeddings(s, dir)
      VectorOps.graph2TopKFilteredFromIndex(edges, annGraphLayer1Of(s, dir),
        index, VectorOps.querySet(emb), coarse,
        emb.filter(pmod(col("label"), lit(2)) === 0).select(col("vec_id")))
    }),
    "ann_graph2_filtered_recall_report" -> ((s, dir) => {
      val (edges, index, coarse) = annGraphOf(s, dir)
      val emb = Tables.embeddings(s, dir)
      val pred = pmod(col("label"), lit(2)) === 0
      VectorOps.graphFilteredRecallReport(emb,
        VectorOps.graph2TopKFilteredFromIndex(edges, annGraphLayer1Of(s, dir),
          index, VectorOps.querySet(emb), coarse,
          emb.filter(pred).select(col("vec_id"))), pred)
    }),
    // nprobe=2 serving FROM the maintained fixed-quantizer cell index
    // (ivfIndexOf — assignment paid once at ingest; round 14, the
    // from-index pattern extended from the auto tier per VERDICT r13 #1).
    // Same oracle as the inline form: assignment is deterministic, so
    // hash-green certifies from-index ≡ inline. `ann_ivf_topk` above stays
    // the labeled inline build+serve baseline.
    "ann_ivf_topk_np2" -> ((s, dir) => VectorOps.ivfTopKFromIndex(
      ivfIndexOf(s, dir), VectorOps.querySet(Tables.embeddings(s, dir)),
      labelCentsOf(s, dir), nprobe = 2)),
    // Filtered ANN (hybrid search): candidates restricted by a metadata
    // predicate applied before cell assignment; quantizer stays corpus-wide
    // (the memoized label-mean centroids — same values the inline aggregate
    // derives). Stays inline: the predicate must reach the parquet scan as
    // a pushed filter, and the maintained index does not carry `label`.
    "ann_ivf_filtered_topk" -> ((s, dir) => VectorOps.ivfTopK(
      Tables.embeddings(s, dir), nprobe = 2,
      coarse = Some(labelCentsOf(s, dir)),
      corpusPred = Some(pmod(col("label"), lit(2)) === 0))),
    // Lloyd-iterated quantizer; oracle unrolls the fixed iteration count
    // into chained CTEs (per-iteration 6dp rounding stops ulp compounding).
    // Recall vs label-centroids measured in VectorOpsSpec.
    "ann_ivf_kmeans_topk" -> ((s, dir) =>
      VectorOps.ivfTopK(Tables.embeddings(s, dir), coarse = Some(kmCentsOf(s, dir)))),
    // THE scale-path IVF default (round 13): the OCCUPANCY-SIZED quantizer
    // (k = ceil(N/64), memoized) bounds probed-cell size by a constant, so
    // per-query work stays O(nprobe·occ) as the corpus grows — the fix for
    // the measured 1.46 serving exponent of the fixed-k baseline
    // (ann_ivf_topk, kept as the labeled pedagogical form). The oracle
    // derives k from the same count/occupancy, so it is hash-green at any SF.
    "ann_ivf_auto_topk" -> ((s, dir) => VectorOps.ivfTopK(
      Tables.embeddings(s, dir), nprobe = 2, coarse = Some(kmCentsAutoOf(s, dir)))),
    "ann_ivf_auto_recall_report" -> ((s, dir) => VectorOps.annRecallReport(
      Tables.embeddings(s, dir), coarse = Some(kmCentsAutoOf(s, dir)))),
    // Auto-IVF served FROM the maintained cell index (the ann-graph
    // artifact's pre-assigned (vec_id, cell, cv, cn) table — in
    // production, what StreamingAnnIngest accumulates): the inline form
    // above re-assigns the whole corpus per invocation, which at
    // k = N/occ cells is N·k = N²/occ work (the x30 audit measured it as
    // a 1.32 serving exponent); paying assignment once at ingest leaves
    // serving only query probing + the bounded cell equi-join. Same
    // oracle as the inline query — assignment is deterministic, so
    // hash-green certifies from-index ≡ inline.
    "ann_ivf_auto_from_index_topk" -> ((s, dir) => {
      val (_, index, coarse) = annGraphOf(s, dir)
      VectorOps.ivfTopKFromIndex(index,
        VectorOps.querySet(Tables.embeddings(s, dir)), coarse, nprobe = 2)
    }),
    // The occupancy audit of that quantizer: derived k + per-cell
    // occupancy spread — max_occupancy staying O(target) is the bound
    // every downstream within-cell join rides on.
    "quantizer_auto_report" -> ((s, dir) => {
      val occ = VectorOps.assignCells(
          Tables.embeddings(s, dir), kmCentsAutoOf(s, dir))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      occ.agg(
        lit(VectorOps.QuantizerTargetOccupancy).cast("long").as("target_occupancy"),
        count(lit(1)).cast("long").as("k_cells"),
        sum(col("n")).cast("long").as("n_vectors"),
        min(col("n")).cast("long").as("min_occupancy"),
        max(col("n")).cast("long").as("max_occupancy"),
        round(avg(col("n")), 6).as("avg_occupancy"))
    }),
    // Product quantization: per-subspace Lloyd codebooks (4×16 over dim
    // 64) — the artifact a production pipeline persists beside the
    // compressed index.
    "pq_codebooks" -> ((s, dir) =>
      VectorOps.pqCodebooksDf(Tables.embeddings(s, dir),
        Some(pqCbsOf(s, dir, "plain")))),
    // The encoded corpus itself (vec_id, 6dp norm, m codes) — the
    // compressed artifact a pipeline persists; its contract is checked
    // directly, not only through the ADC ranking built on it.
    "pq_encode" -> ((s, dir) =>
      VectorOps.pqEncode(Tables.embeddings(s, dir), pqCbsOf(s, dir, "plain"))),
    // PQ asymmetric-distance top-k: byte codes + stored norm per vector,
    // literal-lookup dequantization, exact-query cosine — the
    // RAM-resident 100 TB ANN path.
    "pq_adc_topk" -> ((s, dir) =>
      VectorOps.pqAdcTopK(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "plain")))),
    // Matryoshka funnel: prefix-dim shortlist (scan-bandwidth tier) +
    // exact full-dim re-rank of the shortlist only.
    "mrl_topk" -> ((s, dir) => VectorOps.mrlTopK(Tables.embeddings(s, dir))),
    "mrl_recall_report" -> ((s, dir) =>
      VectorOps.mrlRecallReport(Tables.embeddings(s, dir))),
    // MRL × IVF composition: cells pruned first, prefix bytes scanned only
    // in probed cells, full vectors fetched for the shortlist alone — the
    // scale path the all-pairs mrl_topk baselines.
    // Served from the maintained prefix-carrying index (round 14, VERDICT
    // r13 #1 — `ann_ivf_topk` stays the tier's labeled inline baseline):
    // stage 1 reads only the probed cells' stored prefix columns,
    // assignment paid once at ingest. Same oracle (shared mrlFunnelStages,
    // deterministic index projection).
    "mrl_ivf_topk" -> ((s, dir) =>
      VectorOps.mrlIvfTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),
    // Audit of the same funnel — approx side served from the maintained
    // index (bit-identical to the inline composition it audits), truth
    // side the usual brute-force baseline.
    "mrl_ivf_recall_report" -> ((s, dir) => VectorOps.recallReportFrom(
      Tables.embeddings(s, dir),
      VectorOps.mrlIvfTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir)))),
    // MRL funnel served FROM the maintained prefix-carrying cell index
    // (ivfIndexOf — ONE StreamingAnnIngest fold per application; round 14
    // retired the per-serve inline index build: centroid aggregate +
    // assignment + repartition every invocation). Shares mrlFunnelStages
    // with mrl_ivf_topk, so the same oracle replays it.
    "mrl_ivf_from_index_topk" -> ((s, dir) =>
      VectorOps.mrlIvfTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),
    // The 1-bit tier served from the SAME maintained index (the packed
    // sign word is its own column): same oracle as the inline composition
    // because assignment and word are deterministic projections of the
    // same corpus.
    "bq_ivf_from_index_topk" -> ((s, dir) =>
      VectorOps.bqIvfTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),
    // SemDeDup: k-means clusters bound the near-dup comparison to
    // within-cluster pairs; higher vec_id of each pair at cos >= 0.35 drops.
    "semantic_dedup" -> ((s, dir) => VectorOps.semanticDedup(
      Tables.embeddings(s, dir), coarse = Some(kmCentsOf(s, dir)))),
    // OCCUPANCY-CAPPED SemDeDup (SCALING.md §5's linear-work fix for the
    // N^1.5 within-cell law): cells deterministically chunk into
    // <= cap-member subcells ranked by centroid cosine; pair work
    // <= N x cap. The companion report quantifies per cell what the cap
    // saves (pair volume) and what it trades (drops missed vs the
    // uncapped scan) — the audited-cap discipline.
    "semantic_dedup_capped" -> ((s, dir) => VectorOps.semanticDedupCapped(
      Tables.embeddings(s, dir), coarse = Some(kmCentsOf(s, dir)))),
    "semantic_dedup_cap_report" -> ((s, dir) => VectorOps.semanticDedupCapReport(
      Tables.embeddings(s, dir), coarse = Some(kmCentsOf(s, dir)))),
    // THE composed embedding pipeline (the third modality's curation
    // chain): assignment-tightness gate under the memoized Lloyd
    // quantizer -> OCCUPANCY-CAPPED SemDeDup survivorship among the gated
    // vectors (SCALING.md §5's fix threaded in as the default: pair work
    // <= |gated| x SemDedupCellCap, linear; `semantic_dedup` stays the
    // labeled all-pairs baseline) -> per-cell hash-priority capped
    // sample. One quantizer, three stages, one composed oracle.
    "embedding_curation_pipeline" -> ((s, dir) =>
      VectorOps.embeddingCurationPipeline(
        Tables.embeddings(s, dir), kmCentsOf(s, dir))),
    // Cluster-cohesion audit: per assigned cell, member count, label
    // agreement, and mean cosine to the assigned centroid.
    "cluster_cohesion" -> ((s, dir) => VectorOps.clusterCohesion(
      Tables.embeddings(s, dir), coarse = Some(labelCentsOf(s, dir)))),
    // ANN quality report: recall@k + reciprocal rank of the IVF path vs
    // the exact brute baseline, per query — integer-derived, engine-exact.
    "ann_recall_report" -> ((s, dir) =>
      VectorOps.annRecallReport(Tables.embeddings(s, dir),
        coarse = Some(labelCentsOf(s, dir)))),
    // PQ quality audit: ADC recall@k + MRR vs brute truth — the
    // is-the-codebook-fine-enough gate for the compressed index.
    "pq_recall_report" -> ((s, dir) =>
      VectorOps.pqRecallReport(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "plain")))),
    // Binary quantization (1 bit/dim, 32× vs f32 — the byte-traffic
    // floor of the compression family): sign-word Hamming shortlist via
    // one xor+popcount per candidate, exact-cosine re-rank on top.
    "bq_topk" -> ((s, dir) =>
      VectorOps.binaryHammingTopK(Tables.embeddings(s, dir))),
    // The 1-bit tier's recall entry in the compression-quality panel.
    "bq_recall_report" -> ((s, dir) =>
      VectorOps.bqRecallReport(Tables.embeddings(s, dir))),
    // BQ x IVF: cells pruned first, then one xor+popcount per candidate
    // in the probed cells only (8 bytes/row), exact re-rank on top — the
    // composed scale path the all-pairs bq_topk baseline stands in for.
    // Served from the maintained index's packed sign word (round 14 —
    // same rationale as mrl_ivf_topk above; `ann_ivf_topk` remains the
    // labeled inline baseline). Same oracle (shared bqStages).
    "bq_ivf_topk" -> ((s, dir) =>
      VectorOps.bqIvfTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),
    // Hadamard-rotated PQ (FAISS-style pretransform): closed-form
    // orthogonal rotation via the O(d log d) FWHT kernel, then the full
    // ADC pipeline in rotated space — equalizes per-subspace energy at
    // zero stored-matrix cost; recall pair (pq vs pq_rot) quantifies it.
    "pq_rot_adc_topk" -> ((s, dir) =>
      VectorOps.pqRotAdcTopK(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "rot")))),
    "pq_rot_recall_report" -> ((s, dir) =>
      VectorOps.pqRotRecallReport(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "rot")))),
    // OPQ-lite DATA-OPTIMIZED pretransform: variance-balanced snake
    // allocation of dimensions to subspaces (the parametric-OPQ move a
    // SQL oracle can replay — rank + snake windows over integer
    // micro-unit variances), then the full ADC pipeline in allocated
    // space; the data-driven counterpart the static Hadamard rotation
    // caveat points at.
    "pq_opq_topk" -> ((s, dir) =>
      VectorOps.pqOpqAdcTopK(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "opq")))),
    "pq_opq_recall_report" -> ((s, dir) =>
      VectorOps.pqOpqRecallReport(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "opq")))),
    // IVF × PQ (classic IVFPQ serving): coarse cells prune WHICH rows are
    // scanned, PQ codes compress WHAT each row costs — ADC over probed
    // cells only; completes the tier matrix with mrl_ivf's bandwidth axis.
    // Classic IVFPQ served FROM the maintained coded index (ivfIndexOf
    // carries the PQ codes — assignment AND encoding paid once at ingest;
    // round 14, VERDICT r13 #1): serving reads (m+8)-byte payloads of the
    // probed cells and dequantizes in the scan projection. Same oracle as
    // the inline form — codes are a deterministic projection under the
    // memoized trained codebook, so hash-green certifies from-index ≡
    // inline.
    "ivf_pq_topk" -> ((s, dir) =>
      VectorOps.ivfPqTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir),
        graft.functions.PqBook(pqCbsOf(s, dir, "plain"), VectorOps.PqSubDim),
        nprobe = 2)),
    "ivf_pq_recall_report" -> ((s, dir) => VectorOps.recallReportFrom(
      Tables.embeddings(s, dir),
      VectorOps.ivfPqTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir),
        graft.functions.PqBook(pqCbsOf(s, dir, "plain"), VectorOps.PqSubDim),
        nprobe = 2))),
    // Filtered ANN over the compressed index: metadata predicate prunes
    // candidates before any per-row work; quantizers stay corpus-wide
    // (memoized). Stays inline: the predicate must reach the parquet scan
    // and the maintained index does not carry `label`.
    "ivf_pq_filtered_topk" -> ((s, dir) => VectorOps.ivfPqTopK(
      Tables.embeddings(s, dir),
      corpusPred = Some(pmod(col("label"), lit(2)) === 0),
      prebuilt = Some(pqCbsOf(s, dir, "plain")),
      coarse = Some(labelCentsOf(s, dir)))),
    // Residual IVFPQ (the Jégou formulation): codes quantize v - centroid;
    // same code budget, tighter distribution — the recall report pair
    // (ivf_pq vs ivf_rpq) quantifies what residual encoding buys.
    "ivf_rpq_topk" -> ((s, dir) =>
      VectorOps.ivfRpqTopK(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "rpq")),
        coarse = Some(labelCentsOf(s, dir)))),
    "ivf_rpq_recall_report" -> ((s, dir) =>
      VectorOps.ivfRpqRecallReport(Tables.embeddings(s, dir),
        prebuilt = Some(pqCbsOf(s, dir, "rpq")),
        coarse = Some(labelCentsOf(s, dir)))),
    // IVFPQ,refine (FAISS composition): ADC shortlist at rerankK, exact
    // full-precision re-rank of the shortlist only — the codes tier's
    // counterpart of ivf_rerank_topk's int8 two-stage serving.
    // Served from the maintained coded index (round 14): the ADC shortlist
    // reads stored codes, the exact refine fetches the SAME index's
    // full-precision columns — no corpus re-scan at serve time. Same
    // oracle (both stages are deterministic projections of the corpus).
    "ivf_pq_refine_topk" -> ((s, dir) =>
      VectorOps.ivfPqRefineTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir),
        graft.functions.PqBook(pqCbsOf(s, dir, "plain"), VectorOps.PqSubDim))),
    "ivf_pq_refine_recall_report" -> ((s, dir) => VectorOps.recallReportFrom(
      Tables.embeddings(s, dir),
      VectorOps.ivfPqRefineTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir),
        graft.functions.PqBook(pqCbsOf(s, dir, "plain"), VectorOps.PqSubDim)))),

    // Hard-negative mining (contrastive training prep): per query the most
    // similar corpus vectors BELOW the positive ceiling — the IVF scored
    // join + one filter + bounded-heap top-k.
    // Served from the maintained cell index (round 14) — the mining join
    // rides the pre-assigned table; filter + bounded-heap top-k unchanged.
    "hard_negatives" -> ((s, dir) =>
      VectorOps.hardNegativesFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),

    // Cluster-balanced diversity sampling: each quantizer cell contributes
    // at most CellCap hash-priority representatives — the per-cell twin of
    // capped_per_source, aimed at semantic redundancy.
    "cluster_balanced_sample" -> ((s, dir) =>
      VectorOps.clusterBalancedSample(Tables.embeddings(s, dir))),
    // Two-stage serving: int8-quantized first pass (FAISS IVF+SQ8 shape,
    // 4x smaller index) → exact re-rank of the 30-row shortlist. Served
    // from the maintained index's stored (s, q) payload (round 14) —
    // quantization paid once at ingest, not per serve.
    "ann_ivf_rerank_topk" -> ((s, dir) =>
      VectorOps.ivfRerankTopKFromIndex(ivfIndexOf(s, dir),
        VectorOps.querySet(Tables.embeddings(s, dir)), labelCentsOf(s, dir))),
    // JL random projection 64 -> 8 dims (Rademacher rows, scalar outputs).
    "embedding_rproj" -> ((s, dir) => VectorOps.randomProjection(Tables.embeddings(s, dir))),

    // ---- multimodal columns (north star) ---------------------------------
    "media_meta" -> ((s, dir) => Multimodal.mediaMeta(Tables.documents(s, dir))),
    "media_typed_meta" -> ((s, dir) => Multimodal.typedMeta(Tables.documents(s, dir))),
    "media_frame_sample" -> ((s, dir) => Multimodal.frameSample(Tables.documents(s, dir))),
    // Aspect-preserving resize planning (dims/scale/output-size budget).
    "media_resize" -> ((s, dir) => Multimodal.resizePlan(Tables.documents(s, dir))),
    // Stub decoder through real mapPartitions plumbing; byte-moment
    // features come out as scalar f0..f7 and are fully oracle-checked.
    "media_features" -> ((s, dir) =>
      Multimodal.decodeFeaturesArrow(Multimodal.mediaTable(Tables.documents(s, dir)))),
    // Byte-level perceptual fingerprint (blockhash through the stub-codec
    // boundary) over the planted corpus — the persistable artifact.
    "media_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(Multimodal.mediaTable(
        Multimodal.withPlantedMediaDups(Tables.documents(s, dir))))),
    // Perceptual media near-dup pairs: banded 16-bit-word candidates +
    // exact Hamming verify; planted near-identical twins must pair.
    // Served FROM the StreamingMediaDedup-maintained index (built once per
    // application — the dedupIndexOf pattern for the media tier); the
    // oracle replays the inline derivation, so hash-green certifies
    // from-index == inline.
    "media_neardup_pairs" -> ((s, dir) => mediaPairsOf(s, dir)),
    // Per-band saturation audit (SCALING.md §1): bucket counts, max
    // occupancy, candidate volume, and what an occupancy cap would skip —
    // the linear-cost report a curator reads before trusting the banded
    // join at a new corpus.
    "media_band_stats" -> ((s, dir) => Multimodal.mediaBandStats(
      Multimodal.mediaTable(Multimodal.withPlantedMediaDups(Tables.documents(s, dir))))),
    // OCCUPANCY-CAPPED perceptual pairs: buckets above the cap are
    // skipped, bounding candidate volume by |media| x bands x cap —
    // the audited-cap discipline applied to the media tier.
    "media_neardup_pairs_capped" -> ((s, dir) => Multimodal.mediaNearDupPairsCapped(
      Multimodal.mediaTable(Multimodal.withPlantedMediaDups(Tables.documents(s, dir))))),
    // ENTROPY-AWARE banding (SCALING.md §1, mitigation #1 — the OPQ trick
    // applied to banding): bits ranked by measured balance and dealt
    // round-robin into the bands, so correlated adjacent blocks split
    // across bands and buckets stop concentrating on low-entropy corpora.
    // The stats query is the side-by-side saturation audit vs the fixed
    // banding; the pairs query composes the trained banding with the
    // occupancy cap (both defenses on the serving path).
    "media_entropy_band_stats" -> ((s, dir) => Multimodal.mediaEntropyBandStats(
      Multimodal.mediaTable(Multimodal.withPlantedMediaDups(Tables.documents(s, dir))))),
    "media_neardup_pairs_entropy" -> ((s, dir) => Multimodal.mediaNearDupPairsEntropy(
      Multimodal.mediaTable(Multimodal.withPlantedMediaDups(Tables.documents(s, dir))))),
    // Perceptual retrieval: top-k banded candidates per query medium
    // ranked by exact Hamming — media similarity SEARCH served from the
    // StreamingMediaDedup-maintained fingerprint index; the oracle
    // replays the inline fingerprint + rank, so hash-green certifies
    // from-index == inline.
    "media_phash_topk" -> ((s, dir) => {
      Multimodal.mediaPhashTopKFromPhash(
        graft.streaming.StreamingMediaDedup.readPhash(s,
          mediaDedupDirOf(s, dir), Long.MaxValue))
    }),
    // The APPLY path: exact CC over the perceptual pair graph (read from
    // the same maintained index), one min-id keeper per component,
    // singletons pass through — the media twin of dedup_apply_components.
    "media_dedup_apply" -> ((s, dir) => {
      val media = Multimodal.mediaTable(
        Multimodal.withPlantedMediaDups(Tables.documents(s, dir)))
      val comps = graft.ops.Dedup.nearDupComponentsExact(
        mediaPairsOf(s, dir)
          .withColumnRenamed("media_a", "doc_a")
          .withColumnRenamed("media_b", "doc_b"))
      media.select(col("media_id")).join(
        comps.filter(col("doc_id") =!= col("rep"))
          .select(col("doc_id").as("media_id")),
        Seq("media_id"), "left_anti")
    }),
    // Cross-source media contamination matrix over the perceptual pair
    // graph (served from the StreamingMediaDedup artifact) — the
    // image-reposting twin of source_contamination: the planted twins
    // land in the synthetic 'mirror' aggregator source, so the
    // off-diagonal rows this audit exists for are guaranteed present.
    "media_source_contamination" -> ((s, dir) =>
      Multimodal.mediaSourceContaminationFrom(
        mediaPairsOf(s, dir),
        Multimodal.mediaTable(
          Multimodal.withPlantedMediaDups(Tables.documents(s, dir))))),
    // THE composed media pipeline (the curation_pipeline twin for the
    // media tier): decode-quality gates over the Arrow-batch features →
    // perceptual near-dup survivorship among the gated media (exact CC,
    // min-id keeper) → per-source capped sample. The dedup stage serves
    // the OCCUPANCY-CAPPED pair derivation (SCALING.md §1's saturation
    // fix: candidate volume ≤ |media|·4·bucketCap, linear on any corpus;
    // `media_neardup_pairs` remains the labeled all-pairs baseline) from
    // the StreamingMediaDedup-maintained FINGERPRINT artifact — bucket
    // occupancy is judged corpus-wide, so pairs over the gated subset
    // equal the artifact-derived pairs with BOTH endpoints gated
    // (fingerprints, banding and occupancy are per-media / corpus-wide),
    // the same argument curation_pipeline uses for the DedupIndex
    // artifact; the oracle replays everything inline, so hash-green
    // certifies the composition AND the from-artifact serve each round.
    "media_curation_pipeline" -> ((s, dir) => {
      val media = Multimodal.mediaTable(
        Multimodal.withPlantedMediaDups(Tables.documents(s, dir)))
      // the gate's id list is consumed THREE times below (two pair-side
      // semi-joins + the survivor semi-join); without materialization each
      // consumer re-runs the mapPartitions feature decode over the media
      // bytes — the pipeline's single most expensive pass — so checkpoint
      // the (tiny) id frame once (round 14, guide §5)
      val gated = {
        import graft.ops.Materialize.EagerOps
        Multimodal.mediaQualityGate(
          Multimodal.decodeFeaturesArrow(media)).select(col("media_id")).eagerCkpt
      }
      val pairs = Multimodal.mediaNearDupPairsCappedFromPhash(
          graft.streaming.StreamingMediaDedup.readPhash(s,
            mediaDedupDirOf(s, dir), Long.MaxValue))
        .join(gated.withColumnRenamed("media_id", "media_a"), Seq("media_a"), "left_semi")
        .join(gated.withColumnRenamed("media_id", "media_b"), Seq("media_b"), "left_semi")
      val comps = graft.ops.Dedup.nearDupComponentsExact(
        pairs.withColumnRenamed("media_a", "doc_a")
          .withColumnRenamed("media_b", "doc_b"))
      val surv = media.join(gated, Seq("media_id"), "left_semi")
        .join(comps.filter(col("doc_id") =!= col("rep"))
            .select(col("doc_id").as("media_id")),
          Seq("media_id"), "left_anti")
      Sampling.cappedPerSource(
          surv.select(col("meta.source").as("source"), col("media_id").as("doc_id")))
        .withColumnRenamed("doc_id", "media_id")
    }),
  )

  /** Recursive directory copy (driver-local temp trees only — the
    * takedown report clones its pristine capped artifacts instead of
    * re-running the eight Spark builds per invocation).
    */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file._
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** Fresh-artifact batched-takedown accounting (see the
    * `takedown_batch_report` registration). Requests: ticket 0 names
    * docs/vecs ≡ 7 (mod 100); ticket 1 names docs ≡ 23 (mod 100), the
    * planted-repost media sources (media_id ≡ 0 mod 97, raw side), and
    * customers ≡ 0 (mod 100) — every one of which owns a planted dirty
    * twin (100 ≡ 0 mod 25), so the entity pair graph provably scrubs.
    */
  private[graft] def takedownBatchReportOf(
      s: SparkSession, dir: String): DataFrame = {
    import graft.streaming._
    // fixed caps (shared with the oracle) keep the eight fresh artifact
    // builds SF-independent — the query certifies the MECHANISM
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < TakedownSweep.ReportDocCap)
    val emb = Tables.embeddings(s, dir)
      .filter(col("vec_id") < TakedownSweep.ReportVecCap)
    val media = Multimodal.mediaTable(Multimodal.withPlantedMediaDups(docs))
    val cust = graft.ops.Entity.withPlantedDirty(Tables.customer(s, dir)
      .filter(col("c_custkey") <= TakedownSweep.ReportCustCap))
    // the capped corpus' label-mean quantizer, memoized like labelCentsOf
    // (the sweep's graph-rebuild handle needs it EVERY invocation — the
    // per-rep corpus aggregate + collect was pure repeated work)
    val cents = centroidsOf("tdcents", s, dir)(
      VectorOps.centroids(emb).select(col("label").as("cell"), col("centroid")))
    // The sweep MUTATES what it audits, so every invocation needs fresh
    // artifacts — but "fresh" means fresh FILES, not fresh Spark jobs:
    // the eight capped builds are deterministic per (application, dir),
    // so they run ONCE into a pristine memoized tree and each invocation
    // clones the (cap-bounded, few-MB) directory and sweeps the clone.
    // This took the query from ~24 s/rep (8 rebuilt artifacts every rep)
    // to the sweep+audit cost alone.
    val pristine = dirOf("takedown-pristine", s, dir) { tmp =>
      // eight independent builds into disjoint subdirs — overlap them
      // (guide §2.6) exactly like the sweep overlaps the forgets
      TakedownSweep.runConcurrently(Seq(
        () => StreamingDedupIndex.processBatchCore(docs, 0L, s"$tmp/dedup"),
        () => StreamingTextIngest.processBatch(docs, 0L, s"$tmp/text"),
        () => StreamingChunkDedup.processBatch(docs, 0L, s"$tmp/chunk"),
        () => StreamingAnnIngest.processBatch(emb, 0L, cents, s"$tmp/ann"),
        () => StreamingSpannIngest.processBatch(emb, 0L, cents, s"$tmp/spann"),
        () => StreamingGraphAnn.processBatch(emb, 0L, cents, s"$tmp/graph"),
        () => StreamingMediaDedup.processBatch(media, 0L, s"$tmp/media"),
        () => StreamingEntityRes.processBatch(cust, 0L, s"$tmp/entity")))
    }
    val tmp = sweptTempDir("graft-takedown-q")
    copyTree(java.nio.file.Paths.get(pristine), java.nio.file.Paths.get(tmp))
    val arts = TakedownSweep.Artifacts(
      dedupIndexDir = Some(s"$tmp/dedup"),
      textIndexDir = Some(s"$tmp/text"),
      chunkIndexDir = Some(s"$tmp/chunk"),
      annIndexDir = Some(s"$tmp/ann"),
      spannIndexDir = Some(s"$tmp/spann"),
      graphAnn = Some(TakedownSweep.GraphAnnHandle(s"$tmp/graph", cents)),
      mediaIndexDir = Some(s"$tmp/media"),
      entityIndexDir = Some(s"$tmp/entity"))
    // The ticket ids are fixture inputs, deterministic per (application,
    // dir): collect the few dozen ids once, with their source column's
    // schema, and rebuild each id frame as a local relation per serve, so
    // the ~7 audit reads per frame never re-scan the base parquet (or, for
    // media, re-derive the planted-dup table) and no frame outlives its
    // serve. The sweep still re-executes fully against the fresh clone.
    val ids = once("takedown-tickets", s, dir) {
      Seq(
        docs.filter(pmod(col("doc_id"), lit(100)) === 7).select(col("doc_id")),
        emb.filter(pmod(col("vec_id"), lit(100)) === 7).select(col("vec_id")),
        docs.filter(pmod(col("doc_id"), lit(100)) === 23).select(col("doc_id")),
        media.filter(pmod(col("media_id"), lit(97)) === 0 &&
          col("media_id") < Multimodal.PlantOffset).select(col("media_id")),
        cust.filter(pmod(col("c_custkey"), lit(100)) === 0).select(col("c_custkey"))
      ).map(df => (df.schema, df.collect()))
    }
    val Seq(doc0, vec0, doc1, media1, cust1) = ids.map { case (schema, rows) =>
      Some(s.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    }
    val reqs = Seq(
      TakedownSweep.Request(docIds = doc0, vecIds = vec0),
      TakedownSweep.Request(docIds = doc1, mediaIds = media1, custIds = cust1))
    TakedownSweep.sweepBatchReport(s, reqs, arts, batchId = 1L)
  }

  lazy val oracleSql: Map[String, String] = Map(
    "windowed_count" ->
      """SELECT user_id, event_type,
         time_bucket(INTERVAL '1 minute', ts) AS window_start,
         time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
         count(*) AS "count"
         FROM events WHERE event_type IN ('click','purchase')
         GROUP BY 1,2,3""".stripMargin,

    "windowed_sum_1h" ->
      """SELECT event_type,
         time_bucket(INTERVAL '1 hour', ts) AS window_start,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         count(*) AS "count"
         FROM events GROUP BY 1,2,3""",

    "raw_insert" ->
      """SELECT event_id, ts, user_id, event_type, props FROM events
         WHERE event_type IN ('click','purchase','signup')""",

    "filter_not_in" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_type NOT IN ('click','purchase')""",

    "null_guard" ->
      """SELECT event_type, count(*) AS n FROM events
         WHERE event_type IS NOT NULL AND props IS NOT NULL GROUP BY 1""",

    "json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
         FROM events GROUP BY 1""",

    "variant_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events""",

    "collated_filter" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE lower(event_type) = lower('CLICK')""",

    "unpivot_event_counts" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         t AS (SELECT unnest(['click','view','purchase','signup','error']) AS event_type),
         c AS (SELECT user_id, event_type, count(*) AS n FROM events
           WHERE event_type IN ('click','view','purchase','signup','error')
           GROUP BY 1, 2)
         SELECT u.user_id, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
         FROM u CROSS JOIN t
         LEFT JOIN c ON u.user_id = c.user_id AND t.event_type = c.event_type""",

    "epoch_millis_roundtrip" ->
      """SELECT event_id, make_timestamp(epoch_ms(ts) * 1000) AS ts_ms FROM events""",

    "ci_filter" ->
      """SELECT event_id, user_id, lower(upper(event_type)) AS event_type FROM events
         WHERE lower(upper(event_type)) = 'click'""",

    "dedup_exact" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id
         FROM events GROUP BY 1,2""",

    "lineitem_condstats" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
         count(*) FILTER (l_discount > 0.05) AS n_high_disc,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag = 'R') AS DOUBLE) AS qty_returned
         FROM lineitem""",

    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
         CAST(sum(rev) AS DOUBLE) AS revenue, count(*) AS n_items
         FROM (
           SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INT) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))) AS rev
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation ns ON s.s_nationkey = ns.n_nationkey
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation nc ON c.c_nationkey = nc.n_nationkey
           WHERE ns.n_name IN ('NATION_1', 'NATION_2')
             AND nc.n_name IN ('NATION_1', 'NATION_2')
             AND ns.n_name <> nc.n_name)
         GROUP BY 1, 2, 3""",

    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal,
         n_items, CAST(rev_dec AS DOUBLE) AS revenue
         FROM (
           SELECT o.o_custkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec,
             count(*) AS n_items
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           WHERE l.l_returnflag = 'R'
             AND o.o_orderdate >= TIMESTAMP '1996-01-01'
             AND o.o_orderdate < TIMESTAMP '1997-01-01'
           GROUP BY 1) r
         JOIN customer c ON r.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         ORDER BY rev_dec DESC, c.c_custkey ASC
         LIMIT 20""",

    "q14_promo_revenue" ->
      """SELECT CAST(promo_dec AS DOUBLE) AS promo_revenue,
         CAST(total_dec AS DOUBLE) AS total_revenue,
         round(100.0 * CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6) AS promo_share
         FROM (
           SELECT sum(CASE WHEN p_type = 'PROMO' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_dec,
                  sum(rev) AS total_dec
           FROM (SELECT CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
                   p_type
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 WHERE l_shipdate >= TIMESTAMP '1996-03-01'
                   AND l_shipdate < TIMESTAMP '1996-04-01'))""",

    "q19_disjunctive_revenue" ->
      """SELECT CAST(sum(rev) AS DOUBLE) AS revenue, count(*) AS n_items
         FROM (SELECT CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
                 p_brand, p_size, l_quantity
               FROM lineitem JOIN part ON l_partkey = p_partkey)
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1.0 AND 20.0)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10.0 AND 30.0)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20.0 AND 40.0)""",

    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist
         FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT OUTER JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
           GROUP BY 1)
         GROUP BY 1""",

    "q17_small_quantity_revenue" ->
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#1'),
         a AS (
           SELECT l_partkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
           FROM li GROUP BY 1)
         SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n_items
         FROM li l JOIN a ON l.l_partkey = a.l_partkey
         WHERE l.l_quantity < 0.2 * a.avg_qty""",

    "q22_sales_opportunity" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer c
         WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) > (
             SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
           AND NOT EXISTS (
             SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",

    "q2_min_cost_supplier" ->
      """WITH offers AS (
           SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#2'
           GROUP BY 1, 2),
         best AS (
           SELECT l_partkey, l_suppkey, cost,
             row_number() OVER (PARTITION BY l_partkey
               ORDER BY cost ASC, l_suppkey ASC) AS rn
           FROM offers)
         SELECT p_partkey, p_name, s_suppkey, s_name,
           CAST(cost AS DOUBLE) AS min_cost
         FROM best
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE rn = 1""",

    "range_frame_sum" ->
      """SELECT event_id, user_id,
         CAST(count(*) OVER w AS BIGINT) AS n_1h,
         round(sum(value) OVER w, 6) AS sum_1h
         FROM (SELECT event_id, user_id, epoch_ms(ts) AS ms, value FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ms
           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""",

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q8_market_share" ->
      """WITH rev AS (
           SELECT year(o.o_orderdate) AS yr, n.n_name,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2)
         SELECT CAST(yr AS INT) AS yr, n_name,
           CAST(rev_dec AS DOUBLE) AS revenue,
           round(CAST(rev_dec AS DOUBLE)
             / CAST(sum(rev_dec) OVER (PARTITION BY yr) AS DOUBLE), 6) AS share
         FROM rev""",

    "q15_top_supplier" ->
      """WITH r AS (
           SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM r)""",

    "q16_supplier_part_counts" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#1'
           AND l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE CAST(s_acctbal AS DECIMAL(18,2)) < 0)
         GROUP BY 1, 2""",

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY 1,2""",

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1,2
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",

    "q5_region_revenue" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1""",

    "top_orders_per_segment" ->
      """SELECT c_mktsegment, rank, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment,
                  row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey ASC) AS rank,
                  o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey
         ) WHERE rank <= 3""",

    // Same oracle as top_orders_per_segment — the aggregator path must
    // produce identical rows to the ranking-window path.
    "topk_agg_per_segment" ->
      """SELECT c_mktsegment, rank, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment,
                  row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey ASC) AS rank,
                  o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey
         ) WHERE rank <= 3""",

    "customer_order_stats" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
         CAST(sum(n_orders) AS BIGINT) AS n_orders,
         CAST(sum(total_dec) AS DOUBLE) AS total_price
         FROM (
           SELECT o_custkey, count(*) AS n_orders,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec
           FROM orders GROUP BY 1
         ) JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",

    "pivot_event_counts" ->
      """SELECT user_id,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'view') AS view,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1""",

    "set_ops_clickers_no_errors" ->
      """SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events WHERE event_type = 'error'""",

    "rolling_avg_3" ->
      """SELECT event_id, user_id,
         round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
         FROM events""",

    "rolling_median_7" ->
      """WITH r AS (SELECT event_id, user_id,
           list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a
         FROM events)
         SELECT event_id, user_id,
           round(CASE WHEN len(a) % 2 = 1 THEN a[(len(a) + 1) // 2]
             ELSE (a[len(a) // 2] + a[len(a) // 2 + 1]) / 2 END, 6) AS rmed7
         FROM r""",

    // the unnest bound derives from the longest document — a literal cap
    // would silently drop bigrams if a larger sf ships longer docs
    "top_bigrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram
                FROM t, (SELECT unnest(range(1, (SELECT max(len(toks)) FROM t))) AS i) r
                WHERE i < len(toks))
         SELECT bigram, count(*) AS n FROM bg GROUP BY 1
         ORDER BY n DESC, bigram ASC LIMIT 20""",

    "zorder_events" -> DuckDbOracles.zorderEvents,

    "entity_resolution_pairs" -> DuckDbOracles.entityResolutionPairs(),
    "takedown_batch_report" -> DuckDbOracles.takedownBatchReport(),
    "entity_golden_records" -> DuckDbOracles.entityGoldenRecords(),

    "ts_similarity_pairs" -> DuckDbOracles.saxSimilarPairs(),
    "ts_similar_topk" -> DuckDbOracles.saxSimilarTopK(),
    "ts_band_stats" -> DuckDbOracles.saxBandStats(),

    "cusum_changepoints" -> DuckDbOracles.cusumChangepoints,
    "rolling_zscore_anomalies" ->
      """SELECT event_id, user_id, value, n_hist, mu, sd,
         (n_hist >= 5 AND sd IS NOT NULL AND sd > 0
           AND abs(value - mu) > 3.0 * sd) AS is_anomaly
         FROM (
           SELECT event_id, user_id, value,
             count(value) OVER w AS n_hist,
             round(avg(value) OVER w, 6) AS mu,
             round(stddev_samp(value) OVER w, 6) AS sd
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))""",

    "cdc_latest_state" ->
      """SELECT event_id, ts, user_id, event_type, value
         FROM (
           SELECT e.*, row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events e)
         WHERE rn = 1 AND event_type <> 'error'""",
    "cdc_scd2_history" ->
      """SELECT event_id, ts, user_id, event_type, value,
           valid_to_ts, valid_to_event_id,
           valid_to_ts IS NULL AS is_current
         FROM (
           SELECT event_id, ts, user_id, event_type, value,
             event_type = 'error' AS is_delete,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts,
             lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_event_id
           FROM events)
         WHERE NOT is_delete""",
    "resample_hourly" ->
      """WITH b AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
                round(avg(value), 6) AS avg_v
              FROM events GROUP BY 1, 2),
         bounds AS (SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS mn,
                time_bucket(INTERVAL '1 hour', max(ts)) AS mx FROM events),
         grid AS (SELECT u.user_id, gs.bucket_start
              FROM (SELECT DISTINCT user_id FROM events) u,
                   (SELECT unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket_start
                    FROM bounds) gs)
         SELECT g.user_id, g.bucket_start, b.avg_v
         FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_start = b.bucket_start""",

    "value_stats" ->
      """SELECT event_type,
         round(avg(value), 6) AS avg_v,
         round(stddev_samp(value), 6) AS sd_v,
         round(var_samp(value), 6) AS var_v,
         round(min(value), 6) AS min_v,
         round(max(value), 6) AS max_v
         FROM events GROUP BY 1""",

    "value_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.25), 6) AS p25,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.75), 6) AS p75
         FROM events GROUP BY 1""",

    // the exact side of the sketch contract; TRUE mirrors the Spark-side
    // within-budget assertion, so a sketch outside its 5% rsd hash-fails
    "approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         TRUE AS approx_within_5pct
         FROM events GROUP BY 1""",

    "psi_drift" -> DuckDbOracles.psiDrift(),
    "jsd_drift" -> DuckDbOracles.jsDrift(),
    "corpus_token_drift" -> DuckDbOracles.corpusTokenDrift,
    "token_drift_top" -> DuckDbOracles.tokenDriftTop(),

    "daily_active_new" ->
      """WITH de AS (SELECT epoch_ms(ts) // 86400000 AS d, user_id FROM events),
         fs AS (SELECT user_id, min(d) AS d0 FROM de GROUP BY 1),
         daily AS (SELECT d, count(*) AS n_events,
             count(DISTINCT user_id) AS n_active
           FROM de GROUP BY 1),
         nw AS (SELECT d0 AS d, count(*) AS n_new FROM fs GROUP BY 1)
         SELECT daily.d, n_events, n_active,
           coalesce(n_new, 0) AS n_new,
           n_active - coalesce(n_new, 0) AS n_returning
         FROM daily LEFT JOIN nw USING (d)""",

    "conversion_latency" ->
      """WITH s AS (SELECT user_id, min(ts) AS ts_from FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         p AS (SELECT user_id, ts AS ts_to FROM events WHERE event_type = 'purchase'),
         cu AS (SELECT s.user_id, s.ts_from,
             min(CASE WHEN p.ts_to > s.ts_from THEN p.ts_to END) AS ts_to
           FROM s LEFT JOIN p USING (user_id) GROUP BY 1, 2),
         dts AS (SELECT epoch_ms(ts_to) - epoch_ms(ts_from) AS dt FROM cu)
         SELECT count(*) AS n_from, count(dt) AS n_converted,
           round(quantile_cont(dt, 0.5), 6) AS p50_ms,
           round(quantile_cont(dt, 0.9), 6) AS p90_ms,
           CAST(CASE WHEN count(*) = 0 THEN 0
             ELSE (count(dt) * 1000000) // count(*) END AS BIGINT) AS convert_ppm
         FROM dts""",

    "windowed_distinct_users" ->
      """SELECT event_type,
         time_bucket(INTERVAL '1 hour', ts) AS window_start,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
         count(DISTINCT user_id) AS n_users,
         TRUE AS approx_within_budget
         FROM events GROUP BY 1, 2, 3""",

    // The sketch estimate itself is not SQL-replayable; the CONTRACT is —
    // exact distinct users, the number of day-partials merged, and the
    // within-budget flag (TRUE: a DataSketches union outside 5 sigma of
    // exact is a broken sketch, not an unlucky draw).
    "hll_sketch_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(DISTINCT CAST(ts AS DATE)) AS n_days,
         TRUE AS union_within_budget
         FROM events GROUP BY 1""",

    "hll_overlap_report" -> DuckDbOracles.hllOverlapReport,
    "quantile_rollup" -> DuckDbOracles.quantileRollup(),
    "moments_rollup" -> DuckDbOracles.momentsRollup,
    "mad_outliers" -> DuckDbOracles.madOutliers(),
    "daily_value_bands" -> DuckDbOracles.dailyValueBands(),
    "incident_window_hits" -> DuckDbOracles.incidentWindowHits,
    "storage_profile" -> DuckDbOracles.storageProfile,
    "k_anonymity_report" -> DuckDbOracles.kAnonymityReport(),
    "l_diversity_report" -> DuckDbOracles.lDiversityReport(),
    "t_closeness_report" -> DuckDbOracles.tClosenessReport(),
    "t_closeness_apply" -> DuckDbOracles.tClosenessApply(),
    "k_anonymize" -> DuckDbOracles.kAnonymize(),
    "cms_sketch" -> DuckDbOracles.cmsSketch,
    "cms_join_size" -> DuckDbOracles.cmsJoinSizeEstimate,
    "bloom_sketch" -> DuckDbOracles.bloomSketch,
    "bloom_probe_report" -> DuckDbOracles.bloomProbeReport,
    "cms_heavy_hitters" -> DuckDbOracles.cmsHeavyHitters(),
    "winsorize_values" -> DuckDbOracles.winsorizeValues(),
    "profile_events" -> DuckDbOracles.profileEvents(ProfileCols),
    "contract_report" -> DuckDbOracles.contractReport,

    "q18_large_orders" ->
      """SELECT c.c_name, o.o_orderkey, sum(l.l_quantity) AS total_qty
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         WHERE o.o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
         GROUP BY c.c_name, o.o_orderkey""",

    "q4_late_orders" ->
      """SELECT o.o_orderpriority, count(*) AS n_orders
         FROM orders o
         WHERE EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
         GROUP BY o.o_orderpriority""",

    "q9_product_profit" ->
      """SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
             - CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST('0.60' AS DECIMAL(3,2))
               * CAST(l.l_quantity AS DECIMAL(6,2))) AS DOUBLE) AS profit
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE p.p_name LIKE '%widget%'
         GROUP BY 1, 2""",

    "q11_important_stock" ->
      """WITH v AS (
           SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
               AS DECIMAL(18,4)) AS val_dec
           FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(val_dec) AS DECIMAL(18,4)) AS tot_dec FROM v)
         SELECT l_partkey, CAST(val_dec AS DOUBLE) AS stock_value
         FROM v, t WHERE val_dec * 10000 > tot_dec * 7""",

    "q12_priority_lateness" ->
      """SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
         GROUP BY 1""",

    "q20_promotable_suppliers" ->
      """SELECT s.s_suppkey, s.s_name FROM supplier s
         WHERE s.s_suppkey IN (
           SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE '%widget%'
             AND l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY l_suppkey, l_partkey
           HAVING sum(CAST(l_quantity AS DECIMAL(6,2))) > CAST(50 AS DECIMAL(18,2)))""",

    "q21_waiting_suppliers" ->
      """SELECT s.s_suppkey, s.s_name, count(*) AS numwait FROM (
           SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
           FROM lineitem l1 JOIN orders o ON l1.l_orderkey = o.o_orderkey
           WHERE o.o_orderstatus = 'F'
             AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
             AND EXISTS (
               SELECT 1 FROM lineitem l2
               WHERE l2.l_orderkey = l1.l_orderkey
                 AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (
               SELECT 1 FROM lineitem l3
               WHERE l3.l_orderkey = l1.l_orderkey
                 AND l3.l_suppkey <> l1.l_suppkey
                 AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
         ) q JOIN supplier s ON q.l_suppkey = s.s_suppkey
         GROUP BY 1, 2""",

    "funnel_stages" ->
      """WITH fc AS (SELECT user_id, min(epoch_ms(ts)) AS c_ms FROM events
           WHERE event_type = 'click' GROUP BY 1),
         conv AS (SELECT DISTINCT f.user_id FROM fc f JOIN events p
           ON p.user_id = f.user_id AND p.event_type = 'purchase'
           AND epoch_ms(p.ts) >= f.c_ms AND epoch_ms(p.ts) <= f.c_ms + 86400000),
         u AS (SELECT DISTINCT user_id FROM events)
         SELECT CASE WHEN c.user_id IS NOT NULL THEN 2
                     WHEN f.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage,
                count(*) AS n_users
         FROM u LEFT JOIN fc f ON u.user_id = f.user_id
           LEFT JOIN conv c ON u.user_id = c.user_id
         GROUP BY 1""",

    "ordered_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
         s1 AS (SELECT user_id, min(ms) AS t1 FROM e
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ms) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ms > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ms) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ms > t2 GROUP BY 1)
         SELECT 'signup' AS stage, count(*) AS n_users FROM s1
         UNION ALL SELECT 'click_after_signup', count(*) FROM s2
         UNION ALL SELECT 'purchase_after_click', count(*) FROM s3""",

    "hourly_acf" -> DuckDbOracles.hourlyAcf(),
    "hourly_trend" -> DuckDbOracles.hourlyTrend,
    "ewma_hourly" -> DuckDbOracles.ewmaHourly(),
    "theilsen_trend" -> DuckDbOracles.theilSenDaily,
    "seasonal_dow" -> DuckDbOracles.seasonalDow,
    "ks_drift" -> DuckDbOracles.ksDrift(),

    "event_transitions" ->
      """WITH t AS (SELECT event_type AS src,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
           FROM events),
         c AS (SELECT src, dst, count(*) AS n FROM t WHERE dst IS NOT NULL GROUP BY 1, 2)
         SELECT src, dst, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS prob
         FROM c""",

    "key_skew_report" ->
      """WITH per AS (SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2),
         agg AS (SELECT event_type, count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
           max(c) AS max_per_key FROM per GROUP BY 1)
         SELECT event_type, n_keys, n_rows, max_per_key,
           CAST(floor(max_per_key * 1000000 / n_rows) AS BIGINT) AS top_share_ppm,
           round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_per_key,
           round(max_per_key * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio
         FROM agg""",

    "cohort_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
           FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
         SELECT f.cohort,
           CAST((epoch_ms(a.wk) - epoch_ms(f.cohort)) / 604800000 AS BIGINT) AS week_offset,
           count(*) AS n_users
         FROM f JOIN a ON f.user_id = a.user_id
         GROUP BY 1, 2""",

    "attribution_window" ->
      """SELECT p.event_id, count(*) AS n_clicks_1h_before
         FROM events p JOIN events c ON c.user_id = p.user_id
           AND p.event_type = 'purchase' AND c.event_type = 'click'
           AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 3600000
           AND epoch_ms(c.ts) <= epoch_ms(p.ts)
         GROUP BY 1""",

    "value_outliers" ->
      """WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
           FROM events GROUP BY 1),
         mad AS (SELECT e.event_type, m.med,
             round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
           FROM events e JOIN med m ON e.event_type = m.event_type
           GROUP BY 1, 2)
         SELECT e.event_type, count(*) AS n,
           CAST(sum(CASE WHEN abs(e.value - d.med) > d.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN abs(e.value - d.med) > d.mad * 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS outlier_rate
         FROM events e JOIN mad d ON e.event_type = d.event_type
         GROUP BY 1""",

    // exact side of the quantile-sketch contract (quantile_cont matches
    // Spark's interpolated percentile); TRUE mirrors the rank-window checks
    "approx_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50_exact,
         round(quantile_cont(value, 0.9), 6) AS p90_exact,
         TRUE AS p50_in_rank_window,
         TRUE AS p90_in_rank_window
         FROM events GROUP BY 1""",

    "rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "asof_join_merge" ->
      """WITH j AS (
           SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                  row_number() OVER (PARTITION BY e.event_id
                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS r
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
         SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM j WHERE r = 1""",

    "orders_seasonality" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
         CAST(quarter(o_orderdate) AS INT) AS q,
         CAST(month(o_orderdate) AS INT) AS m,
         CAST(isodow(o_orderdate) - 1 AS INT) AS dow_mon0,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2, 3, 4""",

    "cube_revenue" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "window_analytics" ->
      """SELECT event_id, user_id,
         lag(event_type, 1) OVER w AS prev_type,
         lead(event_type, 1) OVER w AS next_type,
         CAST(rank() OVER w AS INT) AS rnk,
         CAST(dense_rank() OVER w AS INT) AS drnk,
         CAST(ntile(4) OVER w AS INT) AS quartile,
         round(cume_dist() OVER w, 6) AS cdist
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "semi_anti_customers" ->
      """SELECT c_custkey,
         EXISTS (SELECT 1 FROM orders
                 WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
           AS has_urgent
         FROM customer""",

    "asof_join_orders" ->
      """WITH j AS (
           SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                  row_number() OVER (PARTITION BY e.event_id
                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS r
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
         SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM j WHERE r = 1""",

    "json_pipeline" ->
      """SELECT CAST(user_id AS VARCHAR) AS id, event_type,
         time_bucket(INTERVAL '1 minute', ts) AS window_start,
         time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
         count(*) AS "count"
         FROM events WHERE event_type IN ('click','purchase')
         GROUP BY 1,2,3""",

    // routing contract: PERMISSIVE-parse failure ⟺ the deterministic
    // corruption gate (truncating a well-formed object's closing brace is
    // always invalid JSON)
    "json_dead_letter" ->
      """SELECT event_id, event_id % 13 <> 0 AS parse_ok FROM events""",

    "dedup_distinct" ->
      """SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h FROM events""",

    "session_windows" ->
      """WITH o AS (SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
             FROM events),
         m AS (SELECT user_id, ts,
               CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS brk
             FROM o),
         g AS (SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS gid
             FROM m)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL '10 minutes' AS session_end,
                count(*) AS "count"
         FROM g GROUP BY user_id, gid""",

    "sliding_window_count" ->
      """SELECT event_type,
         time_bucket(INTERVAL '5 minutes', ts) - to_minutes(5 * j.k) AS window_start,
         time_bucket(INTERVAL '5 minutes', ts) - to_minutes(5 * j.k) + INTERVAL '10 minutes' AS window_end,
         count(*) AS "count"
         FROM events, (SELECT unnest(range(0, 2)) AS k) j
         GROUP BY 1, 2, 3""",

    "text_token_stats" -> DuckDbOracles.textTokenStats,
    "text_subword_stats" -> DuckDbOracles.textSubwordStats,
    "text_bpe_merges" -> DuckDbOracles.textBpeMerges,
    "text_bpe_tokens" -> DuckDbOracles.textBpeTokens,
    "text_quality" -> DuckDbOracles.textQuality,
    "quality_quantile_filter" -> DuckDbOracles.qualityQuantileFilter(),
    "text_unigram_logprob" -> DuckDbOracles.unigramLogprob(),
    "text_bigram_logprob" -> DuckDbOracles.bigramLogprob(),
    "text_langid" -> DuckDbOracles.textLangId,
    "nb_lang_classify" -> DuckDbOracles.nbLangClassify,
    "nb_lang_confusion" -> DuckDbOracles.nbLangConfusion,
    "nb_margin_calibration" -> DuckDbOracles.nbMarginCalibration,
    "langid_confusion" ->
      s"""SELECT d.lang, p.lang_pred, count(*) AS n
         FROM (${DuckDbOracles.textLangId}) p JOIN documents d USING (doc_id)
         GROUP BY 1, 2""",
    "text_fingerprint" -> DuckDbOracles.textFingerprint,
    "vocab_coverage" -> DuckDbOracles.vocabCoverage(),
    "tfidf_top_terms" -> DuckDbOracles.tfidfTopTerms(),
    "textrank_keywords" -> DuckDbOracles.textrankKeywords(),
    "strip_boilerplate" -> DuckDbOracles.stripBoilerplate(),
    "dup_span_stats" -> DuckDbOracles.dupSpanStats(),
    "zipf_fit" -> DuckDbOracles.zipfFit(),
    "strip_dup_spans" -> DuckDbOracles.stripDupSpans(),
    "span_clean_pack_report" -> DuckDbOracles.packEfficiencyReportFrom(
      s"(SELECT doc_id, text_clean AS text FROM (${DuckDbOracles.stripDupSpans()}) x) y"),
    "chunk_documents" -> DuckDbOracles.chunkDocuments(),
    "frequent_bigrams" -> DuckDbOracles.frequentBigrams(),
    "dedup_exact_docs" -> DuckDbOracles.dedupExactDocs,
    "dedup_normalized" -> DuckDbOracles.dedupNormalized,
    "text_scrub_pii" -> DuckDbOracles.textScrubPii,
    "pack_training_shards" -> DuckDbOracles.packShards,
    "pack_efficiency_report" -> DuckDbOracles.packEfficiencyReportFrom("documents"),
    "curation_pack_report" ->
      DuckDbOracles.packEfficiencyReportFrom(s"(${DuckDbOracles.bestQualitySurvivors}) surv"),
    "custom_sessions" -> DuckDbOracles.customSessions(SessionGapMs, SessionCapMs),
    "stratified_sample" -> DuckDbOracles.stratifiedSample,
    "length_matched_sample" -> DuckDbOracles.histogramMatch(),
    "temperature_mix" -> DuckDbOracles.temperatureMix,
    "mixture_epoch_plan" -> DuckDbOracles.mixtureEpochPlan,
    "weighted_sample" -> DuckDbOracles.weightedSample(),
    "weighted_reservoir_sample" -> DuckDbOracles.weightedReservoirPerSource(),
    "capped_per_source" -> DuckDbOracles.cappedPerSource(),
    "leakage_safe_split" ->
      s"""WITH comp AS (${DuckDbOracles.dedupComponents()})
         SELECT d.doc_id, d.lang, d.source,
           coalesce(comp.rep, d.doc_id) AS rep,
           CASE WHEN ${graft.functions.PortableHash.h31Sql("split",
               "CAST(coalesce(comp.rep, d.doc_id) AS VARCHAR)")} % 1000
                  < ${Sampling.ValPerMille}
                THEN 'val' ELSE 'train' END AS split
         FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id""",
    "decontaminate" -> DuckDbOracles.decontaminate,
    "text_repetition" -> DuckDbOracles.textRepetition(),
    "text_entropy" -> DuckDbOracles.charEntropy,
    "bm25_topk" -> DuckDbOracles.bm25TopK(),
    "bm25_from_index_topk" -> DuckDbOracles.bm25TopK(),
    "ql_from_index_topk" -> DuckDbOracles.qlTopK(),
    "rrf_from_index" -> DuckDbOracles.rrfFusion(),
    "phrase_search" -> DuckDbOracles.phraseSearch(),
    "prf_hybrid_rerank" -> DuckDbOracles.prfHybridRerank(),
    "corpus_manifest" -> DuckDbOracles.corpusManifest,
    "dsir_resample" -> DuckDbOracles.dsirResample(),
    "pmi_collocations" -> DuckDbOracles.pmiCollocations(),
    "ql_topk" -> DuckDbOracles.qlTopK(),
    "rrf_fusion" -> DuckDbOracles.rrfFusion(),
    "retrieval_ndcg_report" -> DuckDbOracles.retrievalNdcgReport(),
    "heaps_law_fit" -> DuckDbOracles.heapsLawFit,
    "corpus_retention" -> DuckDbOracles.corpusRetention(),
    "curation_pipeline" -> DuckDbOracles.curationPipeline(),
    "dedup_components" -> DuckDbOracles.dedupComponents(),
    "pagerank_neardup" -> DuckDbOracles.pagerankNeardup(),
    "neardup_communities" -> DuckDbOracles.neardupCommunities(),
    "token_communities" -> DuckDbOracles.tokenCommunities(),
    "neardup_communities_weighted" -> DuckDbOracles.neardupCommunitiesWeighted(),
    "pagerank_neardup_weighted" -> DuckDbOracles.pagerankNeardupWeighted(),
    "neardup_modularity" -> DuckDbOracles.neardupModularity(),
    "neardup_triangles" -> DuckDbOracles.neardupTriangles,
    "neardup_kcore" -> DuckDbOracles.neardupKcore(),
    "chunk_neardup_pairs" -> DuckDbOracles.chunkNeardupPairs,
    "chunk_share_report" ->
      s"""SELECT doc_a // ${graft.streaming.StreamingChunkDedup.ChunkIdFactor} AS doc_a, doc_b // ${graft.streaming.StreamingChunkDedup.ChunkIdFactor} AS doc_b,
         |  count(*) AS shared_chunks,
         |  round(avg(est_jaccard), 6) AS mean_est_jaccard,
         |  round(max(est_jaccard), 6) AS max_est_jaccard
         |FROM (${DuckDbOracles.chunkNeardupPairs}) p GROUP BY 1, 2""".stripMargin,
    "dedup_components_exact" -> DuckDbOracles.dedupComponentsExact,
    "dedup_policy_report" -> DuckDbOracles.dedupPolicyReport,
    "dedup_granularity_report" -> DuckDbOracles.dedupGranularityReport,
    "dedup_apply_communities" -> DuckDbOracles.dedupApplyCommunities,
    "dedup_modularity_gated" -> DuckDbOracles.dedupModularityGatedReport,
    "dedup_apply_gated" -> DuckDbOracles.dedupApplyGated,
    "dedup_cluster_stats" ->
      s"""SELECT count(*) AS n_components,
         CAST(sum(sz) AS BIGINT) AS n_nodes,
         CAST(max(sz) AS BIGINT) AS max_size,
         round(avg(sz), 6) AS avg_size
         FROM (SELECT rep, count(*) AS sz
               FROM (${DuckDbOracles.dedupComponents()}) GROUP BY rep)""",
    "shard_balance" ->
      s"""SELECT shard, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(max(bin) + 1 AS BIGINT) AS n_bins
         FROM (${DuckDbOracles.packShards}) GROUP BY 1""",
    "dedup_crossmodal" -> DuckDbOracles.dedupCrossmodal(),
    "dedup_apply_components" ->
      s"""SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT doc_id FROM (${DuckDbOracles.dedupComponents(iters = 2)}) c WHERE rep <> doc_id)""".stripMargin,
    "embedding_quantize" -> DuckDbOracles.embeddingQuantize,
    "minhash_signatures" -> DuckDbOracles.minhashSignatures,
    "minhash_lsh_pairs" -> DuckDbOracles.minhashLshPairs,
    "source_contamination" -> DuckDbOracles.sourceContamination,
    "minhash_quality_report" -> DuckDbOracles.minhashQualityReport(),
    "lsh_tuning_report" -> DuckDbOracles.lshTuningReport,
    "dedup_apply_minhash" -> DuckDbOracles.dedupApplyMinhash,
    "embedding_norms" -> DuckDbOracles.embeddingNorms,
    "embedding_standardize" -> DuckDbOracles.embeddingStandardize(),
    "simhash_docs" -> DuckDbOracles.simhashDocs,
    "simhash_pairs" -> DuckDbOracles.simhashPairs(),
    "ngram_jaccard_pairs" -> DuckDbOracles.ngramJaccardPairs(),
    "containment_pairs" -> DuckDbOracles.containmentPairs(),
    "knn_lexical" -> DuckDbOracles.knnLexical(),
    "embedding_neardup" -> DuckDbOracles.embeddingNearDup(),
    "embedding_lsh_pairs" -> DuckDbOracles.embeddingLshPairs(),
    "ann_brute_topk" -> DuckDbOracles.annBruteTopK(),
    "ann_ivf_topk" -> DuckDbOracles.annIvfTopK(),
    "ann_spann_topk" -> DuckDbOracles.annSpannTopK(),
    "spann_from_index_topk" -> DuckDbOracles.annSpannTopK(),
    "spann_recall_report" -> DuckDbOracles.spannRecallReport(),
    "spann_cell_stats" -> DuckDbOracles.spannCellStats(),
    "ann_graph_topk" -> DuckDbOracles.annGraphTopK(),
    "ann_graph_recall_report" -> DuckDbOracles.annGraphRecallReport(),
    "ann_graph_degree_stats" -> DuckDbOracles.annGraphDegreeStats(),
    "ann_graph2_topk" -> DuckDbOracles.annGraph2TopK(),
    "quantizer_drift_report" -> DuckDbOracles.quantizerDriftReport,
    "ann_graph2_recall_report" -> DuckDbOracles.annGraph2RecallReport(),
    "ann_graph2_degree_stats" -> DuckDbOracles.annGraph2DegreeStats(),
    "ann_graph_filtered_topk" -> DuckDbOracles.annGraphFilteredTopK(),
    "ann_graph2_filtered_topk" -> DuckDbOracles.annGraph2FilteredTopK(),
    "ann_graph2_filtered_recall_report" ->
      DuckDbOracles.annGraph2FilteredRecallReport(),
    "ann_graph_filtered_recall_report" ->
      DuckDbOracles.annGraphFilteredRecallReport(),
    "ann_ivf_topk_np2" -> DuckDbOracles.annIvfTopK(nprobe = 2),
    "ann_ivf_filtered_topk" ->
      DuckDbOracles.annIvfTopK(nprobe = 2, corpusFilter = "label % 2 = 0"),
    "ann_ivf_kmeans_topk" -> DuckDbOracles.annIvfKmeansTopK(),
    "ann_ivf_auto_topk" -> DuckDbOracles.annIvfAutoTopK(),
    "ann_ivf_auto_from_index_topk" -> DuckDbOracles.annIvfAutoTopK(),
    "ann_ivf_auto_recall_report" -> DuckDbOracles.annIvfAutoRecallReport(),
    "quantizer_auto_report" -> DuckDbOracles.quantizerAutoReport(),
    "pq_codebooks" -> DuckDbOracles.pqCodebooks,
    "pq_encode" -> DuckDbOracles.pqEncode,
    "pq_adc_topk" -> DuckDbOracles.pqAdcTopK(),
    "mrl_topk" -> DuckDbOracles.mrlTopK(),
    "mrl_recall_report" -> DuckDbOracles.mrlRecallReport(),
    "mrl_ivf_topk" -> DuckDbOracles.mrlIvfTopK(),
    "mrl_ivf_recall_report" -> DuckDbOracles.mrlIvfRecallReport(),
    // index-served funnel ≡ inline funnel (same stages, same quantizer,
    // same prefix), so the identical oracle replay hash-checks it
    "mrl_ivf_from_index_topk" -> DuckDbOracles.mrlIvfTopK(),
    "ivf_pq_topk" -> DuckDbOracles.ivfPqTopK(),
    "ivf_pq_recall_report" -> DuckDbOracles.ivfPqRecallReport(),
    "ivf_pq_filtered_topk" ->
      DuckDbOracles.ivfPqTopK(corpusFilter = "label % 2 = 0"),
    "ivf_rpq_topk" -> DuckDbOracles.ivfRpqTopK(),
    "ivf_rpq_recall_report" -> DuckDbOracles.ivfRpqRecallReport(),
    "ivf_pq_refine_topk" -> DuckDbOracles.ivfPqRefineTopK(),
    "ivf_pq_refine_recall_report" -> DuckDbOracles.ivfPqRefineRecallReport(),
    "semantic_dedup" -> DuckDbOracles.semanticDedup(),
    "semantic_dedup_capped" -> DuckDbOracles.semanticDedupCapped(),
    "semantic_dedup_cap_report" -> DuckDbOracles.semanticDedupCapReport(),
    "embedding_curation_pipeline" -> DuckDbOracles.embeddingCurationPipeline(),
    "cluster_cohesion" -> DuckDbOracles.clusterCohesion(),
    "cluster_balanced_sample" -> DuckDbOracles.clusterBalancedSample(),
    "hard_negatives" -> DuckDbOracles.annIvfTopK(
      k = 10, nprobe = 2, scoreFilter = s"cos < ${VectorOps.HardNegCeiling}"),
    "ann_recall_report" -> DuckDbOracles.annRecallReport(),
    "pq_recall_report" -> DuckDbOracles.pqRecallReport(),
    "bq_topk" -> DuckDbOracles.bqTopK(),
    "bq_recall_report" -> DuckDbOracles.bqRecallReport(),
    "bq_ivf_topk" -> DuckDbOracles.bqIvfTopK(),
    "bq_ivf_from_index_topk" -> DuckDbOracles.bqIvfTopK(),
    "pq_rot_adc_topk" -> DuckDbOracles.pqRotAdcTopK(),
    "pq_rot_recall_report" -> DuckDbOracles.pqRotRecallReport(),
    "pq_opq_topk" -> DuckDbOracles.pqOpqAdcTopK(),
    "pq_opq_recall_report" -> DuckDbOracles.pqOpqRecallReport(),
    "ann_ivf_rerank_topk" -> DuckDbOracles.annIvfRerankTopK(),
    "embedding_rproj" -> DuckDbOracles.randomProjection,
    "media_meta" -> DuckDbOracles.mediaMeta,
    "media_typed_meta" -> DuckDbOracles.mediaTypedMeta,
    "media_frame_sample" -> DuckDbOracles.mediaFrameSample,
    "media_resize" -> DuckDbOracles.mediaResize(),
    "media_features" -> DuckDbOracles.mediaFeatures,
    "media_phash" -> DuckDbOracles.mediaPhash,
    "media_neardup_pairs" -> DuckDbOracles.mediaNearDupPairs(),
    "media_band_stats" -> DuckDbOracles.mediaBandStats(),
    "media_neardup_pairs_capped" -> DuckDbOracles.mediaNearDupPairsCapped(),
    "media_entropy_band_stats" -> DuckDbOracles.mediaEntropyBandStats(),
    "media_neardup_pairs_entropy" -> DuckDbOracles.mediaNearDupPairsEntropy(),
    "media_phash_topk" -> DuckDbOracles.mediaPhashTopK(),
    "media_dedup_apply" -> DuckDbOracles.mediaDedupApply(),
    "media_curation_pipeline" -> DuckDbOracles.mediaCurationPipeline(),
    "media_source_contamination" -> DuckDbOracles.mediaSourceContamination(),
  )
}
