package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import graft.ops.TextOps

class TextOpsSpec extends AnyFunSpec with Matchers with SparkSessionTestWrapper {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Five docs for the multi-query lexical cases: N = 5, sum_dl = 10
    * (avgdl 2); cat: df 3, cf 5; dog: df 3, cf 3; fish: absent. d1 and d5
    * are the same text, so they tie on every query.
    */
  private val tieDocs = Seq(1L -> "cat dog", 2L -> "cat cat cat", 3L -> "bird",
    4L -> "dog bird", 5L -> "cat dog")
  // q1 one term, q2 a term absent from the corpus, q3 a repeated term
  private val multiQueries = Seq(1 -> Seq("cat"), 2 -> Seq("dog", "fish"), 3 -> Seq("cat", "cat"))

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (q_id, rank, doc_id) exactly and each score to the 6dp rounding. */
  private def checkRanked(got: org.apache.spark.sql.DataFrame,
      want: List[(Int, Int, Long, Double)]): Unit = {
    val rows = got.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toList
      .sortBy(r => (r._1, r._2))
    rows.map(r => (r._1, r._2, r._3)) shouldBe want.map(r => (r._1, r._2, r._3))
    rows.zip(want).foreach { case (g, w) => g._4 shouldBe (w._4 +- 1e-6) }
  }

  describe("tokenStats") {
    it("counts tokens, distincts, and type-token ratio") {
      val r = TextOps.tokenStats(docsDf(Seq(1L -> "a b b c"))).collect()(0)
      (r.getInt(1), r.getInt(2), r.getDouble(3)) shouldBe ((4, 3, 0.75))
    }
  }

  describe("corpusTokenDrift / tokenDriftTop") {
    it("identical cohorts score exactly zero; disjoint vocabularies drift toward ln 2, attributed to the moved tokens") {
      import spark.implicits._
      val docs = Seq(
        // 'same': even and odd docs speak identically -> pr == pc termwise
        (0L, "x x y z", "en", "same"), (1L, "x x y z", "en", "same"),
        (2L, "x x y z", "en", "same"), (3L, "x x y z", "en", "same"),
        // 'shift': the two cohorts share NO vocabulary
        (10L, "aa bb cc dd aa bb", "en", "shift"),
        (12L, "aa bb cc dd aa bb", "en", "shift"),
        (11L, "ee ff gg hh ee ff", "en", "shift"),
        (13L, "ee ff gg hh ee ff", "en", "shift"))
        .toDF("doc_id", "text", "lang", "source")
      val drift = TextOps.corpusTokenDrift(docs).collect()
        .map(r => r.getString(0) -> r.getDouble(4)).toMap
      drift("same") shouldBe 0.0
      // well off zero (add-one smoothing over the tiny 8-token vocab
      // flattens both cohorts — the unsmoothed disjoint limit is ln 2)
      drift("shift") should be > 0.15
      drift("shift") should be < math.log(2)
      val top = TextOps.tokenDriftTop(docs, k = 3)
        .filter(org.apache.spark.sql.functions.col("source") === "shift")
        .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3)))
        .sortBy(_._1)
      top.map(_._1).toSeq shouldBe Seq(1, 2, 3)
      // the heaviest movers are the high-count disjoint tokens, and every
      // contribution is positive (JSD terms are nonnegative)
      top.foreach { case (_, tok, c) =>
        Set("aa", "bb", "ee", "ff") should contain(tok)
        c should be > 0.0
      }
    }
  }

  describe("qualityScore") {
    it("computes stopword ratio and mean token length") {
      val r = TextOps.qualityScore(docsDf(Seq(1L -> "the cat sat"))).collect()(0)
      r.getAs[Double]("stopword_ratio") shouldBe 0.333333 +- 1e-9
      r.getAs[Double]("mean_token_len") shouldBe 3.0 +- 1e-9
    }
  }

  describe("bm25TopK") {
    it("matches the hand-computed score and ranks higher-tf docs first") {
      // N=3, df(cat)=2 → idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6)
      // d1: tf=1, dl=2=avgdl → length norm = 1 → score = idf exactly
      // d2: tf=3, dl=3 → 6.6/(3+1.2·(0.25+0.75·1.5))·idf > idf
      val docs = docsDf(Seq(1L -> "cat dog", 2L -> "cat cat cat", 3L -> "bird"))
      val got = TextOps.bm25TopK(docs, queries = Seq(1 -> Seq("cat")), k = 10)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toList
      got.map(_._2) shouldBe List(2L, 1L) // bird doc never matches
      got(1)._3 shouldBe (math.log(1.6) +- 5e-7) // rounded to 6dp
      got(0)._3 should be > got(1)._3
    }

    it("keeps per-query statistics apart, drops absent terms, counts repeated terms, and cuts ties by doc_id") {
      // cat and dog both have df 3: idf = ln((5-3+0.5)/(3+0.5)+1)
      val idf = math.log(2.5 / 3.5 + 1)
      val term = (tf: Int, dl: Int) =>
        r6(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.0)))
      // k = 2 cuts q1 between the tied d1 and d5, and q2 (d1, d4, d5 all
      // tf 1, dl 2) after d4; fish (df 0) adds nothing to q2; q3 scores
      // cat twice
      checkRanked(TextOps.bm25TopK(docsDf(tieDocs), multiQueries, k = 2), List(
        (1, 1, 2L, term(3, 3)), (1, 2, 1L, term(1, 2)),
        (2, 1, 1L, term(1, 2)), (2, 2, 4L, term(1, 2)),
        (3, 1, 2L, r6(2 * term(3, 3))), (3, 2, 1L, r6(2 * term(1, 2)))))
    }
  }

  describe("heapsLawFit") {
    it("recovers the exact exponent and coefficient from a two-point fit") {
      import spark.implicits._
      // srcA: N=2, V=2; srcB: N=8, V=4 -> beta = ln2/ln4 = 0.5, K = sqrt(2)
      val docs = Seq(
        (1L, "a b", "A"), (2L, "a a a b b c c d", "B"))
        .toDF("doc_id", "text", "source")
      val r = TextOps.heapsLawFit(docs).collect().head
      r.getAs[Long]("n_sources") shouldBe 2L
      r.getAs[Double]("beta") shouldBe 0.5
      r.getAs[Double]("k_coeff") shouldBe 1.414214
      r.getAs[Double]("r2") shouldBe 1.0
    }
  }

  describe("qlTopK") {
    it("matches the replicated Dirichlet formula and keeps smoothing-only terms") {
      // cf(cat)=4, N=6 total tokens; dl: d1=2, d2=3; candidates = {d1, d2}
      val docs = docsDf(Seq(1L -> "cat dog", 2L -> "cat cat cat", 3L -> "bird"))
      val got = TextOps.qlTopK(docs, queries = Seq(1 -> Seq("cat")), k = 10)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toList
      val exp = (tf: Int, dl: Int) =>
        BigDecimal(math.log((tf + 2000.0 * (4.0 / 6.0)) / (dl + 2000.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      got shouldBe List((1, 2L, exp(3, 3)), (2, 1L, exp(1, 2)))

      // two-term query: d2 matches only "cat" but still pays/earns the
      // smoothing-only mass for "dog" (tf=0 through the LEFT join)
      val docs2 = docsDf(Seq(1L -> "cat dog", 2L -> "cat cat cat", 3L -> "bird"))
      val term = (tf: Int, cf: Int, dl: Int) =>
        math.log((tf + 2000.0 * (cf / 6.0)) / (dl + 2000.0))
      val got2 = TextOps.qlTopK(docs2, queries = Seq(1 -> Seq("cat", "dog")), k = 10)
        .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
      got2(1L) shouldBe r6(term(1, 4, 2) + term(1, 1, 2))
      got2(2L) shouldBe r6(term(3, 4, 3) + term(0, 1, 3))
    }

    it("keeps per-query statistics apart, drops absent terms, counts repeated terms, and cuts ties by doc_id") {
      val term = (tf: Int, cf: Int, dl: Int) =>
        math.log((tf + 2000.0 * (cf / 10.0)) / (dl + 2000.0))
      // fish has no collection mass: it adds nothing (its smoothing term
      // would be ln 0); k = 2 cuts q1's d1/d5 tie and q2's three-way tie
      checkRanked(TextOps.qlTopK(docsDf(tieDocs), multiQueries, k = 2), List(
        (1, 1, 2L, r6(term(3, 5, 3))), (1, 2, 1L, r6(term(1, 5, 2))),
        (2, 1, 1L, r6(term(1, 3, 2))), (2, 2, 4L, r6(term(1, 3, 2))),
        (3, 1, 2L, r6(2 * term(3, 5, 3))), (3, 2, 1L, r6(2 * term(1, 5, 2)))))
    }
  }

  describe("rrfFusion") {
    it("fuses agreeing rankers into exact reciprocal-rank sums") {
      // both rankers put d2 first, d1 second for "cat" ->
      // rrf(d2) = 2/61, rrf(d1) = 2/62, at 6dp
      val docs = docsDf(Seq(1L -> "cat dog", 2L -> "cat cat cat", 3L -> "bird"))
      val got = TextOps.rrfFusion(docs, queries = Seq(1 -> Seq("cat")))
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toList
      got shouldBe List((1, 2L, 0.032787), (2, 1L, 0.032258))
    }
  }

  describe("pmiCollocations") {
    it("matches hand-computed PMI and enforces the count floor") {
      // n=12, nb=10, cu: x=3, y=3, p=6; cb: (x,y)=3, (y,x)=2, (p,p)=5
      // PMI(x,y)=ln((3/10)/(0.25·0.25))=ln 4.8; (y,x)=ln 3.2; (p,p)=ln 2
      val docs = docsDf(Seq(1L -> "x y x y x y", 2L -> "p p p p p p"))
      val got = TextOps.pmiCollocations(docs, k = 10, minCount = 1L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toList
      got shouldBe List(("x", "y", 3L, 1.568616), ("y", "x", 2L, 1.163151),
        ("p", "p", 5L, 0.693147))
      TextOps.pmiCollocations(docs).count() shouldBe 1L // only (p,p) reaches the 5 floor
    }
  }

  describe("dsirResample") {
    it("weights docs by target-likeness of hashed-bigram features, deterministically") {
      import spark.implicits._
      val docs = Seq(
        (1L, "cat dog cat", "en"), (2L, "cat dog cat", "xx"),
        (3L, "zz qq zz", "xx"), (4L, "solo", "en"))
        .toDF("doc_id", "text", "lang")
      val got = TextOps.dsirResample(docs).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      got.map(_._1).toSet shouldBe Set(1L, 2L, 3L) // <2-token doc has no features
      val byId = got.map(t => t._1 -> t._2).toMap
      byId(1L) shouldBe byId(2L) // same text, same features: the weight is label-free
      byId(1L) should be > byId(3L) // target-profile bigrams outweigh raw-only ones
      val again = TextOps.dsirResample(docs).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      again.toSet shouldBe got.toSet // hash-Gumbel selection is bit-reproducible
    }
  }

  describe("charEntropy") {
    it("matches hand-computed entropies and orders junk below text") {
      // "aaaa": 1 symbol -> H = 0; bigrams "aa"×3 -> H = 0; conditional 0.
      val flat = TextOps.charEntropy(docsDf(Seq(1L -> "aaaa"))).collect()(0)
      flat.getAs[Double]("char_entropy") shouldBe 0.0
      flat.getAs[Double]("bigram_entropy") shouldBe 0.0
      flat.getAs[Double]("cond_entropy") shouldBe 0.0
      // "abab": p(a)=p(b)=1/2 -> H = 1 bit exactly; bigrams ab,ba,ab ->
      // H = -(2/3 log2 2/3 + 1/3 log2 1/3) = log2(3) - 2/3.
      val ab = TextOps.charEntropy(docsDf(Seq(1L -> "abab"))).collect()(0)
      ab.getAs[Double]("char_entropy") shouldBe 1.0
      ab.getAs[Double]("bigram_entropy") shouldBe
        (math.log(3) / math.log(2) - 2.0 / 3.0) +- 1e-6
      ab.getAs[Int]("n_chars") shouldBe 4
      ab.getAs[Int]("n_uniq_chars") shouldBe 2
      // A looping doc scores strictly below varied text on BOTH signals —
      // the detector's ordering property.
      val r = TextOps.charEntropy(docsDf(Seq(
        1L -> "spam spam spam spam spam spam spam",
        2L -> "the quick brown fox jumps over lazy dogs"))).collect()
          .map(x => x.getAs[Long]("doc_id") -> x).toMap
      r(1L).getAs[Double]("char_entropy") should be < r(2L).getAs[Double]("char_entropy")
      r(1L).getAs[Double]("cond_entropy") should be < r(2L).getAs[Double]("cond_entropy")
    }
  }

  describe("langId") {
    it("predicts by marker counts with fixed tie-break") {
      val out = TextOps.langId(docsDf(Seq(
          1L -> "der hund und die katze",
          2L -> "the dog and the cat",
          3L -> "no markers here")))
        .collect().map(r => r.getLong(0) -> r.getAs[String]("lang_pred")).toMap
      out(1L) shouldBe "de"
      out(2L) shouldBe "en"
      out(3L) shouldBe "en" // all-zero scores → first language in priority order
    }
  }

  describe("normalizedDedup") {
    it("groups case/punctuation/whitespace variants that byte-identity misses") {
      val docs = docsDf(Seq(
        1L -> "Hello, World!",
        2L -> "hello   world",
        3L -> "HELLO WORLD.",
        4L -> "goodbye world"))
      val groups = TextOps.normalizedDedup(docs).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet // (canonical_id, n_copies)
      groups shouldBe Set((1L, 3L), (4L, 1L))
    }
  }

  describe("scrubPii") {
    it("masks emails before digit runs and flags touched docs") {
      val docs = docsDf(Seq(
        1L -> "contact bob123456@example.com or call 5551234567 now",
        2L -> "short num 12345 stays",
        3L -> "clean text"))
      val out = TextOps.scrubPii(docs).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
      out(1L) shouldBe (("contact <EMAIL> or call <NUM> now", true))
      out(2L) shouldBe (("short num 12345 stays", false)) // <6 digits untouched
      out(3L) shouldBe (("clean text", false))
    }
  }

  describe("subwordStats") {
    it("counts BPE-ish pre-tokenizer matches") {
      val r = TextOps.subwordStats(docsDf(Seq(1L -> "it's rain-proof, 42 tests!")))
        .collect()(0)
      // [it]['s][ rain][-][proof][,][ 42][ tests][!] → 9 matches
      r.getInt(1) shouldBe 9
    }
  }

  describe("repetitionStats") {
    it("flags looping/stuffed docs, passes diverse ones, drops 1-token docs") {
      val rows = TextOps.repetitionStats(docsDf(Seq(
          1L -> "spam spam spam spam spam",  // one bigram repeated 4×
          2L -> "the quick brown fox jumps", // all bigrams distinct
          3L -> "single")))                  // no bigram → no row
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
      rows.keySet shouldBe Set(1L, 2L)
      rows(1L) shouldBe ((4L, 1L, 0.75, 1.0, true))
      rows(2L) shouldBe ((4L, 4L, 0.0, 0.25, true)) // top_frac 0.25 > 0.1
      // a long diverse doc sits under both thresholds
      val clean = (1 to 50).map(i => s"w$i").mkString(" ")
      val r = TextOps.repetitionStats(docsDf(Seq(9L -> clean))).collect()(0)
      r.getBoolean(5) shouldBe false
    }
  }

  describe("retentionReport") {
    it("assigns the first breached gate as the reject reason") {
      val longDiverse = (1 to 60).map(i => s"word$i").mkString(" ")
      val rows = TextOps.retentionReport(docsDf(Seq(
          1L -> "too short",                                // short (and repetitive)
          2L -> ((1 to 30).map(_ => "the of a").mkString(" ")), // stopword soup: low quality + repetitive
          3L -> ((1 to 15).map(_ => s"go stop").mkString(" ") + " " + longDiverse), // repetitive bigrams, decent quality
          4L -> longDiverse)))                              // retained
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getString(5)), r.getBoolean(6)))).toMap
      rows(1L) shouldBe ((Some("short"), false))
      rows(2L) shouldBe ((Some("low_quality"), false))
      rows(4L) shouldBe ((None, true))
      rows(3L)._2 shouldBe false // rejected by some later gate, not retained
    }
  }

  describe("null and empty text semantics") {
    it("null-safe across the text operator family (no crashes, defined outputs)") {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val docs = spark.createDataFrame(
        java.util.Arrays.asList(
          Row(1L, null), Row(2L, ""), Row(3L, "ok text here")),
        schema)
      // null text → null stats (modern size(null)=null), empty → 1 empty token
      val tok = TextOps.tokenStats(docs).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      tok(1L) shouldBe None
      tok(2L) shouldBe Some(1)
      tok(3L) shouldBe Some(3)
      // generators drop null/short docs instead of exploding nulls
      TextOps.fingerprints(docs).collect().map(_.getLong(0)).toSet shouldBe Set.empty
      // only doc 3 reaches 3 tokens (one shingle); null/empty drop out
      graft.ops.Dedup.minhashSignatures(docs).collect()
        .map(_.getLong(0)).toSet shouldBe Set(3L)
      TextOps.repetitionStats(docs).collect().map(_.getLong(0)).toSet shouldBe Set(3L)
      // scrub/normalize pass nulls through as nulls, not failures
      val scrub = TextOps.scrubPii(docs).collect()
        .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
      scrub(1L) shouldBe true
      scrub(2L) shouldBe false
      // subword ratio is NULL (not a crash or inf) for null AND empty text
      val sw = TextOps.subwordStats(docs).collect()
        .map(r => r.getLong(0) -> r.isNullAt(2)).toMap
      sw(1L) shouldBe true
      sw(2L) shouldBe true
      sw(3L) shouldBe false
    }
  }

  describe("fingerprints") {
    it("is deterministic and winnows to ≈1/8 of shingle hashes") {
      val doc = (1 to 200).map(i => s"w$i").mkString(" ")
      val a = TextOps.fingerprints(docsDf(Seq(1L -> doc))).collect().map(_.getLong(1)).toSet
      val b = TextOps.fingerprints(docsDf(Seq(1L -> doc))).collect().map(_.getLong(1)).toSet
      a shouldBe b
      a.foreach(h => h % 8 shouldBe 0)
      // 198 shingles, expect ≈25 fingerprints — loose band
      a.size should (be >= 10 and be <= 50)
    }
  }

  describe("decontaminate") {
    it("flags docs sharing any 3-shingle with the benchmark set") {
      // doc 0 (%50==0) seeds the benchmark with its first 8 tokens;
      // doc 1 quotes three of those tokens verbatim (one shared shingle);
      // doc 2 is disjoint; doc 3 shares tokens only beyond the 8-token
      // benchmark prefix — clean
      val docs = docsDf(Seq(
        0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1L -> "intro words then beta gamma delta closing",
        2L -> "totally unrelated text with no overlap at all",
        3L -> "iota kappa lambda and more past the prefix"))
      val out = TextOps.decontaminate(docs, TextOps.benchmarkSet(docs))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      out(0L)._2 shouldBe true // the bench contributor itself
      out(0L)._1 shouldBe 6L // all 6 shingles of its 8-token prefix
      out(1L) shouldBe ((1L, true)) // "beta gamma delta"
      out(2L) shouldBe ((0L, false))
      out(3L) shouldBe ((0L, false)) // overlap outside the bench prefix
    }

    it("benchmarkSet derives one prefix entry per 50th doc") {
      val docs = docsDf(Seq(
        0L -> (1 to 20).map(i => s"t$i").mkString(" "),
        7L -> "not a contributor",
        50L -> "short doc"))
      val bench = TextOps.benchmarkSet(docs).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      bench.keySet shouldBe Set(0L, 50L)
      bench(0L) shouldBe (1 to 8).map(i => s"t$i").mkString(" ")
      bench(50L) shouldBe "short doc" // shorter than the prefix: kept whole
    }
  }

  describe("packShards two-level prefix sum") {
    import org.apache.spark.sql.{functions => F}

    // 300 docs, irregular token counts, ids with gaps (stress block edges)
    def corpus = docsDf((0 until 300).map { i =>
      val id = i.toLong * 3 // gaps: blocks are id-RANGE based, not dense
      id -> Seq.fill(i % 37 + 1)("w").mkString(" ")
    })

    it("matches the single-window per-shard reference bit-for-bit") {
      import org.apache.spark.sql.expressions.Window
      // reference = r3's formula: ONE running sum per shard
      val base = corpus.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).as("n_tokens"),
        (graft.functions.PortableHash.h31("shard", F.col("doc_id").cast("string")) % 8).as("shard"))
      val w = Window.partitionBy(F.col("shard")).orderBy(F.col("doc_id"))
      val ref = base.withColumn("cum", F.sum(F.col("n_tokens")).over(w))
        .select(F.col("doc_id"), F.col("shard"), F.col("n_tokens"),
          F.floor((F.col("cum") - F.col("n_tokens")).cast("double") / 1000).cast("bigint").as("bin"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      for (span <- Seq(16L, 64L, 1024L)) {
        val got = TextOps.packShards(corpus, blockSpan = span)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
        withClue(s"blockSpan=$span: ") { got shouldBe ref }
      }
    }

    it("partitions the corpus-scale window by (shard, block), not by shard alone") {
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val df = TextOps.packShards(corpus, blockSpan = 16L)
      // AQE's wrapper hides children — re-plan statically (as PlanAudit does)
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan =
        try spark.sessionState.executePlan(df.queryExecution.logical).executedPlan
        finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      val windows = plan.collect { case e: WindowExec => e }
      windows.nonEmpty shouldBe true
      // the window over RAW docs (no aggregate below it) is the corpus-scale
      // stage: its partition keyspace must include the block id so task
      // count scales with input size — nShards-only partitioning is the
      // 8-tasks-sort-the-corpus defect r3's VERDICT flagged
      val corpusScale = windows.filter(_.collectLeaves().nonEmpty)
        .filter(e => e.collect { case a: HashAggregateExec => a }.isEmpty)
      corpusScale.nonEmpty shouldBe true
      corpusScale.foreach { e =>
        withClue(s"partitionSpec=${e.partitionSpec}: ") {
          e.partitionSpec.size shouldBe 2
        }
        val ex = e.collect { case s: ShuffleExchangeExec => s }
        ex.nonEmpty shouldBe true
        ex.head.outputPartitioning match {
          case hp: HashPartitioning => hp.expressions.size shouldBe 2
          case other => fail(s"expected HashPartitioning(shard, block), got $other")
        }
      }
      // and the keyspace genuinely exceeds nShards on this corpus
      val keys = TextOps.packShards(corpus, blockSpan = 16L)
        .select(F.col("shard"), F.floor(F.col("doc_id") / 16).cast("bigint").as("block"))
        .distinct().count()
      keys should be > 8L
    }

    it("harness doc_ids satisfy the non-negative / < 2^53 block-id contract") {
      val g = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
        .agg(F.min(F.col("doc_id")), F.max(F.col("doc_id"))).head()
      g.getLong(0) should be >= 0L
      g.getLong(1) should be < (1L << 53)
    }
  }

  describe("unigramLogprob") {
    it("scores docs by mean ln(c/N) over the corpus-trained unigram counts") {
      // vocab: a→2, b→2, c→1; N = 5
      val out = TextOps.unigramLogprob(docsDf(Seq((1L, "a a b"), (2L, "b c"))))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      out(1L)._1 shouldBe 3L
      out(1L)._2 shouldBe r6(math.log(2.0 / 5.0)) // all three tokens at c=2
      out(2L)._2 shouldBe r6((math.log(2.0 / 5.0) + math.log(1.0 / 5.0)) / 2.0)
      // every token in this tiny corpus is rare (c < 5)
      out(1L)._3 shouldBe 1.0
      out(2L)._3 shouldBe 1.0
    }
  }

  describe("bigramLogprob") {
    it("matches the hand-computed Jelinek-Mercer blend on a tiny corpus") {
      // corpus: "a b a b" + "b a" -> N=6, c(a)=c(b)=3, c(a,b)=c(b,a)=2.
      // first tokens: p=3/6=.5; others: .75*(2/3)+.25*.5=.625
      val r = TextOps.bigramLogprob(docsDf(Seq(1L -> "a b a b", 2L -> "b a")))
        .collect().map(x => x.getLong(0) -> x).toMap
      r(1L).getAs[Long]("n_tokens") shouldBe 4L
      r(1L).getAs[Double]("mean_logprob_bi") shouldBe
        math.rint(((math.log(0.5) + 3 * math.log(0.625)) / 4) * 1e6) / 1e6 +- 1e-9
      r(2L).getAs[Double]("mean_logprob_bi") shouldBe
        math.rint(((math.log(0.5) + math.log(0.625)) / 2) * 1e6) / 1e6 +- 1e-9
    }

    it("scores coherent ordering above a shuffled doc with identical token counts") {
      val out = TextOps.bigramLogprob(docsDf(Seq(
        1L -> "x y x y x y x y",   // coherent alternation
        2L -> "x x y y y x x y"))) // same counts, broken order
        .collect().map(x => x.getLong(0) -> x.getAs[Double]("mean_logprob_bi")).toMap
      out(1L) should be > out(2L)
    }
  }

  describe("qualityQuantileFilter") {
    import org.apache.spark.sql.{functions => F}
    it("keeps, per language, exactly the docs strictly above the type-1 p-quantile") {
      val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.01")
      val kept = TextOps.qualityQuantileFilter(docs).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      kept.nonEmpty shouldBe true
      // independent recomputation of the per-lang threshold from raw scores
      val scores = TextOps.qualityScore(docs)
        .join(docs.select(F.col("doc_id"), F.col("lang")), "doc_id")
        .select(F.col("doc_id"), F.col("lang"), F.col("quality_score")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val byLang = scores.groupBy(_._2)
      val thr = byLang.map { case (lang, xs) =>
        val sorted = xs.map(_._3).sorted
        val cut = ((xs.size.toLong * TextOps.QualityQuantilePpm + 999999L) / 1000000L).toInt
        lang -> sorted(cut - 1) // smallest score with cum >= ceil(n*p)
      }
      val expected = scores.filter { case (_, lang, s) => s > thr(lang) }
        .map(t => (t._1, t._2, t._3, thr(t._2))).toSet
      kept.toSet shouldBe expected
      // every language retains at most ~(1-p) of its docs
      kept.groupBy(_._2).foreach { case (lang, ks) =>
        ks.size.toDouble / byLang(lang).size.toDouble should be <= 0.71
      }
    }
  }

  describe("stripBoilerplate") {
    it("strips segments shared by >= minDocs docs and reassembles survivors in order") {
      val docs = docsDf(Seq(
        1L -> "nav bar alpha beta",
        2L -> "nav bar gamma delta",
        3L -> "nav bar epsilon zeta",
        4L -> "unique text here now"))
      val out = TextOps.stripBoilerplate(docs, segTokens = 2, minDocs = 3)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.getAs[String]("text_clean")))))
        .toMap
      out(1L) shouldBe ((2L, 1L, Some("alpha beta")))
      out(2L) shouldBe ((2L, 1L, Some("gamma delta")))
      out(3L) shouldBe ((2L, 1L, Some("epsilon zeta")))
      out(4L) shouldBe ((2L, 0L, Some("unique text here now")))
    }

    it("yields NULL text_clean when every segment was boilerplate") {
      val docs = docsDf(Seq(1L -> "all the same", 2L -> "all the same", 3L -> "all the same"))
      val out = TextOps.stripBoilerplate(docs, segTokens = 3, minDocs = 3).collect()
      out should have length 3
      all(out.map(_.getLong(2))) shouldBe 1L
      all(out.map(_.isNullAt(3))) shouldBe true
    }

    it("planted boilerplate spans exactly two whole segments") {
      TextOps.BoilerplateText.split(" ").length shouldBe 2 * TextOps.SegTokens
    }
  }

  describe("chunkDocuments") {
    it("covers every token, overlaps by width-stride, and runs the last chunk short") {
      val docs = docsDf(Seq(1L -> "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"))
      val r = TextOps.chunkDocuments(docs, width = 4, stride = 3).collect()
        .map(x => (x.getInt(1), x.getInt(2), x.getString(3))).sortBy(_._1)
      r shouldBe Array(
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
        (3, 1, "t9"))
    }

    it("a doc shorter than one chunk yields exactly one full-text chunk") {
      val r = TextOps.chunkDocuments(docsDf(Seq(1L -> "a b")), width = 4, stride = 3).collect()
      r.length shouldBe 1
      r(0).getInt(2) shouldBe 2
      r(0).getString(3) shouldBe "a b"
    }
  }

  describe("dupSpanStats") {
    it("merges overlapping duplicated spans by interval union, not span-count x width") {
      // docs 1 and 2 share the 8-token run A..H; with width-5 windows that
      // is 4 duplicated spans per doc, but only 8 COVERED tokens (union),
      // not 4x5=20. doc 3 shares nothing.
      val docs = docsDf(Seq(
        1L -> "x1 x2 A B C D E F G H y1 y2",
        2L -> "A B C D E F G H z1 z2 z3 z4",
        3L -> "q1 q2 q3 q4 q5 q6"))
      val r = TextOps.dupSpanStats(docs).collect()
        .map(x => x.getLong(0) -> x).toMap
      for (id <- Seq(1L, 2L)) {
        r(id).getAs[Long]("n_tokens") shouldBe 12L
        r(id).getAs[Long]("n_spans") shouldBe 8L
        r(id).getAs[Long]("n_dup_spans") shouldBe 4L
        r(id).getAs[Long]("dup_tokens") shouldBe 8L
        r(id).getAs[Double]("dup_token_frac") shouldBe 0.666667 +- 1e-9
      }
      r(3L).getAs[Long]("n_dup_spans") shouldBe 0L
      r(3L).getAs[Double]("dup_token_frac") shouldBe 0.0
    }

    it("requires a span to recur in a SECOND document (intra-doc repeats are not cross-doc dups)") {
      val docs = docsDf(Seq(
        1L -> "A B C D E w A B C D E",  // same span twice, one doc
        2L -> "m n o p q r"))
      val r = TextOps.dupSpanStats(docs).collect()
      r.map(_.getAs[Long]("n_dup_spans")).sum shouldBe 0L
    }
  }

  describe("stripDupSpans") {
    it("excises every non-canonical occurrence, keeps the canonical copy intact") {
      // docs 1 and 2 share the 8-token run A..H; doc 1 (lower id) is the
      // canonical holder for every one of those width-5 windows, so doc 1
      // survives UNTOUCHED and doc 2 loses exactly the covered 8 tokens
      // (interval union, not span-count × width); doc 3 is untouched
      val docs = docsDf(Seq(
        1L -> "x1 x2 A B C D E F G H y1 y2",
        2L -> "A B C D E F G H z1 z2 z3 z4",
        3L -> "q1 q2 q3 q4 q5 q6"))
      val r = TextOps.stripDupSpans(docs).collect()
        .map(x => x.getLong(0) -> x).toMap
      r(1L).getAs[Long]("n_tokens_after") shouldBe 12L
      r(1L).getAs[String]("text_clean") shouldBe "x1 x2 A B C D E F G H y1 y2"
      r(2L).getAs[Long]("n_tokens_after") shouldBe 4L
      r(2L).getAs[String]("text_clean") shouldBe "z1 z2 z3 z4"
      r(3L).getAs[String]("text_clean") shouldBe "q1 q2 q3 q4 q5 q6"
      // conservation: every duplicated span's content still exists once
      r(1L).getAs[String]("text_clean") should include("A B C D E F G H")
    }

    it("leaves intra-doc repeats alone and empties a doc that is all duplicate") {
      val docs = docsDf(Seq(
        1L -> "A B C D E w A B C D E", // intra-doc repeat: not cross-doc
        2L -> "m n o p q r",
        5L -> "m n o p q r")) // doc 5 is entirely doc 2's content
      val r = TextOps.stripDupSpans(docs).collect()
        .map(x => x.getLong(0) -> x).toMap
      r(1L).getAs[String]("text_clean") shouldBe "A B C D E w A B C D E"
      r(2L).getAs[String]("text_clean") shouldBe "m n o p q r"
      r(5L).getAs[Long]("n_tokens_after") shouldBe 0L
      r(5L).getAs[String]("text_clean") shouldBe ""
    }
  }

  describe("zipfFit") {
    it("recovers a planted power law and flags a flat vocabulary") {
      // token i appears floor(2000 / i) times, i = 1..40: a textbook
      // Zipf curve - the ln-ln fit must find slope near -1 with high r2
      val zipfText = (1 to 40).flatMap(i => Seq.fill(2000 / i)(s"z$i")).mkString(" ")
      val z = TextOps.zipfFit(docsDf(Seq(1L -> zipfText)), n = 40).collect()(0)
      z.getLong(0) shouldBe 40L
      z.getDouble(1) shouldBe -1.0 +- 0.05
      z.getDouble(3) should be >= 0.99
      // a uniform vocabulary (every token once) is maximally non-Zipfian:
      // zero variance in y, r2 = 0, slope 0
      val flatText = (1 to 40).map(i => s"f$i").mkString(" ")
      val f = TextOps.zipfFit(docsDf(Seq(1L -> flatText)), n = 40).collect()(0)
      f.getDouble(1) shouldBe 0.0
      f.getDouble(3) shouldBe 0.0
    }
  }

  describe("frequentBigrams") {
    it("returns exactly the planted boilerplate bigrams with exact counts") {
      import org.apache.spark.sql.{functions => F}
      val docs = TextOps.withPlantedBoilerplate(
        graft.model.Tables.documents(spark, "/root/testdata/sf0.001"))
      val out = TextOps.frequentBigrams(docs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // expected: the 15 consecutive bigrams of the 16-token boilerplate,
      // recomputed exactly (plus any organic bigram crossing the threshold
      // — none at this skew by construction)
      val bt = TextOps.BoilerplateText.split(" ")
      val planted = bt.init.zip(bt.tail).map { case (a, b) => s"$a $b" }.toSet
      planted.subsetOf(out.keySet) shouldBe true
      // exact recount: compare each planted bigram's count to a direct agg
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(F.col("doc_id")).orderBy(F.col("pos"))
      val exact = docs
        .select(F.col("doc_id"), F.posexplode(F.split(F.col("text"), " ")).as(Seq("pos", "tok")))
        .select(F.col("doc_id"), F.col("tok"), F.lead(F.col("tok"), 1).over(w).as("tok1"))
        .filter(F.col("tok1").isNotNull)
        .select(F.concat_ws(" ", F.col("tok"), F.col("tok1")).as("bigram"))
        .groupBy("bigram").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      out.foreach { case (bg, c) => c shouldBe exact(bg) }
    }

    it("rejects a threshold at or below the MG guarantee") {
      an[IllegalArgumentException] should be thrownBy
        TextOps.frequentBigrams(docsDf(Seq(1L -> "a b")), k = 9, minPpm = 100000L)
    }
  }

  describe("tfidfTopTerms") {
    it("ranks terms by count x smooth IDF with token tie-break") {
      val docs = docsDf(Seq(
        1L -> "apple apple banana", // apple: rare + doubled → top term
        2L -> "banana cherry",
        3L -> "banana cherry"))
      val out = TextOps.tfidfTopTerms(docs, k = 2).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3))).toMap
      def idf(df: Int) = math.log(4.0 / (1.0 + df)) + 1.0
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      out((1L, 1)) shouldBe (("apple", r6(2 * idf(1))))
      out((1L, 2)) shouldBe (("banana", r6(1 * idf(3))))
      // docs 2 and 3 are identical: cherry (df=2) outranks banana (df=3)
      out((2L, 1))._1 shouldBe "cherry"
      out((2L, 2))._1 shouldBe "banana"
    }
  }

  describe("vocabCoverage") {
    it("reports per-doc OOV fraction against the deterministic top-V vocab") {
      val docs = docsDf(Seq(
        1L -> "x x x y y z", // vocab(2) = {x, y}; z is OOV
        2L -> "x q r"))
      val out = TextOps.vocabCoverage(docs, vocabSize = 2).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      out(1L) shouldBe ((6L, 1L, 0.166667))
      out(2L) shouldBe ((3L, 2L, 0.666667))
    }

    it("breaks count ties by token order") {
      // all counts equal: vocab(2) must be the lexicographically first two
      val docs = docsDf(Seq(1L -> "c b a"))
      val out = TextOps.vocabCoverage(docs, vocabSize = 2).collect()(0)
      out.getLong(2) shouldBe 1L // only "c" is OOV
    }
  }

  describe("corpusManifest") {
    import spark.implicits._
    def md(rows: Seq[(Long, String, String, Long)]) =
      rows.toDF("doc_id", "text", "source", "n_chars")
    val base = Seq((1L, "aa bb", "s1", 5L), (2L, "cc", "s1", 2L), (3L, "dd", "s2", 2L))

    it("digest is partitioning- and order-independent") {
      val a = TextOps.corpusManifest(md(base)).collect().map(_.toSeq).toSet
      val b = TextOps.corpusManifest(md(base.reverse).repartition(7))
        .collect().map(_.toSeq).toSet
      a shouldBe b
    }

    it("a one-character change moves the digest, nothing else") {
      val a = TextOps.corpusManifest(md(base)).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      val b = TextOps.corpusManifest(md(base.updated(0, (1L, "aa bc", "s1", 5L))))
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      a("s1") should not be b("s1")
      a("s2") shouldBe b("s2")
    }
  }

  describe("phraseSearch") {
    it("counts adjacent repeats and ignores split words") {
      val docs = docsDf(Seq(
        1L -> "hash join hash join x", // two occurrences
        2L -> "hash q join",           // split — no match
        3L -> "join hash",             // wrong order — no match
        4L -> "y hash join"))          // one occurrence
      val got = TextOps.phraseSearch(
        TextOps.positionalIndexOf(docs), Seq(1 -> "hash join")).collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      got shouldBe Map(1L -> 2L, 4L -> 1L)
    }

    it("matches a 3-word phrase only at full consecutive runs") {
      val docs = docsDf(Seq(
        1L -> "customer order merge done",
        2L -> "customer order x merge"))
      val got = TextOps.phraseSearch(
        TextOps.positionalIndexOf(docs), Seq(3 -> "customer order merge"))
        .collect().map(r => r.getLong(1)).toSeq
      got shouldBe Seq(1L)
    }
  }

  describe("packEfficiencyReport") {
    it("matches the hand-computed fill and split counts across a block boundary") {
      // 5 docs × 4 tokens, budget 10, blockSpan 4 (docs 4-5 in block 1):
      // starts 0,4,8,12,16 → bins 0,0,0,1,1; only the start-8 doc
      // straddles (8%10+4 > 10); fill = 20/(2·10) = 1.0
      val docs = docsDf((1L to 5L).map(_ -> "a b c d"))
      val r = TextOps.packEfficiencyReport(
        docs, nShards = 1, tokenBudget = 10, blockSpan = 4).collect()(0)
      r.getLong(1) shouldBe 2L // n_bins
      r.getLong(2) shouldBe 5L // n_docs
      r.getLong(3) shouldBe 1L // split_docs
      r.getLong(4) shouldBe 20L // total_tokens
      r.getDouble(5) shouldBe 1.0 +- 1e-9
    }

    it("a document longer than the budget still counts the windows it spans") {
      // one 25-token doc then one 5-token doc, budget 10: the long doc
      // spans windows 0-2 with no doc STARTING in window 1, so a
      // start-bin count would report n_bins=2 and fill_ratio=1.5; the
      // token-total ceil reports 3 full windows, fill exactly 1.0
      val docs = docsDf(Seq(1L -> ("t " * 25).trim, 2L -> ("u " * 5).trim))
      val r = TextOps.packEfficiencyReport(
        docs, nShards = 1, tokenBudget = 10, blockSpan = 4).collect()(0)
      r.getLong(1) shouldBe 3L // n_bins
      r.getLong(4) shouldBe 30L // total_tokens
      r.getDouble(5) shouldBe 1.0 +- 1e-9
    }

    it("is invariant to the block span (the two-level prefix sum is exact)") {
      val docs = docsDf((1L to 40L).map(i => i -> ("t " * (i % 7 + 1).toInt).trim))
      def rows(span: Long) = TextOps.packEfficiencyReport(
        docs, nShards = 4, tokenBudget = 25, blockSpan = span)
        .collect().map(_.toSeq).toSet
      rows(4L) shouldBe rows(1024L)
    }
  }

  describe("retrievalNdcgReport") {
    it("scores 1.0 for every system when the ideal order is forced") {
      // qrels: d1 rel=2, d2 rel=1, d3 rel=0 — every ranker puts d1 first
      val docs = docsDf(Seq(1L -> "cat dog", 2L -> "cat filler", 3L -> "bird"))
      val got = TextOps.retrievalNdcgReport(docs, Seq(1 -> Seq("cat", "dog")))
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
      got.keySet shouldBe Set("bm25", "ql", "rrf")
      got.values.foreach(_ shouldBe 1.0 +- 1e-9)
    }

    it("emits |queries|x3 bounded scores on a term-bearing corpus") {
      val terms = TextOps.Bm25Queries.flatMap(_._2).distinct
      val docs = docsDf((1L to 12L).map(i =>
        i -> (terms.zipWithIndex.collect {
          case (t, j) if (i + j) % 3 == 0 => t
        } :+ "filler").mkString(" ")))
      val rows = TextOps.retrievalNdcgReport(docs).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      rows.length shouldBe TextOps.Bm25Queries.length * 3
      rows.foreach { case (_, _, ndcg) =>
        ndcg should be > 0.0
        ndcg should be <= 1.0
      }
    }
  }
}
