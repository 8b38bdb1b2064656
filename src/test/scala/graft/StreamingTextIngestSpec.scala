package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.TextOps
import graft.streaming.StreamingTextIngest

/** The streamed inverted index end to end: BM25 served from the
  * accumulated postings/doclen tables equals the inline batch build over
  * everything ingested, crash-retries are exactly-once, and cold start
  * needs no seed.
  */
class StreamingTextIngestSpec extends AnyFunSpec with Matchers with SparkSessionTestWrapper
    with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("scan"))

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  private val b0 = Seq(1L -> "hash join scan table", 2L -> "join join filter")
  private val b1 = Seq(3L -> "scan scan hash", 4L -> "window agg")
  private val b2 = Seq(5L -> "hash hash join scan scan scan")

  it("from-index serving equals the inline batch build over the full stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sti").toString
    val (idxDir, ckpt) = (s"$dir/index", s"$dir/ckpt")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingTextIngest.start(mem.toDS().toDF("doc_id", "text"), idxDir, ckpt)
    try {
      Seq(b0, b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val p = StreamingTextIngest.readPostings(spark, idxDir)
    val d = StreamingTextIngest.readDoclens(spark, idxDir)
    val all = docsDf(b0 ++ b1 ++ b2)
    // the one streamed index serves the whole hybrid stack
    ranked(TextOps.bm25TopKFromIndex(p, d, queries)) shouldBe
      ranked(TextOps.bm25TopK(all, queries))
    ranked(TextOps.qlTopKFromIndex(p, d, queries)) shouldBe
      ranked(TextOps.qlTopK(all, queries))
    ranked(TextOps.rrfFusionFromIndex(p, d, queries)) shouldBe
      ranked(TextOps.rrfFusion(all, queries))
    ranked(TextOps.bm25TopKFromIndex(p, d, queries)).nonEmpty shouldBe true

    // phrase queries answer from the streamed positional table too
    val phrases = Seq(1 -> "hash join")
    val fromStream = TextOps.phraseSearch(
        StreamingTextIngest.readPositions(spark, idxDir), phrases)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toSet
    val inlinePhrase = TextOps.phraseSearch(
        TextOps.positionalIndexOf(all), phrases)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toSet
    fromStream shouldBe inlinePhrase
    fromStream.nonEmpty shouldBe true
  }

  it("a tok-bucketed postings layout prunes term lookups to their buckets") {
    // the 100 TB layout the scaladoc promises: postings bucketed by tok
    // mean each query term reads ONLY its own buckets — pruning visible
    // in the scan node — and term-keyed joins read postings pre-shuffled
    val p = {
      val dir = java.nio.file.Files.createTempDirectory("graft-sti-bkt").toString
      StreamingTextIngest.processBatch(docsDf(b0 ++ b1 ++ b2), 0L, dir)
      StreamingTextIngest.readPostings(spark, dir)
    }
    spark.sql("DROP TABLE IF EXISTS graft_postings_b")
    p.write.bucketBy(8, "tok").sortBy("tok").saveAsTable("graft_postings_b")
    // autoBucketedScan drops the bucketed layout for filter-only scans
    // (no join wants the partitioning); disable it to exercise pruning
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val plan = spark.table("graft_postings_b")
        .filter(org.apache.spark.sql.functions.col("tok") === "hash")
        .queryExecution.executedPlan.toString
      plan should include regex "SelectedBucketsCount: [1-7] out of 8"
    } finally spark.conf.set(conf, prev)
  }

  it("multi-term phrase search reads only the phrase words' buckets, every arm") {
    // the scale path for phraseSearch: the POSITIONAL table bucketed by
    // tok means its one scan reads only the phrase words' bucket files —
    // the plan holds exactly one bucketed scan, selecting at most one
    // bucket per word — and results must equal the unbucketed path bit
    // for bit
    val docs = docsDf(Seq(
      6L -> "customer order merge runs the customer order merge path",
      7L -> "customer count order by merge", 8L -> "unrelated text entirely"))
    val pos = TextOps.positionalIndexOf(docs)
    spark.sql("DROP TABLE IF EXISTS graft_positions_b")
    pos.write.bucketBy(8, "tok").sortBy("tok").saveAsTable("graft_positions_b")
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val phrases = Seq(3 -> "customer order merge")
      val served = TextOps.phraseSearch(spark.table("graft_positions_b"), phrases)
      val plan = served.queryExecution.executedPlan.toString
      // one pruned scan for all three phrase words
      val pruned = "SelectedBucketsCount: ([0-9]+) out of 8".r
        .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
      pruned.length shouldBe 1
      all(pruned) should be <= 3
      served.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet shouldBe
        TextOps.phraseSearch(pos, phrases)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // overlapping-adjacent repeats counted exactly (the LIKE-can't class)
      TextOps.phraseSearch(pos, phrases).filter("doc_id = 6").collect()
        .head.getLong(2) shouldBe 2L
    } finally {
      spark.conf.set(conf, prev)
      spark.sql("DROP TABLE IF EXISTS graft_positions_b")
    }
  }

  it("repeated-word phrases count overlapping and adjacent occurrences exactly, served ≡ inline") {
    // the single-scan phraseSearch fills one slot per (word, offset): a
    // repeated word fills each of its slots separately, so "join join"
    // matches twice in "join join join" (overlapping) and "hash join"
    // twice in "hash join hash join" (adjacent)
    val docs = Seq(
      10L -> "join join join", 11L -> "hash join hash join scan",
      12L -> "join hash join join", 13L -> "scan join scan join")
    val dir = java.nio.file.Files.createTempDirectory("graft-sti-phrase").toString
    StreamingTextIngest.processBatch(docsDf(docs.take(2)), 0L, dir)
    StreamingTextIngest.processBatch(docsDf(docs.drop(2)), 1L, dir)
    val phrases = Seq(1 -> "join join", 2 -> "hash join", 3 -> "hash join hash",
      4 -> "scan join scan")
    def counts(pos: org.apache.spark.sql.DataFrame) =
      TextOps.phraseSearch(pos, phrases).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val served = counts(StreamingTextIngest.readPositions(spark, dir))
    served shouldBe Set(
      (1, 10L, 2L), (1, 12L, 1L),
      (2, 11L, 2L), (2, 12L, 1L),
      (3, 11L, 1L),
      (4, 13L, 1L))
    served shouldBe counts(TextOps.positionalIndexOf(docsDf(docs)))

    // the rankers agree with the inline build on the same corpus, with a
    // query that repeats a term
    val rq = Seq(1 -> Seq("join", "join"), 2 -> Seq("hash", "scan"))
    val p = StreamingTextIngest.readPostings(spark, dir)
    val d = StreamingTextIngest.readDoclens(spark, dir)
    ranked(TextOps.bm25TopKFromIndex(p, d, rq)) shouldBe
      ranked(TextOps.bm25TopK(docsDf(docs), rq))
    ranked(TextOps.qlTopKFromIndex(p, d, rq)) shouldBe
      ranked(TextOps.qlTopK(docsDf(docs), rq))
  }

  it("the nDCG qrels count a doc's terms once when two batches ingested the doc") {
    // qrels read the postings' (doc_id, tok) pairs; a doc written by two
    // batches has each pair twice, which must not raise its relevance
    val dir = java.nio.file.Files.createTempDirectory("graft-sti-ndcg").toString
    val corpus = Seq(20L -> "hash join", 21L -> "hash scan", 22L -> "vector scan")
    StreamingTextIngest.processBatch(docsDf(corpus), 0L, dir)
    StreamingTextIngest.processBatch(docsDf(corpus.take(1)), 1L, dir)
    val index = (StreamingTextIngest.readPostings(spark, dir),
      StreamingTextIngest.readDoclens(spark, dir))
    // both "hash" docs have rel 1, so every ranking of them is ideal
    val report = TextOps.retrievalNdcgReport(docsDf(corpus), Seq(1 -> Seq("hash")),
      index = Some(index)).collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    report shouldBe Map("bm25" -> 1.0, "ql" -> 1.0, "rrf" -> 1.0)
  }

  it("a replayed batch is exactly-once: postings are not duplicated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sti-retry").toString
    StreamingTextIngest.processBatch(docsDf(b0), 0L, dir)
    StreamingTextIngest.processBatch(docsDf(b1), 1L, dir)
    val once = ranked(TextOps.bm25TopKFromIndex(
      StreamingTextIngest.readPostings(spark, dir),
      StreamingTextIngest.readDoclens(spark, dir), queries))
    StreamingTextIngest.processBatch(docsDf(b1), 1L, dir) // crash-retry
    ranked(TextOps.bm25TopKFromIndex(
      StreamingTextIngest.readPostings(spark, dir),
      StreamingTextIngest.readDoclens(spark, dir), queries)) shouldBe once
    StreamingTextIngest.readDoclens(spark, dir).count() shouldBe 4L // not 6
  }

  /** `f`'s result and the Spark jobs it started on this thread (a job
    * group tags them).
    */
  private def withJobs[T](f: => T): (T, Int) = {
    val group = s"jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val result = try f
    finally {
      sc.clearJobGroup()
      // the listener bus delivers events asynchronously (private[spark] API)
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      sc.removeSparkListener(listener)
    }
    (result, jobs.get)
  }

  it("a from-index BM25 or QL serve is one shuffle, no broadcast, and at most two jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sti-plan").toString
    StreamingTextIngest.processBatch(docsDf(b0 ++ b1), 0L, dir)
    StreamingTextIngest.processBatch(docsDf(b2), 1L, dir)
    val p = StreamingTextIngest.readPostings(spark, dir)
    val d = StreamingTextIngest.readDoclens(spark, dir)
    Seq(TextOps.bm25TopKFromIndex(p, d, queries), TextOps.qlTopKFromIndex(p, d, queries))
      .foreach { serve =>
        val (rows, jobs) = withJobs(serve.collect())
        jobs should be <= 2
        rows.length shouldBe 7
        val plan = serve.queryExecution.executedPlan
        collect(plan) { case e: ShuffleExchangeExec => e }.size shouldBe 1
        collect(plan) { case e: BroadcastExchangeExec => e } shouldBe empty
      }
  }

  it("cold start serves empty without a seeded index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sti-cold").toString
    TextOps.bm25TopKFromIndex(
      StreamingTextIngest.readPostings(spark, dir),
      StreamingTextIngest.readDoclens(spark, dir), queries).count() shouldBe 0L
  }
}
