package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.{ActivityOps, TextOps}
import graft.streaming.{ActivityStream, StreamingDedupIndex, StreamingTextIngest}

/** The shape both streaming workloads share: a file source fed by an
  * open-loop generator, set up once, then an open-loop phase of `seconds`
  * and the drain of a backlog published at once in files of
  * `backlogFileRows`: after the open loop or, with `drainFirst`, as it
  * starts.
  */
abstract class StreamWorkload {
  def tickMs: Double
  def name: String
  /** Rows per published backlog file. */
  def backlogFileRows: Int
  /** Publish the backlog as the open loop starts rather than after it. */
  def drainFirst: Boolean
  /** Micro-batches of one warm-up file each after set-up, for half of
    * `seconds`, at least one; none if false.
    */
  def warmsUp: Boolean = true
  /** Open-loop micro-batches a run has at least: the open loop goes on
    * past `seconds` until they have run.
    */
  def minLoopBatches: Int = 0

  /** Starts the streaming query over `feed`. */
  def start(spark: SparkSession, a: Args, feed: FeedDir, dir: String, tracer: Tracer): StreamingQuery
  /** The lines of feed file `k` with `n` rows created at `createdMs`. */
  def lines(a: Args, k: Long, n: Int, createdMs: Long): Seq[String]
  /** After the open loop and the drain: checks and workload records.
    * `openLoop` is (its start, the due time of its last file).
    */
  def finish(spark: SparkSession, a: Args, rec: Record, feed: FeedDir, dir: String,
      q: StreamingQuery, openLoop: (Double, Double)): Unit

  /** Waits, after the open loop's files are processed, for work the query
    * still owes them before the drain is published.
    */
  protected def settle(q: StreamingQuery): Unit = ()

  /** Forgets what earlier queries' sinks recorded. */
  def reset(): Unit

  private var files = 0L
  private def nextFile(): Long = { files += 1; files }

  /** In a traced run with `minLoopBatches`: the first micro-batch to trace
    * and what turns tracing on, so that it starts at a micro-batch boundary.
    */
  @volatile private var traceFrom = Long.MaxValue
  @volatile private var startTrace: () => Unit = () => ()

  /** The sink calls this as micro-batch `id` starts. */
  protected def batchStarting(id: Long): Unit =
    if (id >= traceFrom) { traceFrom = Long.MaxValue; startTrace() }

  /** Publishes `rows` rows in files of `backlogFileRows`, created now;
    * returns the publication time. The files are dated a second back, so
    * the file source, which takes the oldest files first, reads them
    * before any open-loop file published in the same millisecond.
    */
  private def publishBacklog(a: Args, feed: FeedDir, rows: Int, tag: String): Double = {
    val created = Common.nowMs().toLong
    val dated = java.nio.file.attribute.FileTime.fromMillis(created - 1000)
    val staged = (0 until math.max(1, rows / backlogFileRows)).map { i =>
      Files.setLastModifiedTime(
        feed.stageFile(f"$tag-$i%05d.json", lines(a, nextFile(), backlogFileRows, created)), dated)
    }
    val t0 = Common.nowMs()
    staged.foreach(feed.publish)
    t0
  }

  /** A fresh streaming query (new feed, checkpoint and sink state) that
    * has committed its first micro-batch, over one warm-up file.
    */
  private def setUp(spark: SparkSession, a: Args, k: String, tracer: Tracer)
      : (FeedDir, String, StreamingQuery) = {
    val dir = s"${a.work}/$name-$k"
    val feed = new FeedDir(dir)
    reset()
    val q = start(spark, a, feed, dir, tracer)
    warmBatch(a, feed, q)
    (feed, dir, q)
  }

  /** One file of `backlogFileRows` rows, processed; returns seconds taken. */
  private def warmBatch(a: Args, feed: FeedDir, q: StreamingQuery): Double = {
    val t0 = Common.nowMs()
    feed.write(s"warm-${nextFile()}.json", lines(a, files, backlogFileRows, t0.toLong))
    q.processAllAvailable()
    (Common.nowMs() - t0) / 1000.0
  }

  /** Rows per second to drain `rows` published at `t0` as files named
    * `tag-*`: up to the end of the last micro-batch that read one of them.
    */
  private def drainRate(q: StreamingQuery, dir: String, rows: Int, t0: Double, tag: String): Double = {
    val read = sourceLog(dir, q).collect { case (b, fs) if fs.exists(_.startsWith(s"$tag-")) => b }.toSet
    val end = q.recentProgress.filter(p => read(p.batchId)).map { p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toLong
    }.max
    rows / ((end - t0) / 1000.0)
  }

  /** Publishes a backlog of `rows`, processes it and everything else
    * available; returns the drain rate.
    */
  private def drain(a: Args, feed: FeedDir, dir: String, q: StreamingQuery, rows: Int, tag: String): Double = {
    val t0 = publishBacklog(a, feed, rows, tag)
    q.processAllAvailable()
    drainRate(q, dir, rows, t0, tag)
  }

  def run(a: Args, rec: Record, tracer: Tracer): Unit = {
    // Set-up: from JVM start to the first micro-batch of the streaming
    // query committed (session start, JIT, codegen, first sink call).
    var spark = Common.session(a, a.cores)
    tracer.attach(spark)
    val (feed, dir, q) = setUp(spark, a, "run", tracer)
    val setup = (Common.nowMs() - Common.jvmStartMs) / 1000.0
    // Micro-batches of one file each for half of `seconds` (at least one)
    // before the open loop, recorded and counted in no metric: the first
    // ones after set-up run slower while the JIT catches up.
    val warmUntil = Common.nowMs() + a.seconds * 500
    val warm = mutable.ArrayBuffer.empty[Double]
    if (warmsUp) {
      warm += warmBatch(a, feed, q)
      while (Common.nowMs() < warmUntil) warm += warmBatch(a, feed, q)
    }

    // Open loop at a fixed rate; in a traced run the second half is traced.
    // The query is idle here, so the loop's micro-batches are numbered from
    // the next batch id on, the backlog's first when it is published now.
    val firstOpen = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L) + (if (drainFirst) 1 else 0)
    def openDone: Int = q.recentProgress.count(_.batchId >= firstOpen)
    val perTick = math.max(1, math.round(a.rate * tickMs / 1000).toInt)
    // The last file goes out as the last micro-batch wanted starts.
    val gen = new OpenLoop(tickMs, (k, due) =>
      (f"open-$k%06d.json", lines(a, nextFile(), perTick, due.toLong)), feed,
      () => openDone < minLoopBatches - 1)
    val cpu0 = Common.processCpuSeconds()
    val gc0 = Common.gcSeconds()
    val loopStart = Common.nowMs()
    val backlogAt = if (drainFirst) publishBacklog(a, feed, a.backlog, "backlog") else Double.NaN
    gen.begin()
    @volatile var st: SparkTrace = null
    @volatile var traceStart = Double.NaN
    val traceBatch = if (a.trace && minLoopBatches > 0) firstOpen + minLoopBatches / 2 else -1L
    def traceOn(): Unit = {
      st = SparkTrace.install(spark, tracer)
      tracer.enabled = true
      traceStart = Common.nowMs()
    }
    if (traceBatch >= 0) {
      // the second half of the open loop's micro-batches
      startTrace = () => traceOn()
      traceFrom = traceBatch
    } else if (a.trace) {
      Thread.sleep((a.seconds * 500).toLong)
      traceOn()
    }
    gen.runFor(a.seconds)
    val loopEnd = Common.nowMs()
    q.processAllAvailable()
    settle(q)
    val rate =
      if (drainFirst) drainRate(q, dir, a.backlog, backlogAt, "backlog")
      else drain(a, feed, dir, q, a.backlog, "backlog")
    val drainEnd = Common.nowMs()
    if (st != null) {
      SparkTrace.uninstall(spark, st)
      st.finish()
      tracer.enabled = false
    }
    val files = gen.files.synchronized(gen.files.toList)
    rec.attempted += files.map(_.rows).sum + a.backlog
    rec.fields ++= Seq(
      "setup_s" -> setup,
      "warm_batch_s" -> warm.toSeq,
      "throughput_per_s" -> rate,
      "loop" -> Map("start" -> loopStart, "end" -> loopEnd, "drain_end" -> drainEnd,
        "trace_start" -> traceStart, "trace_batch" -> traceBatch),
      "gen_late_ms" -> files.map(f => f.writtenMs - f.createdMs),
      "cpu_s" -> (Common.processCpuSeconds() - cpu0), "gc_s" -> (Common.gcSeconds() - gc0),
      "progress" -> q.recentProgress.toSeq.map(progress),
      "files_per_batch" -> filesPerBatch(dir, q))
    Common.OldGen.sample()
    finish(spark, a, rec, feed, dir, q, (loopStart, files.map(_.createdMs).max))
    q.stop()
    Common.OldGen.sample()

    if (a.trace) {
      // Single-core baseline: the same drain at local[1].
      spark.stop()
      spark = Common.session(a, 1)
      tracer.attach(spark)
      val (f1, d1, q1) = setUp(spark, a, "local1", tracer)
      val rate1 = drain(a, f1, d1, q1, a.backlog, "backlog1")
      q1.stop()
      rec.layers("exec.parallel_speedup") = rate / rate1
    }
    spark.stop()
  }

  private def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    val so = p.stateOperators.headOption
    Map(
      "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong },
      "state_rows" -> so.map(_.numRowsTotal).getOrElse(0L),
      "state_bytes" -> so.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> so.map(_.commitTimeMs).getOrElse(0L),
      "watermark" -> Option(p.eventTime.get("watermark"))
        .map(w => java.time.Instant.parse(w).toEpochMilli.toDouble).getOrElse(0.0))
  }

  /** Feed files per micro-batch, from the file source's own log. The log
    * counts only the batches that took new files, so its entries are
    * keyed here by the query batch whose end offset they are. Every tenth
    * entry is compacted (`N.compact` lists the files of entries 0..N).
    */
  def sourceLog(dir: String, q: StreamingQuery): Map[Long, Seq[String]] = {
    val offset = "\"logOffset\":(\\d+)".r
    val path = "\"path\":\"([^\"]+)\"".r
    val batchOf = q.recentProgress.toSeq
      .flatMap(p => offset.findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong -> p.batchId))
      .groupBy(_._1).map { case (o, bs) => o -> bs.map(_._2).min }
    val logFiles = Option(Paths.get(dir, "ckpt", "sources", "0").toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
    val listed = logFiles.flatMap { f =>
      "^(\\d+)(\\.compact)?$".r.findFirstMatchIn(f.getName).map { m =>
        m.group(1).toLong -> Files.readAllLines(f.toPath).asScala.toSeq.drop(1)
          .flatMap(l => path.findFirstMatchIn(l).map(_.group(1)))
          .map(p => p.substring(p.lastIndexOf('/') + 1))
      }
    }.sortBy(_._1)
    val seen = mutable.Set.empty[String]
    listed.flatMap { case (id, fs) =>
      val own = fs.filterNot(seen)
      seen ++= fs
      batchOf.get(id).map(_ -> own)
    }.toMap
  }

  private def filesPerBatch(dir: String, q: StreamingQuery): Map[String, Int] =
    sourceLog(dir, q).map { case (b, fs) => b.toString -> fs.size }
}

/** The paper's pipeline: reference-shaped `user_activity` JSON files →
  * file source → `ActivityStream.parseAndClean` → `aggPipeline` (event-time
  * windowed counts under a watermark, append mode) → a sink that collects
  * each micro-batch's closed windows.
  */
object ActivityWorkload extends StreamWorkload {
  val name = "activity"
  val tickMs = 100.0
  val backlogFileRows = 5000
  val drainFirst = false
  /** Short windows so that a run of a few seconds closes many of them:
    * every window's rows are emitted together, so the windows, not the
    * rows, are the latency samples that differ.
    */
  val WindowMs = 200L
  val WatermarkMs = 1000L
  val cfg = ActivityStream.Config(watermark = "1 second", windowDuration = "200 milliseconds")

  /** (emitted at epoch ms, id, event_type, window start ms, window end ms, count). */
  val emitted = new ConcurrentLinkedQueue[(Double, String, String, Long, Long, Long)]()

  def reset(): Unit = emitted.clear()

  def lines(a: Args, k: Long, n: Int, createdMs: Long): Seq[String] =
    Inputs.activity(a.seed, k, n, createdMs)

  def start(spark: SparkSession, a: Args, feed: FeedDir, dir: String, tracer: Tracer): StreamingQuery = {
    val raw = spark.readStream.format("text").load(feed.src.toString)
    val agg = ActivityStream.aggPipeline(ActivityStream.parseAndClean(raw), cfg)
    agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        tracer.span(s"batch $id", "batch", newTrace = true) { _ =>
          val rows = tracer.span("sink", "sink")(_ => df.collect())
          val t = Common.nowMs()
          rows.foreach(r => emitted.add((t, r.getString(0), r.getString(1),
            r.getTimestamp(2).getTime, r.getTimestamp(3).getTime, r.getLong(4))))
        }
      }
      .start()
  }

  /** The batch after the open loop's last one is a no-data batch that
    * emits the windows its watermark closed: waits for it (at most 5 s),
    * so that they are not held back behind the drain.
    */
  override protected def settle(q: StreamingQuery): Unit = {
    val deadline = Common.nowMs() + 5000
    while (q.lastProgress.numInputRows > 0 && Common.nowMs() < deadline) Thread.sleep(10)
  }

  def finish(spark: SparkSession, a: Args, rec: Record, feed: FeedDir, dir: String,
      q: StreamingQuery, openLoop: (Double, Double)): Unit = {
    // Close every window: two future-dated events move the watermark past
    // all generated events and let the next batch emit what it closed.
    val late = Common.nowMs().toLong + 10000
    Seq(late, late + 1000).zipWithIndex.foreach { case (t, i) =>
      feed.write(s"close-$i.json", Inputs.activity(a.seed, -1 - i, 1, t))
      q.processAllAvailable()
    }
    val watermark = java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")).toEpochMilli
    val rows = emitted.asScala.toSeq
    // Reference: the batch windowed count over every event written.
    val batch = spark.read.text(feed.src.toString)
    val expected = ActivityOps.windowedCount(
      ActivityOps.filterEvents(ActivityStream.parseAndClean(batch), cfg.keepEvents),
      tsCol = "date", keyCols = Seq("id", "event_type"), windowDuration = cfg.windowDuration)
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime, r.getLong(4)))
      .filter(_._4 <= watermark)
    val got = rows.map { case (_, id, t, ws, we, c) => (id, t, ws, we, c) }
    val diff = (expected.diff(got) ++ got.diff(expected)).size
    val (loopStart, lastDue) = openLoop
    // Windows the open loop's own events close: its last file moves the
    // watermark to that file's time minus the watermark delay; later
    // windows wait for the drain.
    val lat = rows.collect {
      case (t, _, _, _, we, _) if we >= loopStart + WindowMs && we <= lastDue - WatermarkMs =>
        (t - we) / 1000.0
    }
    rec.fields ++= Seq(
      "latency_s" -> lat,
      "check" -> Map("expected_rows" -> expected.size, "emitted_rows" -> got.size,
        "mismatched_rows" -> diff, "watermark_ms" -> watermark))
  }
}

/** Writes and reads on one growing index: document files → file source →
  * a sink that runs both maintainers (`StreamingTextIngest.processBatch`,
  * `StreamingDedupIndex.processBatchCore`) and then serves a fixed query
  * set from the index just written.
  */
object IndexWorkload extends StreamWorkload {
  val name = "index"
  val tickMs = 2000.0
  val backlogFileRows = 50
  /** A micro-batch takes about as long whatever its size, so the backlog
    * lands as the open loop starts and its one micro-batch runs while the
    * generator keeps its schedule (a backlog after the loop would add a
    * micro-batch to every run). That micro-batch is also the warm-up of
    * the open-loop ones, the latency and cycle samples.
    */
  val drainFirst = true
  override val warmsUp = false
  /** A micro-batch takes about 6 s on 4 cores, so `seconds` alone would
    * give one or two of them.
    */
  override val minLoopBatches = 3

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("created_ms", LongType)))

  final case class BatchRec(id: Long, textS: Double, dedupS: Double, commitMs: Double)
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  /** (batch id, serve name, latency s, read s, rank s, rows). */
  val serves = new ConcurrentLinkedQueue[(Long, String, Double, Double, Double, Seq[Seq[Any]])]()
  private var docs: Inputs.Docs = _

  def reset(): Unit = { serves.clear(); batches.clear() }

  def lines(a: Args, k: Long, n: Int, createdMs: Long): Seq[String] = docs.next(n, createdMs)

  private def timed[T](f: => T): (T, Double) = {
    val t0 = Common.nowMs()
    val r = f
    (r, (Common.nowMs() - t0) / 1000.0)
  }

  private def serve(spark: SparkSession, id: Long, idx: String, tracer: Tracer): Unit = {
    type Ranker = (DataFrame, DataFrame, DataFrame) => DataFrame
    val rankers: Seq[(String, Ranker)] = Seq(
      "bm25_topk" -> ((p, d, _) => TextOps.bm25TopKFromIndex(p, d)),
      "ql_topk" -> ((p, d, _) => TextOps.qlTopKFromIndex(p, d)),
      "phrase_search" -> ((_, _, pos) => TextOps.phraseSearch(pos)))
    rankers.foreach { case (n, rank) =>
      tracer.span(s"serve $n", "serve") { _ =>
        val t0 = Common.nowMs()
        val ((p, d, pos), readS) = timed(tracer.span("serve.read", "serve.read") { _ =>
          (StreamingTextIngest.readPostings(spark, idx), StreamingTextIngest.readDoclens(spark, idx),
            StreamingTextIngest.readPositions(spark, idx))
        })
        val (rows, rankS) = timed(tracer.span("serve.rank", "serve.rank")(_ => rank(p, d, pos).collect()))
        serves.add((id, n, (Common.nowMs() - t0) / 1000.0, readS, rankS,
          rows.toSeq.map(_.toSeq)))
      }
    }
  }

  def start(spark: SparkSession, a: Args, feed: FeedDir, dir: String, tracer: Tracer): StreamingQuery = {
    docs = new Inputs.Docs(a.docs)
    spark.readStream.schema(docSchema).json(feed.src.toString)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        batchStarting(id)
        tracer.span(s"batch $id", "batch", newTrace = true) { _ =>
          val (_, textS) = timed(tracer.span("maint.text", "maintainer")(_ =>
            StreamingTextIngest.processBatch(df, id, s"$dir/index/text")))
          val (_, dedupS) = timed(tracer.span("maint.dedup", "maintainer")(_ =>
            StreamingDedupIndex.processBatchCore(df, id, s"$dir/index/dedup")))
          batches.add(BatchRec(id, textS, dedupS, Common.nowMs()))
          serve(df.sparkSession, id, s"$dir/index/text", tracer)
        }
      }
      .start()
  }

  def finish(spark: SparkSession, a: Args, rec: Record, feed: FeedDir, dir: String,
      q: StreamingQuery, openLoop: (Double, Double)): Unit = {
    val created = "\"created_ms\":(\\d+)".r
    val fileCreated = Option(feed.src.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .map { f =>
        val ls = Files.readAllLines(f.toPath).asScala
        f.getName -> (created.findFirstMatchIn(ls.head).map(_.group(1).toDouble).getOrElse(0.0), ls.size)
      }.toMap
    val log = sourceLog(dir, q)
    val commit = batches.asScala.map(b => b.id -> b.commitMs).toMap
    // Latency of each open-loop document: creation to both maintainers committed.
    val lat = log.toSeq.flatMap { case (b, fs) =>
      fs.filter(_.startsWith("open-")).flatMap { f =>
        val (c, n) = fileCreated(f)
        commit.get(b).map(t => Seq.fill(n)((t - c) / 1000.0)).getOrElse(Nil)
      }
    }
    val (bytes, nfiles) = Common.dirStats(new java.io.File(s"$dir/index"))
    val bs = batches.asScala.toSeq
    val sv = serves.asScala.toSeq
    rec.fields ++= Seq(
      "latency_s" -> lat,
      "maint" -> bs.map(b => Map("batch" -> b.id, "text_s" -> b.textS, "dedup_s" -> b.dedupS,
        "commit_ms" -> b.commitMs)),
      "serves" -> sv.map { case (b, n, s, r, k, rows) =>
        Map("batch" -> b, "name" -> n, "latency_s" -> s, "read_s" -> r, "rank_s" -> k, "rows" -> rows)
      },
      "source_log" -> log.map { case (b, fs) => b.toString -> fs },
      "open_batches" -> log.collect { case (b, fs) if fs.nonEmpty && fs.forall(_.startsWith("open-")) => b }
        .toSeq.sorted,
      "src_dir" -> feed.src.toString,
      "oracle_sql" -> Seq("bm25_topk", "ql_topk", "phrase_search")
        .map(n => n -> graft.SparkEntry.oracleSql(n)).toMap,
      "index_bytes" -> bytes, "index_files" -> nfiles)
    rec.attempted += sv.size
  }
}
