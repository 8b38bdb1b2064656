package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch ms (`Common.nowMs`), `parent` 0 is
  * the root, and spans of one operation share `trace`.
  */
final class Span(
    val id: Long, val trace: Long, val parent: Long,
    val name: String, val layer: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double]

  def toMap: Map[String, Any] = Map("id" -> id, "trace" -> trace, "parent" -> parent,
    "name" -> name, "layer" -> layer, "start" -> start, "end" -> end, "attrs" -> attrs)
}

/** Spans kept in memory and written out with the run's record. The harness
  * opens spans around its calls into the program; `SparkTrace` adds the
  * job, stage and planning spans underneath them. When disabled, `span`
  * only runs its body.
  */
final class Tracer {
  /** Spans are recorded only while this is set (the traced phase). */
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  @volatile private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = spark = s
  def nextId(): Long = ids.incrementAndGet()

  /** The root span of the run; every other span descends from it. */
  lazy val root: Span = {
    val s = new Span(nextId(), 0L, 0L, "run", "run", Common.nowMs())
    spans.add(s)
    s
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def span[T](name: String, layer: String, newTrace: Boolean = false)(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val parent = Option(current.get).getOrElse(root)
      val id = nextId()
      val s = new Span(id, if (newTrace || parent.trace == 0L) id else parent.trace,
        parent.id, name, layer, Common.nowMs())
      spans.add(s)
      val sc = Option(spark).map(_.sparkContext)
      current.set(s)
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try body(s)
      finally {
        s.end = Common.nowMs()
        s.attrs("codegen_s") = (CodeGenerator.compileTime - cg0) / 1e9
        s.attrs("codegen_classes") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble
        current.set(if (parent eq root) null else parent)
        sc.foreach(_.setLocalProperty(Tracer.SpanKey,
          if (parent eq root) null else parent.id.toString))
      }
    }

  def all: Seq[Span] = {
    root.end = Common.nowMs()
    spans.asScala.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark-side spans: one per job (parented on the harness span whose id
  * the submitting thread carried) and one per stage (parented on its
  * job), plus Catalyst phase spans from each finished query execution.
  * Registered only in traced runs.
  */
final class SparkTrace(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val taskFails = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
  /** Catalyst phases, attributed by time when the trace is written. */
  val planPhases = new ConcurrentLinkedQueue[(String, Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(tracer.root.id)
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("")
    val s = new Span(tracer.nextId(), 0L, parent, s"job ${e.jobId}", "job", e.time.toDouble)
    s.attrs("stages") = e.stageIds.size.toDouble
    s.attrs("ckpt") = if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint")) 1.0 else 0.0
    jobs(e.jobId) = s
    // a stage runs in the latest job that lists it (earlier ones skipped it)
    e.stageIds.foreach(id => stageJob(id) = s)
    tracer.add(s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { s =>
      s.end = e.time.toDouble
      s.attrs("failed") = if (e.jobResult == JobSucceeded) 0.0 else 1.0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskTimes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
    if (!e.taskInfo.successful) taskFails(key) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val parent = stageJob.get(si.stageId).map(_.id).getOrElse(tracer.root.id)
    val start = si.submissionTime.getOrElse(0L).toDouble
    val s = new Span(tracer.nextId(), 0L, parent, s"stage ${si.stageId}.${si.attemptNumber()}",
      "stage", start)
    s.end = si.completionTime.map(_.toDouble).getOrElse(start)
    val m = si.taskMetrics
    val key = (si.stageId, si.attemptNumber())
    val times = taskTimes.remove(key).getOrElse(mutable.ArrayBuffer.empty[Double])
    s.attrs ++= Seq(
      "tasks" -> si.numTasks.toDouble,
      "task_run_s" -> m.executorRunTime / 1000.0,
      "task_cpu_s" -> m.executorCpuTime / 1e9,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
      "task_failures" -> taskFails.remove(key).getOrElse(0).toDouble,
      "skew" -> (if (times.size < 2) 1.0 else {
        val med = Common.median(times.toSeq)
        if (med <= 0) 1.0 else times.max / med
      }))
    tracer.add(s)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      planPhases.add((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  /** Adds the Catalyst phase spans, each under the innermost harness span
    * (not job or stage) that contains its start.
    */
  def finish(): Unit = {
    val harness = tracer.spans.asScala.toSeq
      .filter(s => s.layer != "job" && s.layer != "stage" && s.layer != "plan")
    planPhases.asScala.foreach { case (phase, st, en) =>
      val host = harness.filter(h => h.start <= st && (h.end.isNaN || st <= h.end))
        .sortBy(h => -h.start).headOption.getOrElse(tracer.root)
      val s = new Span(tracer.nextId(), host.trace, host.id, phase, "plan", st)
      s.end = en
      tracer.add(s)
    }
  }
}

object SparkTrace {
  def install(spark: SparkSession, tracer: Tracer): SparkTrace = {
    val t = new SparkTrace(tracer)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def uninstall(spark: SparkSession, t: SparkTrace): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }
}
