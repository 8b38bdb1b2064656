package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of the harness JVM (`run.py` passes them). */
final case class Args(
    workload: String,
    data: String,
    work: String,
    out: String,
    seconds: Double,
    seed: Long,
    trace: Boolean,
    cores: Int,
    queries: Seq[String],
    rate: Double,
    backlog: Int,
    docs: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = m("workload"),
      data = m.getOrElse("data", ""),
      work = m("work"),
      out = m("out"),
      seconds = m("seconds").toDouble,
      seed = m("seed").toLong,
      trace = m.getOrElse("trace", "0") == "1",
      cores = m.getOrElse("cores", "4").toInt,
      queries = m.get("queries").map(f => Files.readAllLines(Paths.get(f)).asScala.toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))).getOrElse(Nil),
      rate = m.getOrElse("rate", "0").toDouble,
      backlog = m.getOrElse("backlog", "0").toInt,
      docs = m.getOrElse("docs", ""))
  }
}

/** Clock, session and JVM helpers shared by the workloads. */
object Common {
  /** Wall clock in epoch milliseconds with sub-millisecond resolution: the
    * same time base as Spark's listener timestamps, so harness spans and
    * job/stage records can be nested.
    */
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Epoch ms at which this JVM started (the start of `setup_s`). */
  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0

  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  /** Old-generation occupancy after a full collection, sampled at fixed
    * points of a run (between its phases, never inside a timed one):
    * `peakMb` is the largest sample and `lastMb` the latest. Sampling at
    * fixed points rather than after every collection keeps the figure
    * independent of when the collector happens to run.
    */
  object OldGen {
    @volatile var peakMb = 0.0
    @volatile var lastMb = 0.0
    def sample(): Unit = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
        .flatMap(p => Option(p.getCollectionUsage)).foreach { u =>
          lastMb = u.getUsed / 1048576.0
          peakMb = math.max(peakMb, lastMb)
        }
    }
  }

  def dirStats(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(dirStats).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => str(other.toString)
  }
}

/** What a workload run reports back to `run.py`: raw samples, not
  * summaries, so percentiles are computed in one place.
  */
final class Record {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
  }

  def write(path: String): Unit = {
    val all = fields ++ Seq("layers" -> layers, "errors" -> errors,
      "attempted" -> attempted, "failed" -> failed)
    Files.writeString(Paths.get(path), Json.write(all))
  }
}
