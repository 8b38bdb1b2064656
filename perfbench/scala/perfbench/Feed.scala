package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A file feed into a streaming file source. Files are written to a
  * staging directory and moved into the source directory, so the source
  * never sees a partial file.
  */
final class FeedDir(root: String) {
  val src: Path = Paths.get(root, "src")
  private val stage = Paths.get(root, "stage")
  Files.createDirectories(src)
  Files.createDirectories(stage)

  /** Writes `lines` as `name` in the staging directory. */
  def stageFile(name: String, lines: Seq[String]): Path = {
    val p = stage.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  def publish(staged: Path): Unit =
    Files.move(staged, src.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE): Unit

  def write(name: String, lines: Seq[String]): Unit = publish(stageFile(name, lines))
}

/** One file the feed published: its events were created at `createdMs`
  * (the time it was due) and it landed at `writtenMs`.
  */
final case class FedFile(name: String, createdMs: Double, writtenMs: Double, rows: Int)

/** Open-loop generator thread: one file every `tickMs`, on a fixed
  * schedule that does not slow down when the system under test does. Its
  * lateness against the schedule is recorded per file. Past the end that
  * `runFor` sets, files still due while `longer` holds are written.
  */
final class OpenLoop(tickMs: Double, make: (Int, Double) => (String, Seq[String]), feed: FeedDir,
    longer: () => Boolean = () => false)
    extends Thread("perfbench-feed") {
  setDaemon(true)
  @volatile private var stopAtMs = Double.MaxValue
  val files = mutable.ArrayBuffer.empty[FedFile]
  @volatile private var failure: Throwable = _
  private var startMs = 0.0

  def begin(): Unit = { startMs = Common.nowMs(); start() }

  /** Stops after the last file due before `seconds` from the start (or
    * later, see `longer`).
    */
  def runFor(seconds: Double): Unit = {
    stopAtMs = startMs + seconds * 1000
    join()
    if (failure != null) throw failure
  }

  override def run(): Unit =
    try {
      var k = 0
      var due = startMs
      while (due < stopAtMs || longer()) {
        val wait = due - Common.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (due < stopAtMs || longer()) {
          val (name, lines) = make(k, due)
          feed.write(name, lines)
          files.synchronized(files += FedFile(name, due, Common.nowMs(), lines.size))
        }
        k += 1
        due = startMs + k * tickMs
      }
    } catch { case e: Throwable => failure = e }
}

/** Seeded inputs for the streaming workloads. */
object Inputs {
  private val ActivityTypes = Array("liked", "viewed", "bookmarked", "commented")

  private def rng(seed: Long, stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  /** `n` reference-shaped `user_activity` events (ids "1".."10", the four
    * reference event types in mixed case), all created at `createdMs`.
    */
  def activity(seed: Long, fileNo: Long, n: Int, createdMs: Long): Seq[String] = {
    val r = rng(seed, fileNo)
    (0 until n).map { i =>
      val t = ActivityTypes(r.nextInt(4))
      val typ = if (r.nextBoolean()) t.toUpperCase else t
      s"""{"id":"${r.nextInt(10) + 1}","date":$createdMs,""" +
        s""""event":{"event_type":"$typ","url":"https://example.com/p/$fileNo/$i"}}"""
    }
  }

  /** Documents for the index feed, in order: the lines of `path`
    * (`{"doc_id", "text"}` JSON, ScaleGen's corpus as `run.py` writes it),
    * each stamped with its creation time.
    */
  final class Docs(path: String) {
    private val all = Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
    private var used = 0

    def next(n: Int, createdMs: Long): Seq[String] = {
      require(used + n <= all.size, s"index feed needs more than the ${all.size} documents of $path")
      val out = all.slice(used, used + n).map(l => l.stripSuffix("}") + s""","created_ms":$createdMs}""")
      used += n
      out
    }
  }
}
