package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","raw","errors","sf"}.
  *
  * Methodology: two interleaved passes (all queries once, then again for any
  * query over 1 s), plus a third rep for anything still over 5 s; report the
  * per-query minimum. This container shows heavy, bursty futex-syscall
  * overhead (measured ~24 µs per lock handoff, episodes of sys-time ≈
  * wall-time that land on random queries); min-of-reps measures the engine
  * rather than whichever query a host-noise episode hit, and `raw` exposes
  * every rep so a reader can tell a noise episode from a plan regression.
  * Pass 1 also absorbs JIT/codegen warm-up exactly once.
  *
  * Failures are LOUD: a throwing query is recorded under `errors` (not a
  * silent ~0 s timing) and the process exits non-zero.
  *
  * Cache hygiene: several operators persist() intermediate tables (signature
  * tables reused by self-joins). A long-lived bench session accumulating one
  * leaked cache per query per rep degrades later queries (round-2's
  * embedding_lsh_pairs ran 70-112 s in-bench vs 2.4 s in a fresh JVM), so
  * every rep ends with spark.catalog.clearCache().
  *
  * JVM health per rep (heap_mb = used heap after the rep, gc_ms = collector
  * time spent during the rep) is emitted alongside `raw`, so an in-bench
  * degradation is attributable from the artifact alone: rising heap_mb with
  * ballooning gc_ms = a leak; flat heap with high wall = host noise.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    case class Rep(sec: Double, err: Option[String], heapMb: Long, gcMs: Long)
    def time1(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Rep = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      // never carry cached plans into the next rep/query (see scaladoc)
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      val rt = Runtime.getRuntime
      Rep(sec, err, (rt.totalMemory - rt.freeMemory) >> 20, gcMillis() - gc0)
    }
    // Two FULL interleaved passes, then a targeted third: host-noise
    // episodes here span seconds, so back-to-back reps of one query land in
    // the same episode and min-of-reps can't remove it. Interleaving whole
    // passes separates a query's reps by the rest of the suite — an episode
    // inflates different queries in each pass and the per-query min stays
    // clean. Pass 3 re-times only queries whose two samples still disagree
    // >1.5× (both hit noise) or whose best is >5 s (episode dominates).
    // optional args = time only these queries (local pin calibration; the
    // driver passes no args so its run stays exhaustive)
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"Bench: unknown query name(s) ${unknown.mkString(", ")} — a typo here " +
        "would silently time nothing and skip the calibration it was asked for")
    val qlist = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    val pass1 = qlist.map { case (name, fn) => name -> time1(fn) }.toMap
    val pass2 = qlist.flatMap { case (name, fn) =>
      if (pass1(name).err.isEmpty) Some(name -> time1(fn)) else None
    }.toMap
    val pass3 = qlist.flatMap { case (name, fn) =>
      pass2.get(name).map { r2 =>
        val lo = math.min(pass1(name).sec, r2.sec)
        val hi = math.max(pass1(name).sec, r2.sec)
        (name, fn, r2.err.isEmpty && (hi / math.max(lo, 1e-9) > 1.5 || lo > 5.0))
      }
    }.collect { case (name, fn, true) => name -> time1(fn) }.toMap
    val reps0 = qlist.map { case (name, _) =>
      name -> (Vector(pass1(name)) ++ pass2.get(name) ++ pass3.get(name))
    }
    // Committed per-query pins, needed here for the pin-retry pass below.
    val budgetPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "bench_budget.json"))
    val budgets: Map[String, Double] =
      if (java.nio.file.Files.exists(budgetPath)) {
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(budgetPath))
          node.fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
        } catch { case e: Throwable =>
          System.err.println(s"[bench] unreadable $budgetPath: $e"); Map.empty }
      } else Map.empty
    // PIN-RETRY passes: a contention episode lasting minutes spans BOTH
    // interleaved passes of one query — its reps come back slow but
    // CONSISTENT (the >1.5x pass-3 trigger never fires, the noise marker
    // stays silent) and the pin flags a regression that is not there
    // (observed: six consecutive runs at 203-226s suite total vs the
    // 184-189s quiet baseline, each flagging a DIFFERENT 1-4 queries
    // whose isolated floors were unchanged). Automate the documented
    // "re-run before believing a regression" discipline: up to two more
    // interleaved passes over only the still-over-pin queries, temporally
    // distant from the originals. A genuine regression stays slow on
    // every retry and still lands in over_budget; an episode clears, and
    // `raw` keeps every rep (retried queries show 3-5 entries) so the
    // call is auditable from the artifact alone.
    val fnOf = qlist.toMap
    val repsM = scala.collection.mutable.LinkedHashMap(reps0: _*)
    for (_ <- 1 to 2) {
      val flagged = repsM.collect { case (n, rs)
        if rs.exists(_.err.isEmpty) &&
          budgets.get(n).exists(p =>
            rs.filter(_.err.isEmpty).map(_.sec).min > p) => n }.toSeq
      flagged.foreach { n => repsM(n) = repsM(n) :+ time1(fnOf(n)) }
    }
    val reps = repsM.toSeq
    // An errored rep neither surfaces as a hard error (if ANY rep of the
    // query succeeded — a transient retry-pass failure must not turn a
    // query that was green across the primary passes into an `errors`
    // entry) nor participates in the best-of-reps min (its fast-fail wall
    // time could drop `best` below the pin and clear over_budget for the
    // wrong reason). It stays in `raw`/`heap`/`gc` for auditability.
    val errors = reps.collect { case (n, rs) if rs.forall(_.err.isDefined) =>
      n -> rs.flatMap(_.err).head }
    // All-errored queries are OMITTED from `queries`/`total_sec` (they are
    // reported in `errors` and keep their raw/heap/gc rows): publishing
    // their fast-fail wall time would make a broken query read as a fast
    // one unless the reader cross-checks `errors`.
    val best = reps.collect { case (n, rs) if rs.exists(_.err.isEmpty) =>
      n -> rs.filter(_.err.isEmpty).map(_.sec).min }
    val qs = best.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val raw = reps.map { case (k, rs) =>
      jstr(k) + ":" + rs.map(_.sec).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val heap = reps.map { case (k, rs) =>
      jstr(k) + ":" + rs.map(_.heapMb).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val gc = reps.map { case (k, rs) =>
      jstr(k) + ":" + rs.map(_.gcMs).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, e) => jstr(k) + ":" + jstr(e) }.mkString("{", ",", "}")
    // host-noise marker, judged from the artifact alone: reps disagreeing
    // >3× while heap stays flat (<1.3×) is an environment episode, not an
    // engine/plan regression (a real regression reproduces across reps; a
    // leak shows rising heap). Lets a reader separate noise from
    // regression without re-running.
    val noise = reps.collect { case (n, rs0)
      if {
        val rs = rs0.filter(_.err.isEmpty)
        rs.size >= 2 && {
        val secs = rs.map(_.sec)
        val heaps = rs.map(_.heapMb.toDouble.max(1.0))
        secs.max / math.max(secs.min, 1e-9) > 3.0 && heaps.max / heaps.min < 1.3
      }} => jstr(n) }
    val total = best.map(_._2).sum
    // Per-query regression budgets: bench_budget.json (committed) pins
    // each query, turning the round-over-round "no query regressed"
    // judgment into an artifact the bench itself emits — `over_budget`
    // lists queries whose MIN across all reps (two interleaved passes,
    // the targeted disagreement rep, and the pin-retry passes above)
    // still exceeds the pin. Warn-only: the gate reads the list, the
    // process exit code only reflects hard errors.
    val bestMap = best.toMap
    val errNames = errors.map(_._1).toSet
    val overBudget = best.collect { // all-err queries are hard errors, not pin flags
      case (n, s) if !errNames(n) && budgets.get(n).exists(s > _) => n }.toSeq.sorted
    if (overBudget.nonEmpty) System.err.println(
      s"[bench] OVER BUDGET (min of all reps incl. retries > pin): " +
        overBudget.map(n =>
          f"$n (${bestMap(n)}%.2f s > ${budgets(n)}%.2f s)").mkString(", "))
    val obJson = overBudget.map(jstr).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"raw":$raw,"heap_mb":$heap,"gc_ms":$gc,"errors":$errJson,"noise_queries":${noise.mkString("[", ",", "]")},"over_budget":$obJson,"sf":${jstr(sfDir)}}"""
    println(line)
    // The one-line artifact (queries+raw+heap+gc for 175+ queries) outgrew
    // the round driver's stdout tail capture — three consecutive rounds of
    // BENCH_rN.json arrived with "parsed": null, losing per-query history.
    // Persist the identical JSON to a file (committed per round) so the
    // record survives regardless of how much stdout the driver keeps;
    // stdout stays the driver contract.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
      java.nio.file.Files.writeString(out, line + "\n")
      System.err.println(s"[bench] json also written to ${out.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_out.json: $e")
    }
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] failed queries: ${errors.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
