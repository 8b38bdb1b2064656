package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.model.Tables

/** Closed loop over registered queries: one client, one query at a time,
  * a seeded shuffle of the order on each pass. Each operation is the
  * registry lookup, the registry-function call (compose) and a `noop`
  * write that delivers every row.
  */
object QueryWorkload {
  /** The tables the queries read. */
  private val TableLoads: Seq[(SparkSession, String) => Any] = Seq(Tables.events, Tables.documents)

  def run(a: Args, rec: Record, tracer: Tracer): Unit = {
    val names = a.queries
    require(names.nonEmpty, "no queries given")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(", ")}")

    def op(spark: SparkSession, name: String): Double = {
      val t0 = Common.nowMs()
      tracer.span(name, "query", newTrace = true) { _ =>
        val fn = tracer.span("registry.lookup", "registry")(_ => SparkEntry.queries(name))
        val df = tracer.span("compose", "compose")(_ => fn(spark, a.data))
        tracer.span("action", "action")(_ => df.write.format("noop").mode("overwrite").save())
      }
      val ms = Common.nowMs() - t0
      spark.catalog.clearCache()
      ms / 1000.0
    }

    // Set-up: from JVM start to the end of one first-touch pass over the
    // queries (session start, JIT, codegen, artifact builds).
    var spark = Common.session(a, a.cores)
    tracer.attach(spark)
    val firstTouch = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      firstTouch(n) = try op(spark, n) catch { case e: Throwable => rec.fail(s"setup $n", e); 0.0 }
    }
    val setup = (Common.nowMs() - Common.jvmStartMs) / 1000.0

    val rnd = new scala.util.Random(a.seed)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    /** Runs passes until `seconds` have elapsed; returns the latencies and
      * times of the passes that completed, so every query has as many
      * samples as any other (a cut-off pass is still checked, not counted).
      */
    def measure(seconds: Double): (Seq[Double], Seq[Double]) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val passes = mutable.ArrayBuffer.empty[Double]
      val deadline = Common.nowMs() + seconds * 1000
      while (Common.nowMs() < deadline) {
        // the model layer on its own, traced runs only: the Tables.* frames read
        if (tracer.enabled)
          tracer.span("tables.load", "model")(_ => TableLoads.foreach(_(spark, a.data)))
        val p0 = Common.nowMs()
        val pass = mutable.ArrayBuffer.empty[(String, Double)]
        tracer.span("pass", "pass") { _ =>
          rnd.shuffle(names).foreach { n =>
            if (Common.nowMs() < deadline) {
              rec.attempted += 1
              try pass += n -> op(spark, n)
              catch { case e: Throwable => rec.fail(n, e) }
            }
          }
        }
        if (pass.size == names.size) {
          passes += (Common.nowMs() - p0) / 1000.0
          pass.foreach { case (n, s) =>
            lat += s
            perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
          }
        }
      }
      (lat.toSeq, passes.toSeq)
    }

    // Between set-up and the timed loop, recorded and counted in no metric:
    // one pass that writes every query's rows for the oracle comparison in
    // run.py, then passes of the timed operation for half of `seconds`.
    // Pass times fall by a third over the first few passes after set-up
    // while the JIT catches up, and by how much varies from run to run.
    val resultsPass = rnd.shuffle(names).map { n =>
      val t0 = Common.nowMs()
      try SparkEntry.queries(n)(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${a.work}/results/$n")
      catch { case e: Throwable => rec.fail(s"result $n", e) }
      spark.catalog.clearCache()
      (Common.nowMs() - t0) / 1000.0
    }.sum
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmUntil = Common.nowMs() + a.seconds * 500
    while (Common.nowMs() < warmUntil) warm += rnd.shuffle(names).map { n =>
      try op(spark, n) catch { case e: Throwable => rec.fail(s"warm $n", e); 0.0 }
    }.sum
    val cpu0 = Common.processCpuSeconds()
    val gc0 = Common.gcSeconds()
    val measured = if (a.trace) a.seconds / 2 else a.seconds
    val (lat, passes) = measure(measured)
    Common.OldGen.sample()
    rec.fields ++= Seq(
      "setup_s" -> setup, "first_touch_s" -> firstTouch, "results_pass_s" -> resultsPass, "warm_pass_s" -> warm,
      "latency_s" -> lat, "cycle_s" -> passes,
      "ops" -> lat.size,
      "cpu_s" -> (Common.processCpuSeconds() - cpu0), "gc_s" -> (Common.gcSeconds() - gc0))
    rec.fields("per_query_s") = perQuery.map { case (n, xs) => n -> xs.toSeq }
    val steady = perQuery.map { case (n, xs) => n -> Common.median(xs.toSeq) }
    rec.layers("artifact.first_touch_s") =
      firstTouch.map { case (n, s) => math.max(0.0, s - steady.getOrElse(n, s)) }.sum

    if (a.trace) {
      // Traced phase: same loop with listeners and spans on.
      val st = SparkTrace.install(spark, tracer)
      tracer.enabled = true
      val gcT = Common.gcSeconds()
      val (tlat, tpasses) = measure(a.seconds / 2)
      SparkTrace.uninstall(spark, st)
      st.finish()
      tracer.enabled = false
      rec.fields ++= Seq("traced_latency_s" -> tlat, "traced_cycle_s" -> tpasses,
        "traced_gc_s" -> (Common.gcSeconds() - gcT))
      // Single-core baseline: one timed pass here, then a fresh local[1]
      // session, one warm-up pass and one timed pass.
      def timedPass(): Double = names.map { n =>
        try op(spark, n) catch { case e: Throwable => rec.fail(s"baseline $n", e); 0.0 }
      }.sum
      val many = timedPass()
      spark.stop()
      spark = Common.session(a, 1)
      tracer.attach(spark)
      timedPass()
      rec.layers("exec.parallel_speedup") = timedPass() / many
    }

    Common.OldGen.sample()
    rec.fields("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    rec.fields("results_dir") = s"${a.work}/results"
    spark.stop()
  }
}
