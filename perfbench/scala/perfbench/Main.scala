package perfbench

/** Harness entry point, started by `run.py`:
  * `perfbench.Main --workload W --data DIR --work DIR --out FILE --seconds S
  *  --seed N --trace 0|1 [--queries FILE] [--rate R] [--backlog N]`.
  * Writes one JSON record of raw samples to `--out`; `run.py` turns it into
  * metrics and checks the outputs.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rec = new Record
    val tracer = new Tracer
    tracer.root
    try a.workload match {
      case "query_short" => QueryWorkload.run(a, rec, tracer)
      case "activity_stream" => ActivityWorkload.run(a, rec, tracer)
      case "index_ingest" => IndexWorkload.run(a, rec, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        rec.fail("run", e)
        e.printStackTrace()
    }
    rec.fields ++= Seq(
      "heap_peak_mb" -> Common.OldGen.peakMb,
      "heap_after_gc_mb" -> Common.OldGen.lastMb,
      "gc_total_s" -> Common.gcSeconds(),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "spans" -> (if (a.trace) tracer.all.map(_.toMap) else Nil))
    rec.write(a.out)
    sys.exit(0)
  }
}
