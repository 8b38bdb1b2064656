package graft

/** Local perf diagnosis: run each query N times, print per-run seconds.
  * Usage: Diag <sfDir> [repeats] [nameFilter...]
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val reps = if (args.length > 1) args(1).toInt else 3
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    val explain = sys.env.contains("SPARK_GRAFT_EXPLAIN")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        if (explain) {
          println(s"===== $name ====="); fn(spark, sfDir).explain("formatted")
        }
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val t = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache() // same per-rep hygiene as Bench
          t
        }
        println(f"$name%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}
