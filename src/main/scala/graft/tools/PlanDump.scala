package graft.tools

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence for optimization rounds, captured without
  * timed execution (building a query may still populate memoized
  * artifacts, but nothing is timed here).
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> [queryName...]
  * Writes <outDir>/<name>_<suffix>.txt per query (all queries if none named).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [query...]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val only = args.drop(3).toSet
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus)
    // SPARK_GRAFT_NOCKPT=true makes eagerCkpt a pass-through so iterative
    // queries dump their full declarative tree instead of a post-checkpoint
    // RDD scan (diagnostic only — never set for real execution)
    if (sys.env.get("SPARK_GRAFT_NOCKPT").exists(v => v == "true" || v == "1"))
      spark.conf.set(graft.ops.Materialize.DisableCkptKey, "true")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
        }
      }
    }
    spark.stop()
  }
}
