package graft.tools

/** Stage-duration profiler for registered queries (dev tool): runs each
  * named query twice (rep 2 = warm) and prints per-stage wall time + task
  * count, so single-task serialization points (the tiny-local-file scan
  * artifact) are visible from the console without the UI.
  * Usage: StageProbe <sfDir> <query...>
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus)

    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
        stageLog.add(f"  stage ${si.stageId}%4d ${ms.getOrElse(-1L)}%6d ms tasks=${si.numTasks}%3d")
      }
    })

    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"$name: not registered")
        case Some(fn) =>
          fn(spark, sfDir).count() // rep 1: warm codegen/JIT
          spark.catalog.clearCache()
          Thread.sleep(200)
          stageLog.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          Thread.sleep(300)
          println(f"$name%-28s $sec%7.2f s")
          stageLog.forEach(println(_))
      }
    }
    spark.stop()
  }
}
