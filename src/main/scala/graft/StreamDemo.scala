package graft

import graft.streaming.{ActivityGenerator, ActivityStream}

/** Runnable end-to-end streaming demo: synthetic generator (S5) → JSON parse
  * → clean → filter → watermarked 1-minute windowed count (A1-A8) → memory
  * sink, printed after a bounded run. Kafka/JDBC endpoints are config-swaps
  * of the same pipeline (ActivityStream.startAggJob).
  *
  * Usage: StreamDemo [seconds=20] [eventsPerSecond=200]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val runSecs = if (args.nonEmpty) args(0).toInt else 20
    val eps = if (args.length > 1) args(1).toDouble else 200.0
    val spark = LocalSession("4")

    val cfg = ActivityStream.Config(
      watermark = "2 seconds", windowDuration = "10 seconds",
      checkpointLocation =
        java.nio.file.Files.createTempDirectory("graft-demo-ckpt").toString)
    val agg = ActivityStream.aggPipeline(
      ActivityStream.parseAndClean(ActivityGenerator.stream(spark, eps)), cfg)

    val query = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("demo_agg")
      .option("checkpointLocation", cfg.checkpointLocation)
      .start()

    Thread.sleep(runSecs * 1000L)
    query.processAllAvailable()
    query.stop()

    val out = spark.table("demo_agg")
    println(s"=== emitted ${out.count()} closed-window rows ===")
    out.orderBy("window_start", "id", "event_type").show(40, truncate = false)
    spark.stop()
  }
}
