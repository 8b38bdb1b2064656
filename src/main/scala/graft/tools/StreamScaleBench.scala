package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Entity, Multimodal, VectorOps}
import graft.streaming._

/** Per-batch cost curves for the incremental maintainers (SCALING.md §6,
  * a labeled diagnostic harness like TdProf/ScaleGen): ingest a ScaleGen
  * corpus in `nBatches` equal micro-batches through each maintainer and
  * time every processBatch against the index size it sees, so the claimed
  * touched-cell / touched-partition bounds ("per-batch cost is flat at
  * constant batch size, whatever the accumulated index size") become a
  * measured curve instead of a plan-shape argument. Emits one JSON line
  * per (maintainer, batch): {"maintainer","batch","batch_rows",
  * "index_rows_before","sec"} plus a per-maintainer first-vs-last-half
  * summary, and mirrors the lines to a file for the SCALING.md table.
  *
  * Usage: scripts/run.sh graft.tools.StreamScaleBench [sfDir] [nBatches] [outPath]
  */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale/x10")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val outPath = args.lift(2).getOrElse("/tmp/scale/stream_bench.json")
    val spark = graft.LocalSession("32")

    val docs = Tables.documents(spark, dir).persist()
    val emb = Tables.embeddings(spark, dir).persist()
    val nDocs = docs.count()
    val nVecs = emb.count()
    // the maintainers run against a FIXED quantizer in production; train
    // the occupancy-sized one once over the full corpus (the cutover path
    // handles resizes — this harness measures steady-state maintenance)
    val cents = VectorOps.kmeansCentroidsAuto(emb)
      .persist()
    cents.count(): Unit
    // synthetic customer feed derived deterministically from the doc ids
    // (ScaleGen has no customer table): blocking key = (nationkey, exact
    // balance); dirty twins planted so the matcher has real pairs
    val cust = Entity.withPlantedDirty(docs.select(
      (col("doc_id") + 1L).as("c_custkey"),
      format_string("Customer#%09d", col("doc_id") + 1L).as("c_name"),
      pmod(col("doc_id"), lit(25)).cast("int").as("c_nationkey"),
      (pmod(col("doc_id"), lit(1000)) / 100.0).as("c_acctbal"),
      element_at(
        array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
          lit("HOUSEHOLD"), lit("MACHINERY")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int")).as("c_mktsegment")))
      .persist()
    cust.count(): Unit
    val media = Multimodal.mediaTable(Multimodal.withPlantedMediaDups(docs))

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(name: String, n: Long, frameOf: (Long, Long) => DataFrame)(
        ingest: (DataFrame, Long, String) => Unit)(indexRows: String => Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"ssb-$name").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rec(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(): Unit
        }
        rec(new java.io.File(tmp))
      }))
      val per = (n + nBatches - 1) / nBatches
      val secs = (0 until nBatches).map { b =>
        val lo = b * per
        val hi = math.min(n, lo + per)
        val batch = frameOf(lo, hi).persist()
        val rows = batch.count()
        val before = indexRows(tmp)
        val t0 = System.nanoTime()
        ingest(batch, b.toLong, tmp)
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist(): Unit
        val line = s"""{"maintainer":"$name","batch":$b,"batch_rows":$rows,""" +
          s""""index_rows_before":$before,"sec":$sec}"""
        println(line); lines += line
        sec
      }
      // drop batch 0 (JIT + empty-index bootstrap), compare early vs late
      val tail = secs.drop(1)
      val (h1, h2) = tail.splitAt(tail.length / 2)
      val summary = f"""{"maintainer":"$name","first_half_mean":${h1.sum / h1.length}%.3f,""" +
        f""""second_half_mean":${h2.sum / h2.length}%.3f,""" +
        f""""late_over_early":${(h2.sum / h2.length) / math.max(h1.sum / h1.length, 1e-9)}%.3f}"""
      println(summary); lines += summary
    }

    def docSlice(lo: Long, hi: Long): DataFrame =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    def embSlice(lo: Long, hi: Long): DataFrame =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    def custSlice(lo: Long, hi: Long): DataFrame =
      cust.filter(pmod(col("c_custkey"), lit(1000000L)) > lo &&
        pmod(col("c_custkey"), lit(1000000L)) <= hi)
    def mediaSlice(lo: Long, hi: Long): DataFrame =
      media.filter(pmod(col("media_id"), lit(Multimodal.PlantOffset)) >= lo &&
        pmod(col("media_id"), lit(Multimodal.PlantOffset)) < hi)

    run("dedup_index", nDocs, docSlice)(
      StreamingDedupIndex.processBatchCore(_, _, _))(
      d => StreamingDedupIndex.readIndex(spark, d).pairs.count())
    run("ann_ingest", nVecs, embSlice)(
      (b, id, d) => StreamingAnnIngest.processBatch(b, id, cents, d))(
      d => StreamingAnnIngest.readIndexLive(spark, d).count())
    run("graph_ann", nVecs, embSlice)(
      (b, id, d) => StreamingGraphAnn.processBatch(b, id, cents, d))(
      d => StreamingGraphAnn.readEdges(spark, d).count())
    run("media_dedup", nDocs, mediaSlice)(
      StreamingMediaDedup.processBatch(_, _, _))(
      d => StreamingMediaDedup.readPhash(spark, d, Long.MaxValue).count())
    run("entity_res", nDocs, custSlice)(
      StreamingEntityRes.processBatch(_, _, _))(
      d => StreamingEntityRes.readRecords(spark, d).count())

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      lines.mkString("", "\n", "\n"))
    System.err.println(s"[stream-scale] ${lines.length} lines -> $outPath")
    spark.stop()
  }
}
