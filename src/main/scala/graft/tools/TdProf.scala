package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Multimodal, VectorOps}
import graft.streaming._

/** Phase profiler for the `takedown_batch_report` fan-out (a labeled
  * diagnostic harness like StageProbe, not a product path): times
  * each of the eight artifact builds, each maintainer's forget, and the
  * two absence audits separately, so a cost regression in the composed
  * query can be attributed to one phase without bisecting. Round-12
  * finding it exists to preserve: the FULL dedup-index fold (derived
  * CC/LPA fixpoints) cost 26 s build + 14 s forget of the original 61 s —
  * the primary-tables-only `processBatchCore` + the absent-derived-skip
  * in the CDC forget cut the query to ~28 s.
  *
  * Usage: scripts/run.sh graft.tools.TdProf [sfDir]
  */
object TdProf {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false).getOrCreate()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    def t[A](n: String)(f: => A): A = {
      val t0 = System.nanoTime; val r = f
      println(f"PROF $n ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 600L)
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < 600L)
    val media = Multimodal.mediaTable(Multimodal.withPlantedMediaDups(docs))
    val cust = graft.ops.Entity.withPlantedDirty(
      Tables.customer(spark, dir).filter(col("c_custkey") <= 300L))
    val cents = VectorOps.centroids(emb).select(col("label").as("cell"), col("centroid"))
    val tmp = java.nio.file.Files.createTempDirectory("tdprof").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(): Unit
      }
      rec(new java.io.File(tmp))
    }))
    t("dedup")(StreamingDedupIndex.processBatchCore(docs, 0L, s"$tmp/dedup"))
    t("text")(StreamingTextIngest.processBatch(docs, 0L, s"$tmp/text"))
    t("chunk")(StreamingChunkDedup.processBatch(docs, 0L, s"$tmp/chunk"))
    t("ann")(StreamingAnnIngest.processBatch(emb, 0L, cents, s"$tmp/ann"))
    t("spann")(StreamingSpannIngest.processBatch(emb, 0L, cents, s"$tmp/spann"))
    t("graph")(StreamingGraphAnn.processBatch(emb, 0L, cents, s"$tmp/graph"))
    t("media")(StreamingMediaDedup.processBatch(media, 0L, s"$tmp/media"))
    t("entity")(StreamingEntityRes.processBatch(cust, 0L, s"$tmp/entity"))
    val arts = TakedownSweep.Artifacts(Some(s"$tmp/dedup"), Some(s"$tmp/text"),
      Some(s"$tmp/chunk"), Some(s"$tmp/ann"), Some(s"$tmp/spann"),
      Some(TakedownSweep.GraphAnnHandle(s"$tmp/graph", cents)),
      Some(s"$tmp/media"), Some(s"$tmp/entity"))
    val req0 = TakedownSweep.Request(
      docIds = Some(docs.filter(pmod(col("doc_id"), lit(100)) === 7).select(col("doc_id"))),
      vecIds = Some(emb.filter(pmod(col("vec_id"), lit(100)) === 7).select(col("vec_id"))))
    val req1 = TakedownSweep.Request(
      docIds = Some(docs.filter(pmod(col("doc_id"), lit(100)) === 23).select(col("doc_id"))),
      mediaIds = Some(media.filter(pmod(col("media_id"), lit(97)) === 0 &&
        col("media_id") < Multimodal.PlantOffset).select(col("media_id"))),
      custIds = Some(cust.filter(pmod(col("c_custkey"), lit(100)) === 0).select(col("c_custkey"))))
    import graft.ops.Materialize.EagerOps
    val before = t("audit-before")(
      Seq(req0, req1).zipWithIndex.map { case (r, i) =>
        TakedownSweep.absenceAudit(spark, r, arts, keepZeros = true)
          .select(lit(i).as("request_id"), col("artifact_table"), col("n_hits"))
      }.reduce(_ unionByName _).eagerCkpt)
    val comb = TakedownSweep.combine(Seq(req0, req1))
    comb.docIds.foreach { ids =>
      t("del-dedup")(StreamingDedupIndex.processDeletes(ids, 1L, s"$tmp/dedup"))
      t("del-text")(StreamingTextIngest.processDeletes(ids, s"$tmp/text"))
      t("del-chunk")(StreamingChunkDedup.processDeletes(ids, s"$tmp/chunk"))
    }
    comb.vecIds.foreach { ids =>
      t("del-ann")(StreamingAnnIngest.processDeletes(ids, s"$tmp/ann"))
      t("del-spann")(StreamingSpannIngest.processDeletes(ids, s"$tmp/spann"))
      t("del-graph")(StreamingGraphAnn.processDeletes(ids, cents, s"$tmp/graph"))
    }
    comb.mediaIds.foreach { ids =>
      t("del-media")(StreamingMediaDedup.processDeletes(ids, s"$tmp/media")) }
    comb.custIds.foreach { ids =>
      t("del-entity")(StreamingEntityRes.processDeletes(ids, s"$tmp/entity")) }
    t("audit-after")(
      Seq(req0, req1).zipWithIndex.map { case (r, i) =>
        TakedownSweep.absenceAudit(spark, r, arts, keepZeros = true)
          .select(lit(i).as("request_id"), col("artifact_table"), col("n_hits"))
      }.reduce(_ unionByName _).collect())
    spark.stop()
  }
}
