package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import graft.ops.TextOps
import graft.streaming.{StreamingDedupIndex, StreamingTextIngest}

/** The index maintainers and the from-index serves run the same plans
  * every micro-batch, so after one warm batch they reuse Spark's cached
  * generated classes instead of compiling them again: no batch id is a
  * plan literal, BM25 and QL share one plan, and one cycle of both
  * maintainers plus the BM25, QL and phrase serves needs well under the
  * 100 classes the codegen cache holds.
  */
class CodegenReuseSpec extends AnyFunSpec with Matchers with SparkSessionTestWrapper {

  import spark.implicits._

  private val vocab = Seq("hash", "join", "window", "agg", "stream", "vector", "scan",
    "customer", "order", "merge", "slow", "query", "table", "filter", "index", "page",
    "row", "plan", "cache", "batch")

  /** `n` documents from `first` on, 20-40 tokens each, deterministic. */
  private def docs(first: Long, n: Int) = (first until first + n).map { id =>
    val r = new scala.util.Random(id)
    id -> Seq.fill(20 + r.nextInt(21))(vocab(r.nextInt(vocab.size))).mkString(" ")
  }.toDF("doc_id", "text")

  /** Classes Spark compiled while `f` ran. */
  private def compiled(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def maintain(dir: String, batch: Long, first: Long, n: Int): (Long, Long) = {
    val b = docs(first, n)
    (compiled(StreamingTextIngest.processBatch(b, batch, s"$dir/text")),
      compiled(StreamingDedupIndex.processBatchCore(b, batch, s"$dir/dedup")))
  }

  private def serve(dir: String): Unit = {
    val p = StreamingTextIngest.readPostings(spark, s"$dir/text")
    val d = StreamingTextIngest.readDoclens(spark, s"$dir/text")
    TextOps.bm25TopKFromIndex(p, d).collect()
    TextOps.qlTopKFromIndex(p, d).collect()
    TextOps.phraseSearch(StreamingTextIngest.readPositions(spark, s"$dir/text")).collect()
  }

  /** Spark's codegen cache (Spark 4.1 internals, reached by reflection):
    * a Guava cache keyed by (class loader, generated source).
    */
  private lazy val codegenCache = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator)
  }

  /** The classes `f` needs, as (class loader, generated source): the
    * cache is emptied first, so what it holds afterwards is what `f`
    * compiled (the driver and the executor threads compile a stage each,
    * under their own class loaders).
    */
  private def classesOf(f: => Unit): Set[(Int, String)] = {
    codegenCache.getClass.getMethod("invalidateAll").invoke(codegenCache)
    f
    val guava = codegenCache.getClass.getMethod("cache").invoke(codegenCache)
    val map = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap").invoke(guava)
      .asInstanceOf[java.util.Map[Product, AnyRef]]
    import scala.jdk.CollectionConverters._
    map.keySet.asScala.map { k =>
      val loader = k.productElement(0) match {
        case r: java.lang.ref.Reference[_] => r.get()
        case l => l
      }
      System.identityHashCode(loader) -> k.productElement(1).asInstanceOf[CodeAndComment].body
    }.toSet
  }

  it("a second maintainer batch reuses the first batch's generated code") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cg-maint").toString
    maintain(dir, 1L, 0L, 50)
    val (text, dedup) = maintain(dir, 2L, 50L, 20)
    text shouldBe 0L
    dedup should be <= 2L
  }

  it("a QL serve after a BM25 serve compiles no class of its own") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cg-lexical").toString
    maintain(dir, 0L, 0L, 50)
    val p = StreamingTextIngest.readPostings(spark, s"$dir/text")
    val d = StreamingTextIngest.readDoclens(spark, s"$dir/text")
    TextOps.bm25TopKFromIndex(p, d).collect()
    compiled(TextOps.qlTopKFromIndex(p, d).collect()) shouldBe 0L
  }

  it("every index cycle needs the same few generated classes") {
    // The codegen cache holds 100 classes in four LRU segments of 25,
    // and a class's segment follows the JVM's class-loader hash. A
    // cycle whose classes change from batch to batch, or that needs
    // more than the cache holds, recompiles on every batch. This cycle
    // needs about 65 classes, the same ones every batch: about 16 per
    // segment, so a segment overflows only on a very uneven hash.
    val dir = java.nio.file.Files.createTempDirectory("graft-cg-cycle").toString
    def cycle(batch: Long, first: Long): Unit = {
      maintain(dir, batch, first, 20)
      serve(dir)
    }
    maintain(dir, 0L, 0L, 50)
    serve(dir)
    val warm = classesOf(cycle(1L, 50L))
    val next = classesOf(cycle(2L, 70L))
    info(s"cycle classes: ${next.size}, new since the warm cycle: ${(next -- warm).size}")
    (next -- warm).size should be <= 5
    next.size should be <= 70
  }
}
