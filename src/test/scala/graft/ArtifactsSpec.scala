package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The build-once artifact registry, driver side only: no build thunk
  * here starts a Spark job, and every wait has a timeout, so a locking
  * regression fails the spec instead of hanging it.
  */
class ArtifactsSpec extends AnyFunSpec with Matchers with SparkSessionTestWrapper
    with BeforeAndAfterAll {

  private val pool = Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
  // start the shared session before any timed wait: its first start can
  // take seconds on a loaded host
  override def beforeAll(): Unit = spark.sparkContext: Unit
  override def afterAll(): Unit = pool.shutdownNow(): Unit

  private def await[A](f: Future[A]): A = Await.result(f, 5.seconds)
  // a fresh sf-dir name per case keeps the cases' keys apart
  private def freshDir(): String = s"artifacts-spec-${java.util.UUID.randomUUID()}"

  describe("Artifacts.once") {
    it("builds one key exactly once under 8 concurrent callers") {
      val dir = freshDir()
      val builds = new AtomicInteger
      val go = new CountDownLatch(1)
      val calls = (1 to 8).map { _ =>
        Future {
          go.await(5, TimeUnit.SECONDS)
          Artifacts.once("spec", spark, dir) { builds.incrementAndGet(); Thread.sleep(50); 42 }
        }
      }
      go.countDown()
      calls.map(await) shouldBe Seq.fill(8)(42)
      builds.get shouldBe 1
    }

    it("builds different keys at the same time") {
      val dir = freshDir()
      val aStarted = new CountDownLatch(1)
      val bStarted = new CountDownLatch(1)
      // A's build waits for B's build to start: under one global lock B
      // could not start until A finished, and A's wait would time out
      val a = Future {
        Artifacts.once("spec-a", spark, dir) {
          aStarted.countDown()
          bStarted.await(5, TimeUnit.SECONDS)
        }
      }
      aStarted.await(5, TimeUnit.SECONDS) shouldBe true
      val b = Future(Artifacts.once("spec-b", spark, dir) { bStarted.countDown(); "b" })
      await(a) shouldBe true
      await(b) shouldBe "b"
    }

    it("rethrows a failing build and builds again on the next call") {
      val dir = freshDir()
      val builds = new AtomicInteger
      intercept[IllegalStateException] {
        Artifacts.once[Int]("spec", spark, dir) {
          builds.incrementAndGet(); throw new IllegalStateException("boom")
        }
      }
      Artifacts.once("spec", spark, dir) { builds.incrementAndGet(); 7 } shouldBe 7
      Artifacts.once("spec", spark, dir) { builds.incrementAndGet(); 8 } shouldBe 7
      builds.get shouldBe 2
    }

    it("returns from a build that calls the registry for another key") {
      val dir = freshDir()
      val outer = Future {
        Artifacts.once("spec-outer", spark, dir) {
          Artifacts.once("spec-inner", spark, dir)(1) + 1
        }
      }
      await(outer) shouldBe 2
      Artifacts.once("spec-inner", spark, dir)(-1) shouldBe 1
    }

    it("refuses a DataFrame as a value") {
      intercept[IllegalArgumentException] {
        Artifacts.once("spec", spark, freshDir())(spark.range(1).toDF())
      }
    }
  }
}
