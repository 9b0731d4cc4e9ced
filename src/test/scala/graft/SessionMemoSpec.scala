package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The [[SessionMemo]] contract, one test per property. No Spark: the
  * memo's core is keyed by the application id string.
  */
class SessionMemoSpec extends AnyFunSuite {

  private def withPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutorService(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("N concurrent callers of one key share one build") {
    val memo = new SessionMemo[String, Int]
    val builds = new AtomicInteger()
    val n = 8
    val go = new CountDownLatch(1)
    val got = withPool(n) { implicit ec =>
      val fs = (1 to n).map(_ => Future {
        go.await()
        memo.get("app", "k") { Thread.sleep(100); builds.incrementAndGet() }
      })
      go.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    }
    assert(builds.get == 1)
    assert(got.forall(_ == 1))
  }

  test("a build may call the same memo for a different key") {
    val memo = new SessionMemo[String, Int]
    // enough inner keys that one shares the outer key's hash bin
    val inner = (1 to 32).map(i => s"inner$i")
    val outer = withPool(1) { implicit ec =>
      Await.result(Future(memo.get("app", "outer")(inner.map(k => memo.get("app", k)(1)).sum)),
        30.seconds)
    }
    assert(outer == inner.size)
    assert(memo.get("app", "inner1")(fail("inner build was not kept")) == 1)
  }

  test("a build that throws is not cached and runs again on the next call") {
    val memo = new SessionMemo[String, Int]
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      memo.get("app", "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(memo.get("app", "k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
  }

  test("a new applicationId drops the old application's entries") {
    val memo = new SessionMemo[String, Int]
    assert(memo.get("appA", "k")(1) == 1)
    assert(memo.get("appA", "k")(2) == 1)
    assert(memo.get("appB", "k")(3) == 3)
    assert(memo.get("appA", "k")(4) == 4)
  }
}
