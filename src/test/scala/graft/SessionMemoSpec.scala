package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[SessionMemo]] is single-flight: concurrent callers of one key run
  * its body once, and a failure is not memoized. */
class SessionMemoSpec extends AnyFunSuite {
  import TestSession._

  /** A caller of `memo(key)` on a thread of its own, whose body
    * counts its runs, waits for `release`, then yields `value`. */
  private def caller(memo: SessionMemo[Int], key: String, runs: AtomicInteger,
      entered: CountDownLatch, release: CountDownLatch)(value: => Int): Future[Int] =
    Future(memo.getOrElseUpdate(spark, key) {
      runs.incrementAndGet()
      entered.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      value
    })

  /** `f` is still running after a short wait. */
  private def pending(f: Future[_]): Boolean =
    try { Await.ready(f, 300.millis); false } catch { case _: TimeoutException => true }

  test("two concurrent callers of one key run its body once and share its value") {
    val memo = new SessionMemo[Int]
    val runs = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = caller(memo, "k", runs, entered, release)(42)
    assert(entered.await(60, TimeUnit.SECONDS), "the first caller never ran its body")
    // the second caller arrives while the first computes: it waits for
    // that value instead of running its own body
    val second = caller(memo, "k", runs, new CountDownLatch(1), new CountDownLatch(0))(7)
    assert(pending(second), "the second caller did not wait for the first's value")
    release.countDown()
    assert(Await.result(first, 60.seconds) == 42)
    assert(Await.result(second, 60.seconds) == 42)
    assert(runs.get == 1, s"the body ran ${runs.get} times")
    assert(memo.getOrElseUpdate(spark, "k")(fail("memoized value recomputed")) == 42)
  }

  test("a failure reaches the waiting caller and is not memoized") {
    val memo = new SessionMemo[Int]
    val runs = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = caller(memo, "f", runs, entered, release)(throw new IllegalStateException("boom"))
    assert(entered.await(60, TimeUnit.SECONDS), "the first caller never ran its body")
    val second = caller(memo, "f", runs, new CountDownLatch(1), new CountDownLatch(0))(7)
    assert(pending(second), "the second caller did not wait for the first's outcome")
    release.countDown()
    Seq(first, second).foreach { f =>
      val e = intercept[IllegalStateException](Await.result(f, 60.seconds))
      assert(e.getMessage == "boom")
    }
    assert(runs.get == 1, s"the body ran ${runs.get} times")
    // the next caller computes afresh
    assert(memo.getOrElseUpdate(spark, "f")(5) == 5)
    assert(memo.liveKeys(spark) == Set("f"))
  }
}
