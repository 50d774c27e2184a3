package graft

import java.util.concurrent.TimeoutException

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Work that one call runs beside its own thread. Spark actions are
  * only sequential because a driver thread calls them one after
  * another; independent ones started from other threads share the
  * executors, and one job's task tail back-fills with the other's
  * tasks.
  *
  * Each branch runs on a thread of its own, which inherits the
  * caller's Spark local properties, in the caller's active session,
  * with a job tag of its own. [[Branches.run]] neither returns nor
  * throws while a branch is still running. When the body or a branch
  * fails, or an await times out, it waits for every other branch, up
  * to [[Branches.Timeout]], and cancels the jobs of any branch still
  * running after that. Then it rethrows the first failure, with the
  * later ones suppressed. So no background write outlives the call
  * that failed, and a hung job fails the call instead of wedging it. */
final class Branches private (s: SparkSession) {
  import Branches.{Branch, Timeout}
  private val started = ArrayBuffer.empty[Branch]

  /** Start `body` now, beside the caller. */
  def fork[T](name: String)(body: => T): Future[T] = {
    val tag = s"graft-$name-${java.util.UUID.randomUUID}"
    val p = Promise[T]()
    val t = new Thread(() => {
      SparkSession.setActiveSession(s)
      s.sparkContext.addJobTag(tag)
      s.sparkContext.setInterruptOnCancel(true)
      try p.success(body)
      catch { case e: Throwable => p.failure(e) }
      finally s.sparkContext.removeJobTag(tag)
    }, s"graft-branch-$name")
    t.setDaemon(true)
    synchronized { started += Branch(tag, t, p.future) }
    t.start()
    p.future
  }

  /** The branch's value, or its failure, within the timeout. */
  def await[T](f: Future[T]): T = Await.result(f, Timeout)

  /** Wait for every branch; cancel and interrupt those still running at
    * the deadline. Their failures are suppressed under `first`. */
  private def settle(first: Throwable): Unit = {
    val deadline = Timeout.fromNow
    synchronized(started.toList).foreach { b =>
      try Await.ready(b.done, deadline.timeLeft.max(Duration.Zero))
      catch {
        case _: TimeoutException =>
          s.sparkContext.cancelJobsWithTag(b.tag)
          b.thread.interrupt()
          b.thread.join(Branches.CancelGrace.toMillis)
      }
      b.done.value.flatMap(_.failed.toOption)
        .filter(_ ne first).foreach(first.addSuppressed)
    }
  }
}

object Branches {
  private final case class Branch(tag: String, thread: Thread, done: Future[Any])

  /** The bound of every wait for a branch. */
  val Timeout: FiniteDuration = 10.minutes

  /** How long a cancelled branch gets to unwind. */
  private val CancelGrace = 30.seconds

  /** `body` with branches of its own, every one of them ended (its value
    * awaited, or waited for and cancelled after a failure) before this
    * returns or throws. */
  def run[T](s: SparkSession)(body: Branches => T): T = {
    val b = new Branches(s)
    try {
      val out = body(b)
      b.synchronized(b.started.toList).foreach(br => b.await(br.done))
      out
    } catch {
      case e: Throwable =>
        b.settle(e)
        throw e
    }
  }
}
