package graft

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memo for expensive derived values (checkpointed label
  * frames, fitted models) that several operators share within one
  * session. Entries are keyed by (session, key) and evicted when the
  * session's SparkContext ends, so a long-lived JVM hosting many
  * sessions never pins dead RDD blocks or model references. Keys must
  * identify immutable inputs (the harness never regenerates a testdata
  * dir in place).
  *
  * Single-flight: each key's value is computed once even under
  * concurrent callers. The first caller computes it; a caller that
  * arrives meanwhile waits for that value, or rethrows that failure. A
  * failure is not memoized: the next caller computes afresh. A value's
  * computation must not ask the same memo for its own key. */
final class SessionMemo[V] {
  private val memo = TrieMap.empty[(SparkSession, String), Future[V]]
  private val hooked = TrieMap.empty[SparkSession, Boolean]

  def getOrElseUpdate(s: SparkSession, key: String)(value: => V): V = {
    hooked.getOrElseUpdate(s, {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          memo.filterInPlace { case ((sess, _), _) => sess ne s }
          hooked.remove(s)
        }
      })
      true
    })
    val k = (s, key)
    val mine = Promise[V]()
    memo.putIfAbsent(k, mine.future) match {
      case Some(theirs) => Await.result(theirs, Duration.Inf)
      case None =>
        try {
          val v = value
          mine.success(v)
          v
        } catch {
          case e: Throwable =>
            memo.remove(k, mine.future)
            mine.failure(e)
            throw e
        }
    }
  }

  /** Visible for tests: live entries for a session. */
  private[graft] def liveKeys(s: SparkSession): Set[String] =
    memo.keys.collect { case (sess, k) if sess eq s => k }.toSet
}
