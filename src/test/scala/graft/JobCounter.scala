package graft

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs started while a block runs, from ANY thread: work a call
  * hands to a pool or a branch thread (the daily cycle's concurrent
  * fit) counts like work on the caller's thread. Two fence jobs, run
  * by the caller before and after the block, bound the window by job
  * id; listener events arrive in order, so once the closing fence's
  * start is seen every job in the window has been seen too. Suites run
  * one test at a time, so a job in the window is the block's. */
object JobCounter {
  private val FenceProp = "graft.test.fence"

  def jobsStartedBy(f: => Unit): Int = {
    val sc = TestSession.spark.sparkContext
    val tag = s"fence-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[Integer]()
    val fences = new LinkedBlockingQueue[(String, Integer)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(FenceProp))) match {
          case Some(fence) if fence.startsWith(tag) => fences.put((fence, e.jobId))
          case _ => jobs.add(e.jobId)
        }
    }
    def fence(name: String): Unit = {
      sc.setLocalProperty(FenceProp, s"$tag-$name")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceProp, null)
    }
    def fenceId(name: String): Int = {
      val seen = fences.poll(60, TimeUnit.SECONDS)
      assert(seen != null && seen._1 == s"$tag-$name", s"the $name fence job's start never arrived")
      seen._2
    }
    sc.addSparkListener(listener)
    try {
      fence("open")
      f
      fence("close")
      val (open, close) = (fenceId("open"), fenceId("close"))
      jobs.asScala.count(id => id > open && id < close)
    } finally sc.removeSparkListener(listener)
  }
}
