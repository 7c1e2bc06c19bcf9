package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of driver code starts. Listener events
  * arrive asynchronously, so a measurement is bracketed by one-task
  * marker jobs in their own job group: once the listener has seen a
  * marker end, every event posted before it has been delivered. */
final class JobCounter private (spark: SparkSession) extends SparkListener {
  private val markerGroup = "graft-job-counter-marker"
  private val jobs = new AtomicInteger
  private val markerDone = new Semaphore(0)
  @volatile private var markerJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == markerGroup))
      markerJob = e.jobId
    else jobs.incrementAndGet()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) markerDone.release()

  private def drain(): Unit = {
    spark.sparkContext.setJobGroup(markerGroup, "job counter marker", interruptOnCancel = false)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    assert(markerDone.tryAcquire(60, TimeUnit.SECONDS), "listener bus did not drain")
  }
}

object JobCounter {

  /** Run `body` and return its result with the number of Spark jobs
    * started meanwhile (on any thread). */
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    try {
      c.drain()
      val before = c.jobs.get()
      val a = body
      c.drain()
      (a, c.jobs.get() - before)
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
