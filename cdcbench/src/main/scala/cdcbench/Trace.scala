package cdcbench

import graft.sink.{CatalogSync, UpsertSink}

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval: a layer's call, inside trigger `trigger`
  * (-1 outside the timed triggers), caused by span `parent` (0 = none). */
final case class Span(id: Long, parent: Long, name: String, trigger: Int, table: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans held in memory and written out when the run ends. The parent
  * of a span is the innermost open span on its thread, or the span of
  * the trigger in flight for work on the pipeline's fan-out threads. */
final class Spans {
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile var trigger: Int = -1
  @volatile var triggerSpan: Long = 0L

  def apply[A](name: String, table: String = "")(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.get().headOption.getOrElse(triggerSpan)
    val t = trigger
    open.set(id :: open.get())
    val start = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, t, table, start, System.nanoTime()))
      open.set(open.get().tail)
    }
  }

  /** Run `body` as span `name` of trigger `k`; spans on other threads
    * started meanwhile become its children. */
  def inTrigger[A](k: Int, name: String)(body: => A): A = {
    trigger = k
    try apply(name) { triggerSpan = open.get().head; body }
    finally { trigger = -1; triggerSpan = 0L }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","trigger":${s.trigger},""" +
        s""""table":"${s.table}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.asJava)
  }
}

/** The upsert layer, timed through the pipeline's `sinkFactory` hook.
  * Files the upsert leaves under the table root that were not there
  * before it are the files it wrote. */
final class TimedSink(inner: UpsertSink, root: String, table: String, spans: Spans)
    extends UpsertSink {
  import TimedSink._
  @volatile var written: Seq[Written] = Vector.empty

  def upsert(batch: DataFrame): Unit = {
    val before = listFiles(root).keySet
    val t = spans.trigger
    spans("sink.upsert", table)(inner.upsert(batch))
    val added = listFiles(root).filter { case (p, _) => !before(p) }
    synchronized {
      written :+= Written(t, added.size, added.values.sum,
        added.keysIterator.exists(_.contains("-compact/")))
    }
  }

  def read(): Option[DataFrame] = inner.read()
}

object TimedSink {
  final case class Written(trigger: Int, files: Int, bytes: Long, compacted: Boolean)

  /** Data files (not checksums or markers) under `root`, with sizes. */
  def listFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .filter(f => !f.getFileName.toString.startsWith("_"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
}

/** The catalog layer, timed through the sinks' `catalogSync` parameter. */
final class TimedCatalog(inner: CatalogSync, spans: Spans) extends CatalogSync {
  def publishExternalTable(nameParts: Seq[String], location: java.net.URI): Unit =
    spans("catalog.sync", nameParts.mkString("."))(inner.publishExternalTable(nameParts, location))
  def publishView(nameParts: Seq[String], selectBody: String): Unit =
    spans("catalog.sync", nameParts.mkString("."))(inner.publishView(nameParts, selectBody))
}

/** Spark's per-task, per-stage and per-job records, kept with their
  * wall-clock times so the run can sum them over any interval. */
final class TaskListener extends SparkListener {
  final case class Task(finishMs: Long, cpuNs: Long, runMs: Long, gcMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        bytesRead: Long, recordsRead: Long, recordsWritten: Long)

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val stageStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val drainGroup = "cdcbench-drain"
  @volatile private var drainJob = -1
  private val drained = new CountDownLatch(1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == drainGroup))
      drainJob = e.jobId
    jobStarts.add(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == drainJob) drained.countDown()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageStarts.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)

  /** Run one marker job and wait until this listener has seen it end, so
    * every event posted before it has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.setJobGroup(drainGroup, "listener drain", interruptOnCancel = false)
    try spark.range(1).count()
    finally spark.sparkContext.clearJobGroup()
    drained.await(60, TimeUnit.SECONDS)
  }

  def tasksIn(fromMs: Long, toMs: Long): Seq[Task] =
    tasks.asScala.filter(t => t.finishMs >= fromMs && t.finishMs <= toMs).toSeq
  def jobsIn(fromMs: Long, toMs: Long): Int =
    jobStarts.asScala.count(t => t >= fromMs && t <= toMs)
  def stagesIn(fromMs: Long, toMs: Long): Int =
    stageStarts.asScala.count(t => t >= fromMs && t <= toMs)
}

/** The Structured Streaming runtime's own per-batch durations. */
final class ProgressListener extends StreamingQueryListener {
  /** (batchId, addBatch ms, triggerExecution ms) of batches that read data. */
  val batches = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add((p.batchId, ms("addBatch"), ms("triggerExecution")))
    }
  }

  /** Wait until `n` data batches have been reported. */
  def await(n: Int, timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (batches.size < n && System.currentTimeMillis() < end) Thread.sleep(20)
  }
}
