package graft.stream

import graft.SparkSpecBase
import graft.cdc.{CdcFormat, SyncTable}
import graft.sink.UpsertSink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** A real restart of the CDC pipeline. In the second trigger, table B's
  * upsert throws once, after table A has committed that trigger, so the
  * query dies with A one trigger ahead of B. A new pipeline on the same
  * checkpoint over the same source re-runs the trigger: A's replay must
  * change nothing (the keyed sink is idempotent), and every table, read
  * by path and by catalog name, must equal a twin that never crashed. */
class CdcPipelineRestartSpec extends SparkSpecBase {

  private val tables = Seq(SyncTable("restart_db", "a", "id"), SyncTable("restart_db", "b", "id"))

  private def ev(table: String, id: Int, v: String, ts: Long, op: String): String = {
    val img = s"""{"id":$id,"v":"$v"}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"before":$before,"after":$after,"source":{"db":"restart_db","table":"$table"},"op":"$op","ts_ms":$ts}"""
  }

  private val triggers: Seq[Seq[String]] = Seq(
    Seq(ev("a", 1, "a1", 100, "c"), ev("a", 2, "a2", 100, "c"),
      ev("b", 1, "b1", 100, "c"), ev("b", 2, "b2", 100, "c")),
    Seq(ev("a", 1, "a1u", 200, "u"), ev("a", 2, "a2", 200, "d"), ev("a", 3, "a3", 200, "c"),
      ev("b", 2, "b2u", 200, "u"), ev("b", 1, "b1", 200, "d"), ev("b", 4, "b4", 200, "c")),
    Seq(ev("a", 3, "a3u", 300, "u"), ev("a", 2, "a2new", 300, "c"),
      ev("b", 4, "b4u", 300, "u")))

  /** Wraps each sink: table B's second upsert waits until table A's
    * second upsert has returned, then throws, once. */
  private final class Crash {
    val aCommitted = new CountDownLatch(1)
    val thrown = new AtomicBoolean(false)
    def wrap(t: SyncTable, sink: UpsertSink): UpsertSink = new UpsertSink {
      private val calls = new AtomicInteger
      def upsert(batch: DataFrame): Unit = {
        val call = calls.getAndIncrement()
        if (t.tableName == "b" && call == 1 && thrown.compareAndSet(false, true)) {
          assert(aCommitted.await(120, TimeUnit.SECONDS), "table a never committed")
          throw new IllegalStateException("crash in table b's upsert")
        }
        sink.upsert(batch)
        if (t.tableName == "a" && call == 1) aCommitted.countDown()
      }
      def read(): Option[DataFrame] = sink.read()
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "v").collect().map(_.toString).toSeq.sorted

  /** Run every trigger through a `layout` pipeline, restarting once if
    * `crash` fires; returns each table's rows by path and by name. */
  private def drive(layout: String, crash: Option[Crash])
      : (Map[String, Seq[String]], Map[String, Seq[String]]) = {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import s.implicits._
    val db = s"restart_${layout}_${if (crash.isDefined) "crash" else "twin"}"
    val root = Files.createTempDirectory(s"graft-$db").toString
    val ckpt = Files.createTempDirectory(s"graft-$db-ckpt").toString
    val make = Edges.sinkFactory(spark, EdgeConfig(sink = layout, nBuckets = 4, compactAfter = 2))
    val input = MemoryStream[String]
    def start(factory: (String, SyncTable, Option[String]) => UpsertSink)
        : (CdcPipeline, StreamingQuery) = {
      val p = new CdcPipeline(spark, CdcPipelineConfig(
        format = CdcFormat.FlinkCdc, tables = tables, sinkRoot = root,
        checkpointDir = ckpt, triggerInterval = "0 seconds",
        catalogDb = Some(db), sinkFactory = Some(factory)))
      (p, p.start(input.toDF()))
    }
    var (p, q) = start(crash.fold(make)(c => (r, t, n) => c.wrap(t, make(r, t, n))))
    try {
      for (trigger <- triggers) {
        input.addData(trigger: _*)
        try q.processAllAvailable()
        catch {
          case _: StreamingQueryException if crash.exists(_.thrown.get) && !q.isActive =>
            q.stop(); p.shutdown()
            val restarted = start(make) // same checkpoint: the trigger re-runs
            p = restarted._1; q = restarted._2
            q.processAllAvailable()
        }
      }
      (tables.map(t => t.tableName -> rows(p.sinks(t.id).read().get)).toMap,
        tables.map(t => t.tableName -> rows(spark.table(s"$db.${t.tableName}"))).toMap)
    } finally { q.stop(); p.shutdown() }
  }

  for (layout <- Seq("cow", "bucketed", "mor"))
    test(s"a trigger that died between table A's commit and table B's re-runs to the " +
        s"uncrashed tables ($layout)") {
      val (twinByPath, twinByName) = drive(layout, None)
      assert(twinByPath === Map(
        "a" -> Seq("[1,a1u]", "[2,a2new]", "[3,a3u]"),
        "b" -> Seq("[2,b2u]", "[4,b4u]")))
      assert(twinByName === twinByPath)
      val crash = new Crash
      val (byPath, byName) = drive(layout, Some(crash))
      assert(crash.thrown.get && crash.aCommitted.getCount === 0,
        "the crash must land after table a committed")
      assert(byPath === twinByPath)
      assert(byName === twinByName)
    }
}
