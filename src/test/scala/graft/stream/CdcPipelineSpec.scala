package graft.stream

import graft.{JobCounter, SparkSpecBase}
import graft.cdc.{CdcFormat, SchemaInference, SyncTable}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

/** K2/O1-O3 streaming e2e: MemoryStream → foreachBatch → per-table
  * fan-out → keyed upsert sink, including delete propagation,
  * out-of-order (stale) events across batches, checkpoint restart, and
  * idempotent batch replay (SURVEY.md §2.9, §5). */
class CdcPipelineSpec extends SparkSpecBase {

  private val acct = SyncTable("stream_db", "acct", "id")

  private def ev(id: Int, v: String, ts: Long, op: String): String =
    if (op == "d")
      s"""{"before":{"id":$id,"v":"$v"},"after":null,"source":{"db":"stream_db","table":"acct"},"op":"d","ts_ms":$ts}"""
    else
      s"""{"before":null,"after":{"id":$id,"v":"$v"},"source":{"db":"stream_db","table":"acct"},"op":"$op","ts_ms":$ts}"""

  private def config(root: String, ckpt: String) = CdcPipelineConfig(
    format = CdcFormat.MskDebeziumCdc,
    tables = Seq(acct),
    sinkRoot = root,
    checkpointDir = ckpt,
    triggerInterval = "1 second",
    schemaMode = SchemaInference.Mode.InferAlways)

  private def tableState(p: CdcPipeline): Map[Long, String] =
    p.sinks(acct.id).read().map(_.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap)
      .getOrElse(Map.empty)

  test("streaming e2e with delete, stale event, checkpoint restart, and replay") {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import s.implicits._
    val root = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val input = MemoryStream[String]
    val p1 = new CdcPipeline(spark, config(root, ckpt))
    val q1 = p1.start(input.toDF())
    try {
      input.addData(ev(1, "a1", 100, "c"), ev(2, "b1", 100, "c"))
      q1.processAllAvailable()
      assert(tableState(p1) === Map(1L -> "a1", 2L -> "b1"))
    } finally { q1.stop(); p1.shutdown() }

    // restart from the same checkpoint with a fresh pipeline instance
    val p2 = new CdcPipeline(spark, config(root, ckpt))
    val q2 = p2.start(input.toDF())
    try {
      input.addData(
        ev(1, "a1", 200, "d"),   // delete k1
        ev(2, "stale", 50, "u"), // older than stored k2 → ignored
        ev(3, "c1", 300, "c"))   // new key
      q2.processAllAvailable()
      assert(tableState(p2) === Map(2L -> "b1", 3L -> "c1"))
    } finally { q2.stop(); p2.shutdown() }

    // batch replay (checkpoint recovery semantics): reprocessing the same
    // data must be a no-op on the sink state
    val p3 = new CdcPipeline(spark, config(root, ckpt))
    val replay = Seq(ev(1, "a1", 200, "d"), ev(2, "stale", 50, "u"),
      ev(3, "c1", 300, "c")).toDF("value")
    p3.processBatch(replay, batchId = 99L)
    assert(tableState(p3) === Map(2L -> "b1", 3L -> "c1"))
    p3.shutdown()
  }

  test("catalog-name collision: db1.user + db2.user sync as db1_user / db2_user") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-col").toString
    val ckpt = Files.createTempDirectory("graft-col-ckpt").toString
    def evd(db: String, id: Int, v: String, ts: Long): String =
      s"""{"before":null,"after":{"id":$id,"v":"$v"},"source":{"db":"$db","table":"user"},"op":"c","ts_ms":$ts}"""
    val cfg = CdcPipelineConfig(
      format = CdcFormat.MskDebeziumCdc,
      tables = Seq(SyncTable("db1", "user", "id"), SyncTable("db2", "user", "id")),
      sinkRoot = root, checkpointDir = ckpt,
      schemaMode = SchemaInference.Mode.InferAlways,
      catalogDb = Some("col_db"))
    val p = new CdcPipeline(spark, cfg)
    def vals(t: String): Map[Long, String] = spark.table(t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    try {
      p.processBatch(
        Seq(evd("db1", 1, "a1", 100), evd("db2", 1, "x1", 100)).toDF("value"), 0L)
      // both colliding tables get the db-qualified catalog name; the bare
      // name is never synced (it would be clobbered on every commit)
      assert(spark.catalog.tableExists("col_db.db1_user"))
      assert(spark.catalog.tableExists("col_db.db2_user"))
      assert(!spark.catalog.tableExists("col_db.user"))
      assert(vals("col_db.db1_user") === Map(1L -> "a1"))
      assert(vals("col_db.db2_user") === Map(1L -> "x1"))
      // a later commit touching ONE of them must not clobber the other
      p.processBatch(Seq(evd("db1", 2, "a2", 200)).toDF("value"), 1L)
      assert(vals("col_db.db1_user") === Map(1L -> "a1", 2L -> "a2"))
      assert(vals("col_db.db2_user") === Map(1L -> "x1"))
    } finally p.shutdown()
  }

  test("fail-fast (O3): a failing table sink fails the whole batch") {
    val root = Files.createTempDirectory("graft-ff").toString
    val ckpt = Files.createTempDirectory("graft-ff-ckpt").toString
    // occupy the sink's parent path with a plain FILE so the commit's
    // createDirectories throws — a stand-in for any table-level failure
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "stream_db"),
      "not-a-directory".getBytes)
    val s = spark; import s.implicits._
    val p = new CdcPipeline(spark, config(root, ckpt))
    val batch = Seq(ev(1, "a1", 100, "c")).toDF("value")
    intercept[Exception] { p.processBatch(batch, batchId = 0L) }
    p.shutdown()
  }

  test("a table with no routed records is skipped without commits") {
    val root = Files.createTempDirectory("graft-sink2").toString
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val s = spark; import s.implicits._
    val p = new CdcPipeline(spark, config(root, ckpt))
    val offTopic = Seq(
      """{"after":{"id":1},"source":{"db":"other","table":"other"},"op":"c","ts_ms":1}""")
      .toDF("value")
    p.processBatch(offTopic, batchId = 0L)
    assert(p.sinks(acct.id).read().isEmpty) // no snapshot written
    p.shutdown()
  }

  test("streaming schema evolution: revalidateEvery picks up added columns, probe widens types") {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import s.implicits._
    val evo = SyncTable("stream_db", "evo", "id")
    // fresh cache key for this table; other suites share the JVM-wide cache
    SchemaInference.invalidate(s"${CdcFormat.MskDebeziumCdc.name}:${evo.id}")
    def evoEv(payload: String, ts: Long): String =
      s"""{"before":null,"after":$payload,"source":{"db":"stream_db","table":"evo"},"op":"c","ts_ms":$ts}"""
    val root = Files.createTempDirectory("graft-evo").toString
    val cfg = CdcPipelineConfig(
      format = CdcFormat.MskDebeziumCdc,
      tables = Seq(evo),
      sinkRoot = root,
      checkpointDir = Files.createTempDirectory("graft-evo-ckpt").toString,
      triggerInterval = "1 second",
      schemaMode = SchemaInference.Mode.Cached,
      revalidateEvery = 2)
    val input = MemoryStream[String]
    val p = new CdcPipeline(spark, cfg)
    val q = p.start(input.toDF())
    def state(): Seq[org.apache.spark.sql.Row] =
      p.sinks(evo.id).read().get.orderBy("id").collect().toSeq
    try {
      // batch 0: cached schema inferred as {id long, v string, num long}
      input.addData(evoEv("""{"id":1,"v":"a1","num":10}""", 100))
      q.processAllAvailable()
      assert(state().map(_.getAs[String]("v")) === Seq("a1"))

      // batch 1 adds a column; PERMISSIVE parse silently drops it (the
      // documented additive-evolution bound — NOT caught by the probe)
      input.addData(evoEv("""{"id":2,"v":"b1","note":"lost"}""", 200))
      q.processAllAvailable()
      assert(!p.sinks(evo.id).read().get.columns.contains("note"))

      // batch 2 is a revalidateEvery tick: re-infer sees the new column;
      // the sink null-pads history (rows 1-2 predate it). The tick is a
      // MERGE refresh: num is absent from this batch yet must survive in
      // the cached schema (proven by batch 3 below).
      input.addData(evoEv("""{"id":3,"v":"c1","note":"kept"}""", 300))
      q.processAllAvailable()
      val s2 = state()
      assert(p.sinks(evo.id).read().get.columns.contains("note"))
      assert(s2.map(r => Option(r.getAs[String]("note"))) ===
        Seq(None, None, Some("kept")))

      // batch 3 (NOT a tick): num arrives as a float the cached long
      // schema cannot parse → corrupt probe fires → immediate re-infer,
      // long ∪ double widens, history casts
      input.addData(evoEv("""{"id":4,"v":"d1","num":2.5}""", 400))
      q.processAllAvailable()
      val evolved = p.sinks(evo.id).read().get
      assert(evolved.schema("num").dataType.typeName === "double")
      val s3 = state()
      assert(s3.map(r => Option(r.getAs[Any]("num"))) ===
        Seq(Some(10.0), None, None, Some(2.5)))
    } finally { q.stop(); p.shutdown() }
  }

  test("disable_msg (O5): stage samples logged when enabled, none when disabled") {
    val s = spark; import s.implicits._
    val batch = Seq(ev(1, "a1", 100, "c"), ev(2, "b1", 200, "c")).toDF("value")

    // enabled: raw / normalized / merged samples, schema tree + rows
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val root1 = Files.createTempDirectory("graft-dbg1").toString
    val p1 = new CdcPipeline(spark, config(root1,
        Files.createTempDirectory("graft-dbg1-ckpt").toString)
      .copy(disableMsg = false, debugLog = m => captured.synchronized { captured += m }))
    p1.processBatch(batch, batchId = 0L)
    p1.shutdown()
    val stages = captured.map(_.linesIterator.next()).toSeq
    assert(stages.exists(_.contains("stage=raw")))
    assert(stages.exists(_.contains("stage=normalized:stream_db.acct")))
    assert(stages.exists(_.contains("stage=merged:stream_db.acct")))
    assert(captured.forall(_.contains("root")), "samples carry the schema tree")
    assert(captured.exists(_.contains("a1")), "samples carry data rows")

    // disabled (the default): the debug path must never run — a throwing
    // logger would fail the batch if any stage sampled
    val root2 = Files.createTempDirectory("graft-dbg2").toString
    val p2 = new CdcPipeline(spark, config(root2,
        Files.createTempDirectory("graft-dbg2-ckpt").toString)
      .copy(debugLog = _ => throw new IllegalStateException("sampled while disabled")))
    p2.processBatch(batch, batchId = 0L)
    assert(p2.sinks(acct.id).read().get.count() === 2)
    p2.shutdown()
  }

  test("bucketed sink option: same pipeline semantics, incremental layout on disk") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-bkt-pipe").toString
    val p = new CdcPipeline(spark, config(root,
        Files.createTempDirectory("graft-bkt-pipe-ckpt").toString)
      .copy(bucketedSink = Some(4)))
    p.processBatch(Seq(ev(1, "a1", 100, "c"), ev(2, "b1", 100, "c")).toDF("value"), 0L)
    p.processBatch(Seq(ev(1, "a2", 200, "u"), ev(2, "bdel", 200, "d")).toDF("value"), 1L)
    assert(tableState(p) === Map(1L -> "a2"))
    // the sink root uses the manifest layout, not COW snapshot dirs
    val tableRoot = java.nio.file.Paths.get(root, "stream_db", "acct")
    assert(java.nio.file.Files.isDirectory(tableRoot.resolve("data")))
    p.shutdown()
  }

  test("streaming bucketed sink: evolution fires ONE migration rewrite, then back to incremental") {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import s.implicits._
    val root = Files.createTempDirectory("graft-bkt-evo-pipe").toString
    val cfg = config(root,
        Files.createTempDirectory("graft-bkt-evo-pipe-ckpt").toString)
      .copy(bucketedSink = Some(4))
    val input = MemoryStream[String]
    val p = new CdcPipeline(spark, cfg)
    val bt = p.sinks(acct.id).asInstanceOf[graft.sink.BucketedUpsertTable]
    def dirs(): Map[Int, Option[String]] =
      (0 until 4).map(b => b -> bt.bucketDir(b)).toMap
    val q = p.start(input.toDF())
    try {
      // batch 0: initial full commit over several buckets
      input.addData((1 to 12).map(i => ev(i, s"v$i", 100, "c")): _*)
      q.processAllAvailable()
      val d0 = dirs()
      assert(d0.values.count(_.isDefined) >= 2, "fixture should fill several buckets")
      // batch 1: one key, same schema → incremental (exactly one dir changes)
      input.addData(ev(1, "v1b", 200, "u"))
      q.processAllAvailable()
      val d1 = dirs()
      assert(d1.count { case (b, d) => d != d0(b) } === 1,
        s"steady-state batch must rewrite exactly one bucket: $d0 -> $d1")
      // batch 2: a NEW column arrives → the migration commit rewrites
      // every non-empty bucket, all into ONE commit dir
      input.addData(
        """{"before":null,"after":{"id":2,"v":"v2b","note":"n"},""" +
          """"source":{"db":"stream_db","table":"acct"},"op":"u","ts_ms":300}""")
      q.processAllAvailable()
      val d2 = dirs()
      assert(d2.filter(_._2.isDefined).forall { case (b, d) => d != d1(b) },
        s"migration must rewrite every bucket: $d1 -> $d2")
      assert(d2.values.flatten.map(_.split('/')(1)).toSet.size === 1,
        "migration is ONE full-rewrite commit, not per-bucket commits")
      assert(bt.read().get.columns.contains("note"))
      // batch 3: schema back to steady state → incremental again
      input.addData(ev(3, "v3b", 400, "u"))
      q.processAllAvailable()
      val d3 = dirs()
      assert(d3.count { case (b, d) => d != d2(b) } === 1,
        s"post-migration batch must return to incremental: $d2 -> $d3")
      assert(tableState(p) === (Map(1L -> "v1b", 2L -> "v2b", 3L -> "v3b") ++
        (4 to 12).map(i => i.toLong -> s"v$i").toMap))
    } finally { q.stop(); p.shutdown() }
  }

  /** A Flink-CDC event for `t`; deletes carry only the `before` image. */
  private def flinkEv(t: SyncTable, id: Int, v: String, ts: Long, op: String): String = {
    val img = s"""{"id":$id,"v":"$v"}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"before":$before,"after":$after,"source":{"db":"${t.dbName}","table":"${t.tableName}"},""" +
      s""""op":"$op","ts_ms":$ts}"""
  }

  private def freshCachedSchemas(tables: Seq[SyncTable]): Unit =
    tables.foreach(t => SchemaInference.invalidate(s"${CdcFormat.FlinkCdc.name}:${t.id}"))

  test("cached Flink-CDC: deletes after a delete-free first trigger are applied, " +
      "also on and after a revalidation tick") {
    val s = spark; import s.implicits._
    val t = SyncTable("flink_del_db", "acct", "id")
    freshCachedSchemas(Seq(t))
    val p = new CdcPipeline(spark, CdcPipelineConfig(
      format = CdcFormat.FlinkCdc, tables = Seq(t),
      sinkRoot = Files.createTempDirectory("graft-flink-del").toString,
      checkpointDir = Files.createTempDirectory("graft-flink-del-ckpt").toString,
      schemaMode = SchemaInference.Mode.Cached, revalidateEvery = 2))
    def run(batchId: Long, events: String*): Map[Long, String] = {
      p.processBatch(events.toDF("value"), batchId)
      p.sinks(t.id).read().get.collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    }
    try {
      // every `before` is null: JSON inference types it as a string
      assert(run(0L, (1 to 4).map(i => flinkEv(t, i, s"v$i", 100, "c")): _*) ===
        Map(1L -> "v1", 2L -> "v2", 3L -> "v3", 4L -> "v4"))
      assert(run(1L, flinkEv(t, 1, "v1", 200, "d"), flinkEv(t, 2, "v2b", 200, "u")) ===
        Map(2L -> "v2b", 3L -> "v3", 4L -> "v4"))
      // batch 2 is a revalidateEvery tick: the refresh merges the cached
      // string-typed `before` with this batch's inference
      assert(run(2L, flinkEv(t, 2, "v2b", 300, "d"), flinkEv(t, 3, "v3b", 300, "u")) ===
        Map(3L -> "v3b", 4L -> "v4"))
      assert(run(3L, flinkEv(t, 3, "v3b", 400, "d")) === Map(4L -> "v4"))
    } finally p.shutdown()
  }

  test("job budget: a steady copy-on-write trigger of three catalog-synced tables " +
      "runs at most 1 job + 3 per table") {
    val s = spark; import s.implicits._
    val tables = (0 until 3).map(i => SyncTable("budget_db", s"jobs$i", "id"))
    freshCachedSchemas(tables)
    val p = new CdcPipeline(spark, CdcPipelineConfig(
      format = CdcFormat.FlinkCdc, tables = tables,
      sinkRoot = Files.createTempDirectory("graft-budget").toString,
      checkpointDir = Files.createTempDirectory("graft-budget-ckpt").toString,
      catalogDb = Some("budget_db")))
    def trigger(ts: Long, op: String): org.apache.spark.sql.DataFrame =
      tables.flatMap(t => (1 to 4).map(i => flinkEv(t, i, s"v$ts", ts, op)) :+
        flinkEv(t, 4 + ts.toInt, "x", ts, "d")).toDF("value")
    try {
      // cold trigger: schema inference and catalog CREATE happen here
      p.processBatch(trigger(100, "c"), 0L)
      val (_, jobs) = JobCounter(spark)(p.processBatch(trigger(200, "u"), 1L))
      info(s"a steady trigger ran $jobs Spark jobs")
      assert(jobs <= 1 + 3 * tables.size, s"a steady trigger ran $jobs Spark jobs")
      tables.foreach { t =>
        val rows = spark.table(s"budget_db.${t.tableName}").collect()
        assert(rows.map(_.getAs[String]("v")).toSet === Set("v200"))
        assert(rows.length === 4)
      }
    } finally p.shutdown()
  }

  test("offset listener records completed batch offsets") {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import s.implicits._
    val root = Files.createTempDirectory("graft-sink3").toString
    val ckpt = Files.createTempDirectory("graft-ckpt3").toString
    val listener = new OffsetCommitListener
    spark.streams.addListener(listener)
    val input = MemoryStream[String]
    val p = new CdcPipeline(spark, config(root, ckpt))
    val q = p.start(input.toDF())
    try {
      input.addData(ev(1, "a1", 100, "c"))
      q.processAllAvailable()
      // listener events are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.lastOffsets.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(!listener.lastOffsets.isEmpty)
    } finally {
      q.stop(); p.shutdown(); spark.streams.removeListener(listener)
    }
  }
}
