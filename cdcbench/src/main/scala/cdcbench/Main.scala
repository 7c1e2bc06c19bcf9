package cdcbench

import graft.cdc.{CdcNormalize, CdcRouter, LatestPerKey, SchemaInference, SyncTable}
import graft.sink.{BucketedUpsertTable, KeyedUpsertTable, MorUpsertTable, SessionCatalogSync, UpsertSink}
import graft.stream.{CdcPipeline, CdcPipelineConfig}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Drives one workload through `CdcPipeline.start` on a `MemoryStream`
  * and prints one JSON result line.
  *
  * Load: one client, closed loop. A round's events are generated from the
  * seed before its first trigger is handed over; a trigger's events are
  * handed over only after the previous trigger has committed, and its
  * time runs from the hand-over until `processAllAvailable` returns.
  * After every trigger a reader queries every table by catalog name (a
  * full-scan aggregate and a point lookup each) and checks the answers
  * against the model; after the last trigger every table is read back
  * whole and checked.
  *
  * With `--trace 1` the run also times each layer from outside (see
  * README.md) and reports per-layer metrics instead of end-to-end ones.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --launch-ms T --work-dir D [--spans F]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, launchMs: Long, workDir: Path, spansOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("launch-ms").toLong, Paths.get(m("work-dir")),
      m.get("spans").map(Paths.get(_)))
  }

  /** Starting no new round after this long keeps a run inside its
    * wall-clock limit, whatever the machine's speed. */
  val RoundDeadlineS = 110.0
  val CatalogDb = "cdcbench"
  /** `hot_keys`' bucket count, as `bucketedSink` and as the traced run's sink. */
  val HotKeysBuckets = 16

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = CdcPipeline.sessionBuilder(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.workDir.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Console.err.println(f"[cdcbench] session up at ${(System.currentTimeMillis() - o.launchMs) / 1e3}%.1f s")
    try println(new Run(spark, o).result())
    finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Files the scans of an executed plan read. */
  def filesScanned(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesScanned(a.executedPlan)
    case s: QueryStageExec => filesScanned(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => p.children.map(filesScanned).sum
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, all) CPU ticks of the machine so far: a virtual machine's
    * host can take its CPUs away, which slows every wall-clock figure. */
  def stealTicks(): Array[Long] = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Array(f(7), f.sum)
  }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** One run of one workload. */
final class Run(spark: SparkSession, o: Main.Opts) {
  import Main._

  private val plan = Workloads(o.workload, o.seed)
  private val env = plan.envelope
  private val model = new Model(plan.tables.map(_.id).toSet)
  private val sinkRoot = o.workDir.resolve("sink")
  private val spans = new Spans
  private val timedSinks = mutable.ArrayBuffer.empty[TimedSink]
  private val tasks = new TaskListener
  private val progress = new ProgressListener

  private def catalogName(t: SyncTable) = s"$CatalogDb.${t.tableName}"

  // ---------------------------------------------------------- the program

  /** Each workload's sink, built the way the pipeline builds it. A traced
    * run builds the same sink through `sinkFactory`, with the timing
    * wrappers around the upsert and the catalog sync. */
  private val sinkFactory: Option[(String, SyncTable, Option[String]) => UpsertSink] = {
    val sync = if (o.trace) Some(new TimedCatalog(new SessionCatalogSync(spark), spans)) else None
    val make: Option[(String, SyncTable, Option[String]) => UpsertSink] = plan.name match {
      case "large_table" =>
        Some((root, t, name) => new MorUpsertTable(spark, root, t.pkCols, catalogTable = name,
          catalogSync = sync))
      case "hot_keys" if o.trace =>
        Some((root, t, name) => new BucketedUpsertTable(spark, root, t.pkCols, nBuckets = HotKeysBuckets,
          catalogTable = name, catalogSync = sync))
      case "many_tables" if o.trace =>
        Some((root, t, name) => new KeyedUpsertTable(spark, root, t.pkCols, catalogTable = name,
          catalogSync = sync))
      case _ => None
    }
    if (!o.trace) make
    else make.map(mk => (root: String, t: SyncTable, name: Option[String]) => {
      val s = new TimedSink(mk(root, t, name), root, t.id, spans)
      timedSinks.synchronized(timedSinks += s)
      s
    })
  }

  private val config = CdcPipelineConfig(
    format = plan.format,
    tables = plan.tables,
    sinkRoot = sinkRoot.toString,
    checkpointDir = o.workDir.resolve("checkpoint").toString,
    triggerInterval = "0 seconds",
    revalidateEvery = plan.revalidateEvery,
    catalogDb = Some(CatalogDb),
    bucketedSink = if (plan.name == "hot_keys") Some(HotKeysBuckets) else None,
    sinkFactory = sinkFactory)

  // ------------------------------------------------------------ the loop

  private final case class Trigger(k: Int, batchId: Long, events: Int, rawBytes: Long,
                                   seconds: Double, fromMs: Long, toMs: Long, timed: Boolean)
  private final case class Read(pass: Int, kind: String, seconds: Double, ok: Boolean,
                                timed: Boolean, files: Long, fromMs: Long, toMs: Long,
                                liveRows: Long)

  private val triggers = mutable.ArrayBuffer.empty[Trigger]
  private val reads = mutable.ArrayBuffer.empty[Read]
  private var batchId = 0L
  private var passes = 0
  private var replaySeconds = 0.0

  def result(): String = {
    if (o.trace) {
      spark.sparkContext.addSparkListener(tasks)
      spark.streams.addListener(progress)
    }
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import spark.implicits._

    val input = MemoryStream[String]
    val pipeline = new CdcPipeline(spark, config)
    seed(pipeline)
    Console.err.println(f"[cdcbench] sinks seeded at ${(System.currentTimeMillis() - o.launchMs) / 1e3}%.1f s")
    plan.load.foreach(model(_, touch = false))
    val query = pipeline.start(input.toDF())

    def runTrigger(events: Seq[Event], strings: Seq[String], timed: Boolean): Unit = {
      val k = triggers.size
      val ms0 = System.currentTimeMillis()
      val cpu0 = Main.processCpuS(); val st0 = Main.stealTicks()
      val t0 = System.nanoTime()
      def handOver(): Unit = { input.addData(strings: _*); query.processAllAvailable() }
      if (o.trace) spans.inTrigger(k, "trigger")(handOver()) else handOver()
      val dt = (System.nanoTime() - t0) / 1e9
      triggers += Trigger(k, batchId, strings.size, strings.iterator.map(_.length.toLong).sum,
        dt, ms0, System.currentTimeMillis(), timed)
      val cpu = Main.processCpuS() - cpu0
      val st = Main.stealTicks().zip(st0).map { case (a, b) => a - b }
      Console.err.println(f"[cdcbench] trigger $k%d (${if (timed) "timed" else "set-up"}%s): " +
        f"${strings.size}%d events in $dt%.3f s, process cpu $cpu%.2f s, " +
        f"host steal ${100.0 * st(0) / math.max(1L, st(1))}%.0f%%")
      events.foreach(model(_))
      if (o.trace && timed) {
        val r0 = System.nanoTime()
        spans.inTrigger(k, "replay")(replay(strings))
        replaySeconds += (System.nanoTime() - r0) / 1e9
      }
      batchId += 1
    }

    // The run measures whole rounds until `--seconds` have passed since
    // the first timed hand-over, not counting a traced run's replays. A
    // round's events are generated before its first trigger is handed
    // over, never while a trigger is timed.
    var timedFrom = 0L
    try {
      if (plan.load.nonEmpty) runTrigger(Nil, plan.load.map(env.encode), timed = false)
      var r = 0
      def timedSeconds = (System.currentTimeMillis() - timedFrom) / 1e3 - replaySeconds
      def sinceLaunch = (System.currentTimeMillis() - o.launchMs) / 1e3
      while (plan.rounds.hasNext &&
             (r <= plan.warmRounds || (timedSeconds < o.seconds && sinceLaunch < RoundDeadlineS))) {
        val timed = r >= plan.warmRounds
        val round = plan.rounds.next().map(events => events -> events.map(env.encode))
        if (r == plan.warmRounds) timedFrom = System.currentTimeMillis()
        // set-up rounds read once, after their last trigger
        round.zipWithIndex.foreach { case ((events, strings), i) =>
          runTrigger(events, strings, timed)
          if (timed || i == round.size - 1) {
            plan.tables.foreach(reader(_, timed))
            passes += 1
          }
        }
        r += 1
      }
    } finally {
      query.stop()
      pipeline.shutdown()
    }

    // the final check: every table read back whole by catalog name
    val verdicts = plan.tables.map { t =>
      val seen = spark.table(catalogName(t))
        .select(col("id"), col("name"), col("amount"), col("mtime").cast("string"),
          col(CdcNormalize.DeletedCol))
        .toLocalIterator().asScala.map(seenRow)
      t -> Checker.check(model.live(t.id), seen, env.mtime)
    }
    verdicts.foreach { case (t, v) =>
      if (v.failed > 0)
        Console.err.println(s"[cdcbench] ${t.id}: ${v.badKeys.size} wrong keys, " +
          s"${v.nullKeyRows} keyless rows, ${v.rows} rows vs ${v.expectedRows} expected")
    }
    val failedReads = reads.count(!_.ok)
    if (failedReads > 0) Console.err.println(s"[cdcbench] $failedReads of ${reads.size} reads differ from the model")

    val attempted = plan.tables.map(t => model.touched(t.id)).sum + reads.size
    val failed = verdicts.map(_._2.failed).sum + failedReads
    val metrics = if (o.trace) {
      // the traced run's own end-to-end figures: their difference from an
      // untraced run's is the tracing overhead
      Console.err.println("[cdcbench] traced end-to-end: " + endToEnd(timedFrom)
        .map { case (n, (v, u)) => s"$n=${fmt(v)} $u" }.mkString(", "))
      layerMetrics(timedFrom)
    } else endToEnd(timedFrom)
    o.spansOut.foreach(spans.write)
    val body = metrics.map { case (name, (v, unit)) =>
      s""""$name": {"value": ${fmt(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": ${failed <= attempted}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def seenRow(r: org.apache.spark.sql.Row): Seen =
    Seen(if (r.isNullAt(0)) null else r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getLong(2), r.getString(3),
      !r.isNullAt(4) && r.getBoolean(4))

  /** Write the seeded rows straight into the sink, before the stream
    * starts, with the formula the model folds ([[Workloads.seedRow]]). */
  private def seed(pipeline: CdcPipeline): Unit = if (plan.seedRows > 0) {
    val t = plan.tables.head
    pipeline.sinks(t.id).upsert(spark.range(0, plan.seedRows).select(
      ((col("id") * 7919L + o.seed) % 100000L).as("amount"),
      col("id"),
      concat(lit("cust-"), (col("id") % 1000).cast("string")).as("name"),
      lit(env.mtime(0L)).as("mtime"),
      lit(false).as(CdcNormalize.DeletedCol)))
    var id = 0L
    while (id < plan.seedRows) {
      val e = Workloads.seedRow(o.seed, id)
      model.seed(t.id, id, e.name, e.amount, e.version)
      id += 1
    }
  }

  /** The reader: a full-scan aggregate and a point lookup of the table's
    * fixed key set, by catalog name, each checked against the model. */
  private def reader(t: SyncTable, timed: Boolean): Unit = {
    def timedRead(kind: String, live: Long)(q: => (DataFrame, Array[org.apache.spark.sql.Row] => Boolean)): Unit = {
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (df, check) = q
      val rows = df.collect()
      val dt = (System.nanoTime() - t0) / 1e9
      val files = if (o.trace) filesScanned(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan) else 0L
      reads += Read(passes, kind, dt, check(rows), timed, files, ms0, System.currentTimeMillis(), live)
    }
    val name = catalogName(t)
    val live = model.liveCount(t.id)
    timedRead("scan", live) {
      (spark.sql(s"SELECT count(*), sum(amount), sum(CAST(${CdcNormalize.DeletedCol} AS INT)) FROM $name"),
        rows => {
          val r = rows.head
          r.getLong(0) == live &&
            (if (r.isNullAt(1)) 0L else r.getLong(1)) == model.amountSum(t.id) &&
            (r.isNullAt(2) || r.getLong(2) == 0L)
        })
    }
    val keys = plan.lookupKeys(t.id)
    timedRead("lookup", live) {
      (spark.table(name).where(col("id").isin(keys: _*))
        .select(col("id"), col("name"), col("amount"), col("mtime").cast("string"),
          col(CdcNormalize.DeletedCol)),
        rows => Checker.check(keys.iterator.flatMap(id => model.expect(t.id, id).map(id -> _)),
          rows.iterator.map(seenRow), env.mtime).failed == 0)
    }
  }

  // ----------------------------------------------------- end-to-end metrics

  private def timedTriggers = triggers.filter(_.timed).toSeq
  private def timedReads(kind: String) = reads.filter(r => r.timed && r.kind == kind).toSeq

  /** Seconds each timed read pass spent on queries of one kind. */
  private def passSeconds(kind: String) =
    timedReads(kind).groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq

  private def endToEnd(timedFrom: Long): Seq[(String, (Double, String))] = {
    val tt = timedTriggers
    Seq(
      "setup_s" -> ((timedFrom - o.launchMs) / 1e3, "s"),
      "events_per_s" -> (ratio(tt.map(_.events.toDouble).sum, tt.map(_.seconds).sum), "events/s"),
      "trigger_p50_s" -> (median(tt.map(_.seconds)), "s"),
      "read_scan_s" -> (median(passSeconds("scan")), "s"),
      "lookup_s" -> (median(passSeconds("lookup")), "s"),
      "stored_bytes" -> (bytesUnder(sinkRoot).toDouble, "bytes"),
      "peak_rss_mb" -> (peakRssMb(), "MiB"))
  }

  // ------------------------------------------------------ the traced run

  private final class LayerCounts {
    var eventsIn, routed, rowsOut, corrupt, deletes, dedupOut, inferences = 0L
  }
  private val layer = mutable.Map.empty[Int, LayerCounts]

  /** Replay one trigger's batch through the layers' public functions in
    * the pipeline's order — routed count, schema, normalize, dedup — with
    * a span around each call. The pipeline runs them inside its
    * `foreachBatch`, where they cannot be timed apart from outside. */
  private def replay(strings: Seq[String]): Unit = {
    import spark.implicits._
    val k = spans.trigger
    val c = layer.getOrElseUpdate(k, new LayerCounts)
    val batch = strings.toDF("value")
    batch.persist()
    try {
      val row = spans("route")(batch.select(plan.tables.map(t =>
        count(when(CdcRouter.substringMatch(col("value"), plan.format, t), lit(1))).as(t.id)): _*).head())
      c.eventsIn += strings.size
      plan.tables.zipWithIndex.foreach { case (t, i) =>
        val routed = row.getLong(i)
        c.routed += routed
        if (routed > 0) {
          val values = batch.where(CdcRouter.substringMatch(col("value"), plan.format, t))
            .select(col("value")).as[String]
          val key = s"${plan.format.name}:${t.id}"
          val tick = batchId > 0 && batchId % config.revalidateEvery == 0
          spans("schema", t.id) {
            if (tick || SchemaInference.cached(key).isEmpty) c.inferences += 1
            if (tick) SchemaInference.refresh(spark, key, values)
            else SchemaInference.forTable(spark, key, values, SchemaInference.Mode.Cached)
          }
          spans("normalize", t.id)(CdcNormalize.normalizeMaterialized(spark, batch, plan.format, t,
            SchemaInference.Mode.Cached, knownNonEmpty = true)).foreach { case (df, release) =>
            try {
              val out = df.count()
              c.rowsOut += out
              c.corrupt += routed - out
              c.deletes += df.where(col(CdcNormalize.DeletedCol)).count()
              c.dedupOut += spans("dedup", t.id)(
                LatestPerKey.maxBy(df, t.pkCols, CdcNormalize.MtimeCol).count())
            } finally release()
          }
        }
      }
    } finally batch.unpersist()
  }

  private def layerMetrics(timedFrom: Long): Seq[(String, (Double, String))] = {
    tasks.drain(spark)
    val tt = timedTriggers
    progress.await(triggers.size, 30000)
    val timedIds = tt.map(_.batchId).toSet
    val batches = progress.batches.asScala.toSeq.filter(b => timedIds(b._1))
    val all = spans.all
    def spanSum(name: String, k: Int) = all.filter(s => s.name == name && s.trigger == k).map(_.seconds).sum
    def spanCount(name: String, k: Int) = all.count(s => s.name == name && s.trigger == k).toDouble
    def perTrigger(f: Trigger => Double) = mean(tt.map(f))
    def counts(k: Int) = layer.getOrElse(k, new LayerCounts)
    def taskSum(f: tasks.Task => Double)(t: Trigger) = tasks.tasksIn(t.fromMs, t.toMs).map(f).sum
    val written = timedSinks.flatMap(_.written).filter(w => tt.exists(_.k == w.trigger)).toSeq
    def writtenPer(f: TimedSink.Written => Double) = ratio(written.map(f).sum, tt.size)
    val timedRd = reads.filter(_.timed).toSeq
    def readTasks(r: Read) = tasks.tasksIn(r.fromMs, r.toMs)
    def rowsScanned(r: Read) = readTasks(r).map(_.recordsRead).sum.toDouble
    val scans = timedReads("scan")
    val tot = (f: LayerCounts => Long) => tt.map(t => f(counts(t.k)).toDouble).sum
    Seq(
      "stream.trigger_s" -> (perTrigger(_.seconds), "s"),
      "stream.add_batch_s" -> (mean(batches.map(_._2 / 1e3)), "s"),
      "stream.runtime_s" -> (mean(batches.map(b => (b._3 - b._2) / 1e3)), "s"),
      "stream.jobs" -> (perTrigger(t => tasks.jobsIn(t.fromMs, t.toMs)), "count"),
      "stream.stages" -> (perTrigger(t => tasks.stagesIn(t.fromMs, t.toMs)), "count"),
      "stream.tasks" -> (perTrigger(t => tasks.tasksIn(t.fromMs, t.toMs).size), "count"),
      "stream.fanout_overlap" -> (ratio(tt.map(t => spanSum("sink.upsert", t.k)).sum,
        tt.map(_.seconds).sum), "ratio"),
      "route.s" -> (perTrigger(t => spanSum("route", t.k)), "s"),
      "route.events_in" -> (perTrigger(t => counts(t.k).eventsIn), "count"),
      "route.events_routed" -> (perTrigger(t => counts(t.k).routed), "count"),
      "route.routed_ratio" -> (ratio(tot(_.routed), tot(_.eventsIn)), "ratio"),
      "schema.s" -> (perTrigger(t => spanSum("schema", t.k)), "s"),
      "schema.inferences" -> (perTrigger(t => counts(t.k).inferences), "count"),
      "normalize.s" -> (perTrigger(t => spanSum("normalize", t.k)), "s"),
      "normalize.rows_out" -> (perTrigger(t => counts(t.k).rowsOut), "count"),
      "normalize.corrupt" -> (perTrigger(t => counts(t.k).corrupt), "count"),
      "normalize.deletes" -> (perTrigger(t => counts(t.k).deletes), "count"),
      "dedup.s" -> (perTrigger(t => spanSum("dedup", t.k)), "s"),
      "dedup.rows_in" -> (perTrigger(t => counts(t.k).rowsOut), "count"),
      "dedup.rows_out" -> (perTrigger(t => counts(t.k).dedupOut), "count"),
      "dedup.collapse_ratio" -> (ratio(tot(_.rowsOut), tot(_.dedupOut)), "ratio"),
      "sink.upsert_s" -> (perTrigger(t => spanSum("sink.upsert", t.k)), "s"),
      "sink.rows_written" -> (perTrigger(taskSum(_.recordsWritten.toDouble)), "count"),
      "sink.files_written" -> (writtenPer(_.files.toDouble), "count"),
      "sink.bytes_written" -> (writtenPer(_.bytes.toDouble), "bytes"),
      "sink.write_amp" -> (ratio(written.map(_.bytes.toDouble).sum, tt.map(_.rawBytes.toDouble).sum), "ratio"),
      "sink.compactions" -> (writtenPer(w => if (w.compacted) 1.0 else 0.0), "count"),
      "catalog.sync_s" -> (perTrigger(t => spanSum("catalog.sync", t.k)), "s"),
      "catalog.syncs" -> (perTrigger(t => spanCount("catalog.sync", t.k)), "count"),
      "read.s" -> (mean(timedRd.map(_.seconds)), "s"),
      "read.files_scanned" -> (mean(timedRd.map(_.files.toDouble)), "count"),
      "read.bytes_scanned" -> (mean(timedRd.map(r => readTasks(r).map(_.bytesRead).sum.toDouble)), "bytes"),
      "read.rows_scanned" -> (mean(timedRd.map(rowsScanned)), "count"),
      "read.amp" -> (ratio(scans.map(rowsScanned).sum, scans.map(_.liveRows.toDouble).sum), "ratio"),
      "spark.task_cpu_s" -> (perTrigger(taskSum(_.cpuNs / 1e9)), "s"),
      "spark.task_run_s" -> (perTrigger(taskSum(_.runMs / 1e3)), "s"),
      "spark.shuffle_read_bytes" -> (perTrigger(taskSum(_.shuffleRead.toDouble)), "bytes"),
      "spark.shuffle_write_bytes" -> (perTrigger(taskSum(_.shuffleWrite.toDouble)), "bytes"),
      "spark.spill_bytes" -> (perTrigger(taskSum(_.spill.toDouble)), "bytes"),
      "spark.gc_s" -> (perTrigger(taskSum(_.gcMs / 1e3)), "s"))
  }
}
