package graft.stream

import graft.cdc.{CdcFormat, SchemaInference, SyncTable}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** End-to-end streaming throughput probe: MemoryStream → JSON normalize
  * → per-table fan-out → keyed upsert merge, timed over a fixed batch
  * count — the events/s figure a cluster deployment watches when tuning
  * `maxOffsetsPerTrigger` (the reference's own guidance,
  * `/root/reference/README.md:18-19`). Not a correctness row: the
  * pipeline's semantics are oracle-gated via the `cdc_*` batch queries
  * and scalatest e2e; this measures the streaming runtime only.
  *
  * Workload shape: two tables (fan-out exercised), keyspace smaller
  * than the event count (updates and latest-per-key conflicts happen),
  * ~8% deletes (both sink branches run). One untimed warm batch first —
  * the JSON parser JIT otherwise lands on batch 1.
  */
object StreamBench {

  final case class Result(events: Long, batches: Int, sec: Double, eps: Double)

  private def event(table: String, id: Long, v: String, ts: Long, op: String): String =
    if (op == "d")
      s"""{"before":{"id":$id,"v":"$v"},"after":null,"source":{"db":"sb_db","table":"$table"},"op":"d","ts_ms":$ts}"""
    else
      s"""{"before":null,"after":{"id":$id,"v":"$v"},"source":{"db":"sb_db","table":"$table"},"op":"$op","ts_ms":$ts}"""

  /** Deterministic batch payload: event i of batch b upserts key
    * `(b*n+i) % keyspace` (so later batches update earlier keys), every
    * 12th event is a delete. */
  private[stream] def genBatch(b: Long, n: Int, keyspace: Long): Seq[String] =
    (0 until n).map { i =>
      val seq = b * n + i
      val id = math.floorMod(seq * 2654435761L, keyspace)
      val table = if (id % 2 == 0) "t0" else "t1"
      // floorMod: the warm batch runs at b = -1 (negative seq), where
      // signed % would NEVER select "d" — a delete-free warm batch under
      // Mode.Cached caches `before` as StringType (nulls-only inference)
      // and every delete in the TIMED batches then normalizes to a
      // null-key row, silently killing the delete path being measured.
      // For seq ≥ 0 (all timed batches) floorMod ≡ %, so timings and
      // sink contents are unchanged.
      val op = if (math.floorMod(seq, 12) == 11) "d"
               else if (math.floorMod(seq, 3) == 0) "u" else "c"
      event(table, id, s"v$seq", ts = seq, op = op)
    }

  def run(spark: SparkSession, eventsPerBatch: Int, batches: Int): Result = {
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import spark.implicits._
    val root = graft.queries.CdcQueries.tempSinkDir("graft-sbench-sink").toString
    val ckpt = graft.queries.CdcQueries.tempSinkDir("graft-sbench-ckpt").toString
    // The sink is the default COW table. The bucketed sink was measured
    // 20% SLOWER on this row — a 25k-event batch over this keyspace
    // touches every bucket, so incremental = full rewrite + manifest
    // overhead; its advantage needs per-batch key counts ≪ bucket count
    // (the 100 TB regime, asserted structurally by the byte-identity spec
    // in BucketedUpsertTableSpec instead of timed here).
    val cfg = CdcPipelineConfig(
      format = CdcFormat.MskDebeziumCdc,
      tables = Seq(SyncTable("sb_db", "t0", "id"), SyncTable("sb_db", "t1", "id")),
      sinkRoot = root,
      checkpointDir = ckpt,
      // 0-second ProcessingTime = run micro-batches back-to-back. A
      // throughput probe must not sleep: a positive interval ALIGNS
      // batch starts to interval boundaries, so a batch finishing at
      // 1.1s idles 0.9s before the next — measured ~45% of wall time
      // lost to alignment at "1 second" with ~1s batches.
      triggerInterval = "0 seconds",
      // the PRODUCTION schema mode (the pipeline default): per-table
      // cached schema with corrupt-record re-probe — InferAlways would
      // time the reference's extra per-batch inference scan instead of
      // the engine's steady state (SURVEY §4.3.2)
      schemaMode = SchemaInference.Mode.Cached)
    val keyspace = eventsPerBatch.toLong * batches / 4 // ≥4 versions/key on average
    val input = MemoryStream[String]
    val p = new CdcPipeline(spark, cfg)
    val q = p.start(input.toDF())
    try {
      input.addData(genBatch(-1L, math.min(2000, eventsPerBatch), keyspace): _*)
      q.processAllAvailable() // warm batch, untimed
      val t0 = System.nanoTime()
      var b = 0
      while (b < batches) {
        input.addData(genBatch(b.toLong, eventsPerBatch, keyspace): _*)
        q.processAllAvailable() // per-batch barrier = trigger semantics
        b += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val n = eventsPerBatch.toLong * batches
      Result(n, batches, dt, n / dt)
    } finally { q.stop(); p.shutdown() }
  }

  /** Standalone entry: `runMain graft.stream.StreamBench [eventsPerBatch [batches]]`.
    * `GRAFT_STREAM_WARMRUN=1` runs one full small pipeline first,
    * untimed — standalone cold-JVM numbers are dominated by C2
    * compilation of the JSON/codegen paths, which the in-bench stream
    * row (running after 90 warmed queries) never pays. */
  def main(args: Array[String]): Unit = {
    val epb = args.lift(0).map(_.toInt).getOrElse(25000)
    val nb = args.lift(1).map(_.toInt).getOrElse(6)
    val spark = graft.SparkSessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    if (sys.env.contains("GRAFT_STREAM_WARMRUN")) run(spark, 5000, 3)
    // GRAFT_STREAM_REPS > 1: repeat the full-size run and report the
    // MAX-QUIET MEDIAN as the final line (the machine-parsed contract
    // below) — Bench forks this main for the fresh-JVM standalone
    // figure. Each rep is bracketed by a /proc/stat steal sample (the
    // BenchOne probe): the committed figure is the median eps of the 3
    // LOWEST-STEAL reps, so one hypervisor burst stops dragging the
    // cross-round floor (r14 windows read 22.4-32.4k on identical code
    // purely by window luck); every rep stays printed with its steal,
    // the probe annotates, never hides.
    def stealSeconds(): Double = graft.util.HostProbe.stealSeconds()
    val reps = sys.env.getOrElse("GRAFT_STREAM_REPS", "1").toInt
    val rs = (1 to reps).map { i =>
      val s0 = stealSeconds()
      val r = run(spark, epb, nb)
      val s1 = stealSeconds()
      val st = if (s0 < 0 || s1 < 0) -1.0 else s1 - s0
      if (reps > 1)
        println(f"[stream-bench] run$i sec=${r.sec}%.3f eps=${r.eps}%.1f steal=$st%.3f")
      (r, st)
    }
    val pool =
      if (rs.size < 3 || rs.exists(_._2 < 0)) rs // probe unreadable: no filter
      else rs.sortBy(_._2).take(3)
    val byEps = pool.sortBy(_._1.eps)
    val (r, rSteal) = byEps(byEps.size / 2)
    println(f"[stream-bench] events=${r.events} batches=${r.batches} sec=${r.sec}%.3f eps=${r.eps}%.1f steal=$rSteal%.3f")
    spark.stop()
  }
}
