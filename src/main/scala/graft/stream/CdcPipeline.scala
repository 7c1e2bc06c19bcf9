package graft.stream

import graft.cdc._
import graft.sink.KeyedUpsertTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

/** The end-to-end streaming driver (SURVEY.md §2.6 K2 + §2.7 O1-O3):
  * raw value stream → `foreachBatch` → per-table route/parse/normalize/
  * dedup → keyed upsert sink.
  *
  * Reference behavior reproduced (`/root/reference/glue/cdc_hudi.py:254-287`):
  *  - the micro-batch is pinned once (`cache()` at `:255`, `unpersist()` at
  *    `:275`) so N table pipelines scan the source exactly once — this also
  *    fixes the round-1 defect where `normalize`'s empty-probe + schema
  *    inference + parse re-scanned an unpersisted batch 3-4×;
  *  - per-table fan-out on a thread pool (`:260-274`) with FAIR scheduler
  *    pools so concurrent table jobs share executors instead of FIFO
  *    head-of-line blocking (`:34`); here: Scala Futures on a dedicated
  *    ExecutionContext + `spark.scheduler.pool` local property;
  *  - fail-fast (`:248-251,267-272`): the first table failure fails the
  *    whole batch → Structured Streaming replays it from the checkpoint;
  *    replay is safe because the keyed upsert is idempotent per key;
  *  - a table with no routed records in the batch is skipped (`:247,267`).
  *
  * Divergence (deliberate, SURVEY.md §4.3.2): schema inference defaults to
  * [[SchemaInference.Mode.Cached]] instead of the reference's
  * infer-every-batch — at scale re-inference is a full extra scan per
  * table per batch. Evolution is still caught: parse failures trigger
  * re-inference immediately (corrupt-record probe in [[CdcNormalize]]),
  * and `revalidateEvery` forces a periodic re-infer so purely-additive new
  * JSON fields are picked up within N batches (the reference picks them up
  * in 1 batch at ~Nx the scan cost). Set `schemaMode = InferAlways` for
  * exact reference parity.
  */
final case class CdcPipelineConfig(
    format: CdcFormat,
    tables: Seq[SyncTable],
    sinkRoot: String,
    checkpointDir: String,
    triggerInterval: String = "10 seconds",
    schemaMode: SchemaInference.Mode = SchemaInference.Mode.Cached,
    strictRouting: Boolean = false,
    /** Force a schema re-infer every N batches (additive-evolution bound). */
    revalidateEvery: Int = 10,
    maxParallelTables: Int = 8,
    /** When set, every sink table is hive-sync'd into the session catalog
      * as `<catalogDb>.<tableName>` on each commit (the reference's
      * Glue-sync, `glue/cdc_hudi.py:190-194`). */
    catalogDb: Option[String] = None,
    /** O5 debug sampling gate (`config/job.properties:9` `disable_msg`,
      * used at `glue/cdc_hudi.py:105-113,245,257`): when FALSE, each
      * pipeline stage logs a schema + 5-row sample via `take(n)` (a
      * short-circuiting LocalLimit). True (the reference's default)
      * performs zero extra actions. */
    disableMsg: Boolean = true,
    /** Where debug samples go; swappable so tests can capture them. */
    debugLog: String => Unit = s => Console.err.println(s),
    /** When set, sink tables use the INCREMENTAL bucketed layout with
      * this many hash buckets per table — a micro-batch rewrites only
      * touched buckets instead of the full COW rewrite (the 100 TB
      * path; see [[graft.sink.BucketedUpsertTable]]). `catalogDb`
      * applies to both layouts: COW syncs an external table, bucketed
      * syncs a per-commit-refreshed view (the reference hive-syncs every
      * table unconditionally, `glue/cdc_hudi.py:190-194`). */
    bucketedSink: Option[Int] = None,
    /** The sink EDGE seam: when set, (root, table, catalog name) →
      * sink, overriding the built-in COW/bucketed selection — this is
      * where [[Edges.sinkFactory]] plugs a real Hudi sink in on a
      * cluster (one config line; see README "Cluster-day swap"). */
    sinkFactory: Option[(String, SyncTable, Option[String]) => graft.sink.UpsertSink] = None)

final class CdcPipeline(spark: SparkSession, config: CdcPipelineConfig) {

  private val pool = Executors.newFixedThreadPool(
    math.max(1, math.min(config.maxParallelTables, config.tables.size)))
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  /** One sink table per configured source table, rooted at
    * `sinkRoot/<db>/<table>` (`glue/cdc_hudi.py:180` layout). */
  /** Catalog names: `tableName` alone unless two configured tables
    * share it (e.g. db1.user + db2.user), in which case each colliding
    * table gets `dbName_tableName` — two sinks DROP/CREATE-ing one
    * catalog name would otherwise clobber each other every commit. */
  private val catalogNameOf: Map[String, String] = {
    val byName = config.tables.groupBy(_.tableName)
    config.tables.map { t =>
      t.id -> (if (byName(t.tableName).size > 1) s"${t.dbName}_${t.tableName}"
               else t.tableName)
    }.toMap
  }

  val sinks: Map[String, graft.sink.UpsertSink] = config.tables.map { t =>
    val root = s"${config.sinkRoot}/${t.dbName}/${t.tableName}"
    val catalogName = config.catalogDb.map(db => s"$db.${catalogNameOf(t.id)}")
    t.id -> (config.sinkFactory match {
      case Some(mk) => mk(root, t, catalogName)
      case None => config.bucketedSink match {
        case Some(n) =>
          new graft.sink.BucketedUpsertTable(spark, root, t.pkCols, nBuckets = n,
            catalogTable = catalogName)
        case None =>
          new KeyedUpsertTable(spark, root, t.pkCols, catalogTable = catalogName)
      }
    })
  }.toMap

  /** The reference's per-stage observability loop (`glue/cdc_hudi.py:
    * 105-113`): schema tree + 5 sample rows, gated on `disable_msg`. A
    * no-op (no action, no sample) when disabled. */
  private def debugSample(stage: String, batchId: Long, df: DataFrame): Unit =
    if (!config.disableMsg)
      config.debugLog(
        s"[graft-cdc] batch=$batchId stage=$stage\n" +
          graft.util.Debug.dfExampleString(df))

  /** Process one micro-batch: pin it, fan out per table, fail fast.
    *
    * Job budget (the events/s headline is mostly fixed per-batch cost at
    * micro-batch sizes): one job per trigger, the routed count of every
    * table, which also materializes the pinned batch. Then, per table
    * with routed records on a copy-on-write sink, three: the
    * cached-schema corrupt probe, which doubles as the parse-cache
    * materialization ([[CdcNormalize.normalizeMaterialized]]), and the
    * merge's shuffle and write. The sink and the catalog binding
    * remember the schemas they last committed and published, so a steady
    * commit infers none. A `revalidateEvery` tick adds one inference job
    * per table; a table's first trigger in a process adds its initial
    * inference. */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    graft.util.StageProf.timed("batch.total")(processBatch0(batch, batchId))

  private def processBatch0(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      val routedCounts: Map[String, Long] =
        graft.util.StageProf.timed("batch.routedCounts") {
          // summed through the RDD: one job, no shuffle (a DataFrame
          // aggregate is three jobs under adaptive execution)
          val n = config.tables.size
          val counts = batch.select(config.tables.map(t =>
            when(CdcRouter.substringMatch(col("value"), config.format, t), 1)
              .otherwise(0)): _*)
            .rdd.aggregate(new Array[Long](n))(
              (acc, row) => { for (i <- 0 until n) acc(i) += row.getInt(i); acc },
              (a, b) => { for (i <- 0 until n) a(i) += b(i); a })
          config.tables.map(_.id).zip(counts).toMap
        }
      if (routedCounts.valuesIterator.exists(_ > 0)) {
        debugSample("raw", batchId, batch)
        // revalidateEvery tick: merge-refresh (old ∪ new) inside normalize
        // — NOT a cache invalidate, which would drop columns absent from
        // this batch's sample and silently lose their later values.
        val revalidate = config.schemaMode == SchemaInference.Mode.Cached &&
          config.revalidateEvery > 0 && batchId > 0 &&
          batchId % config.revalidateEvery == 0
        val futures = config.tables.filter(t => routedCounts(t.id) > 0).map { table =>
          Future {
            // FAIR pool per table so long writes interleave (O2).
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", table.id)
            try {
              graft.util.StageProf.timed("normalize.plan")(
                CdcNormalize.normalizeMaterialized(spark, batch, config.format, table,
                  config.schemaMode, config.strictRouting,
                  forceRefresh = revalidate, knownNonEmpty = true))
                .foreach { case (normalized, release) =>
                  try {
                    debugSample(s"normalized:${table.id}", batchId, normalized)
                    graft.util.StageProf.timed("sink.upsert")(
                      sinks(table.id).upsert(normalized))
                    if (!config.disableMsg)
                      sinks(table.id).read()
                        .foreach(debugSample(s"merged:${table.id}", batchId, _))
                  } finally release()
                }
            } finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          }
        }
        // Future.sequence fails as soon as any table task fails (O3);
        // the exception propagates out of foreachBatch and kills the
        // batch → checkpoint replay on restart.
        Await.result(Future.sequence(futures), Duration.Inf)
      }
    } finally {
      try batch.unpersist()
      catch { case NonFatal(_) => () }
    }
  }

  /** Wire onto a streaming DataFrame bearing a string `value` column (the
    * Kafka value post-`CAST(value AS STRING)`, or any file/memory source
    * for tests — the source is a config-swappable edge, SURVEY.md §7.0). */
  def start(raw: DataFrame): StreamingQuery =
    raw.select(col("value").cast("string").as("value"))
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(config.triggerInterval))
      .option("checkpointLocation", config.checkpointDir)
      .foreachBatch(processBatch _)
      .start()

  def shutdown(): Unit = pool.shutdown()
}

object CdcPipeline {

  /** The reference's session settings (`glue/cdc_hudi.py:29-39`): Kryo +
    * FAIR scheduling (Hudi-specific extensions dropped — no Hudi here). */
  def sessionBuilder(master: String, shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.shuffle.partitions", shufflePartitions)

  /** Kafka source spec (`glue/cdc_hudi.py:82-95`) — buildable only where
    * the spark-sql-kafka connector jar is on the classpath; in this
    * offline environment the streaming tests use file/memory sources with
    * identical downstream semantics.
    *
    * Parity options: start position is either a named offset or a
    * timestamp (`startingTimestamp`, epoch millis — the reference's
    * `startingOffsets=timestamp` mode), rate is capped by
    * `maxOffsetsPerTrigger`, and the consumer group id is set for the
    * offset-commit monitoring path (`glue/cdc_hudi.py:85-93`; K3). */
  def kafkaSource(spark: SparkSession, brokers: String, topics: String,
                  startingOffsets: String = "earliest",
                  maxOffsetsPerTrigger: Long = 1000000L,
                  groupId: Option[String] = None,
                  startingTimestamp: Option[Long] = None): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
    val withStart = startingTimestamp match {
      case Some(ts) => base.option("startingTimestamp", ts)
      case None     => base.option("startingOffsets", startingOffsets)
    }
    groupId.foldLeft(withStart)((b, g) => b.option("kafka.group.id", g))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")
  }
}
