package graft.stream

import graft.cdc.{CdcNormalize, SyncTable}
import graft.sink.{BucketedUpsertTable, EdgeProbe, HudiUpsertSink, KeyedUpsertTable, MorUpsertTable, UpsertSink}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The cluster-day edge selection: which physical SOURCE feeds the
  * pipeline and which physical SINK materializes it, chosen by config
  * string — so the deployment swap (file→Kafka, parquet→Hudi) is a
  * one-line config change, not a code change. Everything between the
  * edges (route/parse/normalize/dedup/merge, [[CdcPipeline]]) is
  * identical in both worlds; that's the point of the seam.
  *
  * `source = file | kafka`; `sink = cow | bucketed | mor | hudi`. The
  * connector-backed edges require their jars
  * ([[graft.sink.EdgeProbe]]); selecting one without the jar fails
  * fast at build time with an actionable message rather than at the
  * first micro-batch. */
final case class EdgeConfig(
    source: String = "file",
    sink: String = "cow",
    // file source: directory of newline-delimited raw event strings
    sourcePath: Option[String] = None,
    // kafka source (parity options, `glue/cdc_hudi.py:82-95`)
    brokers: Option[String] = None,
    topics: Option[String] = None,
    startingOffsets: String = "earliest",
    maxOffsetsPerTrigger: Long = 1000000L,
    groupId: Option[String] = None,
    startingTimestamp: Option[Long] = None,
    // bucketed / mor sinks
    nBuckets: Int = 16,
    // mor sink: compact a bucket when its delta chain exceeds this
    compactAfter: Int = 4)

object Edges {

  /** Build the raw `value: STRING` stream for the configured source.
    * Both edges produce the IDENTICAL schema the pipeline consumes. */
  def source(spark: SparkSession, cfg: EdgeConfig): DataFrame = cfg.source match {
    case "file" =>
      val path = cfg.sourcePath.getOrElse(
        throw new IllegalArgumentException("source=file needs sourcePath"))
      spark.readStream.format("text").load(path).select(col("value"))
    case "kafka" =>
      require(EdgeProbe.kafkaAvailable,
        "source=kafka but the spark-sql-kafka connector is not on the " +
          "classpath; add the spark-sql-kafka-0-10 jar or use source=file")
      CdcPipeline.kafkaSource(spark,
        cfg.brokers.getOrElse(throw new IllegalArgumentException("source=kafka needs brokers")),
        cfg.topics.getOrElse(throw new IllegalArgumentException("source=kafka needs topics")),
        cfg.startingOffsets, cfg.maxOffsetsPerTrigger, cfg.groupId,
        cfg.startingTimestamp)
    case other =>
      throw new IllegalArgumentException(s"unknown source edge '$other' (file | kafka)")
  }

  /** Sink factory for [[CdcPipelineConfig.sinkFactory]]: (root, table,
    * catalog name) → the configured sink implementation. */
  def sinkFactory(spark: SparkSession, cfg: EdgeConfig)
      : (String, SyncTable, Option[String]) => UpsertSink = cfg.sink match {
    case "cow" => (root, t, cat) =>
      new KeyedUpsertTable(spark, root, t.pkCols, catalogTable = cat)
    case "bucketed" => (root, t, cat) =>
      new BucketedUpsertTable(spark, root, t.pkCols, nBuckets = cfg.nBuckets,
        catalogTable = cat)
    case "mor" => (root, t, cat) =>
      new MorUpsertTable(spark, root, t.pkCols, nBuckets = cfg.nBuckets,
        compactAfter = cfg.compactAfter, catalogTable = cat)
    case "hudi" => (root, t, cat) =>
      new HudiUpsertSink(spark, root, t.pkCols,
        precombine = CdcNormalize.MtimeCol, tableName = t.tableName,
        hiveSyncDb = cat.flatMap(_.split('.').headOption))
    case other =>
      throw new IllegalArgumentException(s"unknown sink edge '$other' (cow | bucketed | mor | hudi)")
  }
}
