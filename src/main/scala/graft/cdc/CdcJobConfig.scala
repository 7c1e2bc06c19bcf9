package graft.cdc

import graft.stream.CdcPipelineConfig

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.StringReader
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** S4: the reference's `.properties` job configuration
  * (`/root/reference/glue/cdc_hudi.py:40-78`, `config/job.properties`) —
  * a flat properties file whose `sync_table_list` value is a JSON array
  * of `{db_name, table_name, primary_key}` entries (line continuations
  * via trailing backslash, handled natively by `java.util.Properties`).
  *
  * The reference fetches the file from S3 with boto3; here the source is
  * any readable path/string — the fetch transport is a config-swappable
  * edge exactly like the Kafka source (SURVEY.md §7.0).
  */
final case class CdcJobConfig(
    format: CdcFormat,
    tables: Seq[SyncTable],
    checkpointLocation: String,
    checkpointInterval: String,
    kafkaBroker: String,
    topic: String,
    startingOffsets: String,
    /** Epoch-millis start position (the reference's
      * `startingOffsets=timestamp` mode, README.md guidance); when set it
      * overrides `startingOffsets`. */
    startingTimestamp: Option[Long],
    maxOffsetsPerTrigger: Long,
    threadMaxWorkers: Int,
    consumerGroup: String,
    sinkDbName: String,
    sinkPath: String,
    disableMsg: Boolean) {

  /** Bridge into the engine's pipeline config (sink root = the
    * reference's `hudi_s3_path`, trigger = `checkpoint_interval`). */
  def toPipelineConfig: CdcPipelineConfig = CdcPipelineConfig(
    format = format,
    tables = tables,
    sinkRoot = sinkPath,
    checkpointDir = checkpointLocation,
    triggerInterval = checkpointInterval,
    maxParallelTables = math.max(1, threadMaxWorkers),
    catalogDb = Some(sinkDbName),
    debugLog = if (disableMsg) None else Some(Console.err.println))
}

object CdcJobConfig {

  /** Parse properties text (`glue/cdc_hudi.py:51-56` key set). Missing
    * required keys fail fast with the key name, like the reference's
    * KeyError at startup. */
  def parse(text: String): CdcJobConfig = {
    val p = new Properties()
    p.load(new StringReader(text))
    def req(k: String): String = Option(p.getProperty(k)).map(_.trim)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"missing required config key '$k'"))
    def opt(k: String, default: String): String =
      Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty).getOrElse(default)

    val mapper = new ObjectMapper()
    val tableList = mapper.readValue(req("sync_table_list"),
        classOf[java.util.List[java.util.Map[String, String]]])
      .asScala.toSeq.map { m =>
        def field(k: String) = Option(m.get(k)).map(_.trim).filter(_.nonEmpty)
          .getOrElse(throw new IllegalArgumentException(
            s"sync_table_list entry missing '$k': $m"))
        SyncTable(field("db_name"), field("table_name"), field("primary_key"))
      }
    if (tableList.isEmpty)
      throw new IllegalArgumentException("sync_table_list is empty")

    CdcJobConfig(
      format = CdcFormat.fromName(req("cdc_format")),
      tables = tableList,
      checkpointLocation = req("checkpoint_location"),
      checkpointInterval = opt("checkpoint_interval", "60 seconds"),
      kafkaBroker = req("kafka_broker"),
      topic = req("topic"),
      startingOffsets = opt("startingOffsets", "earliest"),
      startingTimestamp = Option(p.getProperty("starting_timestamp"))
        .map(_.trim).filter(_.nonEmpty).map(_.toLong),
      maxOffsetsPerTrigger = opt("max_offsets_per_trigger", "1000000").toLong,
      threadMaxWorkers = opt("thread_max_workers", "8").toInt,
      consumerGroup = opt("consumer_group", "graft-cdc"),
      sinkDbName = opt("hudi_db_name", "cdc_db"),
      sinkPath = req("hudi_s3_path"),
      disableMsg = opt("disable_msg", "true").toBoolean)
  }

  def load(path: String): CdcJobConfig =
    parse(new String(Files.readAllBytes(Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
}
