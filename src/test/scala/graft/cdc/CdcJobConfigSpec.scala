package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** S4: properties-file boot path (ref `glue/cdc_hudi.py:40-78`,
  * `config/job.properties` shape incl. backslash line continuations). */
class CdcJobConfigSpec extends AnyFunSuite {

  private val text =
    """checkpoint_location = /tmp/ckpt/
      |checkpoint_interval = 30 seconds
      |kafka_broker = broker-1:9092
      |topic = cdc_topic
      |startingOffsets = latest
      |thread_max_workers = 12
      |disable_msg = false
      |cdc_format = FLINK-CDC
      |max_offsets_per_trigger = 500000
      |consumer_group = g1
      |hudi_db_name = cdc_db
      |hudi_s3_path = /tmp/sink/
      |sync_table_list = [\
      |  {"db_name": "test_db", "table_name": "product", "primary_key": "id"},\
      |  {"db_name": "test_db", "table_name": "user", "primary_key": "id,region"}\
      |]
      |""".stripMargin

  test("parses the reference key set incl. multi-line sync_table_list") {
    val c = CdcJobConfig.parse(text)
    assert(c.format === CdcFormat.FlinkCdc)
    assert(c.tables.map(_.tableName) === Seq("product", "user"))
    assert(c.tables(1).pkCols === Seq("id", "region")) // composite key
    assert(c.maxOffsetsPerTrigger === 500000L)
    assert(c.threadMaxWorkers === 12)
    assert(c.startingOffsets === "latest")
    assert(!c.disableMsg)
  }

  test("bridges into the pipeline config") {
    val p = CdcJobConfig.parse(text).toPipelineConfig
    assert(p.sinkRoot === "/tmp/sink/")
    assert(p.checkpointDir === "/tmp/ckpt/")
    assert(p.triggerInterval === "30 seconds")
    assert(p.maxParallelTables === 12)
    assert(p.tables.size === 2)
    assert(p.debugLog.isDefined) // disable_msg = false samples each stage
    val quiet = CdcJobConfig.parse(text.replace("disable_msg = false", "disable_msg = true"))
    assert(quiet.toPipelineConfig.debugLog.isEmpty)
  }

  test("starting_timestamp is optional and parsed as epoch millis") {
    assert(CdcJobConfig.parse(text).startingTimestamp.isEmpty)
    val withTs = CdcJobConfig.parse(text + "starting_timestamp = 1705276800000\n")
    assert(withTs.startingTimestamp === Some(1705276800000L))
  }

  test("missing required keys fail fast with the key name") {
    val e = intercept[IllegalArgumentException] {
      CdcJobConfig.parse("cdc_format = DMS-CDC\n")
    }
    assert(e.getMessage.contains("'"))
  }

  test("unknown cdc_format is rejected") {
    intercept[IllegalArgumentException] {
      CdcJobConfig.parse(text.replace("FLINK-CDC", "NOPE-CDC"))
    }
  }
}
