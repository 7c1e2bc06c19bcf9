package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The real-Hudi edge of the [[UpsertSink]] seam: identical observable
  * semantics to [[KeyedUpsertTable]] (latest-wins by precombine field,
  * upsert by record key, COW), delegated to the Hudi connector — the
  * reference's actual sink (`/root/reference/glue/cdc_hudi.py:183-216`
  * builds the same option map: record key, precombine, COW table type,
  * upsert operation, hive sync).
  *
  * Constructible only where the Hudi jar is on the classpath
  * ([[EdgeProbe.hudiAvailable]]) — this offline environment isn't, so
  * the class is exercised by the fail-fast path of `EdgesSpec` and the
  * option map stays the documented, testable contract for cluster day.
  * Option keys are the public Hudi datasource API. */
final class HudiUpsertSink(
    spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val precombine: String,
    val tableName: String,
    val hiveSyncDb: Option[String] = None) extends UpsertSink {

  require(EdgeProbe.hudiAvailable,
    "Hudi connector (org.apache.hudi.DefaultSource) is not on the " +
      "classpath; use sink=cow, sink=bucketed or sink=mor, or add the " +
      "hudi-spark-bundle jar")

  /** The write options the reference job sets per table
    * (`glue/cdc_hudi.py:183-216`), minus Glue specifics. The payload
    * class matters for semantic parity: Hudi's DEFAULT payload applies
    * the precombine field only WITHIN a batch (cross-commit merges are
    * arrival-order wins), while `DefaultHoodieRecordPayload` + the
    * ordering field compares incoming vs STORED — the latest-wins-by-
    * mtime rule [[KeyedUpsertTable.merge]] implements and the reference
    * sets explicitly (`glue/cdc_hudi.py:195`). Without it a late
    * out-of-order CDC row would clobber a newer stored row. */
  def writeOptions: Map[String, String] = Map(
    "hoodie.table.name" -> tableName,
    "hoodie.datasource.write.recordkey.field" -> keys.mkString(","),
    "hoodie.datasource.write.precombine.field" -> precombine,
    "hoodie.datasource.write.payload.class" ->
      "org.apache.hudi.common.model.DefaultHoodieRecordPayload",
    "hoodie.payload.ordering.field" -> precombine,
    "hoodie.datasource.write.operation" -> "upsert",
    "hoodie.datasource.write.table.type" -> "COPY_ON_WRITE",
  ) ++ hiveSyncDb.map(db => Map(
    "hoodie.datasource.hive_sync.enable" -> "true",
    "hoodie.datasource.hive_sync.database" -> db,
    "hoodie.datasource.hive_sync.table" -> tableName,
  )).getOrElse(Map.empty)

  override def upsert(batch: DataFrame): Unit =
    batch.write.format("hudi").options(writeOptions).mode("append").save(root)

  override def read(): Option[DataFrame] = {
    // existence check through root's OWN filesystem — on a cluster root
    // is an s3://... or hdfs://... URI, where a local java.io.File
    // check would be permanently false
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.format("hudi").load(root)) else None
  }
}

/** Classpath probes for the optional connector jars — the condition the
  * cluster-day smoke tests key on (`assume(...)` offline, real e2e on a
  * cluster). */
object EdgeProbe {
  private def present(cls: String): Boolean =
    try { Class.forName(cls); true } catch { case _: Throwable => false }

  /** spark-sql-kafka connector present? */
  lazy val kafkaAvailable: Boolean =
    present("org.apache.spark.sql.kafka010.KafkaSourceProvider")

  /** hudi-spark bundle present? */
  lazy val hudiAvailable: Boolean =
    present("org.apache.hudi.DefaultSource")
}
