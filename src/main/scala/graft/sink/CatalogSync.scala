package graft.sink

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap
import scala.util.Try

/** The catalog seam of the upsert sinks — the engine's equivalent of the
  * reference's unconditional Hive/Glue sync after every Hudi commit
  * (`/root/reference/glue/cdc_hudi.py:190-194`). Both sinks publish
  * by-name access through THIS interface only, so pointing a deployment
  * at an external metastore (Glue, HMS, Unity) is one binding swap at
  * construction time — no sink logic changes, and the commit protocol
  * (publish AFTER the pointer swap, never before) stays in the sinks.
  *
  * Two publish shapes exist because the two layouts need different
  * catalog objects: the COW table is a single directory → an external
  * location-based table; the bucketed table's snapshot is a manifest
  * over many commit dirs → a view with a static partition-pruned body
  * (see [[BucketedUpsertTable.syncCatalog]]).
  */
trait CatalogSync {

  /** Publish `nameParts` (`Seq(db, table)` or `Seq(table)`) as an
    * external parquet table rooted at `location`, creating the database
    * if needed. Must be metadata-only (never touch data files) and must
    * propagate schema changes between successive locations. */
  def publishExternalTable(nameParts: Seq[String], location: java.net.URI): Unit

  /** Publish `nameParts` as a (replaceable) view whose body is
    * `selectBody`, creating the database if needed. Metadata-only. */
  def publishView(nameParts: Seq[String], selectBody: String): Unit
}

/** The in-session binding: publishes into the Spark session catalog with
  * plain SQL DDL. An external-metastore binding implements the same two
  * methods against its API instead. One binding may serve several
  * tables from several threads; each table's commits are serial. */
final class SessionCatalogSync(spark: SparkSession) extends CatalogSync {

  /** Per catalog name, the schema this binding last published there. */
  private val published = new ConcurrentHashMap[Seq[String], StructType]()

  private lazy val footers =
    new ParquetSchema.FooterReader(spark.sparkContext.hadoopConfiguration)

  private def quoted(parts: Seq[String]): String =
    parts.map(p => s"`$p`").mkString(".")

  private def ensureDatabase(parts: Seq[String]): Unit =
    if (parts.length == 2)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `${parts.head}`")

  override def publishExternalTable(parts: Seq[String],
                                    location: java.net.URI): Unit = {
    val q = quoted(parts)
    val alter = s"ALTER TABLE $q SET LOCATION '$location'"
    // One footer read on the driver; a directory the footer cannot
    // describe falls back to Spark's schema inference (a Spark job).
    val schema = Try(footers.schemaOf(location)).toOption.flatten
      .getOrElse(spark.read.parquet(location.toString).schema)
    // Steady state: the schema this binding last published here is
    // unchanged, so the commit is one ALTER ... SET LOCATION —
    // metadata-only, with no visibility gap for concurrent by-name
    // readers. If the ALTER fails (the entry or its database was dropped
    // behind the binding's back), or this binding has not published the
    // name yet, or the schema changed, consult the catalog: ALTER when
    // its entry already has this schema, else DROP + CREATE (the entry
    // pins the schema from creation time), whose brief gap is confined
    // to evolution commits.
    if (published.get(parts) != schema || Try(spark.sql(alter)).isFailure) {
      ensureDatabase(parts)
      val fqn = parts.mkString(".")
      val sameSchema = spark.catalog.tableExists(fqn) &&
        Try(spark.table(fqn).schema == schema).getOrElse(false)
      if (sameSchema) spark.sql(alter)
      else {
        spark.sql(s"DROP TABLE IF EXISTS $q")
        spark.sql(s"CREATE TABLE $q USING parquet LOCATION '$location'")
      }
    }
    published.put(parts, schema)
  }

  override def publishView(parts: Seq[String], selectBody: String): Unit = {
    ensureDatabase(parts)
    spark.sql(s"CREATE OR REPLACE VIEW ${quoted(parts)} AS $selectBody")
  }
}
