package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap
import scala.util.Try

/** The catalog seam of the upsert sinks — the engine's equivalent of the
  * reference's unconditional Hive/Glue sync after every Hudi commit
  * (`glue/cdc_hudi.py:190-194`). The sinks publish
  * by-name access through THIS interface only, so pointing a deployment
  * at an external metastore (Glue, HMS, Unity) is one binding swap at
  * construction time — no sink logic changes, and the commit protocol
  * (publish AFTER the pointer swap, never before) stays in the sinks.
  *
  * Two publish shapes exist because the layouts need different catalog
  * objects: the COW table is a single directory → an external
  * location-based table; a bucketed or merge-on-read snapshot is a
  * manifest over many immutable commit directories → a view with a
  * static partition-pruned body, one branch per commit directory (see
  * [[MorUpsertTable.syncCatalog]], which both layouts run).
  * Each branch reads its directory through [[directoryRelation]].
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

  /** The relation through which the body of view `viewParts`, about to
    * be published, reads the immutable commit directory `location` (a
    * fully-qualified path) whose files hold `schema`; a `__bucket=<b>`
    * partition column, when the directory has one, is the last field of
    * `schema`. The default is the path-based ``parquet.`<location>` ``,
    * which Spark resolves by inferring the schema — one Spark job per
    * branch each time the view is analyzed, at publish and at every
    * by-name query. A binding may instead register the directory under
    * a declared schema and return its name, valid at least until the
    * view's next publish but one. */
  def directoryRelation(viewParts: Seq[String], location: String,
                        schema: StructType): String =
    s"parquet.`$location`"
}

/** The in-session binding: publishes into the Spark session catalog with
  * plain SQL DDL. An external-metastore binding implements the same
  * methods against its API instead. One binding may serve several
  * tables from several threads; each table's commits are serial.
  *
  * View branches read declared-schema DIRECTORY TABLES: each commit
  * directory a view references is registered once as the external table
  * `<db>.<view>__<dir>` over its location (`commit-3-compact` becomes
  * `commit_3_compact`), with the schema the sink declares, so neither
  * publishing the view nor a by-name query infers a schema, and the
  * session caches the directory's file listing. An
  * entry is reused only when it carries this view's ownership property,
  * this location and this schema, else it is re-created — a table left
  * by another root or binding is never trusted. Each publish drops the
  * view's directory tables that neither it nor the view's previous
  * publish references, so readers of the replaced view keep theirs,
  * matching the sinks' retention of the previous snapshot; a view's
  * first publish through a binding drops none, since the binding does
  * not know what the replaced view read. A published
  * commit directory must not change (the sinks never reuse a commit id
  * once their pointer names it): the cached listing trusts it. */
final class SessionCatalogSync(spark: SparkSession) extends CatalogSync {

  /** Per catalog name, the schema this binding last published there. */
  private val published = new ConcurrentHashMap[Seq[String], StructType]()

  /** Per view, the directory tables registered since its last publish,
    * and those its last publish referenced. */
  private val pending = new ConcurrentHashMap[Seq[String], Set[String]]()
  private val referenced = new ConcurrentHashMap[Seq[String], Set[String]]()

  /** Table property naming the view a directory table serves. */
  private val OwnerKey = "graft.view"

  private lazy val sessionCatalog = spark.sessionState.catalog

  private lazy val footers =
    new ParquetSchema.FooterReader(spark.sparkContext.hadoopConfiguration)

  private def quoted(parts: Seq[String]): String =
    parts.map(p => s"`$p`").mkString(".")

  private def ensureDatabase(parts: Seq[String]): Unit =
    if (parts.length == 2)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `${parts.head}`")

  /** The database a view's directory tables live in: the view's own. */
  private def databaseOf(view: Seq[String]): String =
    if (view.length == 2) view.head else sessionCatalog.getCurrentDatabase

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

  override def directoryRelation(view: Seq[String], location: String,
                                 schema: StructType): String = {
    val db = databaseOf(view)
    // catalog names allow only letters, digits and `_`
    val name = s"${view.last}__${new Path(location).getName.replaceAll("\\W", "_")}"
    val owner = view.mkString(".")
    val declared = ParquetSchema.asRead(schema)
    val q = quoted(Seq(db, name))
    val current = Try(sessionCatalog.getTableMetadata(TableIdentifier(name, Some(db)))).toOption
    val reusable = current.exists(t =>
      t.properties.get(OwnerKey).exists(_.equalsIgnoreCase(owner)) &&
        new Path(t.location) == new Path(location) && t.schema == declared)
    if (!reusable) {
      ensureDatabase(Seq(db, name))
      spark.sql(s"DROP TABLE IF EXISTS $q")
      spark.sql(s"CREATE TABLE $q (${declared.toDDL}) USING parquet " +
        s"LOCATION '$location' TBLPROPERTIES ('$OwnerKey' = '$owner')")
    }
    pending.merge(view, Set(name), _ ++ _)
    q
  }

  override def publishView(parts: Seq[String], selectBody: String): Unit = {
    ensureDatabase(parts)
    spark.sql(s"CREATE OR REPLACE VIEW ${quoted(parts)} AS $selectBody")
    val now = Option(pending.remove(parts)).getOrElse(Set.empty[String])
    // The first publish through this binding does not know what the
    // replaced view read (an earlier binding, e.g. before a restart,
    // published it), so it drops nothing.
    Option(referenced.put(parts, now)).foreach { previous =>
      val keep = now ++ previous
      val db = databaseOf(parts)
      val owner = parts.mkString(".")
      val candidates = sessionCatalog
        .listTables(db, s"${parts.last}__*", includeLocalTempViews = false)
        .filterNot(id => keep.exists(_.equalsIgnoreCase(id.table)))
      sessionCatalog.getTablesByName(candidates)
        .filter(_.properties.get(OwnerKey).exists(_.equalsIgnoreCase(owner)))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${quoted(Seq(db, t.identifier.table))}"))
    }
  }
}
