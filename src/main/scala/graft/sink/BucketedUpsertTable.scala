package graft.sink

import graft.cdc.{CdcNormalize, SchemaInference}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.util.TableFs

import scala.jdk.CollectionConverters._

/** The incremental variant of [[KeyedUpsertTable]]: rows are hash-
  * bucketed by record key and a micro-batch rewrites ONLY the buckets its
  * keys land in — the other buckets' parquet files are carried forward by
  * reference, untouched.
  *
  * Same externally-observable semantics as the COW table (latest-wins
  * merge via [[KeyedUpsertTable.merge]], hard deletes, schema evolution,
  * atomic pointer-swap visibility, snapshot retention) but the write
  * amplification per batch is `touched_buckets / n_buckets` of the table
  * instead of 1.0. This is the Hudi file-group model: at 100 TB a
  * micro-batch touching 1% of keys rewrites ~1% of the table (bounded
  * below by one file group per touched bucket), not the world.
  *
  * Layout (all inside `root`):
  * {{{
  *   data/commit-<n>/__bucket=<b>/part-*.parquet   immutable data dirs
  *   snap-<n>/_buckets.json                        manifest: bucket -> data dir
  *   _current.v<N>                                 versioned pointer files
  * }}}
  * A snapshot is a MANIFEST, not a directory of data: commit k's manifest
  * maps every non-empty bucket to the data dir that last rewrote it
  * (possibly many commits old). Readers resolve the pointer, then the
  * manifest, then read per-bucket dirs — so an in-flight reader of
  * snapshot k is unaffected by commit k+1 (its referenced data dirs are
  * retained as long as snapshot k is).
  *
  * Schema evolution: an ADDITIVE or WIDENING batch schema triggers a
  * full rewrite of all buckets (the migration commit — same cost as one
  * COW batch); steady-state batches with the stored schema stay
  * incremental. Per-bucket dirs therefore always share one schema.
  *
  * Driver-side state is bounded by `nBuckets` (the touched-bucket set and
  * the manifest map), never by data size — the only collect in this file
  * is `<= nBuckets` ints, a planning decision like AQE's stats.
  */
final class BucketedUpsertTable(
    spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val versionCol: String = CdcNormalize.MtimeCol,
    val nBuckets: Int = 16,
    val retainSnapshots: Int = 2,
    val tiebreak: Seq[String] = Nil,
    /** Hive-sync equivalent for the INCREMENTAL layout: when set
      * (`[db.]table`), every commit (re)publishes the current manifest as
      * a catalog VIEW over the referenced bucket dirs, so users query
      * `spark.table("db.table")` by name exactly as with the COW sink's
      * external table ([[KeyedUpsertTable.syncCatalog]]) — the reference
      * hive-syncs every table unconditionally
      * (`/root/reference/glue/cdc_hudi.py:190-194`). A view (not an
      * external table) because a snapshot is a MANIFEST over many data
      * dirs from different commits — no single LOCATION exists. */
    val catalogTable: Option[String] = None,
    /** The catalog binding the sync publishes through; None = the
      * session catalog ([[SessionCatalogSync]]). A cluster deployment
      * swaps in its metastore binding here (see [[CatalogSync]]). */
    catalogSync: Option[CatalogSync] = None) extends UpsertSink {
  require(keys.nonEmpty, "keyed table needs at least one key column")
  require(nBuckets >= 1, "need at least one bucket")
  require(retainSnapshots >= 1, "must retain at least the current snapshot")
  require(catalogTable.forall(_.split('.').length <= 2),
    s"catalogTable must be [db.]table, got $catalogTable")

  private val catalog: CatalogSync =
    catalogSync.getOrElse(new SessionCatalogSync(spark))

  /** Manifest/pointer filesystem, resolved from the root's scheme via
    * the session's Hadoop configuration ([[graft.util.TableFs]]) — the
    * table root can be `file://`, `hdfs://`, or an object store. */
  private val tfs = new TableFs(root, spark.sparkContext.hadoopConfiguration)
  private val mapper = new ObjectMapper()

  /** Bucket id of a row: non-negative Murmur3 hash of the key columns —
    * deterministic across runs/executors (Spark's `hash` is fixed-seed). */
  private def bucketCol = pmod(hash(keys.map(col): _*), lit(nBuckets))

  private val BucketDirPrefix = "__bucket="

  // ------------------------------------------------------------- manifest

  private case class Manifest(schemaDdl: String, buckets: Map[Int, String])

  private def manifestRel(snap: String): String = s"$snap/_buckets.json"

  private def writeManifest(snap: String, m: Manifest): Unit = {
    val node = mapper.createObjectNode()
    node.put("schema", m.schemaDdl)
    val b = node.putObject("buckets")
    m.buckets.foreach { case (k, v) => b.put(k.toString, v) }
    tfs.writeBytes(manifestRel(snap), mapper.writeValueAsBytes(node))
  }

  private def readManifest(snap: String): Manifest = {
    val node = mapper.readTree(tfs.readBytes(manifestRel(snap)))
    val buckets = node.get("buckets").properties().iterator().asScala
      .map(e => e.getKey.toInt -> e.getValue.asText()).toMap
    Manifest(node.get("schema").asText(), buckets)
  }

  def currentSnapshot(): Option[String] =
    tfs.readPointer("_current").map(_.trim).filter(_.nonEmpty)

  /** The data dir currently serving bucket `b`, if non-empty (test /
    * observability hook: untouched buckets keep the same dir across
    * commits). */
  def bucketDir(b: Int): Option[String] =
    currentSnapshot().map(readManifest).flatMap(_.buckets.get(b))

  // ----------------------------------------------------------------- read

  /** Current table state: ONE multi-path scan over every referenced
    * bucket dir, aligned onto the manifest schema (per-bucket dirs share
    * one schema by construction — see the evolution note above). A
    * per-dir-scan-then-union alternative builds an O(nBuckets)-deep plan
    * tree: harmless at 16 buckets, an analyzer/plan-string blowup at a
    * realistic 256-4096. */
  def read(): Option[DataFrame] = currentSnapshot().map { snap =>
    val m = readManifest(snap)
    val schema = StructType.fromDDL(m.schemaDdl)
    if (m.buckets.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(bucketPaths(m): _*)
  }

  /** Absolute paths of every bucket dir a manifest references (sorted for
    * plan determinism). */
  private def bucketPaths(m: Manifest): Seq[String] =
    m.buckets.values.toSeq.sorted.map(tfs.str)

  /** Point-lookup read: current state for exactly the keys in `keysDf`
    * (a DataFrame carrying the table's key columns), scanning ONLY the
    * bucket dirs those keys hash into — at scale, a handful of file
    * groups instead of the table. The bucket set is a bounded planning
    * collect (≤ `nBuckets` ints, the upsert path's touched-set
    * pattern); the key equality itself is a broadcast semi-join, so
    * composite keys and arbitrary key counts work unchanged. Returns
    * None before the first commit; empty-schema'd result if no bucket
    * matches. */
  def readForKeys(keysDf: DataFrame): Option[DataFrame] = currentSnapshot().map { snap =>
    val m = readManifest(snap)
    val schema = StructType.fromDDL(m.schemaDdl)
    val touched = keysDf.select(bucketCol.as("__b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val dirs = m.buckets.view.filterKeys(touched).toMap
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema)
        .parquet(bucketPaths(Manifest(m.schemaDdl, dirs)): _*)
        .join(broadcast(keysDf.select(keys.map(col): _*).distinct()),
          keys, "left_semi")
  }

  // --------------------------------------------------------------- upsert

  /** Apply one batch: merge against ONLY the touched buckets' stored
    * rows, rewrite those buckets, carry the rest forward by reference.
    * A schema-changing batch falls back to a full rewrite (migration). */
  def upsert(batch: DataFrame): Unit = {
    val commitId = currentSnapshot() match {
      case Some(s) => s.stripPrefix("snap-").toLong + 1
      case None    => 0L
    }
    val current = currentSnapshot().map(readManifest)
    val storedSchema = current.map(m => StructType.fromDDL(m.schemaDdl))
    val evolved = storedSchema.exists(s =>
      SchemaInference.mergeStructs(s, batch.schema) != s)

    val (mergedToWrite, carried) =
      if (current.isEmpty || evolved) {
        // first commit or migration commit: full rewrite, nothing carried
        (KeyedUpsertTable.merge(read(), batch, keys, versionCol, tiebreak),
          Map.empty[Int, String])
      } else {
        val m = current.get
        // Bounded planning collect: <= nBuckets ints, independent of data
        // size (the write job needs the touched-dir list driver-side).
        val touched = batch.select(bucketCol.as("__b")).distinct()
          .collect().map(_.getInt(0)).toSet
        val schema = StructType.fromDDL(m.schemaDdl)
        val storedTouched =
          bucketPaths(Manifest(m.schemaDdl, m.buckets.view.filterKeys(touched).toMap)) match {
            case Nil  => None
            case dirs => Some(spark.read.schema(schema).parquet(dirs: _*))
          }
        (KeyedUpsertTable.merge(storedTouched, batch, keys, versionCol, tiebreak),
          m.buckets.view.filterKeys(b => !touched(b)).toMap)
      }

    // One write job, partitioned by bucket: only the merged (touched or
    // full) rows are written; the bucket column lives in the dir name.
    val dataDir = s"data/commit-$commitId"
    mergedToWrite.withColumn("__bucket", bucketCol)
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(tfs.str(dataDir))

    // Buckets actually present in the new write (a bucket whose keys all
    // deleted produces no dir and drops out of the manifest).
    val written = tfs.listSubdirNames(dataDir)
      .filter(_.startsWith(BucketDirPrefix))
      .map(name => name.stripPrefix(BucketDirPrefix).toInt ->
        s"$dataDir/$name")
      .toMap

    // Manifest schema: the TABLE schema, never the batch's. On the
    // incremental path a narrower batch landing in previously-empty
    // buckets would otherwise narrow the manifest and silently null out
    // the carried buckets' extra columns on read; merging with the
    // stored schema keeps it the union (a no-op on migration commits,
    // where mergedToWrite already carries the evolved schema).
    val tableSchema = storedSchema match {
      case Some(s) => SchemaInference.mergeStructs(s, mergedToWrite.schema)
      case None    => mergedToWrite.schema
    }
    val snap = s"snap-$commitId"
    writeManifest(snap, Manifest(tableSchema.toDDL, carried ++ written))
    tfs.swapPointer("_current", snap)
    syncCatalog()
    clean()
  }

  /** (Re)publish the current manifest under [[catalogTable]] as a catalog
    * view — the bucketed layout's hive-sync step, running after the
    * pointer swap like Hudi's sync-after-commit. The body is
    * [[BucketedUpsertTable.viewBody]]: one partition-pruned branch per
    * COMMIT DIR the manifest references, UNION ALL'd, each reading its
    * directory through the binding's
    * [[CatalogSync.directoryRelation]] under the manifest schema plus
    * `__bucket INT` — a declared-schema directory table with the session
    * binding, so neither the publish nor a by-name read runs a Spark
    * job, or a path read with the default. `CREATE OR REPLACE VIEW` is a
    * metadata-only swap, so incremental AND migration commits both
    * refresh by-name readers with no data copy; schema evolution
    * propagates because the view is re-derived from the new manifest. */
  def syncCatalog(): Unit = catalogTable.foreach { fqn =>
    currentSnapshot().foreach { snap =>
      val m = readManifest(snap)
      val schema = StructType.fromDDL(m.schemaDdl)
      val view = fqn.split('.').toSeq
      // the sink decides WHAT to publish (the pruned view body); the
      // binding decides HOW (session catalog vs external metastore)
      catalog.publishView(view, BucketedUpsertTable.viewBody(
        catalog, view, tfs, schema, schema, m.buckets.toSeq)(identity))
    }
  }

  // -------------------------------------------------------------- cleaner

  /** Retain the newest `retainSnapshots` manifests and every data dir any
    * of them references; delete the rest. Runs only after the pointer
    * swap; tolerates stray non-numeric dirs (never fails a published
    * commit). */
  private def clean(): Unit = {
    val numeric = "snap-(\\d+)".r
    val snaps = tfs.listSubdirNames("")
      .flatMap {
        case name @ numeric(n) => Some(name -> n.toLong)
        case _                 => None
      }
      .sortBy(_._2).map(_._1)
    val (drop, keep) = snaps.splitAt(math.max(0, snaps.length - retainSnapshots))
    val referenced: Set[String] = keep.flatMap { snap =>
      scala.util.Try(readManifest(snap)).toOption.toSeq
        .flatMap(_.buckets.values.map(BucketedUpsertTable.commitDirOf))
    }.toSet
    drop.foreach(tfs.deleteRecursively)
    tfs.listSubdirNames("data")
      .filter(name => !referenced.contains(s"data/$name"))
      .foreach(name => tfs.deleteRecursively(s"data/$name"))
  }
}

object BucketedUpsertTable {

  private val BucketCol = "__bucket"

  /** The commit dir (`data/commit-<n>…`) holding a bucket dir. */
  private[sink] def commitDirOf(bucketDir: String): String =
    bucketDir.split('/').take(2).mkString("/")

  /** The view body over a bucket-partitioned manifest whose entries map
    * bucket ids to bucket dirs (`data/commit-<n>/__bucket=<b>`): one
    * `SELECT <stored cols> FROM <commit dir> WHERE __bucket IN (…)`
    * branch per COMMIT DIR, UNION ALL'd and passed through `wrap` — NOT
    * one branch per bucket dir: a manifest references at most
    * `retainSnapshots`-ish commit dirs but up to `nBuckets` bucket dirs,
    * and at a realistic 256-4096 buckets a per-bucket body makes every
    * by-name query pay an O(nBuckets)-deep analyzer pass. The commit
    * dir's `__bucket=<b>` subdirs make `__bucket` a partition column,
    * so the `IN` list is STATIC partition pruning — only the referenced
    * bucket dirs are scanned, superseded siblings in older commit dirs
    * are pruned out, and the filter is values, not plan branches. The
    * explicit column list pins positional alignment and projects the
    * partition column away. With no entry the body is an empty
    * relation of `payload`'s columns. */
  private[sink] def viewBody(catalog: CatalogSync, view: Seq[String], tfs: TableFs,
                             payload: StructType, stored: StructType,
                             entries: Seq[(Int, String)])(wrap: String => String): String =
    if (entries.isEmpty) {
      val typed = payload.fields
        .map(f => s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`")
        .mkString(", ")
      s"SELECT $typed WHERE 1 = 0"
    } else {
      val cols = stored.fields.map(f => s"`${f.name}`").mkString(", ")
      val declared = stored.add(BucketCol, IntegerType)
      wrap(entries.groupBy { case (_, dir) => commitDirOf(dir) }.toSeq.sortBy(_._1)
        .map { case (commitDir, inDir) =>
          val ids = inDir.map(_._1).distinct.sorted.mkString(", ")
          val rel = catalog.directoryRelation(view, tfs.str(commitDir), declared)
          s"SELECT $cols FROM $rel WHERE `$BucketCol` IN ($ids)"
        }
        .mkString(" UNION ALL "))
    }
}
