package graft.sink

import graft.cdc.{CdcNormalize, LatestPerKey, SchemaInference}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.util.TableFs

import scala.jdk.CollectionConverters._

/** The log-structured (merge-on-read) variant of the keyed upsert
  * sinks — Hudi's MERGE_ON_READ table model re-expressed over parquet:
  * a micro-batch APPENDS one delta file set per touched bucket (write
  * cost = O(batch), never a table rewrite), readers merge base + deltas
  * latest-per-key at scan time, and a bucket whose delta chain exceeds
  * `compactAfter` is compacted (base+deltas → one new base) inside the
  * committing batch. The reference chooses COPY_ON_WRITE
  * (`/root/reference/glue/cdc_hudi.py:186`); MOR is the documented
  * alternative for write-heavy small-batch streams, where COW's
  * rewrite-per-batch amplification dominates ([[KeyedUpsertTable]])
  * and even the bucketed sink rewrites every touched bucket
  * ([[BucketedUpsertTable]]).
  *
  * Merge semantics are Hudi's MOR log-scanner rules: every stored row
  * carries its commit sequence (`__commit`); the survivor per key is
  * `max_by` over (version, tiebreak…, __commit) — version wins, commit
  * order breaks full ties (a later batch's equal-version row supersedes,
  * matching the COW path's incoming-beats-stored rule) — and delete
  * tombstones are retained in the log, masking their key until dropped
  * at compaction. The one DOCUMENTED divergence from sequential COW
  * (also true of real Hudi MOR): an OLDER-versioned event arriving
  * after a delete stays masked by the uncompacted tombstone, whereas
  * COW re-inserts it because the hard delete already erased the key.
  *
  * Layout (all inside `root`, same pointer/manifest machinery as
  * [[BucketedUpsertTable]]):
  * {{{
  *   data/commit-<n>/__bucket=<b>/part-*.parquet     delta appends
  *   data/commit-<n>-compact/__bucket=<b>/…          compacted bases
  *   snap-<n>/_buckets.json    manifest: bucket -> ORDERED dir list
  *   _current.v<N>             versioned pointer files (readers take max N)
  * }}}
  * Driver-side state stays bounded by `nBuckets` (touched-set collect +
  * manifest), exactly like the bucketed sink.
  */
final class MorUpsertTable(
    spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val versionCol: String = CdcNormalize.MtimeCol,
    val nBuckets: Int = 16,
    val retainSnapshots: Int = 2,
    val tiebreak: Seq[String] = Nil,
    /** Compact a bucket when its dir chain (base + deltas) exceeds this
      * length — the read-amplification bound: a reader scans at most
      * `compactAfter` files per bucket. Hudi's
      * `hoodie.compact.inline.max.delta.commits` equivalent. */
    val compactAfter: Int = 4,
    /** MEASURED read-amplification trigger (0 disables): compact a
      * bucket when its chain's total bytes exceed this multiple of its
      * base (first-dir) bytes — i.e. when a reader scans more than
      * `compactReadAmp×` the merged state's size. Commit COUNT alone
      * misjudges both directions: a small base under heavy deltas hits
      * punishing read amp at chain length 2, while a huge base under
      * trickle deltas wastes a full rewrite at length `compactAfter`.
      * Bytes-based triggering is Hudi's log-file-size compaction
      * strategy re-expressed; cost is one `getContentSummary` per
      * chained dir per commit (≤ buckets × compactAfter metadata
      * calls). The bench's `mor_read_curve` row measures the latency
      * curve this knob bounds. */
    val compactReadAmp: Double = 0.0,
    /** Hive-sync equivalent for the LOG-STRUCTURED layout: when set
      * (`[db.]table`), every commit (re)publishes a SNAPSHOT-QUERY view
      * (Hudi MOR's by-name read): the log fold itself — latest-per-key
      * over (version, tiebreak…, commit) with tombstones dropped —
      * expressed in the view body over the manifest's commit dirs, so
      * `spark.table("db.table")` serves merged state with zero data
      * movement per commit. */
    val catalogTable: Option[String] = None,
    catalogSync: Option[CatalogSync] = None) extends UpsertSink {
  require(keys.nonEmpty, "keyed table needs at least one key column")
  require(nBuckets >= 1, "need at least one bucket")
  require(retainSnapshots >= 1, "must retain at least the current snapshot")
  require(compactAfter >= 1, "compactAfter must be >= 1")
  require(catalogTable.forall(_.split('.').length <= 2),
    s"catalogTable must be [db.]table, got $catalogTable")

  private val catalog: CatalogSync =
    catalogSync.getOrElse(new SessionCatalogSync(spark))

  /** Manifest/pointer filesystem, resolved from the root's scheme via
    * the session's Hadoop configuration ([[graft.util.TableFs]]) — the
    * table root can be `file://`, `hdfs://`, or an object store. */
  private val tfs = new TableFs(root, spark.sparkContext.hadoopConfiguration)
  private val mapper = new ObjectMapper()

  /** Commit-sequence column every stored row carries (the log order the
    * read-side merge tie-breaks on). */
  private val CommitCol = "__commit"

  private def bucketCol = pmod(hash(keys.map(col): _*), lit(nBuckets))

  private val BucketDirPrefix = "__bucket="

  // ------------------------------------------------------------- manifest

  /** schemaDdl = PAYLOAD schema (without [[CommitCol]]); buckets map to
    * the ordered chain of dirs holding the bucket's rows. */
  private case class Manifest(schemaDdl: String, buckets: Map[Int, Seq[String]])

  private def manifestRel(snap: String): String = s"$snap/_buckets.json"

  private def writeManifest(snap: String, m: Manifest): Unit = {
    val node = mapper.createObjectNode()
    node.put("schema", m.schemaDdl)
    val b = node.putObject("buckets")
    m.buckets.foreach { case (k, dirs) =>
      val arr = b.putArray(k.toString)
      dirs.foreach(arr.add)
    }
    tfs.writeBytes(manifestRel(snap), mapper.writeValueAsBytes(node))
  }

  private def readManifest(snap: String): Manifest = {
    val node = mapper.readTree(tfs.readBytes(manifestRel(snap)))
    val buckets = node.get("buckets").properties().iterator().asScala
      .map { e =>
        e.getKey.toInt ->
          e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    Manifest(node.get("schema").asText(), buckets)
  }

  def currentSnapshot(): Option[String] =
    tfs.readPointer("_current").map(_.trim).filter(_.nonEmpty)

  /** Chain length of bucket `b` (observability: the soak spec bounds it
    * by `compactAfter`). */
  def bucketChainLength(b: Int): Int =
    currentSnapshot().map(readManifest).flatMap(_.buckets.get(b))
      .map(_.length).getOrElse(0)

  // ----------------------------------------------------------------- read

  /** Storage schema = payload schema + [[CommitCol]] (every file has
    * it; dirs point inside the `__bucket=` partition dirs so the bucket
    * column never surfaces). */
  private def storageSchema(m: Manifest): StructType =
    StructType.fromDDL(m.schemaDdl).add(CommitCol, LongType, nullable = false)

  private def scanAll(m: Manifest): Option[DataFrame] = {
    val dirs = m.buckets.values.flatten.toSeq.sorted.map(tfs.str)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(storageSchema(m)).parquet(dirs: _*))
  }

  /** Current SERVING state: one multi-path scan of every chained dir,
    * merged latest-per-key at read time (the R in MOR), tombstones
    * dropped, commit column projected away. */
  def read(): Option[DataFrame] = currentSnapshot().map { snap =>
    val m = readManifest(snap)
    scanAll(m) match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL(m.schemaDdl))
      case Some(rows) =>
        MorUpsertTable.logMerge(rows, keys, versionCol, tiebreak, CommitCol)
          .where(!col(CdcNormalize.DeletedCol))
          .drop(CommitCol)
    }
  }

  /** Point-lookup read on the log-structured layout: the current state
    * for exactly the keys in `keysDf`, scanning ONLY the delta chains
    * of the buckets those keys hash into, then folding the log and
    * masking tombstones as [[read]] does. The bounded bucket-set
    * collect + broadcast semi-join shape matches
    * [[BucketedUpsertTable.readForKeys]]; per lookup the IO is at most
    * `touched buckets × compactAfter` files. */
  def readForKeys(keysDf: DataFrame): Option[DataFrame] = currentSnapshot().map { snap =>
    val m = readManifest(snap)
    val touched = keysDf.select(bucketCol.as("__b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val chains = m.buckets.view.filterKeys(touched).toMap
    scanAll(Manifest(m.schemaDdl, chains)) match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL(m.schemaDdl))
      case Some(rows) =>
        MorUpsertTable.logMerge(
            rows.join(broadcast(keysDf.select(keys.map(col): _*).distinct()),
              keys, "left_semi"),
            keys, versionCol, tiebreak, CommitCol)
          .where(!col(CdcNormalize.DeletedCol))
          .drop(CommitCol)
    }
  }

  // --------------------------------------------------------------- upsert

  /** Apply one batch: in-batch dedup (tombstones KEPT — they must mask
    * older log entries), append as per-bucket delta files, then compact
    * any bucket whose chain exceeds [[compactAfter]]. A schema-evolving
    * batch compacts ALL buckets (the migration commit, like the
    * bucketed sink's full rewrite). */
  def upsert(batch: DataFrame): Unit = {
    val commitId = currentSnapshot() match {
      case Some(s) => s.stripPrefix("snap-").toLong + 1
      case None    => 0L
    }
    val current = currentSnapshot().map(readManifest)
    val storedSchema = current.map(m => StructType.fromDDL(m.schemaDdl))
    val evolved = storedSchema.exists(s =>
      SchemaInference.mergeStructs(s, batch.schema) != s)

    val version = (versionCol +: tiebreak).map(col)
    val deduped = LatestPerKey.maxBy(batch, keys, version)
      .withColumn(CommitCol, lit(commitId))

    val (manifest, dataSchema) =
      if (current.isEmpty) {
        val dataDir = s"data/commit-$commitId"
        writeBucketed(deduped, dataDir)
        // store the all-nullable form: mergeStructs nullifies every
        // field, so a non-nullable first-batch schema (typed Datasets
        // produce them) would otherwise compare "evolved" against every
        // later batch and turn each commit into a migration
        (listWritten(dataDir).view.mapValues(Seq(_)).toMap,
          SchemaInference.mergeStructs(batch.schema, batch.schema))
      } else if (evolved) {
        // migration commit: full log fold onto the union schema, write
        // one compacted base per bucket, tombstones dropped (compaction
        // is where MOR erases deleted keys for good)
        val m = current.get
        val target = SchemaInference.mergeStructs(
          StructType.fromDDL(m.schemaDdl), batch.schema)
        val targetStored = target.add(CommitCol, LongType, nullable = false)
        val stored = scanAll(m).map(KeyedUpsertTable.align(_, targetStored))
        val all = stored match {
          case Some(s) => s.unionByName(KeyedUpsertTable.align(deduped, targetStored))
          case None    => KeyedUpsertTable.align(deduped, targetStored)
        }
        val compacted = MorUpsertTable
          .logMerge(all, keys, versionCol, tiebreak, CommitCol)
          .where(!col(CdcNormalize.DeletedCol))
        val dataDir = s"data/commit-$commitId-compact"
        writeBucketed(compacted, dataDir)
        (listWritten(dataDir).view.mapValues(Seq(_)).toMap, target)
      } else {
        val m = current.get
        // delta append: O(batch) write, untouched buckets carried as-is
        val dataDir = s"data/commit-$commitId"
        writeBucketed(KeyedUpsertTable.align(deduped, storageSchema(m)), dataDir)
        val appended = listWritten(dataDir)
        val chains: Map[Int, Seq[String]] =
          (m.buckets.keySet ++ appended.keySet).map { b =>
            b -> (m.buckets.getOrElse(b, Nil) ++ appended.get(b))
          }.toMap
        // inline compaction, scoped to triggered buckets: chain LENGTH
        // over compactAfter, or measured chain BYTES over compactReadAmp
        // times the bucket's base bytes (see the knob's scaladoc)
        val ampTriggered: Set[Int] =
          if (compactReadAmp <= 0) Set.empty
          else chains.collect {
            case (b, chain) if chain.length > 1 =>
              val sizes = chain.map(tfs.sizeBytes)
              b -> (sizes.sum.toDouble / math.max(sizes.head, 1L))
          }.filter(_._2 > compactReadAmp).keySet
        val toCompact = chains.filter { case (b, chain) =>
          chain.length > compactAfter || ampTriggered(b) }
        if (toCompact.isEmpty) (chains, StructType.fromDDL(m.schemaDdl))
        else {
          val dirs = toCompact.values.flatten.toSeq.sorted.map(tfs.str)
          val compacted = MorUpsertTable.logMerge(
              spark.read.schema(storageSchema(m)).parquet(dirs: _*),
              keys, versionCol, tiebreak, CommitCol)
            .where(!col(CdcNormalize.DeletedCol))
          val compactDir = s"data/commit-$commitId-compact"
          writeBucketed(compacted, compactDir)
          val rebased = listWritten(compactDir)
          // a compacted bucket whose keys ALL deleted yields no dir and
          // drops from the manifest entirely
          (chains.filter(e => !toCompact.contains(e._1)) ++
            toCompact.keySet.flatMap(b => rebased.get(b).map(d => b -> Seq(d))),
            StructType.fromDDL(m.schemaDdl))
        }
      }

    val snap = s"snap-$commitId"
    writeManifest(snap, Manifest(dataSchema.toDDL, manifest))
    tfs.swapPointer("_current", snap)
    syncCatalog()
    clean()
  }

  /** (Re)publish the current manifest as the MOR snapshot-query view:
    * the bucketed sink's body ([[BucketedUpsertTable.viewBody]] — one
    * static-partition-pruned branch per referenced COMMIT DIR, read
    * through the binding's [[CatalogSync.directoryRelation]] under the
    * manifest schema plus `__commit BIGINT` and `__bucket INT`), wrapped
    * by the log fold — `row_number()` over (version, tiebreak…,
    * __commit) descending, keep rank 1, drop tombstones, project the
    * payload. Metadata-only per commit, and with the session binding no
    * Spark job at publish or at a by-name read; readers by name always
    * see merged state. */
  def syncCatalog(): Unit = catalogTable.foreach { fqn =>
    currentSnapshot().foreach { snap =>
      val m = readManifest(snap)
      val schema = StructType.fromDDL(m.schemaDdl)
      val cols = schema.fields.map(f => s"`${f.name}`").mkString(", ")
      val pks = keys.map(k => s"`$k`").mkString(", ")
      val ord = ((versionCol +: tiebreak).map(c => s"`$c` DESC") :+
        s"`$CommitCol` DESC").mkString(", ")
      val view = fqn.split('.').toSeq
      val entries = m.buckets.toSeq.flatMap { case (b, chain) => chain.map(b -> _) }
      catalog.publishView(view, BucketedUpsertTable.viewBody(
          catalog, view, tfs, schema, storageSchema(m), entries) { scan =>
        s"""SELECT $cols FROM (
           |  SELECT *, row_number() OVER (PARTITION BY $pks ORDER BY $ord) AS __rn
           |  FROM ($scan)
           |) WHERE __rn = 1 AND NOT `${CdcNormalize.DeletedCol}`""".stripMargin
      })
    }
  }

  /** One bucket-partitioned write job into `dataDir`. */
  private def writeBucketed(df: DataFrame, dataDir: String): Unit =
    df.withColumn("__bucket", bucketCol)
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(tfs.str(dataDir))

  /** Bucket dirs actually produced by a write (a bucket with no rows
    * produces none). */
  private def listWritten(dataDir: String): Map[Int, String] =
    tfs.listSubdirNames(dataDir)
      .filter(_.startsWith(BucketDirPrefix))
      .map(name => name.stripPrefix(BucketDirPrefix).toInt ->
        s"$dataDir/$name")
      .toMap

  // -------------------------------------------------------------- cleaner

  /** Same retention rule as the bucketed sink: keep the newest
    * `retainSnapshots` manifests plus every commit dir any of them
    * references. */
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
        .flatMap(_.buckets.values.flatten.map(BucketedUpsertTable.commitDirOf))
    }.toSet
    drop.foreach(tfs.deleteRecursively)
    tfs.listSubdirNames("data")
      .filter(name => !referenced.contains(s"data/$name"))
      .foreach(name => tfs.deleteRecursively(s"data/$name"))
  }
}

object MorUpsertTable {

  /** The MOR log fold as one aggregate: survivor per key = `max_by`
    * over (version, tiebreak…, commit). Version dominates; commit order
    * breaks full ties (later batch supersedes — the same rule as the
    * COW merge's incoming-beats-stored source rank, generalized to a
    * whole log). Tombstones survive the fold and are dropped by the
    * caller (read keeps the mask cheap; compaction erases for good). */
  private[sink] def logMerge(rows: DataFrame, keys: Seq[String],
                             versionCol: String, tiebreak: Seq[String],
                             commitCol: String): DataFrame =
    LatestPerKey.maxBy(rows, keys,
      (versionCol +: tiebreak).map(col) :+ col(commitCol))
}
