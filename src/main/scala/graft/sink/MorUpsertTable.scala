package graft.sink

import graft.cdc.{CdcNormalize, SchemaInference}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.util.TableFs

import scala.jdk.CollectionConverters._

/** The keyed upsert sink over hash buckets — Hudi's file-group model
  * re-expressed over parquet. Rows are bucketed by record key, and a
  * micro-batch writes only the buckets its keys land in; the other
  * buckets' files are carried forward by reference, untouched. One knob,
  * [[compactAfter]], picks the table type, as
  * `hoodie.datasource.write.table.type` does in the reference
  * (`glue/cdc_hudi.py:186`):
  *
  *  - `compactAfter = 1` (the preset [[BucketedUpsertTable]]) merges on
  *    write: each touched bucket is rewritten with the batch folded in,
  *    tombstones dropped. Write amplification per batch is
  *    `touched_buckets / n_buckets` of the table instead of COW's 1.0
  *    ([[KeyedUpsertTable]]), and reads are plain scans.
  *  - `compactAfter > 1` is MERGE_ON_READ: a micro-batch APPENDS one
  *    delta file set per touched bucket (write cost = O(batch)), readers
  *    merge base + deltas latest-per-key at scan time, and a bucket whose
  *    chain exceeds `compactAfter` (or [[compactReadAmp]]) is compacted
  *    (base+deltas → one new base) inside the committing batch — the
  *    documented alternative for write-heavy small-batch streams.
  *
  * Merge semantics are Hudi's MOR log-scanner rules: every row of the
  * log carries its commit sequence (`__commit`); the survivor per key is
  * `max_by` over (version, tiebreak…, __commit) — version wins, commit
  * order breaks full ties (a later batch's equal-version row supersedes,
  * matching the COW path's incoming-beats-stored rule). The files the
  * merge-on-write preset writes, like those of bucketed tables written
  * before it, store no `__commit`: their rows read it as null and lose
  * every such tie, as each is older than any later batch. With
  * `compactAfter > 1`, delete tombstones are retained in the log,
  * masking their key until dropped at compaction. That gives
  * the one DOCUMENTED divergence from sequential COW (also true of real
  * Hudi MOR), and only for `compactAfter > 1`: an OLDER-versioned event
  * arriving after a delete stays masked by the uncompacted tombstone,
  * whereas COW — and the merge-on-write preset, which drops the
  * tombstone in the commit that carries it — re-inserts it because the
  * hard delete already erased the key.
  *
  * Layout (all inside `root`):
  * {{{
  *   data/commit-<n>/__bucket=<b>/part-*.parquet     rewrites / delta appends
  *   data/commit-<n>-compact/__bucket=<b>/…          compacted bases
  *   snap-<n>/_buckets.json    manifest: bucket -> ORDERED dir list
  *   _current.v<N>             versioned pointer files (readers take max N)
  * }}}
  * A snapshot is a MANIFEST, not a directory of data: it maps every
  * non-empty bucket to the chain of dirs holding its rows (possibly many
  * commits old), so an in-flight reader of snapshot k is unaffected by
  * commit k+1 as long as k is retained. A manifest written before chains
  * existed maps a bucket to one dir and is read as a one-dir chain.
  *
  * Schema evolution: an ADDITIVE or WIDENING batch schema makes the
  * commit a migration that rewrites all buckets onto the union schema
  * (same cost as one COW batch), so a manifest's dirs share one schema.
  *
  * Driver-side state is bounded by `nBuckets` (the touched-bucket
  * collect and the manifest), never by data size.
  */
class MorUpsertTable(
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
      * `hoodie.compact.inline.max.delta.commits` equivalent; 1 merges on
      * write (see the class doc). */
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
    /** Hive-sync equivalent: when set (`[db.]table`), every commit
      * (re)publishes a SNAPSHOT-QUERY view over the manifest's commit
      * dirs, so `spark.table("db.table")` serves merged state with zero
      * data movement per commit — the reference hive-syncs every table
      * unconditionally (`glue/cdc_hudi.py:190-194`). A
      * view (not an external table) because a snapshot is a MANIFEST
      * over many data dirs from different commits — no single LOCATION
      * exists. */
    val catalogTable: Option[String] = None,
    /** The catalog binding the sync publishes through; None = the
      * session catalog ([[SessionCatalogSync]]). A cluster deployment
      * swaps in its metastore binding here (see [[CatalogSync]]). */
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

  /** Commit-sequence column of the log (the order the merge tie-breaks
    * on; null for rows the merge-on-write preset stores). */
  private val CommitCol = "__commit"

  /** Bucket id of a row: non-negative Murmur3 hash of the key columns —
    * deterministic across runs/executors (Spark's `hash` is fixed-seed). */
  private def bucketCol = pmod(hash(keys.map(col): _*), lit(nBuckets))

  private val BucketDirPrefix = "__bucket="

  // ------------------------------------------------------------- manifest

  /** schemaDdl = PAYLOAD schema (without [[CommitCol]]); buckets map to
    * the ordered chain of dirs holding the bucket's rows. */
  private case class Manifest(schemaDdl: String, buckets: Map[Int, Seq[String]]) {
    def payload: StructType = StructType.fromDDL(schemaDdl)
    def folded: Boolean = buckets.values.exists(_.length > 1)
  }

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

  /** A string-valued bucket entry (the single-dir manifests of earlier
    * bucketed tables) reads as a one-dir chain. */
  private def readManifest(snap: String): Manifest = {
    val node = mapper.readTree(tfs.readBytes(manifestRel(snap)))
    val buckets = node.get("buckets").properties().iterator().asScala
      .map { e =>
        val v = e.getValue
        e.getKey.toInt ->
          (if (v.isArray) v.elements().asScala.map(_.asText()).toSeq else Seq(v.asText()))
      }.toMap
    Manifest(node.get("schema").asText(), buckets)
  }

  def currentSnapshot(): Option[String] = Snapshots.current(tfs)

  /** The dir chain currently serving bucket `b` (observability: the soak
    * spec bounds its length by `compactAfter`; untouched buckets keep
    * theirs across commits). */
  private[sink] def bucketChain(b: Int): Seq[String] =
    currentSnapshot().map(readManifest).flatMap(_.buckets.get(b)).getOrElse(Nil)

  def bucketChainLength(b: Int): Int = bucketChain(b).length

  // ----------------------------------------------------------------- read

  /** Storage schema = payload schema + [[CommitCol]] (dirs point inside
    * the `__bucket=` partition dirs so the bucket column never
    * surfaces). */
  private def storage(payload: StructType): StructType =
    payload.add(CommitCol, LongType, nullable = false)

  /** ONE multi-path scan over the manifest's chained dirs (sorted for
    * plan determinism). A per-dir-scan-then-union alternative builds an
    * O(nBuckets)-deep plan tree: harmless at 16 buckets, an analyzer
    * blowup at a realistic 256-4096. */
  private def scanAll(m: Manifest): Option[DataFrame] = {
    val dirs = m.buckets.values.flatten.toSeq.sorted.map(tfs.str)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(storage(m.payload)).parquet(dirs: _*))
  }

  /** Current SERVING state: the chained dirs' rows, tombstones dropped,
    * commit column projected away. The log fold (the R in MOR) runs
    * only when a chain holds more than one dir; a single dir holds each
    * of its bucket's keys once, so a table whose chains are all single
    * is a plain scan with no shuffle. */
  def read(): Option[DataFrame] = currentSnapshot().map(snap => serve(readManifest(snap), None))

  /** Point-lookup read: the current state for exactly the keys in
    * `keysDf` (a DataFrame carrying the key columns), scanning ONLY the
    * chains of the buckets those keys hash into — at most
    * `touched buckets × compactAfter` dirs instead of the table. The
    * bucket set is a bounded planning collect (≤ `nBuckets` ints, the
    * upsert path's touched-set pattern); the key equality itself is a
    * broadcast semi-join, so composite keys work unchanged. */
  def readForKeys(keysDf: DataFrame): Option[DataFrame] = currentSnapshot().map { snap =>
    val m = readManifest(snap)
    val touched = bucketsOf(keysDf)
    serve(m.copy(buckets = m.buckets.view.filterKeys(touched).toMap), Some(keysDf))
  }

  private def serve(m: Manifest, keysDf: Option[DataFrame]): DataFrame = scanAll(m) match {
    case None =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.payload)
    case Some(rows) =>
      val wanted = keysDf.fold(rows)(k =>
        rows.join(broadcast(k.select(keys.map(col): _*).distinct()), keys, "left_semi"))
      val live = if (m.folded) fold(wanted) else wanted
      live.where(!col(CdcNormalize.DeletedCol)).drop(CommitCol)
  }

  /** The log fold (the R in MOR): survivor per key by
    * [[KeyedUpsertTable.latest]] ranked by commit, so a later batch wins
    * a full version tie. Tombstones survive it: [[read]] masks them,
    * compaction erases them. */
  private def fold(rows: DataFrame): DataFrame =
    KeyedUpsertTable.latest(rows, keys, versionCol, tiebreak, rank = Some(CommitCol))

  /** Bounded planning collect: the bucket ids `df`'s keys hash into. */
  private def bucketsOf(df: DataFrame): Set[Int] =
    df.select(bucketCol.as("__b")).distinct().collect().map(_.getInt(0)).toSet

  // --------------------------------------------------------------- upsert

  /** Apply one batch. With `compactAfter = 1`, merge on write: the
    * touched buckets' chains and the batch are rewritten together
    * (every bucket on the first or a migration commit). Otherwise
    * in-batch dedup (tombstones KEPT — they must mask older log
    * entries), append as per-bucket delta files, then compact any
    * bucket whose chain exceeds [[compactAfter]]; a schema-evolving
    * batch compacts ALL buckets (the migration commit). */
  def upsert(batch: DataFrame): Unit = {
    val current = currentSnapshot()
    val commitId = Snapshots.nextId(current)
    val m = current.map(readManifest)
    val stored = m.map(_.payload)
    // the all-nullable form: mergeStructs nullifies every field, so a
    // non-nullable first-batch schema (typed Datasets produce them)
    // would otherwise compare "evolved" against every later batch and
    // turn each commit into a migration
    val target = SchemaInference.mergeStructs(stored.getOrElse(batch.schema), batch.schema)
    val evolved = stored.exists(_ != target)
    val dataDir = s"data/commit-$commitId"
    def deduped = KeyedUpsertTable.latest(batch, keys, versionCol, tiebreak)
      .withColumn(CommitCol, lit(commitId))

    val chains: Map[Int, Seq[String]] = m match {
      case _ if compactAfter == 1 =>
        // merge on write; the first and migration commits rewrite every bucket
        val all = m.fold(Map.empty[Int, Seq[String]])(_.buckets)
        val (touched, carried) =
          if (m.isEmpty || evolved) (all, Map.empty[Int, Seq[String]])
          else {
            val inBatch = bucketsOf(batch)
            all.partition { case (b, _) => inBatch(b) }
          }
        carried ++
          rewrite(m, touched, Some(batch.withColumn(CommitCol, lit(commitId))), target, dataDir)
      case None =>
        writeBucketed(deduped, dataDir)
        listWritten(dataDir)
      case Some(s) if evolved =>
        // migration commit: full log fold onto the union schema, one
        // compacted base per bucket, tombstones dropped (compaction is
        // where MOR erases deleted keys for good)
        rewrite(m, s.buckets, Some(deduped), target, s"$dataDir-compact")
      case Some(s) =>
        // delta append: O(batch) write, untouched buckets carried as-is
        writeBucketed(KeyedUpsertTable.align(deduped, storage(target)), dataDir)
        val appended = listWritten(dataDir)
        val chains = (s.buckets.keySet ++ appended.keySet).map { b =>
          b -> (s.buckets.getOrElse(b, Nil) ++ appended.getOrElse(b, Nil))
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
        // a compacted bucket whose keys ALL deleted yields no dir and
        // drops from the manifest entirely
        if (toCompact.isEmpty) chains
        else chains -- toCompact.keySet ++ rewrite(m, toCompact, None, target, s"$dataDir-compact")
    }

    val snap = s"snap-$commitId"
    writeManifest(snap, Manifest(target.toDDL, chains))
    tfs.swapPointer("_current", snap)
    syncCatalog()
    clean()
  }

  /** The rewrite both upsert branches share: fold `chains` (stored under
    * `m`'s schema) and `incoming` (None for a compaction), aligned onto
    * `target`, with the log merge over (version, tiebreak…, __commit),
    * drop tombstones, and write the survivors into `dataDir` in one
    * bucket-partitioned job. Returns the bucket dirs written. */
  private def rewrite(m: Option[Manifest], chains: Map[Int, Seq[String]],
                      incoming: Option[DataFrame], target: StructType,
                      dataDir: String): Map[Int, Seq[String]] = {
    val stored = m.flatMap(s => scanAll(s.copy(buckets = chains)))
    val rows = (stored ++ incoming).map(KeyedUpsertTable.align(_, storage(target)))
      .reduce(_ unionByName _)
    val survivors = fold(rows).where(!col(CdcNormalize.DeletedCol))
    // merge on write stores no commit: each of its stored rows is older
    // than every later batch, and the null it reads back loses every tie
    writeBucketed(if (compactAfter == 1) survivors.drop(CommitCol) else survivors, dataDir)
    listWritten(dataDir)
  }

  /** (Re)publish the current manifest as the snapshot-query view, running
    * after the pointer swap like Hudi's sync-after-commit. The body is
    * [[BucketedUpsertTable.viewBody]] — one static-partition-pruned
    * branch per referenced COMMIT DIR, read through the binding's
    * [[CatalogSync.directoryRelation]] under the manifest schema plus
    * `__commit BIGINT` and `__bucket INT` — with tombstones dropped and
    * the payload projected; when a chain holds more than one dir the
    * log fold (`row_number()` over (version, tiebreak…, __commit)
    * descending, rank 1) runs first, as in [[read]]. Metadata-only per
    * commit, and with the session binding no Spark job at publish or at
    * a by-name read; schema evolution propagates because the view is
    * re-derived from the new manifest. */
  def syncCatalog(): Unit = catalogTable.foreach { fqn =>
    currentSnapshot().foreach { snap =>
      val m = readManifest(snap)
      val cols = m.payload.fields.map(f => s"`${f.name}`").mkString(", ")
      val pks = keys.map(k => s"`$k`").mkString(", ")
      val ord = KeyedUpsertTable.rankCols(versionCol, tiebreak, Some(CommitCol))
        .map(c => s"`$c` DESC").mkString(", ")
      val view = fqn.split('.').toSeq
      val entries = m.buckets.toSeq.flatMap { case (b, chain) => chain.map(b -> _) }
      // the sink decides WHAT to publish (the pruned view body); the
      // binding decides HOW (session catalog vs external metastore)
      catalog.publishView(view, BucketedUpsertTable.viewBody(
          catalog, view, tfs, m.payload, storage(m.payload), entries) { scan =>
        val (from, rank) =
          if (!m.folded) (scan, "")
          else (s"SELECT *, row_number() OVER (PARTITION BY $pks ORDER BY $ord) AS __rn " +
            s"FROM ($scan)", "__rn = 1 AND ")
        s"SELECT $cols FROM ($from) WHERE ${rank}NOT `${CdcNormalize.DeletedCol}`"
      })
    }
  }

  /** One bucket-partitioned write job into `dataDir`; the bucket column
    * lives in the dir name. */
  private def writeBucketed(df: DataFrame, dataDir: String): Unit =
    df.withColumn("__bucket", bucketCol)
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(tfs.str(dataDir))

  /** Bucket dirs actually produced by a write, as one-dir chains (a
    * bucket with no rows produces none). */
  private def listWritten(dataDir: String): Map[Int, Seq[String]] =
    tfs.listSubdirNames(dataDir)
      .filter(_.startsWith(BucketDirPrefix))
      .map(name => name.stripPrefix(BucketDirPrefix).toInt ->
        Seq(s"$dataDir/$name"))
      .toMap

  // -------------------------------------------------------------- cleaner

  /** Retain the newest `retainSnapshots` manifests and every commit dir
    * any of them references; delete the rest. Runs only after the
    * pointer swap and never fails a published commit. */
  private def clean(): Unit = {
    val snaps = Snapshots.listed(tfs)
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
