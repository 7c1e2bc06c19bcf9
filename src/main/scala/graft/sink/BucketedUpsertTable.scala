package graft.sink

import graft.cdc.CdcNormalize

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.util.TableFs

/** The incremental variant of [[KeyedUpsertTable]]: the merge-on-write
  * preset (`compactAfter = 1`) of the bucketed keyed sink
  * [[MorUpsertTable]]. Rows are hash-bucketed by record key and a
  * micro-batch rewrites ONLY the buckets its keys land in, folding the
  * batch in and dropping its tombstones — the other buckets' parquet
  * files are carried forward by reference, untouched.
  *
  * Same externally-observable semantics as the COW table (latest-wins
  * merge, incoming wins version ties, hard deletes — an older-versioned
  * event after a delete re-inserts its key —, schema evolution, atomic
  * pointer-swap visibility, snapshot retention) but the write
  * amplification per batch is `touched_buckets / n_buckets` of the table
  * instead of 1.0. This is the Hudi file-group model: at 100 TB a
  * micro-batch touching 1% of keys rewrites ~1% of the table (bounded
  * below by one file group per touched bucket), not the world. Every
  * bucket's chain is one dir, so reads and the catalog view are plain
  * partition-pruned scans with no shuffle.
  */
final class BucketedUpsertTable(
    spark: SparkSession,
    root: String,
    keys: Seq[String],
    versionCol: String = CdcNormalize.MtimeCol,
    nBuckets: Int = 16,
    retainSnapshots: Int = 2,
    tiebreak: Seq[String] = Nil,
    catalogTable: Option[String] = None,
    catalogSync: Option[CatalogSync] = None)
  extends MorUpsertTable(spark, root, keys, versionCol, nBuckets, retainSnapshots, tiebreak,
    compactAfter = 1, catalogTable = catalogTable, catalogSync = catalogSync) {

  /** The data dir currently serving bucket `b`, if non-empty (test /
    * observability hook: untouched buckets keep the same dir across
    * commits). */
  def bucketDir(b: Int): Option[String] = bucketChain(b).headOption
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
