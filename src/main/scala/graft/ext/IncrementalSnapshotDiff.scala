package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus snapshot diff against a PERSISTED content-state
  * index — the rolling form of [[SnapshotDiff]]: shards of the new
  * snapshot arrive over days (a crawl refresh lands file by file), and
  * each shard is classified added/changed/unchanged against the corpus
  * state as of the previous shard, then folded in as an O(batch)
  * append so the NEXT shard sees this one. Removals are not observable
  * from an arriving shard (absence is a statement about the whole
  * snapshot, not a shard) — run [[SnapshotDiff.diff]] over the folded
  * state for the final release-notes pass; this probe is the live feed.
  *
  * Contract (the `llm_snapshot_diff_incremental` oracle proves it): the
  * output equals the batch side of [[SnapshotDiff.diff]] against the
  * indexed snapshot, RESTRICTED to batch ids.
  *
  * Index layout (the house epoch-first discipline): `digests/__epoch=<e>/`
  * rows (id, digest, seq), bucket-partitioned by `pmod(id, buckets)`;
  * `meta/` holds the bucket count. An id may appear under several
  * epochs (that is what "changed" means) — readers resolve the CURRENT
  * digest as `max_by(digest, seq)`, so appends never rewrite old
  * epochs; `seq` must increase with ingest order (streaming passes the
  * batch id). Replay-idempotent: an epoch overwrites only its own
  * partition dirs, and the probe's `excludeEpochs` seam lets a replayed
  * batch read exactly the pre-batch state ([[graft.stream.StreamSnapshotDiff]]).
  *
  * Scale shape: the probe partition-prunes the index to the batch ids'
  * buckets (bounded planning collect of ≤ `buckets` ints), semi-joins
  * on the broadcast batch ids, and resolves latest-per-id over that
  * pruned set only — work is O(batch), never O(corpus).
  */
object IncrementalSnapshotDiff {

  private val BucketCol = "__db"

  private def bucketing(buckets: Int) =
    Some(BucketCol -> pmod(col("id"), lit(buckets.toLong)).cast("int"))

  private def digests(docs: DataFrame, idCol: String, textCol: String,
                      seq: Long): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      sha2(coalesce(col(textCol), lit("")), 256).as("digest"),
      lit(seq).as("seq"))

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "digests")

  /** Build the index at `path` from the base snapshot (seq 0). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, buckets: Int = 16): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    val ix = index(spark, path)
    EpochIndex.write(digests(docs, idCol, textCol, seq = 0L),
      ix.dir("digests", "base"), bucketing(buckets))
    import spark.implicits._
    ix.writeMeta(Seq(buckets).toDF("buckets"))
  }

  /** Fold an arriving shard's digests in under the named epoch —
    * O(batch) writes, idempotent per epoch. `seq` must exceed every
    * previously folded epoch's (streaming uses the batch id + 1,
    * leaving 0 for base). */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String, seq: Long): Unit = {
    EpochIndex.checkEpoch(epoch)
    require(seq > 0L, s"seq must be > 0 (0 is the base snapshot), got $seq")
    val ix = index(newDocs.sparkSession, path)
    val buckets = ix.meta().getAs[Int]("buckets")
    EpochIndex.write(digests(newDocs, idCol, textCol, seq),
      ix.dir("digests", epoch), bucketing(buckets))
  }

  /** Classify an arriving shard against the indexed state:
    * (id, status) with status in {added, changed, unchanged}. */
  def diffBatch(spark: SparkSession, path: String, newDocs: DataFrame,
                idCol: String, textCol: String,
                excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("buckets")
    val batch = newDocs.select(col(idCol).cast("long").as("id"),
      sha2(coalesce(col(textCol), lit("")), 256).as("h_new"))

    // bounded planning collect: at most `buckets` distinct ints
    val current = EpochIndex.inBuckets(ix.read("digests", excludeEpochs),
        batch, bucketing(buckets))
      .join(broadcast(batch.select("id")), Seq("id"), "left_semi")
      .groupBy("id")
      .agg(max_by(col("digest"), col("seq")).as("h_old"))

    batch.join(current, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("h_old").isNull, "added")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Fold every epoch to the latest digest per id under a single `base`
    * (max seq kept so later appends still order correctly) — the same
    * crash-safe [[EpochIndex]] discipline and quiescent-stream rule as
    * the other indexes. */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("buckets")
    ix.compact(crashAtRename) { (_, t, dir) =>
      EpochIndex.write(t.groupBy("id")
          .agg(max_by(col("digest"), col("seq")).as("digest"),
            max("seq").as("seq")),
        dir, bucketing(buckets))
    }
  }
}
