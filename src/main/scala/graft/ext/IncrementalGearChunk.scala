package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental content-defined-chunk dedup against a PERSISTED chunk
  * store — the backup-style ingest form of [[GearChunk]]: "how many of
  * the arriving blobs' bytes are already stored?" without re-chunking
  * the existing corpus. This is the dedup accounting an object-store
  * ingest of crawled media runs on every batch: chunks whose digest is
  * already in the store cost nothing; only new-digest chunks are
  * written.
  *
  * Index layout (the epoch discipline of [[IncrementalLineDedup]]):
  * `chunks/__epoch=<e>/` rows (chunk_sha256, chunk_bytes, refs),
  * bucket-partitioned by `pmod(xxhash64(chunk_sha256), buckets)` so an
  * arriving batch prunes the store scan to the buckets its own digests
  * occupy; `meta/` pins (mask_bits, min_size, max_size, buckets) so
  * every epoch chunks with identical boundaries (mixing parameters
  * would make equal bytes produce different digests). All directory
  * mutations ride the crash-safe [[EpochIndex]] seam.
  *
  * Contract (`mm_cdc_incremental_check` proves it): a batch chunk is
  * DUP iff its digest exists in the store; within-batch repeats are
  * NOT collapsed (two new blobs sharing a chunk both count it new) —
  * the store-side view of "bytes this batch adds" folds them at
  * [[appendToIndex]] time, where digests aggregate per epoch.
  *
  * Scale shape: batch blobs are chunked in ONE map-side pass (blobs
  * never shuffle); only digests cross the wire. The store scan is
  * bucket-partition-pruned (bounded planning collect of ≤ `buckets`
  * ints) and semi-joined against the batch's broadcast digest set, so
  * the work is O(|batch| + store-rows-in-touched-buckets), never
  * O(|corpus|).
  */
object IncrementalGearChunk {

  private val BucketCol = "__cb"

  private def bucketing(buckets: Int) = Some(BucketCol ->
    pmod(xxhash64(col("chunk_sha256")), lit(buckets.toLong)).cast("int"))

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "chunks")

  /** Build the store at `path` from the existing corpus. */
  def writeIndex(blobs: DataFrame, idCol: String, blobCol: String,
                 path: String, maskBits: Int = 6, minSize: Int = 16,
                 maxSize: Int = 256, buckets: Int = 16): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = blobs.sparkSession
    val ix = index(spark, path)
    writeEpoch(blobs, idCol, blobCol, ix, "base",
      maskBits, minSize, maxSize, buckets)
    import spark.implicits._
    ix.writeMeta(Seq((maskBits, minSize, maxSize, buckets))
      .toDF("mask_bits", "min_size", "max_size", "buckets"))
  }

  /** Fold a batch's chunk digests in under the named epoch — O(batch)
    * writes, idempotent per epoch (replay overwrites its own dirs). */
  def appendToIndex(newBlobs: DataFrame, idCol: String, blobCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newBlobs.sparkSession, path)
    val m = ix.metaForAppend(epoch)
    writeEpoch(newBlobs, idCol, blobCol, ix, epoch,
      m.getAs[Int]("mask_bits"), m.getAs[Int]("min_size"),
      m.getAs[Int]("max_size"), m.getAs[Int]("buckets"))
  }

  private def writeEpoch(blobs: DataFrame, idCol: String, blobCol: String,
                         ix: EpochIndex, epoch: String, maskBits: Int,
                         minSize: Int, maxSize: Int, buckets: Int): Unit =
    EpochIndex.write(
      GearChunk.chunks(blobs, idCol, blobCol, maskBits, minSize, maxSize)
        .groupBy("chunk_sha256")
        .agg(max("chunk_bytes").as("chunk_bytes"), count(lit(1)).as("refs")),
      ix.dir("chunks", epoch), bucketing(buckets))

  /** Fold every epoch into a single `base` (refs is a monoid). */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("buckets")
    ix.compact(crashAtRename) { (_, t, dir) =>
      EpochIndex.write(t.groupBy("chunk_sha256")
          .agg(max("chunk_bytes").as("chunk_bytes"), sum("refs").as("refs")),
        dir, bucketing(buckets))
    }
  }

  /** Per-blob dedup accounting for the arriving batch against the
    * store: (id, n_chunks, n_dup_chunks, blob_bytes, dup_bytes,
    * new_bytes). `excludeEpochs` is the streaming replay seam.
    *
    * The gear+SHA-256 kernel — the dominant CPU cost — runs ONCE: the
    * chunk table is cached for the duration of the call (its three
    * consumers: bucket collect, broadcast digest build, final probe)
    * and the small per-blob result is staged through the
    * [[graft.util.Checkpoints]] seam before the cache drops, so the
    * returned frame never replays the kernel. */
  def newBytes(spark: SparkSession, path: String, newBlobs: DataFrame,
               idCol: String, blobCol: String,
               excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val m = ix.meta()
    val buckets = m.getAs[Int]("buckets")

    val batch = GearChunk.chunks(newBlobs, idCol, blobCol,
        m.getAs[Int]("mask_bits"), m.getAs[Int]("min_size"),
        m.getAs[Int]("max_size"))
      .persist()
    try {
      val batchDigests = batch.select("chunk_sha256").distinct()

      // bounded planning collect: ≤ `buckets` ints prune the store scan
      // (also materializes the chunk cache for the two reads below)
      val stored = EpochIndex.inBuckets(ix.read("chunks", excludeEpochs),
          batchDigests, bucketing(buckets))
        .join(broadcast(batchDigests), Seq("chunk_sha256"), "left_semi")
        .select(col("chunk_sha256")).distinct()
        .withColumn("__dup", lit(true))

      graft.util.Checkpoints.stage(
        batch.join(broadcast(stored), Seq("chunk_sha256"), "left")
          .groupBy(col(idCol))
          .agg(
            count(lit(1)).as("n_chunks"),
            count(when(col("__dup"), 1)).as("n_dup_chunks"),
            sum("chunk_bytes").as("blob_bytes"),
            coalesce(sum(when(col("__dup"), col("chunk_bytes"))), lit(0L))
              .as("dup_bytes"),
            coalesce(sum(when(col("__dup").isNull, col("chunk_bytes"))), lit(0L))
              .as("new_bytes")))
    } finally { batch.unpersist(); () }
  }
}
