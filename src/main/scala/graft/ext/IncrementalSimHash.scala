package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The third incremental near-dup index, SimHash flavor — and the only
  * EXACT one of the approximate family: pigeonhole blocking has 100%
  * recall inside the Hamming ball (any pair within `maxHamming` bits
  * agrees exactly on at least one of `maxHamming + 1` blocks), and the
  * verify needs nothing but the two 64-bit fingerprints, so the
  * incremental result EQUALS the full blocked recompute restricted to
  * batch-touching pairs — no corpus text lookup, no recall loss, an
  * index of `maxHamming + 1` fixed-width rows per document.
  *
  * Where it sits next to its siblings: [[IncrementalDedup]] is exact
  * n-gram Jaccard (heaviest index: postings ≈ tokens),
  * [[IncrementalMinHash]] is approximate Jaccard (bands rows/doc +
  * corpus text lookups for verify), this is exact HAMMING-on-simhash
  * similarity (cheapest: (maxHamming+1) rows/doc, self-contained
  * verify) — the right tool when simhash distance is the dedup
  * criterion, as in large-scale web-corpus pipelines.
  *
  * Same epoch discipline as the siblings: O(batch) epoch-keyed appends,
  * replay-idempotent overwrite per epoch, `excludeEpochs` as the
  * at-least-once replay seam, and an optional partitioned layout
  * (`blockPartitions`) whose probe partition-prunes to the batch's
  * (blk, v) partitions before any file IO. */
object IncrementalSimHash {

  private val PartCol = "__bp"

  /** Build the index for `docs` at `path`:
    *  - `blocks/__epoch=<e>/` (doc_id, simhash, blk, v): the pigeonhole
    *    postings, fingerprint carried inline so candidate verification
    *    never joins back;
    *  - `meta/` (max_hamming, block_partitions). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, maxHamming: Int = 3,
                 blockPartitions: Int = 0): Unit =
    writeIndexFingerprints(Dedup.simhash(docs, idCol, textCol), idCol,
      "simhash", path, maxHamming, blockPartitions)

  /** Fingerprint-level entry: the index machinery is agnostic to WHERE
    * the 64-bit fingerprint came from — text simhash ([[writeIndex]])
    * or image pHash ([[Multimodal.imagePhash]]); `fps` carries
    * (idCol, fpCol). */
  def writeIndexFingerprints(fps: DataFrame, idCol: String, fpCol: String,
                             path: String, maxHamming: Int = 3,
                             blockPartitions: Int = 0): Unit = {
    val spark = fps.sparkSession
    val ix = index(spark, path)
    writeEpoch(fps, idCol, fpCol, ix, maxHamming, epoch = "base",
      blockPartitions = blockPartitions)
    import spark.implicits._
    ix.writeMeta(Seq((maxHamming, blockPartitions))
      .toDF("max_hamming", "block_partitions"))
  }

  /** Fold a batch in under the named epoch — O(batch), idempotent per
    * epoch, layout inherited from meta. Batch ids must be disjoint from
    * every id already indexed. */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String): Unit =
    appendFingerprints(Dedup.simhash(newDocs, idCol, textCol), idCol,
      "simhash", path, epoch)

  /** [[appendToIndex]], fingerprint-level. */
  def appendFingerprints(fps: DataFrame, idCol: String, fpCol: String,
                         path: String, epoch: String): Unit = {
    val ix = index(fps.sparkSession, path)
    val m = ix.metaForAppend(epoch)
    writeEpoch(fps, idCol, fpCol, ix, m.getAs[Int]("max_hamming"),
      epoch, blockPartitions = EpochIndex.intOr0(m, "block_partitions"))
  }

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "blocks")

  private def partitioning(nParts: Int) =
    if (nParts <= 0) None
    else Some(PartCol -> pmod(hash(col("blk"), col("v")), lit(nParts)))

  private def writeEpoch(fps: DataFrame, idCol: String, fpCol: String,
                         ix: EpochIndex, maxHamming: Int, epoch: String,
                         blockPartitions: Int): Unit = {
    val posts = Dedup.simhashBlocks(
        fps.withColumnRenamed(fpCol, "simhash"), idCol, maxHamming)
      .select(col(idCol).as("doc_id"), col("simhash"), col("blk"), col("v"))
    // clustered on the partition column before the write (guide §6 —
    // one file per (epoch, partition) instead of tasks × partitions)
    EpochIndex.write(posts, ix.dir("blocks", epoch),
      partitioning(blockPartitions), cluster = true)
  }

  /** All pairs within `maxHamming` simhash bits with at least one side
    * in `newDocs` — EXACTLY the blocked recompute over `indexed ∪ new`
    * restricted to batch-touching pairs (blocking is lossless in the
    * ball; hamming comes straight from the joined fingerprints).
    * Output (id_a, id_b, hamming), canonical id_a < id_b. */
  def nearDupPairs(spark: SparkSession, path: String, newDocs: DataFrame,
                   idCol: String, textCol: String,
                   excludeEpochs: Seq[String] = Nil): DataFrame =
    nearDupPairsFingerprints(spark, path,
      Dedup.simhash(newDocs, idCol, textCol), idCol, "simhash",
      excludeEpochs)

  /** [[nearDupPairs]], fingerprint-level. */
  def nearDupPairsFingerprints(spark: SparkSession, path: String,
                               newFps: DataFrame, idCol: String,
                               fpCol: String,
                               excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val meta = ix.meta()
    val maxHamming = meta.getAs[Int]("max_hamming")
    val nParts = EpochIndex.intOr0(meta, "block_partitions")
    val fps = newFps.withColumnRenamed(fpCol, "simhash")

    val newBlocks = Dedup.simhashBlocks(fps, idCol, maxHamming)

    // bounded ≤nParts-int planning collect; dir-level pruning
    val oldBlocks = EpochIndex.inBuckets(ix.read("blocks", excludeEpochs),
      newBlocks, partitioning(nParts))

    val ham = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    // new-vs-indexed through the persisted postings …
    val no = oldBlocks
      .select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
        col("blk"), col("v"))
      .join(newBlocks.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
        col("blk"), col("v")), Seq("blk", "v"))
      .where(col("id_a") =!= col("id_b")) // replay defense in depth
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        ham.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    // … plus in-batch pairs (the batch can carry internal near-dups)
    val nn = Dedup.simhashNearDups(fps, idCol, maxHamming)
    no.unionByName(nn).distinct()
  }
}
