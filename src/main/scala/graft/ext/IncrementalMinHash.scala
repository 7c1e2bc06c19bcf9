package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The approximate twin of [[IncrementalDedup]]: incremental
  * append-batch near-dup detection against a PERSISTED banded MinHash
  * signature index instead of exact shingle postings.
  *
  * Why a twin exists: the exact index stores (doc_id, shingle) postings
  * — ≈ one row per TOKEN of the corpus, the dominant storage and scan
  * term at 100 TB. The signature index stores exactly `bands` rows per
  * DOCUMENT ((doc_id, band, bucket) — fixed-width, independent of
  * document length), so index size and probe IO scale with corpus
  * cardinality, not corpus volume. The cost is recall: a true pair is
  * surfaced only if some band collides (the classic S-curve), which the
  * `llm_minhash_incremental_recall` gate pins against the exact
  * incremental path's output.
  *
  * Candidate verification is EXACT and UNCAPPED: candidate old docs'
  * text is fetched from the corpus (a broadcast semi-join on the
  * bounded candidate id set — at scale a point-lookup pattern the
  * lake's doc_id layout serves) and re-shingled, so every reported
  * jaccard is the true value, not a signature estimate, and the found
  * set is a STRUCTURAL subset of the uncapped exact pair set. No
  * document-frequency cap applies, deliberately: the cap exists to
  * bound the exact inverted index's bucket width (a hot shingle makes
  * its posting-list join quadratic), a failure mode the signature path
  * does not have — a near-universal gram merely biases a few of the k
  * min-hashes, it never widens an LSH bucket. Dropping the cap is what
  * lets the index carry NO gram-level table at all.
  *
  * Scale shape:
  *  - index build/append: one shuffle on doc id (the signature
  *    aggregate), O(batch) writes, epoch-keyed and replay-idempotent
  *    exactly like [[IncrementalDedup.appendToIndex]];
  *  - probe: the bucket join shuffles |new|·bands rows against an
  *    index read that bucket-partitioned storage prunes; every
  *    downstream join is bounded by candidate count × doc length;
  *  - the corpus is touched only for candidate docs (broadcast
  *    semi-join), never scanned for grams corpus-wide.
  */
object IncrementalMinHash {

  /** Partition column of the bucket-hash-partitioned layout. */
  private val PartCol = "__bp"

  /** Build the signature index for `docs` at `path`:
    *  - `buckets/__epoch=<e>/` (doc_id, band, bucket): `bands` rows per
    *    doc, one partition dir per build/append epoch;
    *  - `meta/` (n, bands, rows, bucket_partitions): parameters every
    *    probe/append must agree on (the banded-signature family is
    *    derived from seeded xxhash64, so equal parameters ⇒ equal
    *    buckets on any node).
    * `bucketPartitions > 0` selects the PARTITIONED layout — postings
    * additionally partitioned by `__bp = pmod(hash(band, bucket),
    * partitions)` inside each epoch dir, and [[nearDupPairs]]
    * partition-prunes the index scan to the probe batch's (band,
    * bucket) partitions (a bounded ≤`bucketPartitions`-int planning
    * collect) — probe IO then tracks the BATCH's bucket diversity, not
    * the indexed corpus cardinality. The [[IncrementalDedup]]
    * `shingleBuckets` pattern, applied to the signature layout. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, n: Int = 3,
                 bands: Int = 16, rows: Int = 4,
                 bucketPartitions: Int = 0): Unit = {
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, idCol, textCol, ix, n, bands, rows, epoch = "base",
      bucketPartitions = bucketPartitions)
    import spark.implicits._
    ix.writeMeta(Seq((n, bands, rows, bucketPartitions))
      .toDF("n", "bands", "rows", "bucket_partitions"))
  }

  /** Fold a batch into the index under the named epoch — O(batch)
    * signature compute + write, no read of existing buckets, IDEMPOTENT
    * per epoch (a replayed batch overwrites its own partition dir).
    * Batch ids must be disjoint from every id already indexed. */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    val m = ix.metaForAppend(epoch)
    // every epoch shares the base layout (mixed depths break discovery);
    // indexes that predate partitioning lack `bucket_partitions` (flat)
    writeEpoch(newDocs, idCol, textCol, ix, m.getAs[Int]("n"),
      m.getAs[Int]("bands"), m.getAs[Int]("rows"), epoch,
      bucketPartitions = EpochIndex.intOr0(m, "bucket_partitions"))
  }

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "buckets")

  private def partitioning(nParts: Int) =
    if (nParts <= 0) None
    else Some(PartCol -> pmod(hash(col("band"), col("bucket")), lit(nParts)))

  private def writeEpoch(docs: DataFrame, idCol: String, textCol: String,
                         ix: EpochIndex, n: Int, bands: Int, rows: Int,
                         epoch: String, bucketPartitions: Int): Unit = {
    val sh = Dedup.shingles(docs, idCol, textCol, n)
    val sigs = Dedup.minhashSignatures(sh, idCol, bands * rows)
    val posts = Dedup.minhashBuckets(sigs, idCol, bands, rows)
      .select(col(idCol).as("doc_id"), col("band"), col("bucket"))
    // clustered on the partition column before the write (guide §6 —
    // one file per (epoch, partition) instead of tasks × partitions)
    EpochIndex.write(posts, ix.dir("buckets", epoch),
      partitioning(bucketPartitions), cluster = true)
  }

  /** Near-dup pairs (exact uncapped Jaccard >= threshold) with at least
    * one side in `newDocs`, candidates drawn from the signature index
    * at `path` plus in-batch banded LSH. Output (id_a, id_b, jaccard),
    * canonical id_a < id_b — a structural subset of
    * [[Dedup.jaccardPairs]] over `indexed ∪ new` with `maxDf = ∞`,
    * restricted to pairs touching the batch.
    *
    * `corpus` must contain the indexed documents (id, text) — candidate
    * verification re-shingles ONLY the candidate ids' rows.
    * `excludeEpochs` is the at-least-once replay seam, exactly as on
    * [[IncrementalDedup.nearDupPairs]]: partition discovery exposes
    * `__epoch` on the buckets read, so an interrupted batch's own
    * epoch prunes out before any IO. */
  def nearDupPairs(spark: SparkSession, path: String, newDocs: DataFrame,
                   corpus: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5,
                   excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val meta = ix.meta()
    val n = meta.getAs[Int]("n")
    val bands = meta.getAs[Int]("bands")
    val rows = meta.getAs[Int]("rows")
    val nParts = EpochIndex.intOr0(meta, "bucket_partitions")

    val newSh = Dedup.shingles(newDocs, idCol, textCol, n)
    val newSigs = Dedup.minhashSignatures(newSh, idCol, bands * rows)
    val newBuckets = Dedup.minhashBuckets(newSigs, idCol, bands, rows)

    // partitioned layout: prune the index scan to the batch's
    // (band, bucket) partitions — a bounded ≤nParts-int planning
    // collect, before any file IO
    val oldBuckets = EpochIndex.inBuckets(ix.read("buckets", excludeEpochs),
      newBuckets, partitioning(nParts))

    // candidate generation — new-vs-indexed via the persisted buckets,
    // new-vs-new via in-batch banded LSH (the batch can carry internal
    // dups too, mirroring IncrementalDedup's jNN leg)
    val candNO = newBuckets.select(col(idCol).as("new_id"), col("band"), col("bucket"))
      .join(oldBuckets.select(col("doc_id").as("old_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("old_id") =!= col("new_id")) // replay defense in depth
      .select("old_id", "new_id").distinct()
    val candNN = Dedup.minhashCandidates(newSigs, idCol, bands, rows)

    // exact verification: candidate old docs' grams come from the
    // corpus (broadcast semi-join on the bounded candidate id set)
    val candOldIds = candNO.select(col("old_id").as(idCol)).distinct()
    val oldCandSh = Dedup.shingles(
      corpus.join(broadcast(candOldIds), Seq(idCol), "left_semi"),
      idCol, textCol, n)

    val newSizes = newSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val oldSizes = oldCandSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))

    def verified(cands: DataFrame, aCol: String, bCol: String,
                 shA: DataFrame, shB: DataFrame,
                 sizesA: DataFrame, sizesB: DataFrame): DataFrame =
      cands
        .join(shA.select(col(idCol).as(aCol), col("shingle")), aCol)
        .join(shB.select(col(idCol).as(bCol), col("shingle")), Seq(bCol, "shingle"))
        .groupBy(aCol, bCol).agg(count(lit(1)).as("n_inter"))
        .join(sizesA.select(col(idCol).as(aCol), col("n_sh").as("n_a")), aCol)
        .join(sizesB.select(col(idCol).as(bCol), col("n_sh").as("n_b")), bCol)
        .withColumn("jaccard",
          col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .where(col("jaccard") >= threshold)
        .select(least(col(aCol), col(bCol)).as("id_a"),
          greatest(col(aCol), col(bCol)).as("id_b"),
          round(col("jaccard"), 6).as("jaccard"))

    verified(candNO, "old_id", "new_id", oldCandSh, newSh, oldSizes, newSizes)
      .unionByName(
        verified(candNN, "id_a", "id_b", newSh, newSh, newSizes, newSizes))
  }
}
