package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental append-batch near-duplicate detection against a
  * PERSISTED shingle index — the production shape for a corpus that
  * ingests a new shard daily and asks "which NEW docs duplicate the
  * EXISTING corpus?" without recomputing the full n-gram self-join —
  * plus the maintenance half: folding the verified shard back into the
  * index as an O(batch) append, so tomorrow's shard checks against
  * today's corpus.
  *
  * Contract (the `llm_dedup_incremental` oracle proves it): the output
  * equals [[Dedup.jaccardPairs]] over `indexed ∪ new` — including the
  * combined-corpus document-frequency cap — RESTRICTED to pairs with at
  * least one new-batch side. The subtlety is the df cap: appending
  * batches pushes shingle frequencies over `maxDf`, which removes them
  * from EVERY side's capped sets and changes capped doc sizes. Rather
  * than storing cap-relative state that staleness would poison, the
  * index stores only raw facts — (doc_id, shingle) postings and
  * per-epoch (shingle, df) partials summed at query time — and the
  * query derives every capped quantity against the CURRENT totals, so
  * correctness is independent of how many appends happened.
  *
  * Scale shape (the "|new|, not |corpus|" guarantee, ladder-measured
  * exponent ≈ 0.06 at sf0.1×10):
  *  - the postings table is only ever read MAP-SIDE-FILTERED through a
  *    broadcast: pass A keeps rows whose shingle is a LIVE (under-cap)
  *    batch gram — hot shingles are excluded from the broadcast before
  *    the scan, so a stopword gram can never pull its corpus-wide
  *    posting list — and pass B keeps rows of candidate docs only;
  *  - every shuffle downstream is bounded by candidate counts
  *    (≤ |new grams| × maxDf rows), never corpus size;
  *  - the df table is corpus-sized but 2 columns, scanned
  *    column-pruned + broadcast-filtered to the grams that matter;
  *  - at 100 TB, build with `shingleBuckets > 0`: postings and df land
  *    partitioned by a shingle hash bucket, and the pass-A scans are
  *    PARTITION-PRUNED to the batch grams' buckets before any file IO
  *    (spec-asserted: only the matching `__sb=` dirs are read);
  *    [[appendToIndex]] stays a pure file append in either layout.
  */
object IncrementalDedup {

  /** Partition column of the shingle-bucketed layout. */
  private val BucketCol = "__sb"

  /** Build the persisted index for `docs` at `path`:
    *  - `shingles/__epoch=<e>/` (doc_id, shingle): the postings — every
    *    distinct word-n-gram per doc, one partition dir per
    *    build/append epoch;
    *  - `df/__epoch=<e>/` (shingle, df): per-epoch document-frequency
    *    partials (readers SUM across epochs);
    *  - `meta/` (n, max_df, shingle_buckets): parameters every
    *    query/append must agree on.
    * One shuffle on shingle (the df aggregate), once per build/append.
    *
    * `shingleBuckets > 0` selects the BUCKETED layout — postings and df
    * additionally partitioned by `__sb = pmod(hash(shingle), buckets)`
    * inside each epoch dir. This is the 100 TB storage shape the probe
    * exploits: [[nearDupPairs]] computes the arriving batch's gram
    * bucket set (a bounded ≤`shingleBuckets`-int planning collect, like
    * the bucketed sink's touched-set) and partition-prunes the pass-A
    * postings and df scans to exactly those directories — the index IO
    * per probe tracks the BATCH's gram diversity, not the corpus size,
    * before the broadcast filter even runs. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, n: Int = 3,
                 maxDf: Long = Long.MaxValue,
                 shingleBuckets: Int = 0): Unit = {
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, idCol, textCol, ix, n, epoch = "base",
      shingleBuckets = shingleBuckets)
    import spark.implicits._
    ix.writeMeta(Seq((n, maxDf, shingleBuckets))
      .toDF("n", "max_df", "shingle_buckets"))
  }

  /** Fold a (verified) batch into the index: write its postings and df
    * partials under the named epoch — O(batch) writes, no read or
    * rewrite of existing index files, and IDEMPOTENT per epoch: a
    * replayed batch (same epoch name, e.g. the streaming batchId)
    * OVERWRITES its own partition dirs instead of double-counting, so
    * at-least-once delivery yields an exactly-once index. Batch ids
    * must be disjoint from every id already indexed. */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    val meta = ix.metaForAppend(epoch)
    // every epoch must share the base layout, or partition discovery
    // over the epoch dirs breaks (mixed directory depths); indexes that
    // predate bucketing have no `shingle_buckets` (layout 0 = flat)
    writeEpoch(newDocs, idCol, textCol, ix, meta.getAs[Int]("n"), epoch,
      shingleBuckets = EpochIndex.intOr0(meta, "shingle_buckets"))
  }

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "shingles", "df")

  private def bucketing(shingleBuckets: Int) =
    if (shingleBuckets <= 0) None
    else Some(BucketCol -> pmod(hash(col("shingle")), lit(shingleBuckets)))

  private def writeEpoch(docs: DataFrame, idCol: String, textCol: String,
                         ix: EpochIndex, n: Int, epoch: String,
                         shingleBuckets: Int): Unit = {
    val sh = Dedup.shingles(docs, idCol, textCol, n)
    // Bucketed layout: CLUSTER by the bucket before the partitionBy
    // write (guide §6 small files) — without it every write task emits
    // a file into every bucket dir it touches (tasks × buckets tiny
    // files per epoch, ~256 at bench shape), and every probe pays the
    // listing + per-file open cost on each of its postings/df scans.
    // One shuffle on the bucket at build/append time buys one file per
    // (epoch, bucket).
    EpochIndex.write(sh.select(col(idCol).as("doc_id"), col("shingle")),
      ix.dir("shingles", epoch), bucketing(shingleBuckets), cluster = true)
    EpochIndex.write(sh.groupBy("shingle").agg(count(lit(1)).as("df")),
      ix.dir("df", epoch), bucketing(shingleBuckets), cluster = true)
  }

  /** All near-dup pairs (Jaccard >= threshold under the COMBINED-corpus
    * df cap) with at least one side in `newDocs`, computed against the
    * index at `path` (however many appends built it). Output
    * (id_a, id_b, jaccard), canonical id_a < id_b — identical to the
    * restricted full recompute.
    *
    * `excludeEpochs`: index epochs to IGNORE for this query. The replay
    * seam: an at-least-once stream that appends its batch under epoch
    * `b<batchId>` and then crashes before the checkpoint commits will
    * re-run the flag pass against an index that already contains the
    * batch's own partition — excluding that epoch restores the
    * "everything ingested BEFORE this batch" read the contract promises
    * (no self-pairs, no double-counted df partials). Partition
    * discovery exposes `__epoch` on both the postings and df reads, so
    * the filter prunes whole directories before any IO. */
  def nearDupPairs(spark: SparkSession, path: String, newDocs: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double = 0.5,
                   excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val meta = ix.meta()
    val n = meta.getAs[Int]("n")
    val maxDf = meta.getAs[Long]("max_df")
    val buckets = EpochIndex.intOr0(meta, "shingle_buckets")
    val postings = ix.read("shingles", excludeEpochs)
    val dfTable = ix.read("df", excludeEpochs)

    // STAGED (guide §2.4 — second consumer of an unmaterialized subtree
    // = hidden recompute): the batch shingle stream feeds the bucket
    // planning collect, the df partials, the live-gram cap, the capped
    // batch and BOTH sides of the new-vs-new self-join — unstaged, each
    // consumer re-ran the shard scan + explode. Batch-bounded rows, so
    // the checkpoint is O(|new| × grams-per-doc) at any corpus size.
    val newSh = graft.util.Checkpoints.stage(
      Dedup.shingles(newDocs, idCol, textCol, n))

    // Bucketed layout: the pass-A scans only ever keep rows whose
    // shingle is a BATCH gram, so they can be partition-pruned to the
    // batch grams' bucket dirs before any file IO. The bucket set is a
    // bounded planning collect (≤ shingle_buckets ints, independent of
    // data size — the bucketed sink's touched-set pattern). Pass B must
    // NOT use it: candidate docs' gram lists exceed the batch's grams.
    val pruneBatchGrams: DataFrame => DataFrame =
      if (buckets <= 0) identity
      else {
        val bs = newSh
          .select(pmod(hash(col("shingle")), lit(buckets)).as(BucketCol))
          .distinct().collect().map(_.getInt(0)).toSeq
        t => t.where(col(BucketCol).isin(bs: _*))
      }
    val postingsA = pruneBatchGrams(postings)
    val dfTableA = pruneBatchGrams(dfTable)
    // Combined df for the batch's grams: batch-local counts + the SUM
    // of the index's per-epoch partials for exactly those grams
    // (column-pruned scan, broadcast-filtered). Bounded by |new grams|.
    val dfNew = newSh.groupBy("shingle").agg(count(lit(1)).as("df_new"))
    val dfOldForNew = dfTableA
      .join(broadcast(dfNew.select("shingle")), Seq("shingle"), "left_semi")
      .groupBy("shingle").agg(sum("df").as("df_old"))
    // LIVE grams only: anything at-or-under the combined cap. Hot
    // shingles drop out HERE, before any postings scan — the broadcast
    // they ride is what keeps a stopword gram from pulling its
    // corpus-wide posting list.
    // Staged too: liveGrams rides TWO broadcasts (the capped batch and
    // the pass-A postings filter) and newCapped feeds four consumers
    // (sizes, pass-A intersections, both sides of the new-vs-new
    // self-join) — all bounded by the batch's gram count.
    val liveGrams = graft.util.Checkpoints.stage(
      dfNew.join(dfOldForNew, Seq("shingle"), "left")
        .where(col("df_new") + coalesce(col("df_old"), lit(0L)) <= maxDf)
        .select("shingle"))

    val newCapped = graft.util.Checkpoints.stage(
      newSh.join(broadcast(liveGrams), "shingle"))
    val newSizes = newCapped.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"))

    // PASS A over the postings: live shared grams only (map-side
    // broadcast filter, partition-pruned to the batch grams' buckets
    // under the bucketed layout) → new-vs-old intersections, bounded
    // by |new grams| × maxDf.
    val interNO = postingsA
      .join(broadcast(liveGrams), "shingle")
      .select(col("doc_id").as("old_id"), col("shingle"))
      .join(newCapped.select(col(idCol).as("new_id"), col("shingle")), "shingle")
      // Defense in depth against replayed/overlapping ids: a doc must
      // never pair with its own indexed copy (id_a == id_b is not a
      // near-dup pair under any contract).
      .where(col("old_id") =!= col("new_id"))
      .groupBy("old_id", "new_id").agg(count(lit(1)).as("n_inter"))

    // PASS B over the postings: candidate docs' FULL gram lists
    // (bounded by |candidates| × doc length), joined against the
    // current totals of exactly those grams to derive each candidate's
    // capped size against TODAY's df — exact at any epoch count.
    val candDocs = interNO.select(col("old_id").as("doc_id")).distinct()
    val candPostings = postings.join(broadcast(candDocs), "doc_id")
    val candGramTotals = dfTable
      .join(broadcast(candPostings.select("shingle").distinct()),
        Seq("shingle"), "left_semi")
      .groupBy("shingle").agg(sum("df").as("df_old"))
      .join(dfNew, Seq("shingle"), "left")
      .where(col("df_old") + coalesce(col("df_new"), lit(0L)) <= maxDf)
      .select("shingle")
    val oldSizes = candPostings
      .join(broadcast(candGramTotals), "shingle")
      .groupBy(col("doc_id").as("old_id")).agg(count(lit(1)).as("n_a"))
      .select(col("old_id"), col("n_a"))

    val jNO = interNO
      .join(oldSizes, "old_id")
      .join(newSizes.select(col(idCol).as("new_id"), col("n_sh").as("n_b")),
        "new_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(least(col("old_id"), col("new_id")).as("id_a"),
        greatest(col("old_id"), col("new_id")).as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))

    // new-vs-new pairs under the same combined cap (the batch can
    // contain internal dups too) — [[Dedup.jaccardPairs]]'s shape over
    // the already-capped batch stream.
    val a = newCapped.select(col(idCol).as("id_a"), col("shingle"))
    val b = newCapped.select(col(idCol).as("id_b"), col("shingle"))
    val jNN = a.join(b, "shingle")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      .join(newSizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(newSizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

    jNO.unionByName(jNN)
  }
}
