package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 retrieval against a PERSISTED postings index — the daily-ingest
  * form of [[Bm25]]: serve keyword queries over the corpus seen so far
  * without re-tokenizing it, and fold each arriving shard in as an
  * O(batch) append. The house epoch-keyed index discipline
  * ([[IncrementalLineDedup]] et al.): per-epoch partitions, idempotent
  * replays (an epoch overwrites its own partition dirs), crash-safe
  * [[EpochIndex]] compaction, and the single-ingest contract (a doc_id
  * belongs to exactly ONE epoch — re-ingesting under two epochs would
  * double its tf/df/length contributions).
  *
  * Layout at `path`:
  *  - `postings/__epoch=<e>/` — (term, doc_id, tf, dl), hash-bucketed by
  *    term when `termBuckets` > 0 so a query probe is partition-pruned
  *    to ≤ |Q| buckets. `dl` is DENORMALIZED onto the postings row: the
  *    serving join against a lengths table disappears, at ~8 bytes per
  *    posting (Lucene stores norms per posting list the same way).
  *  - `stats/__epoch=<e>/` — ONE row (n_docs, total_tokens) per epoch;
  *    the global (N, T) is their sum (a monoid under single-ingest).
  *  - `meta/` — (term_buckets).
  *
  * Contract (the `llm_bm25_incremental` oracle proves it): [[search]]
  * over `indexed ∪ appended` equals [[Bm25.topK]] over the union corpus
  * EXACTLY — df comes from counting probed postings, (N, T) from the
  * folded stats rows, and the scoring arithmetic is [[Bm25]]'s integer
  * kernel verbatim, so the index round-trip changes no bit.
  *
  * Scale shape: the probe reads ≤ |Q| term buckets (partition filter
  * built from a bounded planning collect of ≤ |Q| bucket ints — the
  * house discipline), df is a ≤ |Q|-row aggregate of the probe, stats
  * a one-row-per-epoch scan, and top-k is TakeOrderedAndProject.
  * Nothing scales with the corpus except the probed posting lists
  * themselves.
  */
object IncrementalBm25 {

  private val BucketCol = "__tb"

  private def bucketOf(term: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** (term, doc_id, tf, dl) posting rows for a shard — one doc-keyed
    * aggregate over the word stream (map-side combine), dl riding the
    * stream like [[Bm25.scores]]. */
  private def postingsOf(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      TextStats.nWords(col(textCol)).cast("long").as("dl"),
      TextStats.words(lower(col(textCol))).as("__w"))
    base.select(col("doc_id"), col("dl"), explode(col("__w")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .select("term", "doc_id", "tf", "dl")
  }

  private def statsOf(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(TextStats.nWords(col(textCol)).cast("long")).as("total_tokens"))

  private def bucketing(buckets: Int) =
    if (buckets <= 0) None else Some(BucketCol -> bucketOf(col("term"), buckets))

  private def writeEpoch(docs: DataFrame, idCol: String, textCol: String,
                         ix: EpochIndex, epoch: String, buckets: Int): Unit = {
    // cluster by bucket before the partitionBy write (guide §6: without
    // it every task emits a file per touched bucket dir — tasks × buckets
    // tiny files per epoch, paid back as listing/open cost on every probe)
    EpochIndex.write(postingsOf(docs, idCol, textCol),
      ix.dir("postings", epoch), bucketing(buckets), cluster = true)
    statsOf(docs, textCol).coalesce(1).write.mode("overwrite")
      .parquet(ix.dir("stats", epoch))
  }

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "postings", "stats")

  /** Build the index from the base corpus. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, termBuckets: Int = 0): Unit = {
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, idCol, textCol, ix, "base", termBuckets)
    import spark.implicits._
    ix.writeMeta(Seq(termBuckets).toDF("term_buckets"))
  }

  /** Fold a shard in under the named epoch — O(batch) writes,
    * idempotent per epoch. */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    val buckets = ix.metaForAppend(epoch).getAs[Int]("term_buckets")
    writeEpoch(newDocs, idCol, textCol, ix, epoch, buckets)
  }

  /** Fold every epoch into a single `base` — postings need no
    * re-aggregation (single-ingest: a (term, doc) pair exists in exactly
    * one epoch), stats fold to one row; crash-safe staged swap. */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("term_buckets")
    ix.compact(crashAtRename) {
      case ("postings", t, dir) => EpochIndex.write(
        t.select("term", "doc_id", "tf", "dl"), dir, bucketing(buckets))
      case (_, t, dir) => t.agg(sum("n_docs").as("n_docs"),
          sum("total_tokens").as("total_tokens"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  /** Top-k BM25 over the indexed corpus: [[Bm25]]'s integer kernel
    * against probed postings. `excludeEpochs` is the streaming replay
    * seam. */
  def search(spark: SparkSession, path: String, queryTerms: Seq[String],
             k: Int, excludeEpochs: Seq[String] = Nil): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "need query terms and positive k")
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("term_buckets")
    // bounded planning collect: ≤ |Q| ints, computed through the SAME
    // Spark expression that bucketed the writes
    import spark.implicits._
    val probed = EpochIndex.inBuckets(ix.read("postings", excludeEpochs),
        queryTerms.toDF("term"), bucketing(buckets))
      .where(col("term").isin(queryTerms: _*))
      .select("term", "doc_id", "tf", "dl")
    val stats = ix.read("stats", excludeEpochs).agg(sum("n_docs").as("n_docs"),
      sum("total_tokens").as("total_tokens"))

    val dfreq = probed.groupBy("term").agg(count(lit(1)).as("df"))
    Bm25.rankTopK(Bm25.kernel(probed, "doc_id", dfreq, stats), "doc_id", k)
  }
}
