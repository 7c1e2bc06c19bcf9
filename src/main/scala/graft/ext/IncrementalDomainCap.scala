package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental per-domain admission control against a PERSISTED
  * kept-count index — the rolling-crawl form of
  * [[UrlOps.capPerDomain]]: "which documents of the NEW shard may
  * still enter, given what each domain already contributed?" without
  * rescanning the corpus. A batch pipeline caps best-first
  * (rank-by-quality, [[UrlOps.capPerDomain]]); a rolling ingest cannot
  * evict documents it already shipped downstream, so the incremental
  * semantic is FIRST-COME: a document is admitted iff its domain's
  * admitted count so far, plus its arrival rank within the shard, is
  * within the cap. That is also what FineWeb-style pipelines do when
  * they process crawls in sequence.
  *
  * Contract (the `llm_domain_cap_incremental` oracle proves it): the
  * output equals the first-come cap over `indexed ∪ shard` in
  * (epoch, id) arrival order, restricted to shard documents.
  *
  * The index stores one (domain, n_kept) row per domain per epoch —
  * DECISIONS, not raw counts, because the cap itself is the state; the
  * single-ingest contract of every epoch-keyed index here applies (a
  * document id belongs to exactly one epoch). `n_kept` is a monoid
  * under the budget arithmetic: each epoch's rows record only the
  * documents that epoch admitted, so epoch sums never exceed the cap.
  *
  * Scale shape (the "|new|, not |corpus|" guarantee): identical to
  * [[IncrementalLineDedup]] — bucket-partition-pruned index scan
  * (bounded planning collect of ≤ `buckets` ints), broadcast semi-join
  * on the shard's distinct domains, and the only window runs over the
  * shard itself (micro-batch-bounded; the persisted side needs no
  * window at all — first-come counts are `least(count, cap)`).
  */
object IncrementalDomainCap {

  private val BucketCol = "__db"

  private def bucketing(buckets: Int) =
    if (buckets <= 0) None
    else Some(BucketCol ->
      pmod(xxhash64(col("domain")), lit(buckets.toLong)).cast("int"))

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "counts")

  /** Build the index at `path` from the existing corpus:
    * `counts/__epoch=base/` (domain, n_kept) with first-come admission
    * in ascending `idCol` order — which per domain is just
    * `least(count, cap)`; `meta/` (cap, buckets). */
  def writeIndex(docs: DataFrame, idCol: String, domainCol: String,
                 path: String, cap: Int, buckets: Int = 0): Unit = {
    require(cap > 0, s"cap must be positive, got $cap")
    val spark = docs.sparkSession
    val ix = index(spark, path)
    val counts = docs.select(col(domainCol).as("domain"))
      .groupBy("domain")
      .agg(least(count(lit(1)), lit(cap.toLong)).as("n_kept"))
    EpochIndex.write(counts, ix.dir("counts", "base"), bucketing(buckets))
    import spark.implicits._
    ix.writeMeta(Seq((cap, buckets)).toDF("cap", "buckets"))
  }

  /** Per-domain admitted counts BEFORE this shard: every epoch except
    * `excludeEpochs`, partition-pruned to the shard's domain buckets,
    * semi-joined to the shard's (broadcast) distinct domains. */
  private def priorCounts(ix: EpochIndex, domains: DataFrame, buckets: Int,
                          excludeEpochs: Seq[String]): DataFrame =
    EpochIndex.inBuckets(ix.read("counts", excludeEpochs), domains,
        bucketing(buckets))
      .join(broadcast(domains), Seq("domain"), "left_semi")
      .groupBy("domain").agg(sum("n_kept").as("n_old"))

  /** Admission decisions for the NEW shard: one row per shard document,
    * (id, domain, admitted 0/1), admitted iff
    * `prior_kept + rank_within_shard <= cap` under the deterministic
    * ascending-`idCol` arrival order. `excludeEpochs` is the streaming
    * replay seam (see [[graft.stream.StreamDomainCap]]). */
  def admit(spark: SparkSession, path: String, newDocs: DataFrame,
            idCol: String, domainCol: String,
            excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val meta = ix.meta()
    val cap = meta.getAs[Int]("cap")
    val buckets = meta.getAs[Int]("buckets")
    val shard = newDocs.select(col(idCol).as("id"), col(domainCol).as("domain"))
    val nOld = priorCounts(ix, shard.select("domain").distinct(),
      buckets, excludeEpochs)
    val w = Window.partitionBy(col("domain")).orderBy(col("id"))
    shard
      .join(broadcast(nOld), Seq("domain"), "left")
      .withColumn("__rk", row_number().over(w))
      .select(col("id").as(idCol), col("domain"),
        (coalesce(col("n_old"), lit(0L)) + col("__rk") <= cap)
          .cast("int").as("admitted"))
  }

  /** Fold the shard's admissions in under the named epoch — one
    * (domain, n_kept) row per domain that admitted anything, O(shard
    * domains) writes, IDEMPOTENT per epoch: the epoch's own partials
    * are excluded from the prior-count read, so a replay recomputes and
    * overwrites identical rows. */
  def appendToIndex(newDocs: DataFrame, idCol: String, domainCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    val meta = ix.metaForAppend(epoch)
    val cap = meta.getAs[Int]("cap")
    val buckets = meta.getAs[Int]("buckets")
    val shardCounts = newDocs.select(col(domainCol).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n_batch"))
    val nOld = priorCounts(ix, shardCounts.select("domain"),
      buckets, excludeEpochs = Seq(epoch))
    val admittedCounts = shardCounts
      .join(broadcast(nOld), Seq("domain"), "left")
      .select(col("domain"),
        greatest(lit(0L), least(lit(cap.toLong) - coalesce(col("n_old"), lit(0L)),
          col("n_batch"))).as("n_kept"))
      .where(col("n_kept") > 0)
    EpochIndex.write(admittedCounts, ix.dir("counts", epoch), bucketing(buckets))
  }

  /** Fold every epoch into a single `base` (`n_kept` sums are exact
    * under the single-ingest contract and never exceed the cap by the
    * budget arithmetic) — same crash-safe [[EpochIndex]] discipline and
    * quiescent-stream rule as [[IncrementalLineDedup.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("buckets")
    ix.compact(crashAtRename) { (_, t, dir) =>
      EpochIndex.write(t.groupBy("domain").agg(sum("n_kept").as("n_kept")),
        dir, bucketing(buckets))
    }
  }
}
