package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental span-level dedup against a PERSISTED window-count index
  * — the daily-ingest form of [[SpanDedup]]: "which passages of the NEW
  * shard already exist somewhere in the corpus (or repeat inside the
  * shard)?" without re-windowing the existing corpus. The maintenance
  * half folds the shard's window counts back in as an O(batch) append.
  *
  * Contract (the `llm_span_dedup_incremental` oracle proves it): the
  * output equals [[SpanDedup.spans]] over `indexed ∪ new` RESTRICTED to
  * new-shard documents. The index stores only raw facts — per-epoch
  * (fp1, fp2, n) window-occurrence partials, summed at query time — so
  * a window that becomes duplicated ONLY because the shard adds its
  * second occurrence is flagged, as is a shard-internal repeat the
  * corpus never saw.
  *
  * Scale shape (the "|new|, not |corpus|" guarantee):
  *  - the counts table is only ever read MAP-SIDE-FILTERED through a
  *    broadcast of the BATCH's distinct fingerprints, and under the
  *    bucketed layout the scan is first PARTITION-PRUNED to the batch
  *    fingerprints' bucket dirs (bounded planning collect of
  *    ≤ `buckets` ints — the [[IncrementalDedup]] probe pattern);
  *  - the counts are 3 fixed-width longs per DISTINCT window — no
  *    postings, no text — so index bytes track distinct-window
  *    cardinality, and each append adds only the batch's partials;
  *  - everything downstream of the index join is bounded by the batch:
  *    its windows, its duplicated positions, its spans.
  */
object IncrementalSpanDedup {

  private val BucketCol = "__wb"

  private def bucketing(buckets: Int) =
    if (buckets <= 0) None
    else Some(BucketCol -> pmod(col("fp1"), lit(buckets.toLong)).cast("int"))

  /** Clustered on the bucket before the write (guide §6 — one file per
    * (epoch, bucket) instead of tasks × buckets). */
  private def writeCounts(counts: DataFrame, dir: String, buckets: Int): Unit =
    EpochIndex.write(counts, dir, bucketing(buckets), cluster = true)

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "counts")

  /** Build the index at `path`:
    *  - `counts/__epoch=<e>/` (fp1, fp2, n): per-epoch occurrence
    *    partials of each distinct window fingerprint;
    *  - `meta/` (w, min_count, window_buckets). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, w: Int, minCount: Long = 2L,
                 windowBuckets: Int = 0): Unit = {
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, idCol, textCol, ix, w, "base", windowBuckets)
    import spark.implicits._
    ix.writeMeta(Seq((w, minCount, windowBuckets))
      .toDF("w", "min_count", "window_buckets"))
  }

  /** Fold a shard's window counts in under the named epoch — O(batch)
    * writes, IDEMPOTENT per epoch (a replayed batch overwrites its own
    * partition dirs; see [[graft.stream.EpochFold]] for the
    * at-least-once → exactly-once argument). */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    val meta = ix.metaForAppend(epoch)
    writeEpoch(newDocs, idCol, textCol, ix, meta.getAs[Int]("w"), epoch,
      meta.getAs[Int]("window_buckets"))
  }

  private def writeEpoch(docs: DataFrame, idCol: String, textCol: String,
                         ix: EpochIndex, w: Int, epoch: String,
                         buckets: Int): Unit =
    writeCounts(SpanDedup.windows(docs, idCol, textCol, w)
      .groupBy("fp1", "fp2").agg(count(lit(1)).as("n")),
      ix.dir("counts", epoch), buckets)

  /** Fold every epoch's count partials into a single `base` epoch — the
    * maintenance pass a 100 TB operator schedules so N daily appends
    * don't leave N epoch directories (small files + ever-growing
    * partition discovery). Counts are a monoid, so the fold is one
    * re-aggregate; the replacement is staged under `__compact/` and
    * swapped in with the crash-safe ordered rename ([[EpochIndex]] —
    * `meta` aside first / in last, roll-forward recovery at every
    * entry point). Results are identical before and after
    * (spec-asserted). Run it at a quiet window, single-writer, with any
    * maintenance STREAM quiescent: folding an epoch into `base` erases
    * the epoch identity the stream's own-epoch replay exclusion prunes
    * by, so only checkpoint-committed batches may be folded — the same
    * rule Hudi/Delta apply to compacting not-yet-committed deltas. */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("window_buckets")
    ix.compact(crashAtRename) { (_, t, dir) =>
      writeCounts(t.groupBy("fp1", "fp2").agg(sum("n").as("n")), dir, buckets)
    }
  }

  /** Maximal duplicated spans of the NEW shard against `indexed ∪ new`
    * — identical to the restricted full recompute. `excludeEpochs` is
    * the streaming replay seam (ignore the batch's own epoch so a
    * crash between append and checkpoint-commit replays byte-identically
    * — see [[graft.stream.EpochFold]]). */
  def spans(spark: SparkSession, path: String, newDocs: DataFrame,
            idCol: String, textCol: String,
            excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val meta = ix.meta()
    val w = meta.getAs[Int]("w")
    val minCount = meta.getAs[Long]("min_count")
    val buckets = meta.getAs[Int]("window_buckets")

    val win = SpanDedup.windows(newDocs, idCol, textCol, w)
    val batchCnt = win.groupBy("fp1", "fp2").agg(count(lit(1)).as("n_new"))

    // bucket prune first (bounded planning collect), broadcast filter
    // second — the index never contributes more rows than the batch
    // has distinct fingerprints
    val idxForBatch = EpochIndex.inBuckets(ix.read("counts", excludeEpochs),
        batchCnt, bucketing(buckets))
      .join(broadcast(batchCnt.select("fp1", "fp2")), Seq("fp1", "fp2"),
        "left_semi")
      .groupBy("fp1", "fp2").agg(sum("n").as("n_old"))

    val dupFps = batchCnt
      .join(idxForBatch, Seq("fp1", "fp2"), "left")
      .where(col("n_new") + coalesce(col("n_old"), lit(0L)) >= minCount)
      .select("fp1", "fp2")

    val hits = win.join(broadcast(dupFps), Seq("fp1", "fp2"))
      .select(col(idCol), col("pos"))
    SpanDedup.mergeSpans(hits, idCol, w)
  }
}
