package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental line-level boilerplate dedup against a PERSISTED
  * line-frequency index — the daily-ingest form of [[LineDedup]]:
  * "which lines of the NEW shard are boilerplate given the corpus seen
  * so far (plus the shard itself)?" without re-splitting the existing
  * corpus. The maintenance half folds the shard's line frequencies back
  * in as an O(batch) append.
  *
  * Contract (the `llm_line_dedup_incremental` oracle proves it): the
  * output equals [[LineDedup.dropBoilerplate]] over `indexed ∪ new`
  * RESTRICTED to new-shard documents. The index stores raw facts only —
  * per-epoch (fp1, fp2, df, n_occ) partials. `df` partials sum to the
  * global distinct-document count under the single-ingest contract
  * every epoch-keyed index here assumes: a document id belongs to
  * exactly ONE epoch (re-ingesting the same doc under two epochs would
  * double its df contribution — the same rule [[IncrementalDedup]]'s
  * postings make explicit by keying on doc_id).
  *
  * Scale shape (the "|new|, not |corpus|" guarantee): identical to
  * [[IncrementalSpanDedup]] — bucket-partition-pruned index scan
  * (bounded planning collect of ≤ `buckets` ints), broadcast semi-join
  * on the batch's distinct fingerprints, everything downstream bounded
  * by the batch's own lines.
  */
object IncrementalLineDedup {

  private val BucketCol = "__lb"

  private def segment(docs: DataFrame, idCol: String, textCol: String,
                      lineW: Int): DataFrame =
    if (lineW <= 0) LineDedup.lines(docs, idCol, textCol)
    else LineDedup.chunkLines(docs, idCol, textCol, lineW)

  private def bucketing(buckets: Int) =
    if (buckets <= 0) None
    else Some(BucketCol -> pmod(col("fp1"), lit(buckets.toLong)).cast("int"))

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "counts")

  /** Build the index at `path`:
    *  - `counts/__epoch=<e>/` (fp1, fp2, df, n_occ);
    *  - `meta/` (line_w, min_docs, line_buckets); `line_w` 0 = newline
    *    segmentation, > 0 = w-word chunking (the fixture adapter). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, lineW: Int, minDocs: Int = 2,
                 lineBuckets: Int = 0): Unit = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, idCol, textCol, ix, lineW, "base", lineBuckets)
    import spark.implicits._
    ix.writeMeta(Seq((lineW, minDocs, lineBuckets))
      .toDF("line_w", "min_docs", "line_buckets"))
  }

  /** Fold a shard's line frequencies in under the named epoch —
    * O(batch) writes, IDEMPOTENT per epoch (a replayed batch overwrites
    * its own partition dirs). */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    val meta = ix.metaForAppend(epoch)
    writeEpoch(newDocs, idCol, textCol, ix, meta.getAs[Int]("line_w"),
      epoch, meta.getAs[Int]("line_buckets"))
  }

  private def writeEpoch(docs: DataFrame, idCol: String, textCol: String,
                         ix: EpochIndex, lineW: Int, epoch: String,
                         buckets: Int): Unit =
    EpochIndex.write(
      LineDedup.lineDf(segment(docs, idCol, textCol, lineW), idCol),
      ix.dir("counts", epoch), bucketing(buckets))

  /** Fold every epoch into a single `base` (df/n_occ are monoids under
    * the single-ingest contract) — same crash-safe [[EpochIndex]]
    * discipline and quiescent-stream rule as
    * [[IncrementalSpanDedup.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit = {
    val ix = index(spark, path)
    val buckets = ix.meta().getAs[Int]("line_buckets")
    ix.compact(crashAtRename) { (_, t, dir) =>
      EpochIndex.write(t.groupBy("fp1", "fp2")
          .agg(sum("df").as("df"), sum("n_occ").as("n_occ")),
        dir, bucketing(buckets))
    }
  }

  /** The NEW shard rewritten with boilerplate lines removed, judged
    * against `indexed ∪ new` — identical to the restricted full
    * recompute. `excludeEpochs` is the streaming replay seam (see
    * [[graft.stream.StreamLineDedup]]). Output:
    * (id, text, n_kept, n_dropped), one row per shard document. */
  def dropBoilerplate(spark: SparkSession, path: String, newDocs: DataFrame,
                      idCol: String, textCol: String, sep: String = " ",
                      excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val meta = ix.meta()
    val lineW = meta.getAs[Int]("line_w")
    val minDocs = meta.getAs[Int]("min_docs")
    val buckets = meta.getAs[Int]("line_buckets")

    val batchLines = LineDedup.fingerprinted(
      segment(newDocs, idCol, textCol, lineW))
    val batchDf = batchLines.groupBy("fp1", "fp2")
      .agg(count_distinct(col(idCol)).as("df_new"))

    val idxForBatch = EpochIndex.inBuckets(ix.read("counts", excludeEpochs),
        batchDf, bucketing(buckets))
      .join(broadcast(batchDf.select("fp1", "fp2")), Seq("fp1", "fp2"),
        "left_semi")
      .groupBy("fp1", "fp2").agg(sum("df").as("df_old"))

    val hot = batchDf
      .join(idxForBatch, Seq("fp1", "fp2"), "left")
      .where(col("df_new") + coalesce(col("df_old"), lit(0L)) >= minDocs)
      .select("fp1", "fp2")

    val flagged = batchLines
      .join(broadcast(hot.withColumn("__drop", lit(true))),
        Seq("fp1", "fp2"), "left")
    LineDedup.reassemble(newDocs, idCol, flagged, sep)
  }
}
