package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for the [[NgramLm]] quality model. N-gram
  * counts are a MONOID — per-epoch partials sum to exactly the counts a
  * full retrain would produce — so the persisted model is just three
  * per-epoch count tables, each append is O(batch), and scoring any
  * shard under the summed model is identical to scoring it under a
  * from-scratch model of the full corpus (the `llm_lm_incremental`
  * oracle proves this equivalence live).
  *
  * This is the production shape for a quality filter that must track a
  * growing corpus: CCNet retrains its LM offline; a count-based model
  * folds the day's shard in with one aggregate and no reread.
  *
  * Layout at `path`:
  *  - `tri/__epoch=<e>/` (gram, c3) — trigram count partials;
  *  - `big/__epoch=<e>/` (gram, c2) — context-bigram count partials;
  *  - `chars/__epoch=<e>/` (gram) — the epoch's distinct characters
  *    (charset size V = distinct across epochs; NOT summable, so the
  *    union is taken at read time — the table is charset-bounded).
  *
  * Every table is charset-bounded (|charset|³ worst case), so reads are
  * tiny regardless of corpus size, and the summed model broadcasts in
  * [[NgramLm.score]] exactly like a freshly-trained one. */
object IncrementalNgramLm {

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "tri", "big", "chars")

  def writeIndex(docs: DataFrame, textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, textCol, ix, "base")
    import spark.implicits._
    // `meta` doubles as the compaction swap's sentinel (aside first /
    // in last — see StagedSwap)
    ix.writeMeta(Seq(3).toDF("n"))
  }

  /** O(batch) append, IDEMPOTENT per epoch (a replay overwrites its own
    * partition dirs — the [[IncrementalDedup.appendToIndex]] argument). */
  def appendToIndex(newDocs: DataFrame, textCol: String, path: String,
                    epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    // roll a crashed compaction forward BEFORE writing: an epoch dir
    // created inside a half-swapped table would be set aside (and lost)
    // by a later recovery
    ix.openAppend(epoch)
    writeEpoch(newDocs, textCol, ix, epoch)
  }

  private def writeEpoch(docs: DataFrame, textCol: String, ix: EpochIndex,
                         epoch: String): Unit = {
    val m = NgramLm.train(docs, textCol)
    m.tri.write.mode("overwrite").parquet(ix.dir("tri", epoch))
    m.big.write.mode("overwrite").parquet(ix.dir("big", epoch))
    m.charset.write.mode("overwrite").parquet(ix.dir("chars", epoch))
  }

  /** Per table, the fold of its rows across epochs into model rows. */
  private val folds: Map[String, DataFrame => DataFrame] = Map(
    "tri" -> (_.groupBy("gram").agg(sum("c3").as("c3"))),
    "big" -> (_.groupBy("gram").agg(sum("c2").as("c2"))),
    "chars" -> (_.select("gram").distinct()))

  /** Fold every epoch's count partials into a single `base` epoch (the
    * [[IncrementalSpanDedup.compact]] maintenance pass — counts sum,
    * the charset unions; staged + crash-safe ordered rename; results
    * identical before and after, spec-asserted; quiet window only,
    * checkpoint-committed epochs only). */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit =
    index(spark, path).compact(crashAtRename) { (table, t, dir) =>
      folds(table)(t).write.mode("overwrite").parquet(dir)
    }

  /** The summed model over every epoch not excluded — exactly the model
    * a full retrain over the union corpus would produce. */
  def model(spark: SparkSession, path: String,
            excludeEpochs: Seq[String] = Nil): NgramLm.Model = {
    val ix = index(spark, path)
    ix.recover()
    def rd(t: String): DataFrame = folds(t)(ix.read(t, excludeEpochs))
    NgramLm.Model(tri = rd("tri"), big = rd("big"), charset = rd("chars"))
  }

  /** Score a shard under the current summed model. */
  def score(spark: SparkSession, path: String, docs: DataFrame,
            idCol: String, textCol: String,
            excludeEpochs: Seq[String] = Nil): DataFrame =
    NgramLm.score(docs, idCol, textCol, model(spark, path, excludeEpochs))
}
