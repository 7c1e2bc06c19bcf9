package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for the [[NaiveBayes]] quality classifier.
  * Per-(token, class) counts are a MONOID — per-epoch partials sum to
  * exactly the counts a full retrain would produce — and totals and
  * vocabulary size DERIVE from the summed count table, so the persisted
  * model is ONE per-epoch count table, each append is O(batch), and
  * scoring any shard under the summed model is identical to scoring it
  * under a from-scratch model of the full corpus (the
  * `llm_nb_incremental` oracle proves this equivalence live).
  *
  * This is the production shape for a classifier filter that must track
  * a growing corpus: FineWeb/DCLM retrain their fastText offline; a
  * count-based model folds the day's shard in with one aggregate and no
  * reread of history.
  *
  * Layout at `path`:
  *  - `tok/__epoch=<e>/` (tok, c_pos, c_neg) — count partials;
  *  - `meta/` — the compaction swap's sentinel (same discipline as
  *    [[IncrementalNgramLm]]).
  *
  * The table is vocab-bounded, so reads are tiny regardless of corpus
  * size and the summed model broadcasts in [[NaiveBayes.score]] exactly
  * like a freshly-trained one. */
object IncrementalNaiveBayes {

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "tok")

  def writeIndex(docs: DataFrame, textCol: String, labelCol: String,
                 path: String): Unit = {
    val spark = docs.sparkSession
    val ix = index(spark, path)
    writeEpoch(docs, textCol, labelCol, ix, "base")
    import spark.implicits._
    ix.writeMeta(Seq(1).toDF("n"))
  }

  /** O(batch) append, IDEMPOTENT per epoch (a replay overwrites its own
    * partition dir). */
  def appendToIndex(newDocs: DataFrame, textCol: String, labelCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDocs.sparkSession, path)
    ix.openAppend(epoch)
    writeEpoch(newDocs, textCol, labelCol, ix, epoch)
  }

  private def writeEpoch(docs: DataFrame, textCol: String, labelCol: String,
                         ix: EpochIndex, epoch: String): Unit =
    NaiveBayes.train(docs, textCol, labelCol).tok
      .write.mode("overwrite").parquet(ix.dir("tok", epoch))

  private def summed(tok: DataFrame): DataFrame =
    tok.groupBy("tok").agg(sum("c_pos").as("c_pos"), sum("c_neg").as("c_neg"))

  /** Fold every epoch's count partials into a single `base` epoch
    * (staged + crash-safe ordered rename; results identical before and
    * after; quiet window only, checkpoint-committed epochs only). */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit =
    index(spark, path).compact(crashAtRename) { (_, t, dir) =>
      summed(t).write.mode("overwrite").parquet(dir)
    }

  /** The summed model over every epoch not excluded — exactly the model
    * a full retrain over the union corpus would produce. */
  def model(spark: SparkSession, path: String,
            excludeEpochs: Seq[String] = Nil): NaiveBayes.Model = {
    val ix = index(spark, path)
    ix.recover()
    NaiveBayes.Model(summed(ix.read("tok", excludeEpochs)))
  }

  /** Score a shard under the current summed model. */
  def score(spark: SparkSession, path: String, docs: DataFrame,
            idCol: String, textCol: String,
            excludeEpochs: Seq[String] = Nil): DataFrame =
    NaiveBayes.score(docs, idCol, textCol, model(spark, path, excludeEpochs))
}
