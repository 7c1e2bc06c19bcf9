package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental distinct-count maintenance on PERSISTED HLL sketches
  * (Spark's built-in Apache DataSketches functions): per-group
  * cardinality over `indexed ∪ batch` WITHOUT rescanning the corpus —
  * each ingest epoch stores one fixed-size sketch per group
  * (~2^lgK bytes), and the serving query unions stored sketches with
  * the arriving batch's sketch. HLL union is register-wise max, so
  * merging per-epoch sketches is mathematically identical to one
  * sketch built over all the data in a single pass — the
  * `events_distinct_incremental_check` row asserts that equality
  * live, per group, alongside the error envelope against the exact
  * count.
  *
  * This is the daily-dashboard shape at 100 TB: "distinct users per
  * event type, all time" costs O(batch) per day plus a union over
  * (epochs × groups) kilobyte-sized sketches, instead of an
  * O(corpus) distinct every morning. Unlike the exact incremental
  * indexes in this package, the state is CONSTANT-SIZE per group
  * regardless of cardinality — the classic sketch trade.
  *
  * Index layout ([[IncrementalLineDedup]]'s epoch discipline):
  * `sketches/__epoch=<e>/` rows (group, sketch), `meta/` pins lgK so
  * every epoch sketches at the same precision (unions of mixed-lgK
  * sketches degrade to the coarser one); [[EpochIndex]] crash safety
  * on compaction.
  */
object IncrementalDistinct {

  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "sketches")

  /** Build the sketch store from the existing corpus. */
  def writeIndex(df: DataFrame, groupCol: String, valueCol: String,
                 path: String, lgK: Int = 12): Unit = {
    require(lgK >= 4 && lgK <= 21, s"lgK out of DataSketches range: $lgK")
    val spark = df.sparkSession
    val ix = index(spark, path)
    writeEpoch(df, groupCol, valueCol, ix, "base", lgK)
    import spark.implicits._
    ix.writeMeta(Seq(lgK).toDF("lg_k"))
  }

  /** Fold a batch's sketches in under the named epoch — O(batch) scan,
    * constant-size state, idempotent per epoch. */
  def appendToIndex(newDf: DataFrame, groupCol: String, valueCol: String,
                    path: String, epoch: String): Unit = {
    val ix = index(newDf.sparkSession, path)
    val lgK = ix.metaForAppend(epoch).getAs[Int]("lg_k")
    writeEpoch(newDf, groupCol, valueCol, ix, epoch, lgK)
  }

  private def writeEpoch(df: DataFrame, groupCol: String, valueCol: String,
                         ix: EpochIndex, epoch: String, lgK: Int): Unit =
    df.groupBy(col(groupCol).as("group"))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .write.mode("overwrite").parquet(ix.dir("sketches", epoch))

  /** Fold every epoch into a single `base` (union is associative and
    * idempotent — the sketch monoid). */
  def compact(spark: SparkSession, path: String): Unit =
    compactImpl(spark, path, Int.MaxValue)

  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 crashAtRename: Int): Unit =
    index(spark, path).compact(crashAtRename) { (_, t, dir) =>
      t.groupBy("group").agg(hll_union_agg(col("sketch")).as("sketch"))
        .write.mode("overwrite").parquet(dir)
    }

  /** Per-group distinct estimate over `indexed ∪ batch`: the batch is
    * sketched in one pass (its only scan), then unioned with the
    * stored epoch sketches — work is O(|batch|) + kilobytes per
    * (epoch, group). `excludeEpochs` is the streaming replay seam
    * (a replayed batch must read the pre-batch store even if its own
    * append already landed). Output: (group, distinct_est). */
  def estimate(spark: SparkSession, path: String, batch: DataFrame,
               groupCol: String, valueCol: String,
               excludeEpochs: Seq[String] = Nil): DataFrame = {
    val ix = index(spark, path)
    val lgK = ix.meta().getAs[Int]("lg_k")
    val stored = ix.read("sketches", excludeEpochs)
      .select(col("group"), col("sketch"))
    val fresh = batch.groupBy(col(groupCol).as("group"))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
    stored.unionByName(fresh)
      .groupBy("group")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_est"))
      .withColumnRenamed("group", groupCol)
  }
}
