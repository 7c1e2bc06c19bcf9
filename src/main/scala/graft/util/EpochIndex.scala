package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted epoch-keyed index every `Incremental*` operator,
  * [[graft.ext.Ivf]], [[graft.ext.Pq]] and [[graft.sink.ZOrderLayout]]
  * is built on. Layout at `path`:
  * {{{
  *   <table>/__epoch=base/   the initial build (and every compaction)
  *   <table>/__epoch=<e>/    one append, named by its caller
  *   meta/                   parameters every epoch was written with
  * }}}
  *
  * An epoch owns its directories: an append under an existing name
  * OVERWRITES them, so a replayed append is idempotent, and partition
  * discovery exposes `__epoch` so a reader can leave epochs out
  * ([[read]]) before any IO. [[graft.stream.EpochFold]] turns those two
  * facts into exactly-once streaming.
  *
  * Compaction folds every epoch into a new `base` staged under
  * `__compact/` and swaps it in through [[StagedSwap]] with `meta` as
  * the sentinel; [[meta]] (the entry of every reader and append) rolls
  * a crashed swap forward first. Single-writer per index, and only
  * checkpoint-committed epochs may be folded: a fold erases the epoch
  * identity a replay's exclusion prunes by. */
final class EpochIndex(spark: SparkSession, path: String, tables: String*) {

  private val staged =
    new StagedSwap(spark, path, sentinel = "meta", others = tables)

  /** Roll a crashed compaction forward; a no-op in every healthy state. */
  def recover(): Unit = staged.recover()

  /** The one `meta` row, read after [[recover]]. */
  def meta(): Row = { recover(); spark.read.parquet(s"$path/meta").head() }

  /** The entry of an append under `epoch` that needs no `meta`. */
  def openAppend(epoch: String): Unit = {
    EpochIndex.checkEpoch(epoch)
    recover()
  }

  /** [[meta]] for an append under `epoch`, after [[EpochIndex.checkEpoch]]. */
  def metaForAppend(epoch: String): Row = {
    EpochIndex.checkEpoch(epoch)
    meta()
  }

  /** Where `epoch` of `table` lives. */
  def dir(table: String, epoch: String): String =
    s"$path/$table/__epoch=$epoch"

  /** `table` across its epochs, leaving out `excludeEpochs`. */
  def read(table: String, excludeEpochs: Seq[String] = Nil): DataFrame =
    EpochIndex.without(spark.read.parquet(s"$path/$table"), excludeEpochs)

  def writeMeta(meta: DataFrame): Unit =
    meta.coalesce(1).write.mode("overwrite").parquet(s"$path/meta")

  /** Fold every epoch into `base`: `fold(table, rows of every epoch,
    * staged base dir)` writes each table's replacement, `meta` is copied
    * as is, then the staged set is swapped in. `crashAtRename` (tests
    * only) throws before the (k+1)-th swap rename. */
  def compact(crashAtRename: Int)(fold: (String, DataFrame, String) => Unit): Unit = {
    recover()
    for (t <- tables)
      fold(t, spark.read.parquet(s"$path/$t"), s"${staged.stagedDir(t)}/__epoch=base")
    spark.read.parquet(s"$path/meta").coalesce(1).write.mode("overwrite")
      .parquet(staged.stagedDir("meta"))
    swapStaged(crashAtRename)
  }

  /** Swap a replacement the caller staged complete under `__compact/`. */
  def swapStaged(crashAtRename: Int): Unit = staged.swap(crashAtRename)
}

object EpochIndex {

  /** Appends may not take `base` (the build's epoch) or a name that is
    * not a single path segment. */
  def checkEpoch(epoch: String): Unit =
    require(epoch.nonEmpty && epoch != "base" && !epoch.contains('/'),
      s"epoch must be a non-'base', path-safe name, got '$epoch'")

  /** `df` (read with an `__epoch` partition column) without `epochs`. */
  def without(df: DataFrame, epochs: Seq[String]): DataFrame =
    if (epochs.isEmpty) df else df.where(!col("__epoch").isin(epochs: _*))

  /** An int meta column, 0 when the index predates it (0 = flat layout). */
  def intOr0(meta: Row, field: String): Int =
    if (meta.schema.fieldNames.contains(field)) meta.getAs[Int](field) else 0

  /** Overwrite `dir` with `df`, partitioned by `bucket` (name, expression)
    * when given; `cluster` first repartitions on the bucket, so a write
    * leaves one file per bucket dir instead of one per task and bucket. */
  def write(df: DataFrame, dir: String, bucket: Option[(String, Column)],
            cluster: Boolean = false): Unit = bucket match {
    case None => df.write.mode("overwrite").parquet(dir)
    case Some((name, b)) =>
      val withB = df.withColumn(name, b)
      (if (cluster) withB.repartition(col(name)) else withB)
        .write.mode("overwrite").partitionBy(name).parquet(dir)
  }

  /** `idx` partition-pruned to the `bucket` dirs `probe` occupies (as is
    * when the layout is flat): a bounded planning collect of at most as
    * many ints as there are buckets. */
  def inBuckets(idx: DataFrame, probe: DataFrame,
                bucket: Option[(String, Column)]): DataFrame =
    bucket.fold(idx) { case (name, b) =>
      val bs = probe.select(b.as(name))
        .distinct().collect().map(_.getInt(0)).toSeq
      idx.where(col(name).isin(bs: _*))
    }
}
