package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.util.control.NonFatal

/** The streaming fold every index-maintaining `Stream*` wrapper runs:
  * each micro-batch gets an epoch named after its batch id
  * (`b<batchId>`), writes its report under `<outDir>/__epoch=b<batchId>`
  * and folds itself into a [[graft.util.EpochIndex]] under the same
  * name. [[CdcPipeline]] runs on [[start]] and [[pinned]] too, but keeps
  * no epochs: its replay is safe because its keyed sinks are idempotent
  * (a re-applied batch wins every version tie with the same rows).
  *
  * Exactly-once by epoch. The source is replayable and the checkpoint
  * commits a batch only after its step returns, so delivery is
  * at-least-once: a crash between the step's writes and the commit
  * re-runs the batch, with the same id and the same rows, on restart
  * (Structured Streaming's contract, SIGMOD'18). Every write of a step
  * is keyed by the epoch and overwrites it, so the re-run replaces the
  * crashed attempt's directories instead of adding to them. What makes
  * the re-run write the SAME rows is the read side: a probe that runs
  * before its batch's append leaves the batch's own epoch out of the
  * index read (`excludeEpochs = Seq(epoch.name)`), so a replay whose
  * append already landed still sees exactly the pre-batch index: no
  * self-pairs, no double-counted partials. A step that appends first
  * and reads after ([[StreamBm25]]) re-folds to the identical index and
  * so reads identical rows too. Compaction may fold only committed
  * epochs, never the running batch's ([[StreamZOrder]]). */
object EpochFold {

  /** The epoch of one micro-batch. */
  final case class Epoch(batchId: Long) {
    val name: String = s"b$batchId"
  }

  /** Start `rows` with `step` run on every micro-batch and its epoch. */
  def start(rows: DataFrame, checkpointDir: String, triggerInterval: String)
           (step: (DataFrame, Epoch) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, Epoch(batchId))
      }
      .start()

  /** Overwrite `epoch`'s partition of the table at `dir` with `out`. */
  def writeEpoch(out: DataFrame, dir: String, epoch: Epoch): Unit =
    out.write.mode("overwrite").parquet(s"$dir/__epoch=${epoch.name}")

  /** Run `body` with `df` persisted, for a step that scans it more than
    * once; the cache is dropped when `body` ends, normally or not. A
    * failed drop is ignored: it must not fail a step whose writes have
    * committed. */
  def pinned(df: DataFrame)(body: DataFrame => Unit): Unit = {
    df.persist()
    try body(df)
    finally
      try df.unpersist()
      catch { case NonFatal(_) => () }
  }

  /** The flag-then-append step on a pinned batch: report
    * `flag(batch, epoch)`, which must leave the epoch out of its index
    * reads, then `append(batch, epoch)`. */
  def flagThenAppend(rows: DataFrame, outDir: String, checkpointDir: String,
                     triggerInterval: String)
                    (flag: (DataFrame, Epoch) => DataFrame)
                    (append: (DataFrame, Epoch) => Unit): StreamingQuery =
    start(rows, checkpointDir, triggerInterval) { (batch, epoch) =>
      pinned(batch) { b =>
        writeEpoch(flag(b, epoch), outDir, epoch)
        append(b, epoch)
      }
    }
}
