package graft.stream

import graft.ext.IncrementalDistinct

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming distinct-count maintenance on the persisted HLL store:
  * each micro-batch is sketched once (its only scan), the all-time
  * per-group estimate (store ∪ batch) lands epoch-keyed in `outDir`,
  * and the batch's sketches fold in as a constant-size epoch append —
  * the live "distinct users ever, by event type" dashboard at O(batch)
  * per trigger.
  *
  * Delivery: exactly-once by epoch, the estimate leaving out the
  * batch's own epoch ([[EpochFold]]). Batch semantics are gated via
  * `events_distinct_incremental_check` (merge-lossless + error
  * envelope). */
object StreamDistinct {

  def start(rows: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, groupCol: String, valueCol: String,
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(rows, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalDistinct.estimate(b.sparkSession, indexPath,
        b, groupCol, valueCol, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalDistinct.appendToIndex(b, groupCol, valueCol, indexPath,
        epoch.name)
    }
}
