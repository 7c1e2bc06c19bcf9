package graft.stream

import graft.ext.IncrementalSnapshotDiff

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming snapshot-diff maintenance: each arriving micro-batch of
  * refreshed documents is classified added/changed/unchanged against
  * the persisted content-state index ([[IncrementalSnapshotDiff]]) as
  * of the previous batch, the report lands epoch-keyed, and the batch's
  * digests fold in as an O(batch) append so the next batch diffs
  * against this one — the live "what changed in the crawl" feed.
  *
  * Delivery: exactly-once by epoch, the probe leaving out the batch's
  * own epoch ([[EpochFold]]; asserted in the spec). The batch is
  * pinned for the probe and the append. Batch seq is `batchId + 1`,
  * keeping 0 for the base snapshot and preserving ingest order across
  * restarts. */
object StreamSnapshotDiff {

  def start(docs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(docs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalSnapshotDiff.diffBatch(b.sparkSession,
        indexPath, b, idCol, textCol, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalSnapshotDiff.appendToIndex(b, idCol, textCol, indexPath,
        epoch.name, seq = epoch.batchId + 1)
    }
}
