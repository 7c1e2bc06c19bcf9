package graft.stream

import graft.ext.IncrementalSpanDedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming span-level dedup maintenance: each arriving micro-batch of
  * documents is checked for duplicated SPANS against the persisted
  * window-count index ([[IncrementalSpanDedup]]) in-flight — corpus
  * occurrences plus the batch's own — the span report lands epoch-keyed
  * in a parquet table, and the batch's window counts are folded into
  * the index as an O(batch) append, so the next batch sees this one.
  * The streaming form of the passage-dedup ingest loop; batch semantics
  * are oracle-gated via `llm_span_dedup_incremental`.
  *
  * Delivery: exactly-once by epoch, the flag pass leaving out the
  * batch's own epoch ([[EpochFold]]; asserted in the spec). The batch
  * is pinned: the flag pass windows it twice (counts + hits) and the
  * append windows it again. */
object StreamSpanDedup {

  def start(docs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(docs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalSpanDedup.spans(b.sparkSession, indexPath, b,
        idCol, textCol, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalSpanDedup.appendToIndex(b, idCol, textCol, indexPath,
        epoch.name)
    }
}
