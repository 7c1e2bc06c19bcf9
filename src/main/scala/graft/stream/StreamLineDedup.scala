package graft.stream

import graft.ext.IncrementalLineDedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming line-level boilerplate maintenance: each arriving
  * micro-batch of documents is rewritten against the persisted
  * line-frequency index ([[IncrementalLineDedup]]) — corpus frequencies
  * plus the batch's own — the cleaned rows land epoch-keyed in a
  * parquet table, and the batch's line frequencies are folded into the
  * index as an O(batch) append, so the next batch sees this one. The
  * streaming form of the CCNet boilerplate ingest loop; batch semantics
  * are oracle-gated via `llm_line_dedup_incremental`.
  *
  * Delivery: exactly-once by epoch, the flag pass leaving out the
  * batch's own epoch ([[EpochFold]]; asserted in the spec). The batch
  * is pinned: the flag pass splits it twice (df + flags) and the append
  * splits it again. */
object StreamLineDedup {

  def start(docs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text", sep: String = " ",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(docs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalLineDedup.dropBoilerplate(b.sparkSession,
        indexPath, b, idCol, textCol, sep, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalLineDedup.appendToIndex(b, idCol, textCol, indexPath,
        epoch.name)
    }
}
