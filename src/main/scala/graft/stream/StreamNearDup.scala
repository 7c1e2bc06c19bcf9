package graft.stream

import graft.ext.IncrementalDedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus maintenance: each arriving micro-batch of documents
  * is checked for near-duplicates against the persisted shingle index
  * ([[IncrementalDedup]]) IN-FLIGHT, the pair report lands in an
  * append-only parquet table, and the shard is then folded into the
  * index (`appendToIndex`, an O(batch) file append) — so the NEXT shard
  * checks against a corpus that includes this one. This is the
  * streaming form of the daily ingest-dedup loop; batch semantics are
  * oracle-gated via `llm_dedup_incremental`, and the flag→append
  * sequencing here means reports are exact w.r.t. everything ingested
  * before the batch, including earlier batches of the same stream.
  *
  * Delivery: exactly-once by epoch, the flag pass leaving out the
  * batch's own epoch ([[EpochFold]]): no self-pairs, no double-counted
  * df partials, byte-identical replayed report rows (asserted in the
  * spec). The batch is pinned: the flag pass scans it several times
  * (shingle, df, size subplans) and the append scans it again.
  */
object StreamNearDup {

  /** Start the flag-then-append stream. `docs` is a streaming DataFrame
    * with `idCol` and `textCol`; ids must be globally unique across the
    * stream and the pre-built index. */
  def start(docs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text", threshold: Double = 0.5,
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(docs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalDedup.nearDupPairs(b.sparkSession, indexPath,
        b, idCol, textCol, threshold, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalDedup.appendToIndex(b, idCol, textCol, indexPath, epoch.name)
    }
}
