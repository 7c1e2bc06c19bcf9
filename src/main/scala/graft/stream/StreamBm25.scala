package graft.stream

import graft.ext.IncrementalBm25

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming BM25 search-index maintenance: each arriving micro-batch
  * of documents is folded into the persisted postings index
  * ([[IncrementalBm25]]) as an O(batch) epoch-keyed append, then the
  * standing query's top-k is re-served FROM the index — corpus-so-far
  * including the batch — into an epoch-keyed snapshot table. The
  * streaming form of a search index following a rolling crawl; batch
  * semantics are oracle-gated via `llm_bm25_incremental`.
  *
  * Delivery: exactly-once by epoch ([[EpochFold]]). The snapshot
  * INCLUDES the batch's own epoch: the fold runs first, so a replay
  * re-folds to the identical index and re-serves a byte-identical
  * snapshot (asserted in the spec). */
object StreamBm25 {

  def start(docs: DataFrame, indexPath: String, queryTerms: Seq[String],
            k: Int, outDir: String, checkpointDir: String,
            idCol: String = "doc_id", textCol: String = "text",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.start(docs, checkpointDir, triggerInterval) { (batch, epoch) =>
      IncrementalBm25.appendToIndex(batch, idCol, textCol, indexPath,
        epoch.name)
      EpochFold.writeEpoch(IncrementalBm25.search(batch.sparkSession, indexPath,
        queryTerms, k), outDir, epoch)
    }
}
