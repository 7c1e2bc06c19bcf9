package graft.stream

import graft.ext.IncrementalSemDedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SemDeDup maintenance: each arriving micro-batch of
  * embeddings is judged against the persisted clustered index
  * ([[IncrementalSemDedup]] — witnesses are indexed vectors plus
  * earlier-in-batch ones), the verdict report lands epoch-keyed in a
  * parquet table, and the batch folds into the index as an O(batch)
  * cell-bucketed append, so the next batch sees this one. Batch
  * semantics are gated via `llm_semdedup_incremental_check`.
  *
  * Delivery: exactly-once by epoch, the flag pass leaving out the
  * batch's own epoch ([[EpochFold]]; asserted in the spec). The batch
  * is pinned (assigned twice: verdicts + append). The index keeps EVERY
  * vector (pruned ones included): the one-shot witness rule counts any
  * smaller-id vector, so dropping pruned rows would silently change
  * later verdicts. */
object StreamSemDedup {

  def start(vecs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "vec_id",
            vecCol: String = "embedding", tau: Double = 0.35,
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(vecs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalSemDedup.prune(b.sparkSession, indexPath, b,
        idCol, vecCol, tau, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalSemDedup.appendToIndex(b, vecCol, indexPath, epoch.name)
    }
}
