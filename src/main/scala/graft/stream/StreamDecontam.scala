package graft.stream

import graft.ext.Decontamination

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental decontamination: every arriving micro-batch of
  * documents is flagged IN-FLIGHT against the persisted benchmark-gram
  * index ([[Decontamination.writeIndex]]) and the per-doc report lands
  * epoch-keyed in a parquet table — the ingest-time contamination
  * check a production pipeline runs on each shard BEFORE it reaches the
  * training corpus, instead of a full-corpus batch sweep afterwards.
  *
  * Shape: each micro-batch → [[Decontamination.flagAgainstIndex]] (the
  * gram set is read from the index and broadcast; the batch is never
  * shuffled on the gram) → the epoch's report partition. The index is
  * read-only, and the flags are deterministic, so a replayed batch
  * overwrites its own epoch with identical rows ([[EpochFold]]).
  */
object StreamDecontam {

  /** Start the flagging stream. `docs` is a streaming DataFrame with
    * `idCol` and `textCol` columns. */
  def start(docs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.start(docs, checkpointDir, triggerInterval) { (batch, epoch) =>
      EpochFold.writeEpoch(Decontamination.flagAgainstIndex(batch.sparkSession,
        indexPath, batch, idCol, textCol), outDir, epoch)
    }
}
