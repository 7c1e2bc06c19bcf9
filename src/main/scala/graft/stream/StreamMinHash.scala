package graft.stream

import graft.ext.IncrementalMinHash
import graft.util.EpochIndex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus maintenance on the SIGNATURE index — the
  * [[StreamNearDup]] loop with [[IncrementalMinHash]] in place of the
  * exact postings index: each arriving micro-batch is flagged for
  * near-dups against everything ingested before it, the pair report
  * lands in an append-only parquet table, and the batch then joins both
  * the corpus store and the signature index as O(batch) epoch-keyed
  * appends.
  *
  * The one structural difference from the exact loop: the signature
  * index carries NO text, so candidate verification needs the corpus
  * itself. The stream therefore maintains `corpusDir` — an epoch-keyed
  * (id, text) parquet mirror of the ingested documents, seeded with the
  * indexed base via [[seedCorpus]] — and the flag pass reads it
  * excluding the batch's own epoch, exactly like the index read. At
  * scale this is the lake's document table (the stream would land docs
  * there anyway); candidate lookups stay a broadcast semi-join on the
  * bounded candidate id set.
  *
  * Delivery: exactly-once by epoch for the index, the corpus store AND
  * the pair report, the flag pass leaving out the batch's own epoch
  * from BOTH reads ([[EpochFold]]; no self-pairs, asserted in the
  * spec). The batch is pinned: the flag pass scans it several times
  * (shingle, signature, size subplans) and both appends scan it again. */
object StreamMinHash {

  /** Seed the corpus mirror with the documents the index was built
    * over (written as `__epoch=base`, matching
    * [[IncrementalMinHash.writeIndex]]'s epoch). */
  def seedCorpus(docs: DataFrame, idCol: String, textCol: String,
                 corpusDir: String): Unit =
    docs.select(col(idCol), col(textCol))
      .write.mode("overwrite").parquet(s"$corpusDir/__epoch=base")

  /** Start the flag-then-append stream. `docs` is a streaming DataFrame
    * with `idCol` and `textCol`; ids must be globally unique across the
    * stream and the pre-built index. */
  def start(docs: DataFrame, indexPath: String, corpusDir: String,
            outDir: String, checkpointDir: String,
            idCol: String = "doc_id", textCol: String = "text",
            threshold: Double = 0.5,
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(docs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) =>
        val corpus = EpochIndex.without(
            b.sparkSession.read.parquet(corpusDir), Seq(epoch.name))
          .select(col(idCol), col(textCol))
        IncrementalMinHash.nearDupPairs(b.sparkSession, indexPath, b, corpus,
          idCol, textCol, threshold, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      EpochFold.writeEpoch(b.select(col(idCol), col(textCol)), corpusDir, epoch)
      IncrementalMinHash.appendToIndex(b, idCol, textCol, indexPath,
        epoch.name)
    }
}
