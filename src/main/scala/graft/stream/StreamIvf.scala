package graft.stream

import graft.ext.{Ivf, Similarity}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming EMBEDDING-index maintenance — the vector-space member of
  * the streaming maintenance family ([[StreamNearDup]] exact text,
  * [[StreamMinHash]] signature text, [[StreamDecontam]] benchmark
  * grams): each arriving micro-batch of (id, embedding) rows is flagged
  * for near-duplicates against everything ingested before it via the
  * PERSISTED IVF index (cells pruned, top-k per probe, exact-cosine
  * verified), plus exact pairs within the batch itself (batch-sized by
  * contract — the [[graft.queries.LlmQueries.cosineNearDupIncremental]]
  * shape); the pair report lands epoch-keyed in a parquet table
  * (readers see an `__epoch` partition column), and the batch then
  * folds into the index as an O(batch) epoch-keyed append.
  *
  * The coarse quantizer stays FIXED across the stream (the
  * [[Ivf.appendToIndex]] train-once contract): cell assignments are
  * made under the index's own model, so recall under drift degrades
  * gracefully until a scheduled offline re-train + re-bucket.
  *
  * Delivery: exactly-once by epoch, the flag pass leaving out the
  * batch's own epoch ([[EpochFold]]): no self-pairs, no duplicated
  * report rows (asserted in the spec). The batch is pinned: it is
  * probed (queries side), self-paired, and appended. */
object StreamIvf {

  /** Start the flag-then-append stream. `vectors` is a streaming
    * DataFrame with `idCol` and `vecCol`; ids must be globally unique
    * across the stream and the pre-built index. */
  def start(vectors: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String,
            idCol: String = "vec_id", vecCol: String = "embedding",
            threshold: Double = 0.35, k: Int = 20, nProbe: Int = 4,
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(vectors, outDir, checkpointDir,
        triggerInterval) { (b, epoch) =>
      val newOld = Ivf.topKIndexed(b.sparkSession, indexPath, b, idCol,
          vecCol, k, nProbe, excludeEpochs = Seq(epoch.name))
        .where(col("sim") >= threshold)
        .select(least(col("query_id"), col("neighbor_id")).as("id_a"),
          greatest(col("query_id"), col("neighbor_id")).as("id_b"),
          col("sim"))
      newOld.unionByName(
        Similarity.exactCosinePairs(b, idCol, vecCol, threshold))
    } { (b, epoch) => Ivf.appendToIndex(b, vecCol, indexPath, epoch.name) }
}
