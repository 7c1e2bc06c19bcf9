package graft.stream

import graft.ext.KMeans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming cluster assignment under a PERSISTED fixed-point k-means
  * model ([[graft.ext.KMeans]]) — the vector-bucketing member of the
  * streaming maintenance family: arriving embeddings are quantized and
  * assigned entirely MAP-SIDE (the model loads once at stream start —
  * k·dim longs — and its centroids ride every micro-batch plan as
  * literals; no join, no shuffle, no state store), landing epoch-keyed
  * in a parquet assignments table.
  *
  * Delivery: exactly-once by epoch ([[EpochFold]]) — assignment is a
  * pure function of the batch and the fixed model, so a replay rewrites
  * its epoch with byte-identical rows. The model stays FIXED across the
  * stream; a nightly re-train replaces the artifact and restarts the
  * stream (the [[graft.ext.Ivf]] train-once discipline — drift degrades
  * occupancy gracefully, never correctness). */
object StreamKMeans {

  def start(vectors: DataFrame, modelPath: String, outDir: String,
            checkpointDir: String, idCol: String = "vec_id",
            vecCol: String = "embedding",
            triggerInterval: String = "1 second"): StreamingQuery = {
    val model = KMeans.loadModel(vectors.sparkSession, modelPath)
    EpochFold.start(vectors, checkpointDir, triggerInterval) { (batch, epoch) =>
      EpochFold.writeEpoch(KMeans.assign(KMeans.quantize(batch, idCol, vecCol),
        idCol, model), outDir, epoch)
    }
  }
}
