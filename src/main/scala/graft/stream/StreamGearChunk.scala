package graft.stream

import graft.ext.IncrementalGearChunk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC-dedup maintenance: each arriving micro-batch of blobs
  * is gear-chunked map-side ([[graft.ext.GearChunk]] — blobs never
  * cross a shuffle), its dedup accounting (bytes already stored vs
  * bytes this batch adds) is judged against the persisted chunk store
  * covering everything ingested so far, and the batch's chunk digests
  * fold in as an O(batch) epoch append — the object-store ingest loop
  * that decides how many bytes a crawl refresh actually costs.
  *
  * Delivery: exactly-once by epoch, the probe leaving out the batch's
  * own epoch ([[EpochFold]]; asserted in StreamGearChunkSpec). Batch
  * semantics are gated via `mm_cdc_incremental_check`. */
object StreamGearChunk {

  def start(blobs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            blobCol: String = "blob",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(blobs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalGearChunk.newBytes(b.sparkSession, indexPath,
        b, idCol, blobCol, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalGearChunk.appendToIndex(b, idCol, blobCol, indexPath,
        epoch.name)
    }
}
