package graft.stream

import graft.ext.{IncrementalSimHash, Multimodal}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming image-dedup maintenance: each arriving micro-batch of
  * image blobs is pHashed map-side ([[Multimodal.imagePhash]] — blobs
  * never cross a shuffle), probed for near-dup pairs against the
  * persisted fingerprint block index (the fingerprint-level
  * [[IncrementalSimHash]]) covering everything ingested so far plus the
  * batch itself, and the batch's fingerprints fold in as an O(batch)
  * epoch append — the LAION-style "is this image already in the
  * corpus" ingest loop. Batch semantics are oracle-gated via
  * `mm_phash_incremental` (fully live — the hash is SQL-restatable).
  *
  * Delivery: exactly-once by epoch, the probe leaving out the batch's
  * own epoch ([[EpochFold]]; asserted in the spec). */
object StreamPhash {

  def start(blobs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            blobCol: String = "blob",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.start(blobs, checkpointDir, triggerInterval) { (batch, epoch) =>
      val spark = batch.sparkSession
      // decode ONCE: probe and append both consume the pinned
      // fingerprints; failed decodes are excluded — a placeholder hash in
      // the index would pair corrupt blobs with each other (and with
      // genuinely all-dark images) as Hamming-0 dups
      EpochFold.pinned(Multimodal.imagePhash(spark, batch, idCol, blobCol)
          .where(col("decoded")).select(idCol, "phash")) { fps =>
        EpochFold.writeEpoch(IncrementalSimHash.nearDupPairsFingerprints(spark,
          indexPath, fps, idCol, "phash", excludeEpochs = Seq(epoch.name)),
          outDir, epoch)
        IncrementalSimHash.appendFingerprints(fps, idCol, "phash", indexPath,
          epoch.name)
      }
    }
}
