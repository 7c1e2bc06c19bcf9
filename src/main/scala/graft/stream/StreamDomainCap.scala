package graft.stream

import graft.ext.IncrementalDomainCap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-domain admission control: each arriving micro-batch of
  * documents is judged against the persisted kept-count index
  * ([[IncrementalDomainCap]]) under first-come semantics, the
  * (id, domain, admitted) report lands epoch-keyed in a parquet table,
  * and the batch's admissions are folded into the index as an O(batch)
  * append, so the next batch sees this one's budget consumption. The
  * streaming form of the FineWeb per-domain cap over a rolling crawl;
  * batch semantics are oracle-gated via `llm_domain_cap_incremental`.
  *
  * Delivery: exactly-once by epoch ([[EpochFold]]); both the admit pass
  * and the append leave the batch's own epoch out of the index read, so
  * a replay reads exactly the pre-batch budget (asserted in the spec).
  * The batch is pinned: the admit pass scans it twice (domains + ranks)
  * and the append twice more. */
object StreamDomainCap {

  def start(docs: DataFrame, indexPath: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            domainCol: String = "domain",
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.flagThenAppend(docs, outDir, checkpointDir, triggerInterval) {
      (b, epoch) => IncrementalDomainCap.admit(b.sparkSession, indexPath, b,
        idCol, domainCol, excludeEpochs = Seq(epoch.name))
    } { (b, epoch) =>
      IncrementalDomainCap.appendToIndex(b, idCol, domainCol, indexPath,
        epoch.name)
    }
}
