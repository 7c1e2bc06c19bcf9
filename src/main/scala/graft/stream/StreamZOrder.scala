package graft.stream

import graft.sink.ZOrderLayout

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingestion into a z-order clustered table — the write path
  * that keeps an analytics layout queryable while data arrives: each
  * micro-batch is z-sorted under the table's STORED bucket boundaries
  * and folded in as an O(batch) epoch-keyed append
  * ([[ZOrderLayout.append]]), so manifest-pruned rectangle reads keep
  * working mid-stream, covering everything ingested so far. Every
  * `optimizeEvery` batches the table is re-clustered in place
  * ([[ZOrderLayout.optimize]]) — the streaming form of the Delta/Hudi
  * append-then-recluster loop, bounding small-file count and pruning
  * looseness at ONE recluster per N batches instead of per write.
  *
  * Delivery: exactly-once by epoch ([[EpochFold]]). The recluster runs
  * BEFORE the append and preserves the current batch's epoch
  * ([[ZOrderLayout.optimize]]'s `preserveEpochs`): committed epochs
  * fold exactly once (re-clustering them again on replay is a
  * content-preserving rewrite), and a crashed attempt's own leftover
  * epoch is never folded — the re-append overwrites it instead. A crash
  * in the MIDDLE of the recluster's directory swap is rolled forward by
  * the layout itself (every reader entry recovers the swap), so the
  * replayed batch finds a complete table.
  *
  * Boundaries: APPENDS always use the stored quantile boundaries (the
  * append contract — one key space for every file between
  * reclusters). The scheduled optimize reuses them too by default, so
  * a replayed recluster is content-stable; under key DRIFT (the
  * ingested distribution migrating away from the boundaries the table
  * was built with) equi-depth buckets skew and pruning loosens —
  * correctness is unaffected, min/max manifests are per actual file
  * content. `rederiveBoundaries = true` makes each scheduled optimize
  * re-run the quantile pass over the folded table and publish fresh
  * boundaries through the same crash-safe swap — the maintenance-
  * window repair that restores pruning after drift (asserted in the
  * spec). */
object StreamZOrder {

  /** Start ingesting `rows` (a streaming DataFrame whose schema matches
    * the table written at `tablePath`) into the clustered table. */
  def start(rows: DataFrame, tablePath: String, checkpointDir: String,
            batchFiles: Int = 8, optimizeEvery: Int = 0,
            targetFiles: Int = 64,
            rederiveBoundaries: Boolean = false,
            triggerInterval: String = "1 second"): StreamingQuery =
    EpochFold.start(rows, checkpointDir, triggerInterval) { (batch, epoch) =>
      // Recluster BEFORE the append, preserving the current epoch:
      // every batch below this id is checkpoint-committed by
      // definition, so folding them is safe; a crashed attempt of
      // THIS batch may have left its epoch on disk, and folding it
      // before the re-append below would duplicate its rows.
      val id = epoch.batchId
      if (optimizeEvery > 0 && id > 0 && id % optimizeEvery == 0)
        ZOrderLayout.optimize(batch.sparkSession, tablePath, targetFiles,
          preserveEpochs = Seq(epoch.name),
          rederiveBoundaries = rederiveBoundaries)
      ZOrderLayout.append(batch, tablePath, epoch.name, batchFiles)
    }
}
