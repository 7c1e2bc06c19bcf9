package graft.sink

import org.apache.spark.sql.DataFrame

/** The contract the streaming pipeline writes through: apply one
  * micro-batch of change rows (payload ++ version ++ delete flag) and
  * expose the current table state. Implementations: [[KeyedUpsertTable]]
  * (full-COW rewrite, reference parity), the bucketed keyed sink
  * [[MorUpsertTable]] (merge-on-read delta appends, the 100 TB path) with
  * its merge-on-write preset [[BucketedUpsertTable]] (incremental bucket
  * rewrite), and [[HudiUpsertSink]] (the real Hudi connector). */
trait UpsertSink {
  def upsert(batch: DataFrame): Unit
  def read(): Option[DataFrame]
}
