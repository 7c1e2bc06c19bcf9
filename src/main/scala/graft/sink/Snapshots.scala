package graft.sink

import graft.util.TableFs

/** Snapshot numbering shared by the sinks: commit `n` publishes the
  * entry `snap-<n>` under the table root, and the versioned pointer
  * `_current` names the snapshot readers see. */
private[sink] object Snapshots {

  /** The snapshot the pointer names, None before the first commit. */
  def current(tfs: TableFs): Option[String] =
    tfs.readPointer("_current").map(_.trim).filter(_.nonEmpty)

  /** The id of the commit after snapshot `current` (0 for the first). */
  def nextId(current: Option[String]): Long =
    current.fold(0L)(_.stripPrefix("snap-").toLong + 1)

  /** The `snap-<n>` entries under the root, oldest first. Only exactly
    * numeric names count: a stray `snap-tmp` or hand-copied dir must not
    * throw in the cleaner, which runs AFTER the pointer swap already
    * published the commit (cleanup can never fail a committed batch). */
  def listed(tfs: TableFs): Seq[String] = {
    val numeric = "snap-(\\d+)".r
    tfs.listSubdirNames("")
      .flatMap {
        case name @ numeric(n) => Some(name -> n.toLong)
        case _                 => None
      }
      .sortBy(_._2).map(_._1)
  }
}
