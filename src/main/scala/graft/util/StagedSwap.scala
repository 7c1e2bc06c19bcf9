package graft.util

import org.apache.spark.sql.SparkSession

/** Crash-safe atomic-enough replacement of a set of table directories
  * with staged counterparts — the swap behind [[EpochIndex]] compaction
  * and [[graft.sink.ZOrderLayout]]'s optimize. The writer stages
  * complete replacements under `__compact/<table>`, then [[swap]]
  * renames the old dirs aside and the staged dirs in, in an order that
  * makes every crash state unambiguous:
  *
  *  - the SENTINEL table is renamed aside FIRST and renamed in LAST, so
  *    "primary sentinel missing AND staged `__compact/<sentinel>`
  *    present" holds exactly while a swap is in flight — a healthy
  *    mid-STAGE (primaries untouched, `__compact` growing) never
  *    matches, and a completed swap never matches;
  *  - [[recover]] rolls a matched crash state FORWARD deterministically
  *    and is itself re-runnable from any of its own crash points
  *    (a primary with no staged counterpart is already the new one and
  *    is never touched). Readers call it on entry, writers before
  *    staging. Single-writer per table, like the sinks.
  *
  * `crashAtRename` (tests only): throw immediately before the (k+1)-th
  * rename, exercising every intermediate state. */
final class StagedSwap(spark: SparkSession, root: String,
                       sentinel: String, others: Seq[String]) {
  private val fs = new TableFs(root, spark.sparkContext.hadoopConfiguration)
  private val hfs =
    fs.rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def abs(rel: String) = new org.apache.hadoop.fs.Path(fs.str(rel))

  /** Where the writer stages a table's replacement. */
  def stagedDir(table: String): String = fs.str(s"__compact/$table")

  def swap(crashAtRename: Int): Unit = {
    require(fs.exists(s"__compact/$sentinel"),
      s"swap: staged sentinel __compact/$sentinel missing")
    others.foreach(d => require(fs.exists(s"__compact/$d"),
      s"swap: staged __compact/$d missing"))
    var renames = 0
    def rename(from: String, to: String): Unit = {
      if (renames >= crashAtRename)
        throw new IllegalStateException(s"test crash before rename $renames")
      renames += 1
      require(hfs.rename(abs(from), abs(to)), s"swap: rename $from -> $to")
    }
    fs.deleteRecursively("__old"); fs.mkdirs("__old")
    rename(sentinel, s"__old/$sentinel") // invariant begins
    for (d <- others if fs.exists(d)) rename(d, s"__old/$d")
    for (d <- others) rename(s"__compact/$d", d)
    rename(s"__compact/$sentinel", sentinel) // invariant ends
    fs.deleteRecursively("__old")
    fs.deleteRecursively("__compact")
  }

  /** Roll a crashed swap forward; no-op in every healthy state. */
  def recover(): Unit =
    if (!fs.exists(sentinel) && fs.exists(s"__compact/$sentinel")) {
      for (d <- others if fs.exists(s"__compact/$d")) {
        if (fs.exists(d)) {
          fs.deleteRecursively(s"__old/$d")
          fs.mkdirs("__old")
          require(hfs.rename(abs(d), abs(s"__old/$d")),
            s"swap recovery: aside rename failed for $d")
        }
        require(hfs.rename(abs(s"__compact/$d"), abs(d)),
          s"swap recovery: staged rename failed for $d")
      }
      require(hfs.rename(abs(s"__compact/$sentinel"), abs(sentinel)),
        "swap recovery: staged sentinel rename failed")
      fs.deleteRecursively("__old")
      fs.deleteRecursively("__compact")
    }
}
