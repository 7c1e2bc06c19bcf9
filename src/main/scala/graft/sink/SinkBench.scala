package graft.sink

import graft.cdc.CdcNormalize

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write/read-amplification microbench: small batches against a large
  * pre-seeded table, timed per sink layout. The full streaming harness
  * cannot see this difference locally — its per-trigger fixed cost
  * (JSON normalize, fan-out, foreachBatch scheduling) is ~2 s, an order
  * above any sink's write at test scale — so the sinks are timed
  * directly: same seed, same batches, only the layout differs.
  *
  * Write side (6 commits):
  *  - COW ([[KeyedUpsertTable]]): every commit rewrites the whole table
  *    — cost O(table), the reference's own choice at small scale.
  *  - Bucketed ([[BucketedUpsertTable]], the bucketed sink at
  *    `compactAfter = 1`): rewrites touched buckets; a hash-spread
  *    1k-key batch touches ~every bucket, so at THIS batch shape it
  *    degenerates to ~COW (its regime is batch keys ≪ buckets).
  *  - MOR ([[MorUpsertTable]], `compactAfter > 1`): appends O(batch)
  *    delta files; inline compaction (included in the timing) amortizes
  *    the rewrite over `compactAfter` commits.
  *
  * Read side (MOR's other half of the trade — write-cheap is paid for
  * read-costly): a full-scan aggregate of each sink's `read()` after
  * the commit window. COW/bucketed serve base files directly; MOR folds
  * the log (latest-per-key + tombstone mask) at scan time, measured at
  * its WORST read amplification — an uncompacted twin at max chain
  * length (seed + all 6 deltas), since the write-timed table's inline
  * compaction has just reset its chains to 1. The aggregate hashes the
  * payload columns so every layout truly reads its data (a bare
  * `count()` over plain parquet is satisfied by footer metadata and
  * would hand COW a free pass). */
object SinkBench {

  final case class Result(cowSec: Double, bucketedSec: Double, morSec: Double,
                          cowReadSec: Double, bucketedReadSec: Double,
                          morReadSec: Double, morChainLen: Int,
                          tableRows: Long, batchRows: Int, commits: Int,
                          /** MOR read latency vs delta-chain length
                            * 1..N — the curve the `compactReadAmp`
                            * policy knob bounds. */
                          morReadCurve: Seq[(Int, Double)])

  def run(spark: SparkSession, tableRows: Long = 4000000L,
          batchRows: Int = 1000, commits: Int = 6): Result = {
    val M = CdcNormalize.MtimeCol
    val D = CdcNormalize.DeletedCol
    def rows(from: Long, n: Long, mtime: Long) =
      spark.range(from, from + n).select(
        col("id"),
        concat(lit("v"), col("id")).as("v"),
        lit(mtime).as(M),
        lit(false).as(D))
    val seed = rows(0L, tableRows, 1L)
    // new keys per commit (the growing-table regime) + a few updates
    def batch(c: Int) =
      rows(tableRows + c.toLong * batchRows, batchRows - 50L, (c + 2).toLong)
        .unionByName(rows(c.toLong * 1000L, 50L, (c + 2).toLong))
    def drive(mk: String => UpsertSink, timed: Boolean): (UpsertSink, Double) = {
      val root = graft.queries.CdcQueries.tempSinkDir("graft-sink-bench")
      val t = mk(root.toString)
      t.upsert(seed) // untimed: the pre-existing table
      val t0 = System.nanoTime()
      (0 until commits).foreach(c => t.upsert(batch(c)))
      (t, if (timed) (System.nanoTime() - t0) / 1e9 else 0.0)
    }
    // full-scan read: forces column IO on every layout and the log fold
    // on MOR; result is a 1-row agg so collect cost is nil
    def readTime(t: UpsertSink): Double = {
      val t0 = System.nanoTime()
      t.read().get.agg(count(lit(1)), sum(hash(col("id"), col("v")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val (cowT, cow) = drive(r => new KeyedUpsertTable(spark, r, Seq("id")), timed = true)
    val (bktT, bucketed) = drive(r =>
      new BucketedUpsertTable(spark, r, Seq("id"), nBuckets = 16), timed = true)
    // compactAfter = 6 with 6 timed commits: exactly ONE inline
    // compaction lands inside the window (Hudi's inline default is
    // every 5 delta commits) — the rewrite is paid, not deferred.
    val (_, mor) = drive(r =>
      new MorUpsertTable(spark, r, Seq("id"), nBuckets = 16, compactAfter = 6),
      timed = true)
    // read twin at MAX chain length: compaction deferred past the
    // window, so every bucket carries base + `commits` deltas — the
    // worst snapshot read MOR serves between compactions
    val (morReadT, _) = drive(r =>
      new MorUpsertTable(spark, r, Seq("id"), nBuckets = 16,
        compactAfter = commits + 10), timed = false)
    val morChain = (0 until 16)
      .map(morReadT.asInstanceOf[MorUpsertTable].bucketChainLength).max
    // Read-amplification CURVE: snapshot-read latency at every chain
    // length 1..12 on one compaction-deferred table — the measured form
    // of the MOR read-side trade, and the data a deployment uses to set
    // `compactReadAmp`/`compactAfter`. Deltas are O(batch) appends, so
    // the curve's cost is dominated by the 12 timed reads.
    val curveRoot = graft.queries.CdcQueries.tempSinkDir("graft-sink-curve")
    val curveT = new MorUpsertTable(spark, curveRoot.toString, Seq("id"),
      nBuckets = 16, compactAfter = 1000)
    curveT.upsert(seed)
    val morCurve = (1 to 12).map { chain =>
      val observed = (0 until 16).map(curveT.bucketChainLength).max
      val sec = readTime(curveT)
      if (chain < 12) curveT.upsert(batch(chain + 100)) // fresh keys per delta
      observed -> sec
    }
    Result(cow, bucketed, mor,
      readTime(cowT), readTime(bktT), readTime(morReadT), morChain,
      tableRows, batchRows, commits, morCurve)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val r = run(spark)
    println(f"[sink-bench] table=${r.tableRows} batch=${r.batchRows} commits=${r.commits} " +
      f"cow=${r.cowSec}%.2fs bucketed=${r.bucketedSec}%.2fs mor=${r.morSec}%.2fs " +
      f"mor_speedup=${r.cowSec / r.morSec}%.1fx " +
      f"read: cow=${r.cowReadSec}%.2fs bucketed=${r.bucketedReadSec}%.2fs " +
      f"mor(chain=${r.morChainLen})=${r.morReadSec}%.2fs")
    println("[sink-bench] mor_read_curve: " + r.morReadCurve
      .map { case (c, s) => f"$c:$s%.2fs" }.mkString(" "))
    spark.stop()
  }
}
