package graft.sink

import graft.SparkSpecBase
import graft.cdc.CdcNormalize

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import java.nio.file.Files

/** The bucketed sink is the merge-on-write preset (`compactAfter = 1`) of
  * the one bucketed keyed sink, [[MorUpsertTable]]: tables written in the
  * single-dir manifest format keep working, the tombstone rule differs
  * from the merge-on-read setting exactly where the scaladoc says, reads
  * of the preset stay shuffle-free, and no commit shape runs more Spark
  * jobs than its pinned budget. */
class KeyedSinkPresetSpec extends SparkSpecBase {

  private val M = CdcNormalize.MtimeCol
  private val D = CdcNormalize.DeletedCol

  private def batch(rows: (Long, String, Long, Boolean)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v", M, D)
  }

  private def stateOf(df: DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r => r.getAs[Long]("id") -> (r.getAs[String]("v") -> r.getAs[Long](M))).toMap

  private def bucketOf(k: Long, n: Int): Int = {
    val s = spark; import s.implicits._
    Seq(k).toDF("id").select(pmod(hash(col("id")), lit(n))).head().getInt(0)
  }

  // ---- tables in the single-dir manifest format

  test("a table in the single-dir manifest format reads, serves by name and upserts " +
      "as before") {
    val n = 4
    val root = Files.createTempDirectory("graft-legacy-bkt").toString
    val tfs = new graft.util.TableFs(root, spark.sparkContext.hadoopConfiguration)
    // commit 0 wrote every key; commit 1 rewrote key 1's bucket with
    // key 1 at version 200. The files carry no `__commit` column and the
    // manifest maps each bucket to ONE dir, as a string.
    val seed = (1L to 12L).map(i => (i, s"v$i", 100L, false))
    val b1 = bucketOf(1L, n)
    val rewritten = seed.filter(r => bucketOf(r._1, n) == b1)
      .map(r => if (r._1 == 1L) (1L, "a2", 200L, false) else r)
    def writeDir(rows: Seq[(Long, String, Long, Boolean)], dir: String): Unit =
      batch(rows: _*).withColumn("__bucket", pmod(hash(col("id")), lit(n)))
        .write.partitionBy("__bucket").parquet(tfs.str(dir))
    writeDir(seed, "data/commit-0")
    writeDir(rewritten, "data/commit-1")
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("schema", ParquetSchema.asRead(batch().schema).toDDL)
    val buckets = node.putObject("buckets")
    seed.map(r => bucketOf(r._1, n)).distinct.foreach { b =>
      buckets.put(b.toString,
        if (b == b1) s"data/commit-1/__bucket=$b" else s"data/commit-0/__bucket=$b")
    }
    tfs.writeBytes("snap-1/_buckets.json", mapper.writeValueAsBytes(node))
    tfs.swapPointer("_current", "snap-1")
    assert(!spark.read.parquet(tfs.str("data/commit-0")).columns.contains("__commit"))

    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = n,
      catalogTable = Some("legacy_db.t"))
    val before = seed.map(r => r._1 -> (r._2 -> r._3)).toMap + (1L -> ("a2" -> 200L))
    val s = spark; import s.implicits._
    def check(expected: Map[Long, (String, Long)]): Unit = {
      assert(t.read().get.columns.toSeq === Seq("id", "v", M, D))
      assert(stateOf(t.read().get) === expected)
      assert(stateOf(t.readForKeys(Seq(1L, 3L, 99L).toDF("id")).get) ===
        expected.filter { case (k, _) => Set(1L, 3L)(k) })
      assert(stateOf(spark.table("legacy_db.t")) === expected)
    }
    t.syncCatalog()
    check(before)
    assert(t.bucketDir(b1) === Some(s"data/commit-1/__bucket=$b1"))

    // one further upsert: a version tie with a stored row (incoming
    // wins), an older version (stored wins), a delete and an insert
    t.upsert(batch((1L, "a3", 200L, false), (2L, "stale", 50L, false),
      (3L, "gone", 300L, true), (13L, "n1", 300L, false)))
    check(before - 3L + (1L -> ("a3" -> 200L)) + (13L -> ("n1" -> 300L)))
  }

  // ---- where the tombstone rule changes

  test("an older insert after a delete re-inserts at compactAfter = 1 and stays masked " +
      "at compactAfter = 2") {
    val n = 4
    // `k` shares its bucket with the seed row; `j`'s bucket is empty
    // until the delete lands
    val k = 1L
    val seedBuckets = Set(bucketOf(k, n))
    val j = (2L to 200L).find(i => !seedBuckets(bucketOf(i, n))).get
    val commits = Seq(
      batch((k, "k1", 100L, false)),
      batch((k, "kdel", 300L, true), (j, "jdel", 300L, true)),
      batch((k, "k-old", 200L, false), (j, "j-old", 200L, false)))
    def run(sink: UpsertSink): Map[Long, String] = {
      commits.foreach(sink.upsert)
      sink.read().get.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    }
    def dir(p: String) = Files.createTempDirectory(p).toString
    val reinserted = Map(k -> "k-old", j -> "j-old")
    assert(run(new KeyedUpsertTable(spark, dir("graft-tomb-cow"), Seq("id"))) === reinserted)
    assert(run(new BucketedUpsertTable(spark, dir("graft-tomb-bkt"), Seq("id"),
      nBuckets = n)) === reinserted)
    assert(run(new MorUpsertTable(spark, dir("graft-tomb-mow"), Seq("id"), nBuckets = n,
      compactAfter = 1)) === reinserted)
    assert(run(new MorUpsertTable(spark, dir("graft-tomb-mor"), Seq("id"), nBuckets = n,
      compactAfter = 2)) === Map.empty)
  }

  // ---- plan shape and job budget

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("the bucketed preset reads and serves by name without an Exchange; a MOR chain " +
      "of two folds map-side") {
    val root = Files.createTempDirectory("graft-plan-bkt").toString
    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = 4,
      catalogTable = Some("plan_db.bkt"))
    t.upsert(batch((1L to 20L).map(i => (i, s"v$i", 100L, false)): _*))
    t.upsert(batch((1L, "a2", 200L, false), (2L, "gone", 200L, true)))
    val read = plan(t.read().get)
    assert(!read.contains("Exchange"), s"bucketed read shuffles:\n$read")
    val byName = plan(spark.table("plan_db.bkt"))
    assert(!byName.contains("Exchange"), s"bucketed view shuffles:\n$byName")
    assert(stateOf(spark.table("plan_db.bkt")) === stateOf(t.read().get))

    val mroot = Files.createTempDirectory("graft-plan-mor").toString
    val mor = new MorUpsertTable(spark, mroot, Seq("id"), nBuckets = 4)
    mor.upsert(batch((1L to 20L).map(i => (i, s"v$i", 100L, false)): _*))
    mor.upsert(batch((1L, "a2", 200L, false)))
    assert((0 until 4).map(mor.bucketChainLength).max === 2)
    val folded = plan(mor.read().get)
    assert(folded.contains("partial_max_by"), s"MOR chain of two is not folded:\n$folded")
  }

  /** Spark jobs of each commit shape, counted at the two-sink layout this
    * sink replaced (local[4], adaptive execution on); a commit may not
    * run more. */
  private val BucketedCommitJobs = 4
  private val MorDeltaJobs = 2
  private val MorCompactionJobs = 4

  private def jobs(body: => Unit): Int = graft.JobCounter(spark)(body)._2

  test("bucketed, MOR delta and MOR compaction commits stay within their job budgets") {
    val seed = batch((1L to 40L).map(i => (i, s"v$i", 100L, false)): _*)
    val bkt = new BucketedUpsertTable(spark,
      Files.createTempDirectory("graft-jobs-bkt").toString, Seq("id"), nBuckets = 4,
      catalogTable = Some("jobs_db.bkt"))
    bkt.upsert(seed)
    val bucketed = jobs(bkt.upsert(batch((1L, "a2", 200L, false), (2L, "gone", 200L, true))))

    val root = Files.createTempDirectory("graft-jobs-mor")
    val mor = new MorUpsertTable(spark, root.toString, Seq("id"), nBuckets = 4,
      compactAfter = 2, catalogTable = Some("jobs_db.mor"))
    mor.upsert(seed)
    val delta = jobs(mor.upsert(batch((1L, "a2", 200L, false), (2L, "gone", 200L, true))))
    assert(!Files.exists(root.resolve("data/commit-1-compact")))
    val compaction = jobs(mor.upsert(batch((1L, "a3", 300L, false))))
    assert(Files.exists(root.resolve("data/commit-2-compact")), "fixture must compact")

    info(s"jobs: bucketed $bucketed, MOR delta $delta, MOR compaction $compaction")
    assert(bucketed <= BucketedCommitJobs)
    assert(delta <= MorDeltaJobs)
    assert(compaction <= MorCompactionJobs)
    assert(stateOf(spark.table("jobs_db.mor")) === stateOf(mor.read().get))
    assert(stateOf(spark.table("jobs_db.bkt")) === stateOf(bkt.read().get))
  }
}
