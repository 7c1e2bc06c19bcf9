package graft.sink

import graft.SparkSpecBase
import graft.cdc.CdcNormalize

import org.apache.spark.sql.DataFrame

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The MOR sink's contract: delta appends (write = O(batch)), read-side
  * log merge equal to the COW sequence on version-ordered histories,
  * tombstone masking incl. the DOCUMENTED older-after-delete divergence,
  * threshold compaction, and migration commits. */
class MorUpsertTableSpec extends SparkSpecBase {

  private val M = CdcNormalize.MtimeCol
  private val D = CdcNormalize.DeletedCol

  private def batch(rows: (Long, String, Long, Boolean)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v", M, D)
  }

  private def state(t: MorUpsertTable): Map[Long, String] =
    t.read().get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  test("two-batch merge equals the sequential COW result") {
    val morRoot = Files.createTempDirectory("mor-basic").toString
    val cowRoot = Files.createTempDirectory("cow-basic").toString
    val mor = new MorUpsertTable(spark, morRoot, Seq("id"), nBuckets = 4)
    val cow = new KeyedUpsertTable(spark, cowRoot, Seq("id"))
    val b1 = batch((1L, "a1", 10L, false), (2L, "b1", 10L, false),
      (3L, "c1", 10L, false))
    val b2 = batch((2L, "b2", 20L, false), (3L, "gone", 20L, true),
      (4L, "d1", 20L, false),
      (1L, "stale", 5L, false)) // older version must lose
    Seq(b1, b2).foreach { b => mor.upsert(b); cow.upsert(b) }
    val cowState = cow.read().get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(state(mor) === cowState)
    assert(state(mor) === Map(1L -> "a1", 2L -> "b2", 4L -> "d1"))
  }

  test("a delta commit writes only the batch's buckets; others are carried") {
    val root = Files.createTempDirectory("mor-delta")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"), nBuckets = 8)
    t.upsert(batch((0L to 40L).map(i => (i, s"v$i", 1L, false)): _*))
    // one-key second batch: its commit dir must hold exactly one bucket
    t.upsert(batch((7L, "v7b", 2L, false)))
    val commit1 = root.resolve("data/commit-1").toFile.listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(commit1.length === 1 && commit1.head.startsWith("__bucket="),
      s"delta commit wrote $commit1 — must be exactly the touched bucket")
    assert(state(t)(7L) === "v7b")
    assert(state(t).size === 41)
  }

  test("a bucket chain exceeding compactAfter compacts back to one dir") {
    val root = Files.createTempDirectory("mor-compact")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = 2, compactAfter = 3)
    // key 1 always lands in one bucket; 5 commits → chain would be 5
    for (c <- 0 until 5)
      t.upsert(batch((1L, s"v$c", c.toLong, false)))
    val chains = (0 until 2).map(t.bucketChainLength)
    assert(chains.max <= 3,
      s"chains $chains exceed compactAfter after inline compaction")
    assert(state(t) === Map(1L -> "v4"))
  }

  test("compactReadAmp: measured chain bytes trigger compaction where commit count would not") {
    // small base + one heavy delta: chain length 2 is far below
    // compactAfter, but a reader scans ~100x the merged state's bytes —
    // the byte-ratio policy compacts, the count-only twin does not
    def bigBatch(from: Long, n: Int, mtime: Long) =
      batch((from until from + n).map(i => (i, s"wide-$i-" + "x" * 64, mtime, false)): _*)
    val ampRoot = Files.createTempDirectory("mor-amp").toString
    val amp = new MorUpsertTable(spark, ampRoot, Seq("id"),
      nBuckets = 2, compactAfter = 10, compactReadAmp = 3.0)
    amp.upsert(batch((1L, "seed1", 1L, false), (2L, "seed2", 1L, false)))
    amp.upsert(bigBatch(100L, 2000, 2L))
    assert((0 until 2).map(amp.bucketChainLength).max === 1,
      "byte-ratio trigger must compact the heavy-delta chain")
    assert(state(amp).size === 2002)
    assert(state(amp)(1L) === "seed1")

    val cntRoot = Files.createTempDirectory("mor-cnt").toString
    val cnt = new MorUpsertTable(spark, cntRoot, Seq("id"),
      nBuckets = 2, compactAfter = 10) // count-only policy
    cnt.upsert(batch((1L, "seed1", 1L, false), (2L, "seed2", 1L, false)))
    cnt.upsert(bigBatch(100L, 2000, 2L))
    assert((0 until 2).map(cnt.bucketChainLength).max === 2,
      "count-only policy must NOT compact at chain length 2")

    // converse: heavy base + trickle delta stays below the ratio — no
    // wasted rewrite (the other misjudgement count-only makes, inverted)
    val trickleRoot = Files.createTempDirectory("mor-trickle").toString
    val tr = new MorUpsertTable(spark, trickleRoot, Seq("id"),
      nBuckets = 2, compactAfter = 10, compactReadAmp = 3.0)
    tr.upsert(bigBatch(100L, 2000, 1L))
    tr.upsert(batch((1L, "tiny", 2L, false)))
    assert((0 until 2).map(tr.bucketChainLength).max === 2,
      "a trickle delta over a heavy base must not trigger the ratio")
    assert(state(tr)(1L) === "tiny")
  }

  test("readForKeys folds only the keys' bucket chains; tombstones stay masked") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("mor-keys")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"), nBuckets = 16)
    t.upsert(batch((0L to 200L).map(i => (i, s"v$i", 1L, false)): _*))
    t.upsert(batch((7L, "v7b", 2L, false), (9L, "gone", 2L, true)))
    val keys = Seq(7L, 9L, 13L, 99999L).toDF("id")
    val got = t.readForKeys(keys).get
    assert(got.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet ===
      Set(7L -> "v7b", 13L -> "v13")) // 9 tombstoned, 99999 absent
    val fullFiles = t.read().get.inputFiles.toSet
    val keyFiles = got.inputFiles.toSet
    assert(keyFiles.nonEmpty && keyFiles.size < fullFiles.size,
      s"lookup read ${keyFiles.size} of ${fullFiles.size} files — no pruning")
    assert(keyFiles.subsetOf(fullFiles))
  }

  test("tombstone masks until a NEWER version; older-after-delete stays masked (MOR rule)") {
    val root = Files.createTempDirectory("mor-tomb")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"), nBuckets = 2)
    t.upsert(batch((1L, "a", 10L, false), (2L, "b", 10L, false)))
    t.upsert(batch((1L, "del", 50L, true)))
    assert(state(t) === Map(2L -> "b"))
    // older-versioned arrival: the uncompacted tombstone (v=50) wins —
    // the documented divergence from COW, which would re-insert
    t.upsert(batch((1L, "older", 20L, false)))
    assert(state(t) === Map(2L -> "b"))
    // newer version beats the tombstone
    t.upsert(batch((1L, "newer", 60L, false)))
    assert(state(t) === Map(1L -> "newer", 2L -> "b"))
  }

  test("schema evolution triggers a migration compaction with the union schema") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("mor-evolve")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = 4, compactAfter = 8)
    t.upsert(batch((1L, "a", 1L, false), (2L, "b", 1L, false)))
    t.upsert(batch((1L, "a2", 2L, false)))
    t.upsert(Seq((3L, "c", 3L, false, 30L)).toDF("id", "v", M, D, "w"))
    val df = t.read().get
    assert(df.columns.contains("w"))
    val rows = df.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[String]("v"), if (r.isNullAt(r.fieldIndex("w"))) None
                             else Some(r.getAs[Long]("w")))).toMap
    assert(rows === Map(1L -> ("a2", None), 2L -> ("b", None),
      3L -> ("c", Some(30L))))
    // migration compacted every chain to a single dir
    assert((0 until 4).map(t.bucketChainLength).filter(_ > 0).forall(_ === 1))
  }

  test("snapshot-query view serves merged state by name across delta commits") {
    val root = Files.createTempDirectory("mor-cat")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = 4, catalogTable = Some("mor_spec_db.t"))
    t.upsert(batch((1L, "a", 10L, false), (2L, "b", 10L, false)))
    t.upsert(batch((1L, "a2", 20L, false), (3L, "gone", 20L, true),
      (3L, "c", 5L, false))) // in-batch: tombstone (v=20) wins over v=5
    val byName = spark.table("mor_spec_db.t").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(byName === Map(1L -> "a2", 2L -> "b"))
    assert(byName === state(t)) // view ≡ the programmatic read
  }

  test("by-name read equals read() across deltas, deletes, a compaction and a migration") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("mor-cat-eq")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = 4, compactAfter = 2, catalogTable = Some("mor_spec_db.eq"))
    def same(): Unit = {
      val byName = spark.table("mor_spec_db.eq")
      val direct = t.read().get
      assert(byName.columns.toSeq === direct.columns.toSeq)
      assert(byName.exceptAll(direct).isEmpty && direct.exceptAll(byName).isEmpty)
    }
    t.upsert(batch((1L to 12L).map(i => (i, s"a$i", 10L, false)): _*))
    same()
    t.upsert(batch((2L, "b2", 20L, false), (3L, "gone", 20L, true)))
    same()
    t.upsert(batch((4L, "b4", 30L, false), (5L, "gone", 30L, true)))
    same()
    // a third delta lengthens the touched chains past compactAfter
    t.upsert(batch((2L, "c2", 40L, false), (6L, "c6", 40L, false)))
    assert(Files.list(root.resolve("data")).iterator().asScala
      .exists(_.getFileName.toString.endsWith("-compact")), "fixture must compact")
    same()
    // migration commit: the added column is visible by name
    t.upsert(Seq((7L, "m7", 50L, false, 70L)).toDF("id", "v", M, D, "w"))
    same()
    assert(spark.table("mor_spec_db.eq").columns.contains("w"))
    assert(spark.table("mor_spec_db.eq").where($"id" === 7L)
      .select("w").head().getLong(0) === 70L)
    t.upsert(Seq((8L, "d8", 60L, false, 80L)).toDF("id", "v", M, D, "w"))
    same()
  }

  test("60-commit soak with migrations: bounded disk/chains, exact state, single-scan read") {
    val root = Files.createTempDirectory("mor-soak")
    val NBuckets = 8; val Retain = 2; val NCommits = 60; val Keyspace = 40L
    val t = new MorUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = NBuckets, retainSnapshots = Retain, compactAfter = 4)
    def mkBatch(c: Int, rows: Seq[(Long, String, Long, Boolean)]): DataFrame = {
      val s = spark; import s.implicits._
      if (c >= 40) rows.map { case (id, v, ts, d) => (id, v, ts, d, id * 10) }
        .toDF("id", "v", M, D, "w")
      else rows.toDF("id", "v", M, D)
    }
    val expected = scala.collection.mutable.Map.empty[Long, String]
    for (c <- 0 until NCommits) {
      val ts = (c + 1) * 100L
      val ups = (0 until 4).map { i =>
        val id = math.floorMod(c * 13L + i * 17L, Keyspace)
        (id, s"v$c-$i", ts + i, false)
      }
      val dels =
        if (c % 7 == 6) Seq((math.floorMod(c * 5L, Keyspace), "del", ts + 50, true))
        else Seq.empty
      t.upsert(mkBatch(c, ups ++ dels))
      ups.foreach { case (id, v, _, _) => expected(id) = v }
      dels.foreach { case (id, _, _, _) => expected.remove(id) }
    }
    // chains bounded by compactAfter; snapshots by Retain; data dirs by
    // chains × buckets, NOT by history
    assert((0 until NBuckets).map(t.bucketChainLength).max <= 4)
    val snaps = Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("snap-"))
    assert(snaps <= Retain)
    val dataDirs = Option(root.resolve("data").toFile.listFiles())
      .getOrElse(Array.empty).count(_.isDirectory)
    assert(dataDirs < NCommits / 2,
      s"$dataDirs data dirs after $NCommits commits — history is leaking")
    val df = t.read().get
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      "read() must stay a single multi-path scan")
    val got = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(got === expected.toMap)
    assert(df.columns.contains("w"))
  }
}
