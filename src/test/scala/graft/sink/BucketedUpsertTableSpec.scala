package graft.sink

import graft.SparkSpecBase
import graft.cdc.CdcNormalize

import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** K1 incremental variant: the bucketed sink must preserve the COW
  * table's observable merge semantics while rewriting ONLY touched
  * buckets — untouched buckets' files stay byte-identical across
  * commits (the whole point of the layout). */
class BucketedUpsertTableSpec extends SparkSpecBase {

  private val M = CdcNormalize.MtimeCol
  private val D = CdcNormalize.DeletedCol

  private def batch(rows: (Long, String, Long, Boolean)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v", M, D)
  }

  private def state(t: BucketedUpsertTable): Map[Long, String] =
    t.read().get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  private def filesUnder(p: Path): Map[String, Long] =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .map(f => p.relativize(f).toString -> Files.getLastModifiedTime(f).toMillis)
      .toMap

  test("bucketed merge semantics match the COW table across batches") {
    val broot = Files.createTempDirectory("graft-bkt").toString
    val kroot = Files.createTempDirectory("graft-cow").toString
    val bt = new BucketedUpsertTable(spark, broot, Seq("id"), nBuckets = 4,
      tiebreak = Seq("id"))
    val kt = new KeyedUpsertTable(spark, kroot, Seq("id"), tiebreak = Seq("id"))
    val batches = Seq(
      batch((1L, "a1", 100L, false), (2L, "b1", 100L, false), (7L, "g1", 100L, false)),
      batch((1L, "a2", 200L, false)),
      batch((2L, "bdel", 300L, true), (9L, "h1", 300L, false)),
      batch((2L, "b2", 400L, false)))
    batches.foreach { b => bt.upsert(b); kt.upsert(b) }
    val expected = kt.read().get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(state(bt) === expected)
    assert(state(bt) === Map(1L -> "a2", 2L -> "b2", 7L -> "g1", 9L -> "h1"))
    // replaying the last batch is a no-op (checkpoint recovery)
    bt.upsert(batches.last)
    assert(state(bt) === expected)
  }

  test("a commit leaves untouched buckets' data dirs and files byte-identical") {
    val root = Files.createTempDirectory("graft-bkt-inc")
    // many keys so several buckets are populated
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"), nBuckets = 8)
    t.upsert(batch((1L to 40L).map(i => (i, s"v$i", 100L, false)): _*))
    val before = (0 until 8).map(b => b -> t.bucketDir(b)).toMap
    assert(before.values.count(_.isDefined) >= 4, "fixture should fill several buckets")
    val beforeBytes = before.collect { case (b, Some(dir)) =>
      b -> filesUnder(root.resolve(dir)).keySet.map(f =>
        f -> java.util.Arrays.hashCode(Files.readAllBytes(root.resolve(dir).resolve(f))))
    }

    // second commit touches exactly one key → exactly one bucket
    t.upsert(batch((1L, "v1b", 200L, false)))
    val after = (0 until 8).map(b => b -> t.bucketDir(b)).toMap
    val touched = after.filter { case (b, d) => d != before(b) }.keySet
    assert(touched.size === 1, s"exactly one bucket should be rewritten, got $touched")
    // every untouched bucket: same dir reference, same files, same bytes
    before.foreach { case (b, dirOpt) =>
      if (!touched(b)) {
        assert(after(b) === dirOpt)
        dirOpt.foreach { dir =>
          val now = filesUnder(root.resolve(dir)).keySet.map(f =>
            f -> java.util.Arrays.hashCode(Files.readAllBytes(root.resolve(dir).resolve(f))))
          assert(now === beforeBytes(b), s"bucket $b files changed")
        }
      }
    }
    assert(state(t)(1L) === "v1b")
  }

  test("retention: old snapshots drop but dirs referenced by kept manifests survive") {
    val root = Files.createTempDirectory("graft-bkt-gc")
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = 4, retainSnapshots = 2)
    t.upsert(batch((1L to 20L).map(i => (i, s"v$i", 100L, false)): _*))
    // five incremental commits on one key; old commit dirs for OTHER
    // buckets must survive because retained manifests still reference them
    (1 to 5).foreach(i => t.upsert(batch((1L, s"v1-$i", 100L + i, false))))
    val snaps = Option(root.toFile.listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getName)
    assert(snaps.length <= 2, s"snapshot GC failed: ${snaps.mkString(",")}")
    assert(state(t).size === 20)
    assert(state(t)(1L) === "v1-5")
    // disk holds everything the CURRENT manifest references (commit-0's
    // carried buckets included), may hold what the previous kept manifest
    // references (commit-4), and nothing older that went unreferenced
    val referenced = (0 until 4).flatMap(t.bucketDir)
      .map(_.split('/').take(2).mkString("/")).toSet
    val onDisk = Option(root.resolve("data").toFile.listFiles()).get
      .filter(_.isDirectory).map(f => s"data/${f.getName}").toSet
    assert(referenced.subsetOf(onDisk))
    assert(onDisk.subsetOf(referenced + "data/commit-4"))
    Seq("data/commit-1", "data/commit-2", "data/commit-3")
      .foreach(d => assert(!onDisk.contains(d), s"$d should have been cleaned"))
  }

  test("an in-flight reader of snapshot k still reads k's rows across commits") {
    // The retention contract in the class scaladoc, previously argued but
    // untested: a snapshot is a manifest over immutable data dirs, and
    // the cleaner keeps every dir a retained manifest references — so a
    // DataFrame planned over snapshot k (concrete parquet paths) must
    // keep returning k's rows while k is within `retainSnapshots` of the
    // head, for BOTH commit kinds (incremental rewrite of one bucket,
    // and a schema-evolving migration that rewrites every bucket).
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-bkt-reader")
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"), nBuckets = 4)
    t.upsert(batch((1L to 20L).map(i => (i, s"v$i", 100L, false)): _*))
    val expectedK = (1L to 20L).map(i => i -> s"v$i").toMap

    val readerK = t.read().get // snapshot 0, planned BEFORE the next commit
    // incremental commit: touches exactly key 1's bucket
    t.upsert(batch((1L, "v1b", 200L, false)))
    val afterIncr = readerK.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(afterIncr === expectedK,
      "snapshot-0 reader must not observe the incremental commit")

    val readerK1 = t.read().get // snapshot 1
    val expectedK1 = expectedK + (1L -> "v1b")
    // migration commit: extra column forces a full rewrite of all buckets
    t.upsert(Seq((2L, "b2", "note2", 300L, false)).toDF("id", "v", "note", M, D))
    val afterMigr = readerK1.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(afterMigr === expectedK1,
      "snapshot-1 reader must not observe the migration commit")
    // and the held reader keeps its plan-time schema (no `note` column)
    assert(!readerK1.columns.contains("note"))
    // while a fresh read sees the migrated state
    val fresh = t.read().get
    assert(fresh.columns.contains("note"))
    assert(fresh.where($"id" === 2L).select("note").head().getString(0) === "note2")
  }

  test("a narrower batch into an empty bucket never narrows the table schema") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val root = Files.createTempDirectory("graft-bkt-narrow").toString
    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = 64)
    // commit 0: rows WITH the extra column
    t.upsert(Seq((1L, "a1", "keep-a", 100L, false), (2L, "b1", "keep-b", 100L, false))
      .toDF("id", "v", "note", M, D))
    // find a key hashing to a bucket neither 1 nor 2 occupies
    def bucketOf(k: Long): Int =
      Seq(k).toDF("id").select(pmod(hash(col("id")), lit(64))).head().getInt(0)
    val used = Set(bucketOf(1L), bucketOf(2L))
    val fresh = (3L to 200L).find(k => !used(bucketOf(k))).get
    // commit 1: a NARROWER batch (no 'note') into a previously-empty bucket
    t.upsert(batch((fresh, "c1", 200L, false)))
    val state = t.read().get.orderBy("id").collect()
    assert(t.read().get.columns.contains("note"),
      "table schema must keep the carried buckets' columns")
    assert(state.map(r => Option(r.getAs[String]("note"))).toSeq ===
      Seq(Some("keep-a"), Some("keep-b"), None))
  }

  test("catalog sync: a narrower batch into an empty bucket keeps every column by name") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val root = Files.createTempDirectory("graft-bkt-narrow-cat").toString
    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = 64,
      catalogTable = Some("bkt_db.narrow"))
    t.upsert(Seq((1L, "a1", "keep-a", 100L, false), (2L, "b1", "keep-b", 100L, false))
      .toDF("id", "v", "note", M, D))
    def bucketOf(k: Long): Int =
      Seq(k).toDF("id").select(pmod(hash(col("id")), lit(64))).head().getInt(0)
    val used = Set(bucketOf(1L), bucketOf(2L))
    val fresh = (3L to 200L).find(k => !used(bucketOf(k))).get
    // the new commit dir's files lack `note`; the view declares it
    t.upsert(batch((fresh, "c1", 200L, false)))
    val byName = spark.table("bkt_db.narrow")
    assert(byName.columns.toSeq === t.read().get.columns.toSeq)
    assert(byName.exceptAll(t.read().get).isEmpty && t.read().get.exceptAll(byName).isEmpty)
    assert(byName.orderBy("id").collect().map(r => Option(r.getAs[String]("note"))).toSeq ===
      Seq(Some("keep-a"), Some("keep-b"), None))
  }

  test("catalog sync: by-name reads track incremental AND migration commits") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-bkt-cat").toString
    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = 4,
      catalogTable = Some("bkt_db.synced"))
    // commit 0 (full): view exists and equals read()
    t.upsert(batch((1L, "a1", 100L, false), (2L, "b1", 100L, false),
      (7L, "g1", 100L, false)))
    assert(spark.catalog.tableExists("bkt_db.synced"))
    def byName: Map[Long, String] = spark.table("bkt_db.synced").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(byName === state(t))
    // commit 1 (incremental — touches one bucket): the view must serve
    // the NEW manifest, i.e. a mix of commit-0 and commit-1 data dirs
    t.upsert(batch((1L, "a2", 200L, false)))
    assert(byName === state(t))
    assert(byName(1L) === "a2" && byName(2L) === "b1")
    // commit 2 (migration — adds a column, full rewrite): by-name schema
    // evolves and values still match
    t.upsert(Seq((2L, "b2", "extra", 300L, false)).toDF("id", "v", "note", M, D))
    assert(spark.table("bkt_db.synced").columns.contains("note"))
    assert(byName === state(t))
    assert(spark.table("bkt_db.synced").where($"id" === 2L)
      .select("note").head().getString(0) === "extra")
    // commit 3 (incremental after migration): steady state holds
    t.upsert(batch((7L, "g2", 400L, false)))
    assert(byName === state(t))
    assert(byName(7L) === "g2")
  }

  test("catalog view body is O(referenced commits), not O(buckets), at 256 buckets") {
    val root = Files.createTempDirectory("graft-bkt-wide").toString
    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = 256,
      catalogTable = Some("bkt_db.wide"))
    // commit 0 populates many buckets; commit 1 touches exactly one key
    t.upsert(batch((1L to 400L).map(i => (i, s"v$i", 100L, false)): _*))
    t.upsert(batch((1L, "v1b", 200L, false)))
    val referencedBuckets = (0 until 256).count(t.bucketDir(_).isDefined)
    assert(referencedBuckets > 100, "fixture should fill >100 of 256 buckets")
    // the view text must have one branch per referenced COMMIT DIR (two
    // here: commit-0 carried + commit-1 touched), not per bucket dir
    val viewSql = spark.sql("SHOW CREATE TABLE bkt_db.wide").head().getString(0)
    val branches = viewSql.sliding("UNION ALL".length).count(_ == "UNION ALL") + 1
    assert(branches === 2, s"expected 2 commit-dir branches, got $branches")
    // pruning correctness: commit-0 still holds the superseded dir for
    // key 1's bucket; the IN-list must exclude it (no dup, new value wins)
    val byName = spark.table("bkt_db.wide").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(spark.table("bkt_db.wide").count() === 400L)
    assert(byName === state(t))
    assert(byName(1L) === "v1b" && byName(2L) === "v2")
  }

  test("readForKeys scans only the keys' bucket dirs and matches the filtered full read") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-bkt-keys")
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"), nBuckets = 16)
    t.upsert(batch((0L to 200L).map(i => (i, s"v$i", 1L, false)): _*))
    t.upsert(batch((7L, "v7b", 2L, false), (9L, "gone", 2L, true)))
    val keys = Seq(7L, 9L, 13L, 99999L).toDF("id") // incl. deleted + absent
    val got = t.readForKeys(keys).get
    val expected = t.read().get
      .where(org.apache.spark.sql.functions.col("id").isin(7L, 13L))
    assert(got.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet ===
      expected.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet)
    assert(got.count() === 2) // 7 updated, 13 seed; 9 deleted, 99999 absent
    // IO bound: the lookup's scan lists strictly fewer files than the
    // full read, and every file sits in a bucket dir the keys hash into
    val fullFiles = t.read().get.inputFiles.toSet
    val keyFiles = got.inputFiles.toSet
    assert(keyFiles.nonEmpty && keyFiles.size < fullFiles.size,
      s"lookup read ${keyFiles.size} of ${fullFiles.size} files — no pruning")
    assert(keyFiles.subsetOf(fullFiles))
  }

  test("crash replay: a commit interrupted before the pointer swap converges on re-run") {
    val root = Files.createTempDirectory("graft-bkt-crash")
    val twinRoot = Files.createTempDirectory("graft-bkt-crash-twin")
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"), nBuckets = 8)
    val twin = new BucketedUpsertTable(spark, twinRoot.toString, Seq("id"), nBuckets = 8)
    // rollbacks go through the table's own filesystem seam (a java.nio
    // write would leave the Hadoop local FS's checksum sidecar stale)
    val tfs = new graft.util.TableFs(root.toString,
      spark.sparkContext.hadoopConfiguration)
    val b1 = batch((1L to 20L).map(i => (i, s"v$i", 100L, false)): _*)
    val b2 = batch((1L, "v1b", 200L, false), (9L, "v9del", 200L, true))
    val b3 = batch((2L, "v2b", 300L, false))
    Seq(b1, b2, b3).foreach(twin.upsert)

    t.upsert(b1)
    // crash type A — commit 1 dies after the data-dir write, before the
    // manifest: simulate by rolling the published commit fully back
    t.upsert(b2)
    tfs.swapPointer("_current", "snap-0")
    tfs.deleteRecursively("snap-1")
    assert(Files.exists(root.resolve("data/commit-1")), "orphaned data dir expected")
    t.upsert(b2) // replay of the same batch must converge
    assert(t.currentSnapshot() === Some("snap-1"))

    // crash type B — commit 2 dies after the manifest write, before the
    // pointer swap: roll back the pointer only, keep snap-2
    t.upsert(b3)
    tfs.swapPointer("_current", "snap-1")
    assert(Files.exists(root.resolve("snap-2").resolve("_buckets.json")))
    t.upsert(b3) // replay
    assert(t.currentSnapshot() === Some("snap-2"))

    // converged state equals the never-crashed twin, and the replayed
    // commit dirs are referenced (no orphans accumulate beyond retention)
    assert(state(t) === state(twin))
    assert(state(t)(1L) === "v1b" && state(t)(2L) === "v2b" && !state(t).contains(9L))
    val referenced = (0 until 8).flatMap(t.bucketDir)
      .map(_.split('/').take(2).mkString("/")).toSet
    val onDisk = Option(root.resolve("data").toFile.listFiles()).get
      .filter(_.isDirectory).map(f => s"data/${f.getName}").toSet
    assert(referenced.subsetOf(onDisk))
    // retention=2 keeps at most the previous snapshot's dirs beyond the
    // referenced set — anything older (incl. crash leftovers) is gone
    assert((onDisk -- referenced).forall(_ == "data/commit-1"))
  }

  test("schema evolution triggers a migration rewrite; by-name reads still align") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-bkt-evo").toString
    val t = new BucketedUpsertTable(spark, root, Seq("id"), nBuckets = 4)
    t.upsert(batch((1L, "a1", 100L, false), (2L, "b1", 100L, false)))
    t.upsert(Seq((3L, "c1", "extra", 200L, false))
      .toDF("id", "v", "note", M, D))
    val out = t.read().get.orderBy("id").collect()
    assert(out.length === 3)
    assert(out.map(r => Option(r.getAs[String]("note"))).toSeq ===
      Seq(None, None, Some("extra")))
  }
}
