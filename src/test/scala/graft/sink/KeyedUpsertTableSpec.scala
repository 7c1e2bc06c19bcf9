package graft.sink

import graft.SparkSpecBase
import graft.cdc.CdcNormalize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import java.nio.file.Files

/** K1: Hudi-COW-equivalent merge semantics — latest-wins vs stored data,
  * incoming-wins ties, hard delete on the soft-delete flag, schema
  * evolution, snapshot retention, idempotent replay, associativity. */
class KeyedUpsertTableSpec extends SparkSpecBase {

  private val M = CdcNormalize.MtimeCol
  private val D = CdcNormalize.DeletedCol

  private def batch(rows: (Long, String, Long, Boolean)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v", M, D)
  }

  test("merge: newest mtime wins against stored data; delete flag removes the key") {
    val state1 = KeyedUpsertTable.merge(None,
      batch((1L, "a1", 100L, false), (2L, "b1", 100L, false)), Seq("id"), M)
    val state2 = KeyedUpsertTable.merge(Some(state1),
      batch((1L, "a2", 200L, false), (2L, "del", 200L, true)), Seq("id"), M)
    val rows = state2.orderBy("id").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("v") === "a2") // newest wins
  }

  test("merge: stale (older-mtime) incoming update is ignored") {
    val state1 = KeyedUpsertTable.merge(None, batch((1L, "new", 200L, false)), Seq("id"), M)
    val state2 = KeyedUpsertTable.merge(Some(state1), batch((1L, "old", 100L, false)), Seq("id"), M)
    assert(state2.head().getAs[String]("v") === "new")
  }

  test("merge: on an exact version tie the incoming record wins (Hudi >= comparison)") {
    val state1 = KeyedUpsertTable.merge(None, batch((1L, "stored", 100L, false)), Seq("id"), M)
    val state2 = KeyedUpsertTable.merge(Some(state1), batch((1L, "incoming", 100L, false)), Seq("id"), M)
    assert(state2.head().getAs[String]("v") === "incoming")
  }

  test("merge: schema evolution null-pads new columns and widens long→double") {
    val s = spark; import s.implicits._
    val stored = KeyedUpsertTable.merge(None,
      Seq((1L, 10L, 100L, false)).toDF("id", "metric", M, D), Seq("id"), M)
    val incoming = Seq((2L, 1.5d, "x", 200L, false))
      .toDF("id", "metric", "extra", M, D)
    val merged = KeyedUpsertTable.merge(Some(stored), incoming, Seq("id"), M)
    assert(merged.schema("metric").dataType.typeName === "double")
    val byId = merged.orderBy("id").collect()
    assert(byId(0).getAs[Double]("metric") === 10.0) // widened stored value
    assert(byId(0).isNullAt(byId(0).fieldIndex("extra"))) // null-padded
    assert(byId(1).getAs[String]("extra") === "x")
  }

  test("table: 5 upserts leave at most 2 snapshot dirs and correct state; replay is idempotent") {
    val root = Files.createTempDirectory("graft-upsert").toString
    val t = new KeyedUpsertTable(spark, root, Seq("id"))
    val batches = Seq(
      batch((1L, "a1", 100L, false), (2L, "b1", 100L, false)),
      batch((1L, "a2", 200L, false)),
      batch((3L, "c1", 300L, false)),
      batch((2L, "b-del", 400L, true)),
      batch((4L, "d1", 500L, false)))
    batches.foreach(t.upsert)
    val snaps = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
    assert(snaps.length <= 2, s"snapshot GC failed: ${snaps.map(_.getName).mkString(",")}")
    val state = t.read().get.orderBy("id").collect()
    assert(state.map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSeq ===
      Seq((1L, "a2"), (3L, "c1"), (4L, "d1")))
    // replaying the last batch (checkpoint recovery) must be a no-op
    t.upsert(batches.last)
    val replayed = t.read().get.orderBy("id").collect()
    assert(replayed.map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSeq ===
      Seq((1L, "a2"), (3L, "c1"), (4L, "d1")))
  }

  test("readForKeys pushes key filters into the parquet scan") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cow-keys").toString
    val t = new KeyedUpsertTable(spark, root, Seq("id"))
    t.upsert((0L to 200L).map(i => (i, s"v$i", 1L, false))
      .toDF("id", "v", CdcNormalize.MtimeCol, CdcNormalize.DeletedCol))
    t.upsert(Seq((7L, "v7b", 2L, false), (9L, "gone", 2L, true))
      .toDF("id", "v", CdcNormalize.MtimeCol, CdcNormalize.DeletedCol))
    val got = t.readForKeys(Seq(7L, 9L, 13L, 99999L).toDF("id")).get
    assert(got.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet ===
      Set(7L -> "v7b", 13L -> "v13")) // 9 deleted, 99999 absent
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(id"),
      s"key lookup filter not pushed to the scan:\n$p")
    // the point-lookup contract is loud: oversized key sets are refused
    val big = spark.range(0, 50).toDF("id")
    intercept[IllegalArgumentException] {
      t.readForKeys(big, maxKeys = 10).get
    }
  }

  test("catalog sync: spark.table reads the latest snapshot across swaps and evolution") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-upsert-catalog").toString
    val t = new KeyedUpsertTable(spark, root, Seq("id"),
      catalogTable = Some("graft_test_db.synced"))
    t.upsert(batch((1L, "a1", 100L, false)))
    assert(spark.table("graft_test_db.synced").orderBy("id").collect()
      .map(_.getAs[String]("v")).toSeq === Seq("a1"))
    // snapshot swap: the by-name read must follow the pointer
    t.upsert(batch((1L, "a2", 200L, false), (2L, "b1", 200L, false)))
    assert(spark.table("graft_test_db.synced").orderBy("id").collect()
      .map(_.getAs[String]("v")).toSeq === Seq("a2", "b1"))
    // schema evolution: a new column must appear to by-name readers
    t.upsert(Seq((3L, "c1", "extra", 300L, false))
      .toDF("id", "v", "note", CdcNormalize.MtimeCol, CdcNormalize.DeletedCol))
    val evolved = spark.table("graft_test_db.synced")
    assert(evolved.columns.contains("note"))
    assert(evolved.where($"id" === 3L).head().getAs[String]("note") === "extra")
    assert(evolved.count() === 3)
  }

  test("table: a stray non-numeric snap-* dir never fails a committed batch") {
    val root = Files.createTempDirectory("graft-upsert-stray")
    Files.createDirectories(root.resolve("snap-tmp")) // e.g. a hand-copied dir
    val t = new KeyedUpsertTable(spark, root.toString, Seq("id"))
    t.upsert(batch((1L, "a1", 100L, false)))
    t.upsert(batch((1L, "a2", 200L, false)))
    t.upsert(batch((2L, "b1", 300L, false)))
    assert(t.read().get.count() === 2)
    // the stray dir is left alone, not deleted and not crashed on
    assert(Files.isDirectory(root.resolve("snap-tmp")))
  }

  test("associativity: one batch vs time-split batches yield the same final state") {
    val all = batch(
      (1L, "a1", 100L, false), (2L, "b1", 150L, false), (1L, "a2", 200L, false),
      (2L, "bdel", 250L, true), (3L, "c1", 300L, false), (2L, "b2", 350L, false))
    val oneShot = KeyedUpsertTable.merge(None, all, Seq("id"), M)
    val split = all.where(col(M) <= 200L)
    val rest = all.where(col(M) > 200L)
    val twoStep = KeyedUpsertTable.merge(
      Some(KeyedUpsertTable.merge(None, split, Seq("id"), M)), rest, Seq("id"), M)
    assert(oneShot.exceptAll(twoStep).isEmpty && twoStep.exceptAll(oneShot).isEmpty)
  }

  test("schema memo: read() reports the schema a parquet read infers, " +
      "after a first, a steady and an evolution commit") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-upsert-memo")
    val t = new KeyedUpsertTable(spark, root.toString, Seq("id"))
    def inferred(): org.apache.spark.sql.types.StructType =
      spark.read.parquet(root.resolve(t.currentSnapshot().get).toString).schema
    t.upsert(batch((1L, "a1", 100L, false)))
    assert(t.read().get.schema === inferred())
    t.upsert(batch((1L, "a2", 200L, false), (2L, "b1", 200L, false)))
    assert(t.read().get.schema === inferred())
    t.upsert(Seq((3L, "c1", 1.5, 300L, false)).toDF("id", "v", "score", M, D))
    assert(t.read().get.schema === inferred())
    assert(t.read().get.schema("score").dataType === DoubleType)
    assert(t.read().get.where($"id" === 3L).head().getAs[Double]("score") === 1.5)
  }

  test("schema memo: a snapshot this instance did not commit is inferred, not trusted") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-upsert-memo2").toString
    val a = new KeyedUpsertTable(spark, root, Seq("id"))
    a.upsert(batch((1L, "a1", 100L, false)))
    assert(!a.read().get.columns.contains("note"))
    // another writer on the same root commits an evolved snapshot
    val b = new KeyedUpsertTable(spark, root, Seq("id"))
    b.upsert(Seq((2L, "b1", "n2", 200L, false)).toDF("id", "v", "note", M, D))
    val seen = a.read().get
    assert(seen.columns.contains("note"))
    assert(seen.orderBy("id").collect().map(r => Option(r.getAs[String]("note"))).toSeq ===
      Seq(None, Some("n2")))
    // ... and the first instance's next commit merges onto that snapshot
    a.upsert(batch((3L, "c1", 300L, false)))
    assert(a.read().get.orderBy("id").collect().map(r => Option(r.getAs[String]("note"))).toSeq ===
      Seq(None, Some("n2"), None))
    assert(b.read().get.count() === 3)
  }
}
