package graft.sink

import graft.SparkSpecBase
import graft.cdc.CdcNormalize

import org.apache.spark.sql.DataFrame

import java.nio.file.Files

/** The session binding's memory of what a view last referenced does not
  * outlive the binding. A sink re-opened on an existing table (a
  * restarted job) publishes through a fresh binding; its first publish
  * must keep every directory table the view still owns, because readers
  * of the view it replaces may read them, and its next publish drops the
  * ones that neither publish references. */
class CatalogSyncRestartSpec extends SparkSpecBase {

  private def rows(ids: Seq[Long], version: Long): DataFrame = {
    val s = spark; import s.implicits._
    ids.map(i => (i, s"v$version", version, false))
      .toDF("id", "v", CdcNormalize.MtimeCol, CdcNormalize.DeletedCol)
  }

  private def dirTables: Set[String] =
    spark.catalog.listTables("cat_restart").collect()
      .filterNot(_.isTemporary).map(_.name).filter(_.startsWith("mor__")).toSet

  test("a fresh binding's first view publish keeps the replaced view's directory tables") {
    val root = Files.createTempDirectory("graft-cat-restart").toString
    // one bucket: every commit lands in the same chain; the third
    // commit's chain exceeds compactAfter and compacts
    def open() = new MorUpsertTable(spark, root, Seq("id"), nBuckets = 1,
      compactAfter = 2, catalogTable = Some("cat_restart.mor"))
    val before = open()
    before.upsert(rows(1L to 4L, 100L))
    before.upsert(rows(Seq(1L), 200L))
    assert(dirTables === Set("mor__commit_0", "mor__commit_1"))

    val after = open() // a new binding, as after a restart
    after.upsert(rows(Seq(2L), 300L))
    assert(after.bucketChain(0) === Seq("data/commit-2-compact/__bucket=0"),
      "fixture must compact away the replaced view's dirs")
    assert(dirTables === Set("mor__commit_0", "mor__commit_1", "mor__commit_2_compact"))
    assert(spark.table("cat_restart.mor").exceptAll(after.read().get).isEmpty)

    after.upsert(rows(Seq(3L), 400L))
    assert(dirTables === Set("mor__commit_2_compact", "mor__commit_3"))
    assert(spark.table("cat_restart.mor").exceptAll(after.read().get).isEmpty)
    assert(spark.table("cat_restart.mor").count() === 4)
  }
}
