package graft.sink

import graft.SparkSpecBase
import graft.cdc.CdcNormalize

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The CatalogSync seam: both sinks must publish by-name access through
  * the injected binding only (the cluster's metastore swap point), and
  * the default session binding must behave exactly as the pre-seam
  * inline DDL did — the by-name behavior itself is covered by the
  * existing catalog tests in the two sink specs, which run through
  * [[SessionCatalogSync]] after the extraction. */
class CatalogSyncSpec extends SparkSpecBase {

  private val M = CdcNormalize.MtimeCol
  private val D = CdcNormalize.DeletedCol

  /** Records every publish; performs none. */
  private final class Recording extends CatalogSync {
    var tables = Vector.empty[(Seq[String], java.net.URI)]
    var views = Vector.empty[(Seq[String], String)]
    override def publishExternalTable(parts: Seq[String],
                                      location: java.net.URI): Unit =
      tables :+= ((parts, location))
    override def publishView(parts: Seq[String], body: String): Unit =
      views :+= ((parts, body))
  }

  test("the COW sink publishes each commit's snapshot through the binding") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cat-cow")
    val rec = new Recording
    val t = new KeyedUpsertTable(spark, root.toString, Seq("id"),
      catalogTable = Some("gdb.cow_seam"), catalogSync = Some(rec))
    t.upsert(Seq((1L, "a", 100L, false)).toDF("id", "v", M, D))
    t.upsert(Seq((1L, "a2", 200L, false)).toDF("id", "v", M, D))
    assert(rec.tables.map(_._1) === Vector(Seq("gdb", "cow_seam"), Seq("gdb", "cow_seam")))
    // compare URI PATHS: Hadoop renders file:/p where java.nio renders
    // file:///p — the location is what the binding must receive
    assert(rec.tables.map(_._2.getPath) ===
      Vector(root.resolve("snap-0").toString,
        root.resolve("snap-1").toString))
    assert(rec.views.isEmpty)
    // nothing leaked into the session catalog — the binding owns publishing
    assert(!spark.catalog.databaseExists("gdb"))
  }

  test("the bucketed sink publishes each commit's view body through the binding") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cat-bkt")
    val rec = new Recording
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"),
      nBuckets = 4, catalogTable = Some("bkt_seam"), catalogSync = Some(rec))
    t.upsert(Seq((1L, "a", 100L, false)).toDF("id", "v", M, D))
    assert(rec.views.map(_._1) === Vector(Seq("bkt_seam")))
    val body = rec.views.head._2
    assert(body.contains("data/commit-0") && body.contains("`__bucket` IN ("),
      s"view body must be the pruned commit-dir form, got: $body")
    assert(rec.tables.isEmpty)
    assert(!spark.catalog.tableExists("bkt_seam"))
  }

  // ---- the session binding's steady state: one ALTER per commit

  /** A Spark-written parquet directory holding `rows` as (id, v) plus
    * `extra` null string columns; returns its location. */
  private def snapshot(rows: Seq[(Long, String)], extra: String*): java.net.URI = {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-cat-snap").resolve("snap")
    extra.foldLeft(rows.toDF("id", "v"))((df, c) =>
      df.withColumn(c, org.apache.spark.sql.functions.lit(null).cast("string")))
      .write.parquet(dir.toString)
    dir.toUri
  }

  private def ids(name: String): Set[Long] =
    spark.table(name).collect().map(_.getAs[Long]("id")).toSet

  /** DROP + CREATE loses table properties; ALTER ... SET LOCATION keeps them. */
  private def mark(name: String): Unit =
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES ('graft.marker' = 'kept')")
  private def marked(name: String): Boolean =
    spark.sql(s"SHOW TBLPROPERTIES $name").collect().exists(_.getString(0) == "graft.marker")

  test("session binding: a steady commit runs no Spark job and alters the entry in place") {
    val sync = new SessionCatalogSync(spark)
    val name = Seq("cat_bind", "steady")
    sync.publishExternalTable(name, snapshot(Seq(1L -> "a")))
    mark("cat_bind.steady")
    val next = snapshot(Seq(1L -> "a", 2L -> "b"))
    val (_, jobs) = graft.JobCounter(spark)(sync.publishExternalTable(name, next))
    assert(jobs === 0, "a same-schema publish must not run schema inference")
    assert(ids("cat_bind.steady") === Set(1L, 2L))
    assert(marked("cat_bind.steady"))
  }

  test("session binding: a table dropped between commits is recreated by the next commit") {
    val sync = new SessionCatalogSync(spark)
    val name = Seq("cat_bind", "dropped")
    sync.publishExternalTable(name, snapshot(Seq(1L -> "a")))
    spark.sql("DROP TABLE cat_bind.dropped")
    sync.publishExternalTable(name, snapshot(Seq(2L -> "b")))
    assert(ids("cat_bind.dropped") === Set(2L))
    spark.sql("DROP DATABASE cat_bind CASCADE")
    sync.publishExternalTable(name, snapshot(Seq(3L -> "c")))
    assert(ids("cat_bind.dropped") === Set(3L))
  }

  test("session binding: a fresh binding over an existing same-schema table alters it; " +
      "a schema change recreates it") {
    val name = Seq("cat_bind", "fresh")
    new SessionCatalogSync(spark).publishExternalTable(name, snapshot(Seq(1L -> "a")))
    mark("cat_bind.fresh")
    val again = new SessionCatalogSync(spark)
    again.publishExternalTable(name, snapshot(Seq(2L -> "b")))
    assert(ids("cat_bind.fresh") === Set(2L))
    assert(marked("cat_bind.fresh"), "same schema: ALTER, not DROP/CREATE")
    again.publishExternalTable(name, snapshot(Seq(3L -> "c"), "note"))
    assert(spark.table("cat_bind.fresh").columns.toSeq === Seq("id", "v", "note"))
    assert(ids("cat_bind.fresh") === Set(3L))
    assert(!marked("cat_bind.fresh"), "a schema change drops and recreates the entry")
  }

  test("session binding: one binding shared by two tables on two threads publishes both") {
    val sync = new SessionCatalogSync(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // each table's commits are serial, the two tables' interleave; table
    // `b` changes its schema half way
    def commits(table: String): Seq[java.net.URI] = (1 to 4).map { i =>
      val extra = if (table == "b" && i > 2) Seq("note") else Nil
      snapshot((1 to i).map(k => k.toLong -> s"$table$i"), extra: _*)
    }
    val plan = Seq("a", "b").map(t => t -> commits(t))
    try {
      val done = plan.map { case (t, locations) =>
        scala.concurrent.Future(locations.foreach(sync.publishExternalTable(Seq("cat_shared", t), _)))
      }
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(done),
        scala.concurrent.duration.Duration(2, "min"))
    } finally pool.shutdown()
    assert(spark.table("cat_shared.a").columns.toSeq === Seq("id", "v"))
    assert(spark.table("cat_shared.b").columns.toSeq === Seq("id", "v", "note"))
    Seq("a", "b").foreach { t =>
      val rows = spark.table(s"cat_shared.$t").collect()
      assert(rows.map(_.getAs[Long]("id")).toSet === (1 to 4).map(_.toLong).toSet)
      assert(rows.map(_.getAs[String]("v")).toSet === Set(s"${t}4"))
    }
  }

  // ---- declared-schema directory tables: views resolve without Spark jobs

  private def noJobs(what: String)(body: => Any): Unit = {
    val (_, jobs) = graft.JobCounter(spark)(body)
    assert(jobs === 0, s"$what ran $jobs Spark jobs")
  }

  private def rows(ids: Seq[Long], ts: Long, extra: Boolean = false): DataFrame = {
    val s = spark; import s.implicits._
    if (extra) ids.map(i => (i, s"v$i@$ts", ts, false, i * 10)).toDF("id", "v", M, D, "w")
    else ids.map(i => (i, s"v$i@$ts", ts, false)).toDF("id", "v", M, D)
  }

  private def hasCompaction(root: Path): Boolean =
    Files.list(root.resolve("data")).iterator().asScala
      .exists(_.getFileName.toString.endsWith("-compact"))

  test("session binding: a MOR view resolves by name and re-syncs with no Spark job, " +
      "after a delta commit and after a compaction") {
    val root = Files.createTempDirectory("graft-cat-mor")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"), nBuckets = 4,
      compactAfter = 2, catalogTable = Some("cat_dir.mor"))
    def check(after: String): Unit = {
      noJobs(s"resolving the MOR view by name after $after")(spark.table("cat_dir.mor").schema)
      noJobs(s"syncCatalog after $after")(t.syncCatalog())
      assert(ids("cat_dir.mor") === (1L to 20L).toSet)
    }
    t.upsert(rows(1L to 20L, 100L))
    t.upsert(rows(Seq(1L, 2L), 200L))
    check("a delta commit")
    t.upsert(rows(Seq(1L, 2L), 300L))
    assert(hasCompaction(root), "fixture must compact")
    check("a compaction")
  }

  test("session binding: a bucketed view resolves by name and re-syncs with no Spark job") {
    val root = Files.createTempDirectory("graft-cat-bktdir")
    val t = new BucketedUpsertTable(spark, root.toString, Seq("id"), nBuckets = 4,
      catalogTable = Some("cat_dir.bkt"))
    def check(after: String): Unit = {
      noJobs(s"resolving the bucketed view by name after $after")(spark.table("cat_dir.bkt").schema)
      noJobs(s"syncCatalog after $after")(t.syncCatalog())
      assert(ids("cat_dir.bkt") === (1L to 20L).toSet)
    }
    t.upsert(rows(1L to 20L, 100L))
    t.upsert(rows(Seq(1L, 2L), 200L))
    check("an incremental commit")
    // each branch still prunes its commit dir to the manifest's buckets
    val scans = spark.table("cat_dir.bkt").queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.length === 2 &&
      scans.forall(_.matches(".*PartitionFilters: \\[[^]]*__bucket.*")), scans.mkString("\n"))
    t.upsert(rows(Seq(3L), 300L, extra = true))
    assert(spark.table("cat_dir.bkt").columns.contains("w"))
    check("a migration commit")
  }

  test("session binding: a 20-commit MOR soak keeps only the view and the directory " +
      "tables of its last two publishes") {
    val root = Files.createTempDirectory("graft-cat-soak")
    val t = new MorUpsertTable(spark, root.toString, Seq("id"), nBuckets = 4,
      compactAfter = 2, catalogTable = Some("cat_soak.mor"))
    for (c <- 0 until 20)
      t.upsert(rows(Seq(c.toLong, (c * 7 % 30).toLong, (c * 13 % 30).toLong).distinct, c * 100L))
    assert(hasCompaction(root))
    // the two retained manifests are the last two publishes
    val mapper = new ObjectMapper()
    val snaps = Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith("snap-")).toSeq
    assert(snaps.length === 2)
    val dirTables = snaps.flatMap { snap =>
      mapper.readTree(snap.resolve("_buckets.json").toFile).get("buckets")
        .elements().asScala.flatMap(_.elements().asScala.map(_.asText()))
    }.map(d => "mor__" + BucketedUpsertTable.commitDirOf(d).stripPrefix("data/").replace('-', '_')).toSet
    val listed = spark.catalog.listTables("cat_soak").collect()
      .filterNot(_.isTemporary).map(_.name).toSet
    assert(listed === dirTables + "mor")
    assert(spark.table("cat_soak.mor").exceptAll(t.read().get).isEmpty)
  }

  test("session binding: two sinks on different roots publishing one name in turn " +
      "each read back their own rows") {
    def sink(prefix: String) = new MorUpsertTable(spark,
      Files.createTempDirectory(prefix).toString, Seq("id"), nBuckets = 2,
      catalogTable = Some("cat_two.t"))
    val (a, b) = (sink("graft-cat-two-a"), sink("graft-cat-two-b"))
    a.upsert(rows(1L to 3L, 100L))
    assert(ids("cat_two.t") === Set(1L, 2L, 3L))
    b.upsert(rows(11L to 13L, 100L))
    assert(ids("cat_two.t") === Set(11L, 12L, 13L))
    // both roots have a commit-0: each publish must read its own
    a.upsert(rows(Seq(4L), 200L))
    assert(ids("cat_two.t") === Set(1L, 2L, 3L, 4L))
    b.upsert(rows(Seq(14L), 200L))
    assert(ids("cat_two.t") === Set(11L, 12L, 13L, 14L))
  }
}
