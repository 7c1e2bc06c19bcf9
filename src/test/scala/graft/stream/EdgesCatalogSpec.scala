package graft.stream

import graft.SparkSpecBase
import graft.cdc.{CdcFormat, SchemaInference, SyncTable}

import java.nio.file.Files

/** Every manifest sink edge publishes its table by name when the
  * pipeline has a catalog database, as the reference hive-syncs every
  * table (`glue/cdc_hudi.py:190-194`). */
class EdgesCatalogSpec extends SparkSpecBase {

  private val acct = SyncTable("edge_cat_src", "acct", "id")

  private def ev(id: Int, v: String, ts: Long): String =
    s"""{"before":null,"after":{"id":$id,"v":"$v"},"source":{"db":"edge_cat_src","table":"acct"},"op":"c","ts_ms":$ts}"""

  for (sink <- Seq("mor", "bucketed"))
    test(s"$sink-sink edge with catalogDb publishes the table by name") {
      val src = Files.createTempDirectory(s"graft-edge-cat-$sink-src")
      val root = Files.createTempDirectory(s"graft-edge-cat-$sink-sink").toString
      val ckpt = Files.createTempDirectory(s"graft-edge-cat-$sink-ckpt").toString
      Files.write(src.resolve("batch0.json"),
        (Seq(ev(1, "a1", 100), ev(2, "b1", 100)).mkString("\n") + "\n").getBytes)
      val db = s"edge_cat_$sink"
      val cfg = EdgeConfig(source = "file", sink = sink,
        sourcePath = Some(src.toString), nBuckets = 4)
      val pcfg = CdcPipelineConfig(
        format = CdcFormat.MskDebeziumCdc,
        tables = Seq(acct),
        sinkRoot = root, checkpointDir = ckpt,
        triggerInterval = "1 second",
        schemaMode = SchemaInference.Mode.InferAlways,
        catalogDb = Some(db),
        sinkFactory = Some(Edges.sinkFactory(spark, cfg)))
      val p = new CdcPipeline(spark, pcfg)
      val q = p.start(Edges.source(spark, cfg))
      try {
        q.processAllAvailable()
        Files.write(src.resolve("batch1.json"),
          (Seq(ev(1, "a2", 200), ev(3, "c1", 200)).mkString("\n") + "\n").getBytes)
        q.processAllAvailable()
        val read = p.sinks(acct.id).read().get
        assert(spark.catalog.tableExists(s"$db.acct"), s"$sink edge published no table")
        val byName = spark.table(s"$db.acct")
        assert(byName.columns.toSeq === read.columns.toSeq)
        assert(byName.exceptAll(read).isEmpty && read.exceptAll(byName).isEmpty)
        assert(byName.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap ===
          Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
      } finally { q.stop(); p.shutdown() }
    }
}
