package graft.util

import graft.SparkSpecBase
import graft.ext._
import graft.sink.ZOrderLayout

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.file.Files

/** The [[EpochIndex]] contract across every index built on it: append
  * entry points refuse epoch names that are not theirs to take, and a
  * compaction crashed before any of its swap renames leaves an index
  * that reads like its uncrashed twin and compacts cleanly next time. */
class EpochIndexSpec extends SparkSpecBase {

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private lazy val docs: DataFrame = {
    val s = spark; import s.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    (1L to 24L).map { i =>
      val text = (0 until 8).map(j => words(((i * 7 + j * 3) % 6).toInt))
        .mkString(" ")
      (i, s"$text\nshared footer line\nline $i",
        s"d${i % 5}.example", i % 3 == 0, text.getBytes("UTF-8") ++
          Array.fill(40)((i % 7).toByte))
    }.toDF("doc_id", "text", "domain", "label", "blob")
  }
  private def base = docs.where("doc_id % 4 <> 0")
  private def shard = docs.where("doc_id % 4 = 0")
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** One compacting index: build (base + one appended epoch), the read
    * the crash must not change, compaction with its crash seam, and its
    * table count (the swap renames each table and `meta` out and in). */
  private case class Compacting(name: String, tables: Int,
                                build: String => Unit,
                                read: String => Seq[String],
                                compact: (String, Int) => Unit)

  private val compacting: Seq[Compacting] = Seq(
    Compacting("Bm25", 2,
      d => {
        IncrementalBm25.writeIndex(base, "doc_id", "text", d, termBuckets = 4)
        IncrementalBm25.appendToIndex(shard, "doc_id", "text", d, "b1")
      },
      d => rows(IncrementalBm25.search(spark, d, Seq("alpha", "gamma"), 6)),
      IncrementalBm25.compactImpl(spark, _, _)),
    Compacting("Distinct", 1,
      d => {
        IncrementalDistinct.writeIndex(base, "domain", "text", d)
        IncrementalDistinct.appendToIndex(shard, "domain", "text", d, "b1")
      },
      d => rows(IncrementalDistinct.estimate(spark, d, shard, "domain", "text")),
      IncrementalDistinct.compactImpl(spark, _, _)),
    Compacting("DomainCap", 1,
      d => {
        IncrementalDomainCap.writeIndex(base, "doc_id", "domain", d, cap = 4,
          buckets = 3)
        IncrementalDomainCap.appendToIndex(shard, "doc_id", "domain", d, "b1")
      },
      d => rows(IncrementalDomainCap.admit(spark, d, docs, "doc_id", "domain")),
      IncrementalDomainCap.compactImpl(spark, _, _)),
    Compacting("GearChunk", 1,
      d => {
        IncrementalGearChunk.writeIndex(base, "doc_id", "blob", d, buckets = 4)
        IncrementalGearChunk.appendToIndex(shard, "doc_id", "blob", d, "b1")
      },
      d => rows(IncrementalGearChunk.newBytes(spark, d, docs, "doc_id", "blob")),
      IncrementalGearChunk.compactImpl(spark, _, _)),
    Compacting("LineDedup", 1,
      d => {
        IncrementalLineDedup.writeIndex(base, "doc_id", "text", d, lineW = 0,
          lineBuckets = 4)
        IncrementalLineDedup.appendToIndex(shard, "doc_id", "text", d, "b1")
      },
      d => rows(IncrementalLineDedup.dropBoilerplate(spark, d, docs,
        "doc_id", "text")),
      IncrementalLineDedup.compactImpl(spark, _, _)),
    Compacting("NaiveBayes", 1,
      d => {
        IncrementalNaiveBayes.writeIndex(base, "text", "label", d)
        IncrementalNaiveBayes.appendToIndex(shard, "text", "label", d, "b1")
      },
      d => rows(IncrementalNaiveBayes.score(spark, d, docs, "doc_id", "text")),
      IncrementalNaiveBayes.compactImpl(spark, _, _)),
    Compacting("NgramLm", 3,
      d => {
        IncrementalNgramLm.writeIndex(base, "text", d)
        IncrementalNgramLm.appendToIndex(shard, "text", d, "b1")
      },
      d => rows(IncrementalNgramLm.score(spark, d, docs, "doc_id", "text")),
      IncrementalNgramLm.compactImpl(spark, _, _)),
    Compacting("SnapshotDiff", 1,
      d => {
        IncrementalSnapshotDiff.writeIndex(base, "doc_id", "text", d,
          buckets = 4)
        IncrementalSnapshotDiff.appendToIndex(shard, "doc_id", "text", d,
          "b1", seq = 1L)
      },
      d => rows(IncrementalSnapshotDiff.diffBatch(spark, d,
        docs.selectExpr("doc_id", "if(doc_id % 3 = 0, 'new', text) AS text"),
        "doc_id", "text")),
      IncrementalSnapshotDiff.compactImpl(spark, _, _)),
    Compacting("SpanDedup", 1,
      d => {
        IncrementalSpanDedup.writeIndex(base, "doc_id", "text", d, w = 3,
          windowBuckets = 4)
        IncrementalSpanDedup.appendToIndex(shard, "doc_id", "text", d, "b1")
      },
      d => rows(IncrementalSpanDedup.spans(spark, d, docs, "doc_id", "text")),
      IncrementalSpanDedup.compactImpl(spark, _, _)))

  private def leftovers(dir: String): Seq[String] =
    Seq("__compact", "__old").filter(d => new File(dir, d).exists())

  for (c <- compacting)
    test(s"${c.name}: a compaction crashed at every swap rename reads like " +
      "its uncrashed twin and compacts cleanly next time") {
      val built = tmp(s"ei-${c.name}")
      c.build(built)
      val twin = tmp(s"ei-${c.name}-twin")
      FileUtils.copyDirectory(new File(built), new File(twin))
      c.compact(twin, Int.MaxValue)
      val expect = c.read(twin)
      assert(expect.nonEmpty, s"${c.name}: the fixture must exercise the read")
      assert(expect === c.read(built), s"${c.name}: compaction moved the read")
      val renames = 2 * (c.tables + 1)
      for (k <- 0 until renames) {
        val dir = tmp(s"ei-${c.name}-x$k")
        FileUtils.copyDirectory(new File(built), new File(dir))
        intercept[IllegalStateException](c.compact(dir, k))
        assert(c.read(dir) === expect, s"${c.name}: read after crash at rename $k")
        c.compact(dir, Int.MaxValue)
        assert(leftovers(dir).isEmpty, s"${c.name}: debris after crash at $k")
        assert(c.read(dir) === expect, s"${c.name}: read after re-compact at $k")
      }
      // and the swap makes exactly `renames` renames: allowing that many
      // completes it
      val exact = tmp(s"ei-${c.name}-n")
      FileUtils.copyDirectory(new File(built), new File(exact))
      c.compact(exact, renames)
      assert(leftovers(exact).isEmpty && c.read(exact) === expect)
    }

  test("every append entry point rejects '', 'base' and 'a/b' before any IO") {
    val s = spark; import s.implicits._
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val fps = docs.selectExpr("doc_id", "doc_id * 31 AS fp")
    val appends: Seq[(String, (String, String) => Unit)] = Seq(
      "IncrementalBm25" -> (IncrementalBm25.appendToIndex(docs, "doc_id", "text", _, _)),
      "IncrementalDedup" -> (IncrementalDedup.appendToIndex(docs, "doc_id", "text", _, _)),
      "IncrementalDistinct" -> (IncrementalDistinct.appendToIndex(docs, "domain", "text", _, _)),
      "IncrementalDomainCap" -> (IncrementalDomainCap.appendToIndex(docs, "doc_id", "domain", _, _)),
      "IncrementalGearChunk" -> (IncrementalGearChunk.appendToIndex(docs, "doc_id", "blob", _, _)),
      "IncrementalLineDedup" -> (IncrementalLineDedup.appendToIndex(docs, "doc_id", "text", _, _)),
      "IncrementalMinHash" -> (IncrementalMinHash.appendToIndex(docs, "doc_id", "text", _, _)),
      "IncrementalNaiveBayes" -> (IncrementalNaiveBayes.appendToIndex(docs, "text", "label", _, _)),
      "IncrementalNgramLm" -> (IncrementalNgramLm.appendToIndex(docs, "text", _, _)),
      "IncrementalSimHash" -> (IncrementalSimHash.appendToIndex(docs, "doc_id", "text", _, _)),
      "IncrementalSimHash.appendFingerprints" ->
        (IncrementalSimHash.appendFingerprints(fps, "doc_id", "fp", _, _)),
      "IncrementalSnapshotDiff" ->
        (IncrementalSnapshotDiff.appendToIndex(docs, "doc_id", "text", _, _, seq = 1L)),
      "IncrementalSpanDedup" -> (IncrementalSpanDedup.appendToIndex(docs, "doc_id", "text", _, _)),
      "IncrementalSemDedup" -> (IncrementalSemDedup.appendToIndex(vecs, "embedding", _, _)),
      "Ivf" -> (Ivf.appendToIndex(vecs, "embedding", _, _)),
      "Pq" -> (Pq.appendToIndex(vecs, "vec_id", "embedding", _, _)),
      "ZOrderLayout" -> (ZOrderLayout.append(docs, _, _)))
    val root = tmp("ei-names")
    for ((name, append) <- appends; epoch <- Seq("", "base", "a/b")) {
      val path = s"$root/$name-${epoch.length}"
      val e = intercept[IllegalArgumentException](append(path, epoch))
      assert(e.getMessage.contains("epoch must be a non-'base', path-safe name"),
        s"$name accepted or mis-rejected epoch '$epoch': ${e.getMessage}")
      assert(!new File(path).exists(), s"$name touched $path for '$epoch'")
    }
  }
}
