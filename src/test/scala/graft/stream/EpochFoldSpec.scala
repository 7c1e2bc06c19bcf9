package graft.stream

import graft.SparkSpecBase
import graft.ext.IncrementalSpanDedup

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** A real restart: the step dies after its append, before the batch
  * commits; the query restarts on the same checkpoint, re-runs the
  * batch, and ends with the report and index of a run that never
  * crashed. */
class EpochFoldSpec extends SparkSpecBase {

  private val run = (1 to 20).map(i => s"s$i").mkString(" ")
  private val fresh = (1 to 20).map(i => s"f$i").mkString(" ")
  private val shards = Seq(
    Seq((10L, s"$fresh trailing words")),
    Seq((20L, fresh), (21L, run)),
    Seq((30L, s"$fresh again"), (31L, "nothing shared")))

  /** Drive every shard through a span-dedup fold; `crashBatch` makes the
    * step throw once, after that batch's append. Returns the report and
    * index dirs, and whether the crash found its report already
    * written. */
  private def drive(crashBatch: Option[Long]): (String, String, Boolean) = {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import s.implicits._
    val idx = Files.createTempDirectory("ef-idx").toString
    IncrementalSpanDedup.writeIndex(
      Seq((1L, run), (2L, "plain unshared words")).toDF("doc_id", "text"),
      "doc_id", "text", idx, w = 12)
    val out = Files.createTempDirectory("ef-out").toString
    val ckpt = Files.createTempDirectory("ef-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val crashed = new AtomicBoolean(false)
    var reportBeforeCrash = false
    def startQuery(): StreamingQuery =
      EpochFold.flagThenAppend(input.toDF().toDF("doc_id", "text"), out,
          ckpt, "0 seconds") { (b, epoch) =>
        IncrementalSpanDedup.spans(b.sparkSession, idx, b, "doc_id", "text",
          excludeEpochs = Seq(epoch.name))
      } { (b, epoch) =>
        IncrementalSpanDedup.appendToIndex(b, "doc_id", "text", idx,
          epoch.name)
        if (crashBatch.contains(epoch.batchId) && crashed.compareAndSet(false, true)) {
          reportBeforeCrash = new File(s"$out/__epoch=${epoch.name}").exists()
          throw new IllegalStateException(s"crash after appending ${epoch.name}")
        }
      }
    var q = startQuery()
    try
      for (shard <- shards) {
        input.addData(shard: _*)
        try q.processAllAvailable()
        catch {
          case e: StreamingQueryException
              if e.getCause.getMessage.startsWith("crash after appending") =>
            q.stop()
            q = startQuery() // same checkpoint: the batch re-runs
            q.processAllAvailable()
        }
      }
    finally q.stop()
    assert(crashed.get() === crashBatch.nonEmpty)
    (out, idx, reportBeforeCrash)
  }

  private def rows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted

  test("a batch that crashed after its append re-runs to the uncrashed report") {
    val (twinOut, twinIdx, _) = drive(None)
    val (out, idx, reportBeforeCrash) = drive(Some(1L))
    assert(reportBeforeCrash, "the crash must land after the report write")
    // the replay left its own epoch out of the index read: same report
    // rows, and none twice
    assert(rows(out) === rows(twinOut))
    assert(rows(out).exists(_.contains("b1")), "batch 1 must report spans")
    // the append overwrote its epoch: the index holds every batch once
    assert(rows(s"$idx/counts") === rows(s"$twinIdx/counts"))
    // and the batch after the crash saw exactly the uncrashed index
    assert(rows(s"$out/__epoch=b2") === rows(s"$twinOut/__epoch=b2"))
  }
}
