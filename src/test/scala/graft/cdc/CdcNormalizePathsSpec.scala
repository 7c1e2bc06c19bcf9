package graft.cdc

import graft.{JobCounter, SparkSpecBase}

import org.apache.spark.sql.{DataFrame, Encoders}

/** `normalize` (the batch queries' path, parse staged) and
  * `normalizeMaterialized` (the pipeline's path, parse persisted) return
  * the same rows on the same input, in a steady trigger and in one whose
  * record no longer parses against the cached schema, in both schema
  * modes; and each path runs a pinned number of Spark jobs. */
class CdcNormalizePathsSpec extends SparkSpecBase {

  private val user = SyncTable("test_db", "user", "id")

  private def ev(id: String, v: String, ts: Long, op: String): String = {
    val img = s"""{"id":$id,"v":"$v"}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"before":$before,"after":$after,"source":{"db":"test_db","table":"user"},"op":"$op","ts_ms":$ts}"""
  }

  /** Two partitions, so a probe that stops at the first hit and one that
    * counts every row are told apart. */
  private def batch(rows: String*): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2))(Encoders.STRING).toDF("value")

  private val steady = batch(
    ev("1", "a", 10, "c"), ev("2", "b", 11, "c"), ev("1", "a2", 12, "u"),
    ev("3", "c", 13, "r"), ev("2", "b", 14, "d"), ev("4", "d", 15, "c"))
  // the upstream now sends one id as a string: that record no longer
  // parses against the cached long id, and the cached mode re-infers
  private val drifted = batch(
    ev("5", "e", 20, "c"), ev("\"x6\"", "f", 21, "c"),
    ev("1", "a3", 22, "u"), ev("3", "c", 23, "d"))

  /** Rows of one path over `df` and the Spark jobs the path's call ran. */
  private def run(materialized: Boolean, mode: SchemaInference.Mode,
                  df: DataFrame): (Seq[String], Int) = {
    def rows(out: DataFrame) = out.collect().map(_.toString).toSeq.sorted
    if (materialized) {
      val (out, jobs) = JobCounter(spark)(
        CdcNormalize.normalizeMaterialized(spark, df, CdcFormat.MskDebeziumCdc, user, mode,
          knownNonEmpty = true))
      val (norm, release) = out.get
      try (rows(norm), jobs) finally release()
    } else {
      val (out, jobs) = JobCounter(spark)(
        CdcNormalize.normalize(spark, df, CdcFormat.MskDebeziumCdc, user, mode,
          knownNonEmpty = true))
      (rows(out.get), jobs)
    }
  }

  /** Steady and drifted rows and job counts of one path, from an empty
    * schema cache warmed by one steady trigger. */
  private def trace(materialized: Boolean, mode: SchemaInference.Mode)
      : ((Seq[String], Int), (Seq[String], Int)) = {
    SchemaInference.clearAll()
    try {
      run(materialized, mode, steady)
      (run(materialized, mode, steady), run(materialized, mode, drifted))
    } finally SchemaInference.clearAll()
  }

  for (mode <- Seq(SchemaInference.Mode.Cached, SchemaInference.Mode.InferAlways))
    test(s"normalize and normalizeMaterialized agree on rows and jobs ($mode)") {
      val ((stagedSteady, stagedSteadyJobs), (stagedDrift, stagedDriftJobs)) =
        trace(materialized = false, mode)
      val ((pinnedSteady, pinnedSteadyJobs), (pinnedDrift, pinnedDriftJobs)) =
        trace(materialized = true, mode)
      assert(stagedSteady.size === 6) // normalize keeps every change, deletes flagged
      assert(stagedDrift.exists(_.startsWith("[x6,")), "the drifted record must survive")
      assert(pinnedSteady === stagedSteady)
      assert(pinnedDrift === stagedDrift)
      val jobs = Map("staged steady" -> stagedSteadyJobs, "staged drift" -> stagedDriftJobs,
        "pinned steady" -> pinnedSteadyJobs, "pinned drift" -> pinnedDriftJobs)
      info(s"jobs: $jobs")
      assert(jobs === expectedJobs(mode))
    }

  /** Both paths run one corrupt count that also fills the persisted
    * parse; staged adds one staging job. A drifted trigger adds one
    * re-inference, and its rejected parse is never staged: staged stages
    * only the re-parse, pinned fills and counts it. The parity mode
    * infers on every call and runs no probe. */
  private def expectedJobs(mode: SchemaInference.Mode): Map[String, Int] = mode match {
    case SchemaInference.Mode.Cached =>
      Map("staged steady" -> 2, "staged drift" -> 3, "pinned steady" -> 1, "pinned drift" -> 3)
    case SchemaInference.Mode.InferAlways =>
      Map("staged steady" -> 2, "staged drift" -> 2, "pinned steady" -> 1, "pinned drift" -> 1)
  }
}
