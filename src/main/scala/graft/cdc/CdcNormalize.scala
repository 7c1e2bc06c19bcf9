package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parses routed raw CDC JSON strings into the engine's normalized change
  * shape: `payload columns ++ (mtime, _hoodie_is_deleted)`.
  *
  * Reference behavior being reproduced (per dialect):
  *  - DMS (`/root/reference/glue/cdc_hudi.py:149-154`): keep
  *    `record-type='data'` rows with `operation` in
  *    (load, insert, update, delete); payload = `data.*`; version key
  *    `mtime` = `metadata.timestamp` (a *string* timestamp, ordered
  *    lexically — ISO-8601 sorts correctly, SURVEY.md §7.4.4); soft-delete
  *    flag from `operation = 'delete'`.
  *  - Flink/Debezium (`glue/cdc_hudi.py:156-161,165-177`): keep `op` in
  *    (c, u, d, r); payload = the `after` image, or the `before` image for
  *    deletes where `after` is null — the reference does that rewrite with
  *    a regex over the raw string (`:172-175`); here it is the structural
  *    `coalesce(after, before)`, observably equivalent post-parse and not
  *    fragile; `mtime` = `ts_ms` (epoch-millis long); delete flag from
  *    `op = 'd'`.
  *
  * The helper `operation_aws` column (op tag) and dedup rank are dropped
  * before the sink exactly like the reference (`glue/cdc_hudi.py:146,154,161`).
  */
object CdcNormalize {

  /** Engine-added column names (Hudi-compatible delete marker,
    * `glue/cdc_hudi.py:153-154,160-161,183-189`). */
  val MtimeCol = "mtime"
  val DeletedCol = "_hoodie_is_deleted"
  /** Corrupt-record column injected during cached-schema parsing so
    * records that no longer fit the cached schema are detectable
    * (PERMISSIVE `from_json` otherwise yields a struct of nulls, never a
    * null struct, so `kdata.isNull` is not a usable probe). */
  val CorruptCol = "_graft_corrupt"

  /** Filter raw strings for one table, parse, and normalize.
    *
    * @param raw   a DataFrame with a single string column `value` (the
    *              Kafka value cast to string, `glue/cdc_hudi.py:95`)
    * @param mode  schema-inference strategy (parity vs cached)
    * @param strictRouting substring-parity router (default) or the
    *              tightened parsed-field router
    * @return None when no records routed to this table in the batch (the
    *         reference skips such tables, `glue/cdc_hudi.py:247,267`)
    */
  def normalize(spark: SparkSession, raw: DataFrame, format: CdcFormat,
                table: SyncTable,
                mode: SchemaInference.Mode = SchemaInference.Mode.InferAlways,
                strictRouting: Boolean = false,
                /** Cached mode only: re-infer on this batch and MERGE with
                  * the cached schema (old ∪ new) instead of trusting the
                  * cache — the pipeline's `revalidateEvery` tick. A merge,
                  * not a reset: a column absent from this batch's sample
                  * must not vanish for later batches that still carry it. */
                forceRefresh: Boolean = false,
                /** Caller already proved ≥1 record routes here (e.g. the
                  * pipeline's one combined routed-count job) — skips the
                  * per-table existence probe. */
                knownNonEmpty: Boolean = false): Option[DataFrame] =
    build(spark, raw, format, table, mode, strictRouting, forceRefresh,
      knownNonEmpty, materialize = false).map(_._1)

  /** The pipeline's hot-path variant: identical output and identical
    * refresh semantics, but the parsed batch is PERSISTED and the
    * cached-schema corrupt check becomes an exact `count` over the
    * cache-materializing scan — so the batch's JSON is parsed exactly
    * once per table per trigger (the old probe's `limit(1).isEmpty`
    * scanned the WHOLE routed set re-parsing JSON whenever there were
    * zero corrupt records — the steady state — and the sink's write
    * then parsed everything a second time). Returns the normalized
    * frame plus `release()`, which the caller MUST invoke after its
    * sink action to unpersist the parse cache. */
  def normalizeMaterialized(spark: SparkSession, raw: DataFrame, format: CdcFormat,
                            table: SyncTable,
                            mode: SchemaInference.Mode = SchemaInference.Mode.InferAlways,
                            strictRouting: Boolean = false,
                            forceRefresh: Boolean = false,
                            knownNonEmpty: Boolean = false): Option[(DataFrame, () => Unit)] =
    build(spark, raw, format, table, mode, strictRouting, forceRefresh,
      knownNonEmpty, materialize = true).map { case (df, cached) =>
      (df, () => cached.foreach(c =>
        try c.unpersist()
        catch { case scala.util.control.NonFatal(_) => () }))
    }

  private def build(spark: SparkSession, raw: DataFrame, format: CdcFormat,
                    table: SyncTable, mode: SchemaInference.Mode,
                    strictRouting: Boolean, forceRefresh: Boolean,
                    knownNonEmpty: Boolean,
                    materialize: Boolean): Option[(DataFrame, Option[DataFrame])] = {
    import spark.implicits._
    val routed0 = raw.where(CdcRouter.substringMatch(col("value"), format, table))
    if (!knownNonEmpty &&
        graft.util.StageProf.timed("normalize.routeEmpty")(routed0.isEmpty))
      return None

    val values = routed0.select(col("value")).as[String]
    // Cache key includes the dialect: the same logical table consumed in
    // two envelope formats has two different envelope schemas, and a
    // shared key would ping-pong between them via the corrupt probe.
    val cacheKey = s"${format.name}:${table.id}"
    def parseSchema(inferred: StructType): StructType =
      if (CdcFormat.isDebeziumLike(format)) withMergedImages(inferred) else inferred
    var schema = parseSchema(
      if (mode == SchemaInference.Mode.Cached && forceRefresh)
        SchemaInference.refresh(spark, cacheKey, values)
      else SchemaInference.forTable(spark, cacheKey, values, mode))

    def parseWith(s: StructType): DataFrame = {
      // Parse with a corrupt-record sidecar so malformed-vs-schema records
      // are observable; projections below never reference CorruptCol, so
      // Catalyst prunes it out of the final plan.
      val withCorrupt = StructType(s.fields :+ StructField(CorruptCol, StringType, nullable = true))
      val p = routed0.select(
        from_json(col("value"), withCorrupt,
          Map("columnNameOfCorruptRecord" -> CorruptCol)).as("kdata"),
        col("value"))
      // Non-materialized path: STAGE the parsed batch. Without the
      // barrier the normalize filter on kdata.op (Debezium) /
      // kdata.metadata (DMS) pushes below this projection and inlines
      // the from_json — the r17 before-plan evaluated the FULL envelope
      // parse twice per row (once in the pushed Filter, once in the
      // Project), and in Cached mode the corrupt probe re-parsed the
      // whole routed set a third time. One parse pass, every consumer
      // (probe + normalize + the query's sink) reads the materialized
      // batch — the batch-query analog of normalizeMaterialized's
      // persist, which the materialize path keeps (its caller needs the
      // release() handle, and persist-then-unpersist is the streaming
      // trigger's lifecycle).
      if (materialize) p else graft.util.Checkpoints.stage(p)
    }
    var parsed = parseWith(schema)
    var cached: Option[DataFrame] = None

    // Cached-mode revalidation: probe for records that fail to parse
    // against the cached schema and re-infer (old ∪ new) once if found.
    // Note this catches records the cached schema cannot parse; *additive*
    // evolution (new optional JSON fields) parses cleanly and is picked up
    // by the pipeline's periodic refresh instead
    // (CdcPipeline.revalidateEvery). In materialize mode the probe doubles
    // as the cache-materializing scan: identical refresh decision, one
    // JSON parse total. It counts through the RDD, a single job with no
    // shuffle, where a DataFrame `count()` is an aggregate that adaptive
    // execution splits into three (cache materialization, map stage,
    // result stage).
    if (mode == SchemaInference.Mode.Cached) {
      if (materialize) {
        def probeCached(p: DataFrame): Long = {
          p.persist()
          cached = Some(p)
          graft.util.StageProf.timed("normalize.corruptCount")(
            p.where(col("kdata").getField(CorruptCol).isNotNull).select(lit(1)).rdd.count())
        }
        if (probeCached(parsed) > 0) {
          cached.foreach(_.unpersist())
          schema = parseSchema(SchemaInference.refresh(spark, cacheKey, values))
          parsed = parseWith(schema)
          probeCached(parsed)
        }
      } else {
        // not persisted: the first failing record suffices
        val failed = graft.util.StageProf.timed("normalize.corruptProbe")(!parsed
          .where(col("kdata").getField(CorruptCol).isNotNull).limit(1).isEmpty)
        if (failed) {
          schema = parseSchema(SchemaInference.refresh(spark, cacheKey, values))
          parsed = parseWith(schema)
        }
      }
    }

    val routed =
      if (strictRouting)
        parsed.where(CdcRouter.strictMatch(col("kdata"), format, table))
      else parsed

    val normalized = format match {
      case CdcFormat.DmsCdc        => normalizeDms(routed, schema)
      case _                       => normalizeDebezium(routed, schema)
    }
    // A table whose routed rows carry no usable envelope (normalized =
    // None) must still release its cache — hand it back for the caller
    // either way; None short-circuits before any persist happened only
    // in the routeEmpty case.
    if (normalized.isEmpty) cached.foreach(_.unpersist())
    normalized.map(df => (df, cached))
  }

  private def fieldType(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  /** DMS: payload = data.*, mtime = metadata.timestamp (string). */
  private def normalizeDms(parsed: DataFrame, schema: StructType): Option[DataFrame] = {
    val dataT = fieldType(schema, "data") match {
      case Some(s: StructType) => s
      case _                   => return None // no row images routed here
    }
    // A substring-router false-positive batch can have 'data' but no
    // 'metadata' struct (or one missing the envelope subfields); treat it
    // like the missing-'data' case instead of throwing AnalysisException.
    val metaOk = fieldType(schema, "metadata") match {
      case Some(m: StructType) =>
        Seq("record-type", "operation", "timestamp").forall(m.fieldNames.contains)
      case _ => false
    }
    if (!metaOk) return None
    val meta = col("kdata.metadata")
    val kept = parsed.where(
      meta.getField("record-type") === "data" &&
        meta.getField("operation").isin("load", "insert", "update", "delete"))
    val payload = dataT.fieldNames.toSeq.map(f => col("kdata.data").getField(f).as(f))
    val out = kept.select(payload ++ Seq(
      meta.getField("timestamp").as(MtimeCol),
      when(meta.getField("operation") === "delete", lit(true)).otherwise(lit(false))
        .as(DeletedCol)): _*)
    Some(out)
  }

  /** Debezium/Flink: when either row image is a struct, both are parsed
    * as the merged image (after ∪ before). JSON inference types an image
    * that is null in every sampled record as a string, and a string
    * schema would keep the later non-null image as raw text: with a
    * cached schema learned from a delete-free trigger, every delete's
    * `before` payload would read as null and the delete would be lost,
    * and a merge refresh cannot repair it (string ∪ struct is string). */
  private def withMergedImages(schema: StructType): StructType = {
    val images = Seq("after", "before")
    images.flatMap(fieldType(schema, _)).collect { case s: StructType => s }
      .reduceOption(SchemaInference.mergeStructs) match {
      case None => schema
      case Some(img) =>
        StructType(schema.fields.filterNot(f => images.contains(f.name)) ++
          images.map(StructField(_, img, nullable = true)))
    }
  }

  /** Debezium/Flink: payload = coalesce(after, before).*, mtime = ts_ms.
    * Both images carry the one merged type ([[withMergedImages]]). */
  private def normalizeDebezium(parsed: DataFrame, schema: StructType): Option[DataFrame] = {
    val payloadT = fieldType(schema, "after") match {
      case Some(s: StructType) => s
      case _                   => return None
    }
    // A substring-router false-positive batch can carry after/before-
    // shaped objects without the op/ts_ms envelope fields; referencing
    // those would throw AnalysisException and fail the batch forever
    // (replay hits the same schema). Treat it like the missing-images
    // case instead — the same rule the DMS twin applies to `metadata`.
    if (!Seq("op", "ts_ms").forall(schema.fieldNames.contains)) return None
    val kept = parsed.where(col("kdata.op").isin("c", "u", "d", "r"))
    val img = coalesce(col("kdata.after"), col("kdata.before"))
    val payload = payloadT.fieldNames.toSeq.map(f => img.getField(f).as(f))
    val out = kept.select(payload ++ Seq(
      col("kdata.ts_ms").as(MtimeCol),
      when(col("kdata.op") === "d", lit(true)).otherwise(lit(false)).as(DeletedCol)): _*)
    Some(out)
  }
}
