package graft.sink

import graft.cdc.{CdcNormalize, LatestPerKey, SchemaInference}

import graft.util.TableFs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** A keyed, latest-wins, soft-delete-aware upsert table over parquet —
  * the Hudi-COW-equivalent MERGE sink (SURVEY.md §2.6 K1).
  *
  * Semantics reproduced from the reference's Hudi writer
  * (`/root/reference/glue/cdc_hudi.py:183-216`):
  *  - record key = configured primary-key columns (composite allowed,
  *    `glue/cdc_hudi.py:188`), table non-partitioned (`:196`);
  *  - precombine/version ordering on `mtime`: newest version wins both
  *    within the incoming batch AND against stored data
  *    (`DefaultHoodieRecordPayload`, `glue/cdc_hudi.py:189,195`); on equal
  *    versions the incoming record wins (Hudi compares
  *    `incoming.orderingVal >= stored.orderingVal`);
  *  - a row arriving with `_hoodie_is_deleted = true` hard-deletes its key
  *    (`glue/cdc_hudi.py:183-185` config + soft-delete flag at `:153,160`) —
  *    an *older*-versioned event arriving later re-inserts, exactly like
  *    Hudi after the delete compacted away;
  *  - schema auto-evolution incl. column add/drop (`glue/cdc_hudi.py:205`):
  *    merge is by column name with null-padding and numeric widening;
  *  - atomic visibility: Hudi's commit timeline becomes
  *    write-new-snapshot-dir + atomically swap a pointer file, so readers
  *    never observe a half-written table.
  *
  * Scale notes (100 TB): the merge is ONE shuffle — a hash aggregate
  * (`max_by`) on the key columns with map-side partial aggregation, so
  * duplicate-heavy batches collapse before crossing the wire and hot keys
  * don't become sort-based WindowExec stragglers. Stored and incoming
  * sides are unioned, not joined, so there is no build-side memory risk;
  * AQE handles skewed key partitions. COW write amplification (full
  * rewrite per batch) matches the reference's COPY_ON_WRITE choice.
  */
final class KeyedUpsertTable(
    spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val versionCol: String = CdcNormalize.MtimeCol,
    /** Snapshots retained after each commit (current + history for
      * in-flight readers) — the reference's cleaner keeps 2 commits
      * (`glue/cdc_hudi.py:198-200`); unbounded retention at one COW
      * rewrite per micro-batch is unbounded disk growth. */
    val retainSnapshots: Int = 2,
    /** Deterministic tiebreak columns applied after `versionCol` (e.g. an
      * event id) so version-tied rows merge reproducibly. */
    val tiebreak: Seq[String] = Nil,
    /** Hive-sync equivalent: when set (`[db.]table`), every commit
      * (re)registers the current snapshot under this name in the session
      * catalog, so users query `spark.table("db.table")` by name — the
      * reference syncs each table into Glue/Hive the same way
      * (`glue/cdc_hudi.py:190-194`). */
    val catalogTable: Option[String] = None,
    /** The catalog binding the sync publishes through; None = the
      * session catalog ([[SessionCatalogSync]]). A cluster deployment
      * swaps in its metastore binding here (see [[CatalogSync]]). */
    catalogSync: Option[CatalogSync] = None) extends UpsertSink {
  require(keys.nonEmpty, "keyed table needs at least one key column")
  require(retainSnapshots >= 1, "must retain at least the current snapshot")
  require(catalogTable.forall(_.split('.').length <= 2),
    s"catalogTable must be [db.]table, got $catalogTable")

  private val catalog: CatalogSync =
    catalogSync.getOrElse(new SessionCatalogSync(spark))

  /** The manifest/pointer filesystem — resolved from the root's scheme
    * through the session's Hadoop configuration, so a `file://`,
    * `hdfs://`, or object-store root all work and metadata always lives
    * on the same filesystem as the data ([[graft.util.TableFs]]). */
  private val tfs = new TableFs(root, spark.sparkContext.hadoopConfiguration)

  /** Name of the snapshot directory currently visible to readers. */
  def currentSnapshot(): Option[String] = Snapshots.current(tfs)

  /** The latest snapshot this instance committed or read, with its read
    * schema. Snapshot directories are immutable once the pointer names
    * them, so while the pointer still names this one its schema need not
    * be inferred again (inference is a Spark job per read). */
  @volatile private var known: Option[(String, StructType)] = None

  /** Current table state, or None before the first commit. */
  def read(): Option[DataFrame] =
    currentSnapshot().map { s =>
      known match {
        case Some((`s`, schema)) => spark.read.schema(schema).parquet(tfs.str(s))
        case _ =>
          val df = spark.read.parquet(tfs.str(s))
          known = Some(s -> df.schema)
          df
      }
    }

  /** Point-lookup read on the COW layout: the current state for exactly
    * the keys in `keysDf`. The COW table has no bucket structure to
    * prune, so the lookup collects the key tuples (bounded planning
    * collect — point lookups are small by contract; `maxKeys` makes
    * that loud) and pushes them as literal `In` filters into the
    * parquet scan, where row-group min/max statistics skip non-matching
    * groups. The bucketed/MOR layouts' [[MorUpsertTable.readForKeys]]
    * is the stronger form (dir-level pruning); this is the best the
    * single-snapshot layout can do, and the filter pushdown is
    * spec-asserted. */
  def readForKeys(keysDf: DataFrame, maxKeys: Int = 10000): Option[DataFrame] =
    read().map { state =>
      val keyCols = keys.map(col)
      val rows = keysDf.select(keyCols: _*).distinct().limit(maxKeys + 1).collect()
      require(rows.length <= maxKeys,
        s"readForKeys is a point-lookup API (> $maxKeys keys collected); " +
          "scan read() with a join for batch-sized key sets")
      if (rows.isEmpty) state.where(lit(false))
      else {
        // per-column isin is the PUSHABLE (over-approximating, for
        // composite keys) predicate parquet row-group stats answer
        val pred = keys.zipWithIndex.map { case (k, i) =>
          col(k).isin(rows.map(_.get(i)).distinct.toSeq: _*)
        }.reduce(_ && _)
        val filtered = state.where(pred)
        if (keys.size == 1) filtered // single key: isin IS exact
        else // exact tuple membership via broadcast semi-join, no
             // O(|keys|)-term expression tree
          filtered.join(broadcast(keysDf.select(keyCols: _*).distinct()),
            keys, "left_semi")
      }
    }

  /** Apply one batch of change rows (payload ++ mtime ++
    * `_hoodie_is_deleted`). Pure-plan merge; one action (the write). */
  def upsert(batch: DataFrame): Unit = {
    commit(KeyedUpsertTable.merge(read(), batch, keys, versionCol, tiebreak))
  }

  /** Atomically publish a new snapshot: write to a fresh directory, then
    * swap the pointer file via ATOMIC_MOVE (the parquet write itself is a
    * Spark job; the publish is a single filesystem rename). */
  private def commit(df: DataFrame): Unit = {
    tfs.mkdirs("")
    val next = "snap-" + Snapshots.nextId(currentSnapshot())
    df.write.mode("overwrite").parquet(tfs.str(next))
    tfs.swapPointer("_current", next)
    known = Some(next -> ParquetSchema.asRead(df.schema))
    syncCatalog()
    cleanOldSnapshots()
  }

  /** (Re)register the current snapshot in the session catalog under
    * [[catalogTable]] — the hive-sync step (`glue/cdc_hudi.py:190-194`).
    * Location-based (external) tables are metadata-only: DROP never
    * touches data, and re-creating re-derives the schema so column
    * evolution propagates to by-name readers. Runs after the pointer
    * swap, mirroring Hudi's sync-after-commit ordering. */
  def syncCatalog(): Unit = catalogTable.foreach { fqn =>
    currentSnapshot().foreach { snap =>
      // publish through the CatalogSync seam: the ALTER-vs-recreate
      // discipline lives in the binding (SessionCatalogSync for the
      // in-session default) — the sink only decides WHAT to publish
      catalog.publishExternalTable(fqn.split('.').toSeq,
        tfs.resolve(snap).toUri)
    }
  }

  /** Hudi-cleaner equivalent: after the pointer swap, delete every
    * snapshot older than the newest `retainSnapshots`. Runs only after
    * publish, so readers of the current snapshot are never affected. */
  private def cleanOldSnapshots(): Unit =
    Snapshots.listed(tfs).dropRight(retainSnapshots).foreach(tfs.deleteRecursively)
}

object KeyedUpsertTable {

  /** The merge plan: `stored ∪ batch → latest-per-key → drop deleted`.
    * Exposed separately from the table so it can be oracle-checked as a
    * pure query (driver t2) and reused by batch jobs.
    *
    * Column evolution: both sides are aligned onto the union of their
    * columns (missing columns null-padded, conflicting numeric types
    * widened via [[SchemaInference.mergeStructs]]) before the union —
    * `glue/cdc_hudi.py:205` semantics without Hudi.
    */
  def merge(stored: Option[DataFrame], batch: DataFrame, keys: Seq[String],
            versionCol: String, tiebreak: Seq[String] = Nil): DataFrame = {
    val src = "__graft_src"
    val deduped = stored match {
      case None => latest(batch, keys, versionCol, tiebreak)
      case Some(s) =>
        val target = SchemaInference.mergeStructs(s.schema, batch.schema)
        val union = align(s, target).withColumn(src, lit(0))
          .unionByName(align(batch, target).withColumn(src, lit(1)))
        // incoming (1) beats stored (0) only on full version ties
        // (DefaultHoodieRecordPayload's >= comparison)
        latest(union, keys, versionCol, tiebreak, rank = Some(src)).drop(src)
    }
    deduped.where(!col(CdcNormalize.DeletedCol))
  }

  /** The latest-wins rule both keyed sinks merge by: the survivor per key
    * is the `max_by` over (version, tiebreak…, rank). Version dominates;
    * `rank` breaks full ties, later writes ranking higher: the COW
    * merge's incoming-over-stored rank, the bucketed sink's commit
    * sequence. In-batch dedup has no rank. Tombstones survive; the
    * caller drops them. */
  private[sink] def latest(rows: DataFrame, keys: Seq[String], versionCol: String,
                           tiebreak: Seq[String], rank: Option[String] = None): DataFrame =
    LatestPerKey.maxBy(rows, keys, ((versionCol +: tiebreak) ++ rank).map(col))

  /** Project `df` onto `target`: null-pad missing columns, cast widened
    * ones, keep `target` field order for a stable union. Shared with
    * the MOR sink's log alignment. */
  private[sink] def align(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(target.fields.toSeq.map { f =>
      have.get(f.name) match {
        case Some(t) if t == f.dataType => col(f.name)
        case Some(_)                    => col(f.name).cast(f.dataType).as(f.name)
        case None                       => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }
}
