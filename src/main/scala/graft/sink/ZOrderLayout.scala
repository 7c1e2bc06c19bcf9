package graft.sink

import graft.functions.ZOrderExpressions
import graft.util.{EpochIndex, TableFs}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order clustered table layout: multi-column file-skipping for the
  * scan-heavy side of a 100 TB deployment.
  *
  * A plain parquet table prunes row groups only on whatever order the
  * data happened to arrive in; partitioning by one column serves one
  * predicate family. Clustering on the Morton key of k columns
  * ([[graft.functions.ZValue]]) gives every output file a tight
  * hyper-rectangle in all k dimensions at once, and a per-file min/max
  * manifest then skips files for a range predicate on ANY of the
  * clustered columns — the public-recipe form of Delta `OPTIMIZE ZORDER
  * BY` / Hudi clustering.
  *
  * Layout (all via the Hadoop [[TableFs]] seam — object-store ready):
  * {{{
  *   root/data/__epoch=e/     clustered parquet files (base + appends)
  *   root/manifest/__epoch=e/ one row per data file: min/max per column
  *   root/meta/               clustered column names + boundaries + bits
  * }}}
  *
  * Scale notes:
  *  - boundaries come from ONE `approxQuantile` pass (driver receives
  *    k·255 doubles — a bounded planning collect, the IVF-centroid
  *    pattern);
  *  - the write is ONE range-partition shuffle on the z-key (the same
  *    shuffle a `repartitionByRange` compaction already pays) plus a
  *    within-partition sort that parquet turns into tight row-group
  *    stats;
  *  - the manifest is one row per FILE (100 TB / 512 MB ≈ 200 k rows —
  *    driver-safe), collected once per pruned read and filtered before
  *    any data IO is planned.
  */
object ZOrderLayout {

  /** Cluster `df` on `cols` (numeric; cast to double for ranking only —
    * stored values are untouched) into `targetFiles` z-sorted files. */
  /** Bucket bits per column: resolution must GROW with the clustered
    * domain or an absolute-size rectangle stops pruning at scale (the
    * ladder's `zorder_files_read` rung measured exponent 0.83 with
    * fixed 8-bit buckets vs ~0 with scaled bits). ≥16 buckets per
    * target file keeps bucket width well under file width; floor 8
    * bits, ceiling 63/k bits (the long key). */
  private[sink] def bitsFor(nCols: Int, targetFiles: Int): Int = {
    val wanted = math.ceil(
      math.log(math.max(256.0, 16.0 * targetFiles)) / math.log(2.0)).toInt
    math.min(math.max(8, wanted), 63 / nCols)
  }

  /** `fixedBoundaries` = (per-column boundaries, bits): when set, the
    * quantile pass is SKIPPED and the given bucketing is reused —
    * [[optimize]]'s default, so preserved epochs and the rebuilt base
    * keep sharing one key space; None derives fresh equi-depth
    * boundaries from `df` (initial builds and drift repair). */
  def write(df: DataFrame, cols: Seq[String], path: String,
            targetFiles: Int = 64,
            fixedBoundaries: Option[(Seq[Array[Double]], Int)] = None): Unit = {
    require(cols.nonEmpty && cols.size <= ZOrderExpressions.MaxCols)
    val spark = df.sparkSession
    val fs = new TableFs(path, spark.sparkContext.hadoopConfiguration)
    // 2^bits - 1 interior quantile boundaries per column = 2^bits
    // equi-depth buckets; relativeError keeps rank skew under a bucket.
    val (boundaries: Seq[Array[Double]], bits: Int) = fixedBoundaries match {
      case Some((b, storedBits)) =>
        require(b.size == cols.size,
          s"fixed boundaries for ${b.size} cols, clustering ${cols.size}")
        (b, storedBits)
      case None =>
        val bits = bitsFor(cols.size, targetFiles)
        val nBuckets = 1 << bits
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        val asDouble = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
        (asDouble.stat.approxQuantile(cols.toArray, probs,
          0.25 / nBuckets).toSeq, bits)
    }
    val zc = ZOrderExpressions.zValue(
      cols.map(c => col(c).cast("double")), boundaries, bits)
    // epoch-FIRST layout (`data/__epoch=base/`, the engine's index
    // convention): appends land as sibling epoch dirs and a replayed
    // stream batch overwrites ONLY its own epoch — see [[append]].
    // A full (re)write is the whole table: clear prior epochs first —
    // per-dir overwrite would otherwise leave stale append siblings.
    fs.deleteRecursively("data")
    fs.deleteRecursively("manifest")
    df.withColumn("__z", zc)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(fs.str("data/__epoch=base"))
    // Per-file min/max manifest: one metadata pass over the just-written
    // files (column-pruned to the clustered columns), grouped by file.
    val written = df.sparkSession.read.parquet(fs.str("data"))
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")) }
    written
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(fs.str("manifest/__epoch=base"))
    import df.sparkSession.implicits._
    cols.zip(boundaries).map { case (c, b) => (c, b.toSeq, bits) }
      .toDF("col", "boundaries", "bits")
      .coalesce(1).write.mode("overwrite").parquet(fs.str("meta"))
  }

  /** The table as an [[EpochIndex]]: `data` and `manifest` are its
    * epoch tables, `meta` the sentinel of the [[optimize]] swap, whose
    * crashed state every reader entry point rolls forward. */
  private def index(spark: SparkSession, path: String) =
    new EpochIndex(spark, path, "data", "manifest")

  private def readMeta(spark: SparkSession, fs: TableFs)
      : (Seq[String], Seq[Array[Double]], Int) = {
    index(spark, fs.rootPath.toString).recover()
    val rows = spark.read.parquet(fs.str("meta"))
      .select(col("col"), col("boundaries").cast("array<double>"),
        col("bits").cast("int"))
      .collect()
    require(rows.nonEmpty, "empty z-order meta")
    (rows.map(_.getString(0)).toSeq,
      rows.map(_.getSeq[Double](1).toArray).toSeq,
      rows.head.getInt(2))
  }

  /** Fold a new batch into an existing clustered table WITHOUT
    * re-clustering the world: the batch is z-sorted under the STORED
    * boundaries (no re-quantile — the bucketing stays stable so old and
    * new files share one key space) and lands as the `__epoch=<epoch>`
    * sibling of the base layout, with ONLY its own files' min/max rows
    * written under the matching manifest epoch — O(batch) everywhere,
    * no table scan, no file diffing, and IDEMPOTENT per epoch (a
    * replayed stream batch overwrites its own data AND manifest
    * partitions — the [[graft.stream.StreamZOrder]] at-least-once
    * seam). Under data drift the stored boundaries slowly skew
    * equi-depth into unequal buckets; pruning stays CORRECT (min/max is
    * per actual file content) but gradually loosens — [[optimize]] is
    * the scheduled repair, exactly the Delta/Hudi
    * append-then-recluster loop. */
  def append(df: DataFrame, path: String, epoch: String,
             batchFiles: Int = 8): Unit = {
    EpochIndex.checkEpoch(epoch)
    val spark = df.sparkSession
    val fs = new TableFs(path, spark.sparkContext.hadoopConfiguration)
    val (cols, boundaries, bits) = readMeta(spark, fs)
    val zc = ZOrderExpressions.zValue(
      cols.map(c => col(c).cast("double")), boundaries, bits)
    val epochDir = fs.str(s"data/__epoch=$epoch")
    df.withColumn("__z", zc)
      .repartitionByRange(batchFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(epochDir)
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")) }
    spark.read.parquet(epochDir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(fs.str(s"manifest/__epoch=$epoch"))
  }

  /** Re-cluster the whole table into `targetFiles` fresh z-sorted files
    * (the OPTIMIZE step after a run of appends): the new layout is
    * built COMPLETELY in a staging dir while readers still see the old
    * files, then swapped in via ordered renames. The swap is
    * crash-safe by ROLL-FORWARD, not atomicity: old dirs are renamed
    * aside (`__old/`, meta first), staged dirs renamed in (meta LAST),
    * then `__old`/`__compact` deleted — so primary `meta` present ⟺
    * table complete, and a crash at ANY point leaves a state
    * [[EpochIndex.recover]] (run by every reader entry) finishes
    * deterministically. No window strands the table.
    *
    * Boundaries: by default the STORED quantile boundaries are REUSED
    * (`fixedBoundaries` into [[write]]) — appends and the rebuilt base
    * keep one key space, and a replayed stream recluster is
    * content-stable. Under key drift equi-depth degrades (pruning
    * stays CORRECT — min/max is per actual file content — but
    * loosens); `rederiveBoundaries = true` is the scheduled repair: it
    * re-runs `approxQuantile` over the folded table and publishes new
    * boundaries through the same swap. Files in PRESERVED epochs were
    * sorted under the old boundaries and keep their old (still
    * correct) manifest rectangles until they fold in a later
    * optimize. */
  /** `preserveEpochs` is the STREAMING compaction seam
    * ([[graft.stream.StreamZOrder]]): epochs listed there are left in
    * place as sibling dirs instead of folded into the rebuilt base.
    * Inside `foreachBatch`, every batch below the current id is
    * checkpoint-committed by definition, so folding them is safe; the
    * CURRENT batch's epoch must be preserved — a crashed attempt may
    * have left it on disk, and folding it before the replay re-appends
    * would duplicate its rows. */
  def optimize(spark: SparkSession, path: String,
               targetFiles: Int = 64,
               preserveEpochs: Seq[String] = Nil,
               rederiveBoundaries: Boolean = false): Unit =
    optimizeImpl(spark, path, targetFiles, preserveEpochs,
      rederiveBoundaries, crashAtRename = Int.MaxValue)

  /** [[optimize]] with a crash-injection seam for the spec:
    * `crashAtRename = k` throws immediately before the (k+1)-th swap
    * rename, leaving exactly the on-disk state a real crash at that
    * point would — the crash-matrix spec drives every window and
    * asserts readers roll forward. */
  private[sink] def optimizeImpl(spark: SparkSession, path: String,
               targetFiles: Int,
               preserveEpochs: Seq[String],
               rederiveBoundaries: Boolean,
               crashAtRename: Int): Unit = {
    require(!preserveEpochs.contains("base"), "base is always folded")
    val fs = new TableFs(path, spark.sparkContext.hadoopConfiguration)
    val (cols, storedBoundaries, storedBits) = readMeta(spark, fs)
    // readMeta rolled forward any crashed swap; whatever __old or
    // __compact remains is a stale crashed CLEANUP or BUILD — safe to
    // clear before building fresh
    fs.deleteRecursively("__old")
    fs.deleteRecursively("__compact")
    val staged = s"$path/__compact"
    val all = spark.read.parquet(fs.str("data"))
    val foldable = EpochIndex.without(all, preserveEpochs)
    val fixed =
      if (rederiveBoundaries) None else Some((storedBoundaries, storedBits))
    write(foldable.drop("__epoch"), cols, staged, targetFiles, fixed)
    // fix up the staged manifest BEFORE the swap: paths point into
    // __compact (string surgery, no data IO), and the discovered
    // __epoch partition value must not become a data column
    val mdf = spark.read.parquet(s"$staged/manifest").drop("__epoch")
      .withColumn("file",
        regexp_replace(col("file"), "/__compact/data/", "/data/"))
    val m = mdf.collect()
    val stagedFs = new TableFs(staged, spark.sparkContext.hadoopConfiguration)
    stagedFs.deleteRecursively("manifest")
    spark.createDataFrame(java.util.Arrays.asList(m: _*), mdf.schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(stagedFs.str("manifest/__epoch=base"))
    // COPY (not move) the preserved epochs into the staged layout: the
    // live table must stay complete until the swap starts — a crash
    // here leaves the primaries untouched and `__compact` stale, which
    // the next optimize simply clears
    val hfs = fs.rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (e <- preserveEpochs; d <- Seq("data", "manifest")
         if fs.exists(s"$d/__epoch=$e")) {
      val src = new org.apache.hadoop.fs.Path(fs.str(s"$d/__epoch=$e"))
      val dst = new org.apache.hadoop.fs.Path(stagedFs.str(s"$d/__epoch=$e"))
      require(org.apache.hadoop.fs.FileUtil.copy(hfs, src, hfs, dst,
        false, spark.sparkContext.hadoopConfiguration),
        s"optimize preserve copy failed: $src -> $dst")
    }
    // THE SWAP: meta aside first and in last (EpochIndex / StagedSwap)
    index(spark, path).swapStaged(crashAtRename)
  }

  /** Full-table read (no pruning) — the correctness baseline. The
    * `__epoch` partition value is layout plumbing, not table schema —
    * dropped here so readers see exactly the written columns. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = new TableFs(path, spark.sparkContext.hadoopConfiguration)
    index(spark, path).recover()
    spark.read.parquet(fs.str("data")).drop("__epoch")
  }

  /** Inclusive range predicates per clustered column:
    * col -> (lowerOpt, upperOpt). */
  type Ranges = Map[String, (Option[Double], Option[Double])]

  /** Files whose manifest rectangle intersects `ranges`, plus the total
    * file count — exposed for specs/bench so pruning is measurable, not
    * asserted by vibes. */
  def candidateFiles(spark: SparkSession, path: String,
                     ranges: Ranges): (Seq[String], Int) = {
    val fs = new TableFs(path, spark.sparkContext.hadoopConfiguration)
    index(spark, path).recover()
    val manifest = spark.read.parquet(fs.str("manifest"))
    val keep = ranges.foldLeft(lit(true)) { case (acc, (c, (lo, hi))) =>
      val loOk = lo.map(v => col(s"max_$c").cast("double") >= v).getOrElse(lit(true))
      val hiOk = hi.map(v => col(s"min_$c").cast("double") <= v).getOrElse(lit(true))
      acc && loOk && hiOk
    }
    // manifest is one row per file — bounded driver collect by design
    val all = manifest.select("file").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect()
    val kept = manifest.where(keep).select("file")
      .as[String](org.apache.spark.sql.Encoders.STRING).collect()
    (kept.toSeq, all.length)
  }

  /** Manifest-pruned scan: only files whose min/max rectangle can hold
    * a matching row are opened; the row-level predicate is then applied
    * on top (file skipping is a superset filter, never the answer).
    * An empty candidate list yields an empty frame with the table
    * schema. */
  def readPruned(spark: SparkSession, path: String, ranges: Ranges): DataFrame = {
    val (files, _) = candidateFiles(spark, path, ranges)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          read(spark, path).schema)
      else spark.read.parquet(files: _*)
    ranges.foldLeft(base) { case (df, (c, (lo, hi))) =>
      val f1 = lo.map(v => col(c).cast("double") >= v).getOrElse(lit(true))
      val f2 = hi.map(v => col(c).cast("double") <= v).getOrElse(lit(true))
      df.where(f1 && f2)
    }
  }
}
