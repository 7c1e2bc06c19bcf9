package graft.ext

import graft.functions.VectorExpressions
import graft.util.EpochIndex

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-Flat approximate nearest-neighbor search: a coarse spherical
  * k-means quantizer partitions the corpus into `nCells` inverted lists;
  * a query probes only its `nProbe` nearest cells and verifies exact
  * cosine inside them (the classic IVF index design, re-expressed as
  * DataFrame ops — SURVEY.md §2.8's "IVF or LSH-bucketed variant as the
  * scale path", the IVF half).
  *
  * Contrast with [[Similarity.lshTopK]]: LSH is data-INDEPENDENT (random
  * hyperplanes, no training, recall bought with more tables), IVF is
  * data-ADAPTED — centroids learn the corpus's cluster structure, so the
  * same probe budget buys more recall on real embedding corpora, at the
  * cost of a training pass and a stale-centroid story under corpus
  * drift. A 100 TB pipeline wants both on the shelf; the recall/prune
  * trade is asserted against the exact baseline in IvfSpec.
  *
  * Scale shape:
  *  - TRAINING runs on a bounded deterministic sample: `maxTrain` rows
  *    picked by the [[Sampling]] key scramble via orderBy+limit — Spark
  *    plans TakeOrderedAndProject (per-partition top-N, one merge),
  *    never a full sort. Lloyd then iterates driver-side over that
  *    sample: at the defaults ≤ 25600 × dim doubles (~13 MB at dim 64) —
  *    planning metadata of the same kind as the LSH plane family, NOT a
  *    corpus-sized collect (coarse quantizers are conventionally trained
  *    on a sample this size). Assignment and search stay fully
  *    distributed.
  *  - ASSIGN/PROBE are one codegen'd kernel pass per row
  *    ([[graft.functions.NearestCells]]); the centroids ride into the
  *    plan as constants — no join against a centroid table, nothing
  *    shuffled to find a cell.
  *  - The probe join is an EQUI-join on `cell`: at 100 TB the corpus is
  *    written bucketed by cell once and each query touches `nProbe`
  *    buckets. Candidate streams carry IDS ONLY (vectors join back
  *    exactly once per side, same discipline as `Similarity`'s
  *    bucketStream), and candidate pairs are unique BY CONSTRUCTION — a
  *    corpus vector lives in exactly one cell and a query's probed cells
  *    are distinct — so the `distinct()` shuffle the LSH path must pay
  *    is absent here.
  */
object Ivf {

  /** Trained coarse quantizer: unit-norm centroid rows (spherical
    * k-means — dot ranking against unit centroids ≡ cosine ranking). */
  final case class Model(centroids: Array[Array[Double]]) {
    require(centroids.nonEmpty, "empty model")
    def nCells: Int = centroids.length
    def dim: Int = centroids(0).length
    private[ext] def asSeq: Seq[Seq[Double]] = centroids.map(_.toSeq).toSeq
  }

  /** Train `nCells` spherical-k-means centroids on a bounded
    * deterministic sample of `corpus`. Reproducible end to end: the
    * sample is scramble-ordered (same rows every run/retry/engine),
    * seeding takes the first `nCells` DISTINCT sample vectors in that
    * order, and all ties break on the lower index — two calls yield
    * bit-identical models (asserted in IvfSpec). Zero vectors are
    * excluded from training (no direction to learn); empty cells keep
    * their previous centroid. */
  def train(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int,
            maxTrain: Int = 25600, iters: Int = 10): Model = {
    require(nCells >= 1 && iters >= 0 && maxTrain >= 1, "bad train params")
    // the deterministic sample scrambles the NUMERIC id; a string id
    // would cast to null and silently de-determinize training
    require(corpus.schema(idCol).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"IVF training requires a numeric id column, got " +
        s"${corpus.schema(idCol).dataType.sql} for $idCol — pre-fold string " +
        "ids to a long (e.g. xxhash64)")
    val sample = corpus
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
      .orderBy(Sampling.bucket(col("__id")), col("__id"))
      .limit(maxTrain)
      .select("__v")
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .map(unit)
      .filter(_ != null)
    require(sample.nonEmpty, "IVF training: no non-zero vectors in corpus")
    val dim = sample(0).length
    var cents = seedCentroids(sample, nCells)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Int](nCells)
      sample.foreach { v =>
        val c = nearest(cents, v)
        val sv = sums(c)
        var i = 0
        while (i < dim) { sv(i) += v(i); i += 1 }
        counts(c) += 1
      }
      cents = Array.tabulate(nCells) { c =>
        // normalizing the sum ≡ normalizing the mean; a zero-sum or
        // empty cell keeps its centroid (stays a valid, possibly unused
        // cell rather than NaN-poisoning every later assignment)
        val u = if (counts(c) == 0) null else unit(sums(c))
        if (u == null) cents(c) else u
      }
      it += 1
    }
    Model(cents)
  }

  /** First `k` distinct sample vectors in scramble order; if the corpus
    * has fewer distinct directions than cells, the surplus seeds repeat
    * (their cells simply end up empty — harmless, probes still work). */
  private def seedCentroids(sample: Array[Array[Double]],
                            k: Int): Array[Array[Double]] = {
    val out = new scala.collection.mutable.ArrayBuffer[Array[Double]](k)
    val seen = new scala.collection.mutable.HashSet[Seq[Double]]()
    var i = 0
    while (i < sample.length && out.size < k) {
      if (seen.add(sample(i).toSeq)) out += sample(i)
      i += 1
    }
    i = 0
    while (out.size < k) { out += sample(i % sample.length); i += 1 }
    out.toArray
  }

  /** v/|v|, or null for the zero vector. */
  private def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    if (s == 0.0) null
    else {
      val n = math.sqrt(s)
      val o = new Array[Double](v.length)
      i = 0
      while (i < v.length) { o(i) = v(i) / n; i += 1 }
      o
    }
  }

  /** argmax dot (ties → lower index), driver-side Lloyd inner loop. */
  private def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bs = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * w(i); i += 1 }
      if (s > bs) { bs = s; best = c }
      c += 1
    }
    best
  }

  /** Persist a trained model as a tiny (cell, centroid) parquet table.
    * A real pipeline trains the quantizer ONCE and reuses it across
    * ingest/search jobs (retraining per job would silently reshuffle
    * every stored cell assignment); this is the train-once artifact. */
  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model saved by [[save]] — bit-identical round trip
    * (doubles pass through parquet unchanged; asserted in IvfSpec). */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path)
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .orderBy("cell").collect()
    require(rows.nonEmpty, s"empty IVF model at $path")
    require(rows.map(_.getInt(0)).toSeq == rows.indices,
      s"IVF model at $path has missing/duplicate cells")
    Model(rows.map(_.getSeq[Double](1).toArray))
  }

  /** The cell a vector belongs to (nearest centroid, kernel pass). */
  def cellOf(vec: Column, model: Model): Column =
    element_at(
      VectorExpressions.nearestCells(vec.cast("array<double>"), model.asSeq, 1), 1)

  /** Corpus with its `cell` assignment — at 100 TB, write this bucketed
    * by `cell` once and every later probe is a bucket-pruned read. */
  def assignCells(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("cell", cellOf(col(vecCol), model))

  /** Inverted-list occupancy: vectors per cell. The balance check to run
    * before trusting an IVF configuration — one near-universal cell
    * means the quantizer degenerated and probes stop pruning. */
  def cellStats(corpus: DataFrame, vecCol: String, model: Model): DataFrame =
    assignCells(corpus, vecCol, model)
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))

  /** (query_id, neighbor_id) candidate pairs: corpus vectors in any of
    * the query's `nProbe` nearest cells. Id-only streams; pairs unique
    * by construction (no distinct — see object scaladoc). */
  def probeCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, model: Model, nProbe: Int,
                      broadcastQueries: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      cellOf(col(vecCol), model).as("cell"))
    val q0 = queries.select(col(idCol).as("query_id"),
      explode(VectorExpressions.nearestCells(
        col(vecCol).cast("array<double>"), model.asSeq, nProbe)).as("cell"))
    val q = if (broadcastQueries) broadcast(q0) else q0
    c.join(q, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
  }

  /** Approximate top-k: probe `nProbe` cells, verify exact cosine inside
    * them (rounded to 1e-6 with id tie-breaks — the same deterministic
    * ranking contract as [[Similarity.bruteForceTopK]]). */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, model: Model, nProbe: Int,
           broadcastQueries: Boolean = true): DataFrame = {
    val cands = probeCandidates(corpus, queries, idCol, vecCol, model,
      nProbe, broadcastQueries)
    verifyTopK(cands, corpus, queries, idCol, vecCol, k, broadcastQueries)
  }

  /** Shared exact-verify + ranking stage: vectors join the id-only
    * candidate pairs once per side; window top-k with the deterministic
    * (sim desc, id asc) contract. */
  private def verifyTopK(cands: DataFrame, corpus: DataFrame,
                         queries: DataFrame, idCol: String, vecCol: String,
                         k: Int, broadcastQueries: Boolean): DataFrame = {
    val qv0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      Similarity.l2(col(vecCol)).as("__qn"))
    val qv = if (broadcastQueries) broadcast(qv0) else qv0
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      Similarity.l2(col(vecCol)).as("__cn"))
    // THE module similarity expression (Similarity.pairSim) — not a
    // local copy: the found-⊆-exact and parity gates rely on every
    // ranking and verification sharing one scoring expression.
    val sim = Similarity.pairSim(col("__qv"), col("__qn"),
      col("__cv"), col("__cn"))
    val scored = cands.join(qv, "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), sim.as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Persist the corpus as a searchable IVF index: the model artifact
    * plus the data laid out ONE PARQUET PARTITION DIRECTORY PER CELL.
    * This is the one-time 100 TB bucketing pass the probe path relies
    * on — after it, a search reads `nProbe` directories, not the
    * corpus. */
  def writeIndex(corpus: DataFrame, vecCol: String, model: Model,
                 path: String): Unit = {
    save(corpus.sparkSession, model, s"$path/model")
    // epoch-FIRST layout (`data/__epoch=base/cell=N/`), the
    // IncrementalMinHash convention: appends land as sibling epoch
    // dirs, so a replayed stream batch overwrites ITS OWN epoch only,
    // and readers can exclude an in-flight epoch by partition value.
    // Partition discovery exposes both `__epoch` and `cell`; the probe
    // path's cell pruning is unaffected (cell is still a partition col
    // at every epoch).
    assignCells(corpus, vecCol, model)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/data/__epoch=base")
  }

  /** Fold new vectors into a written index: assign cells under the
    * index's OWN model and write them as the `__epoch=<epoch>` sibling
    * of the base layout — O(batch) writes, the ANN counterpart of the
    * dedup index's `appendToIndex`, IDEMPOTENT per epoch (a replayed
    * batch overwrites its own epoch dir — the at-least-once seam
    * [[StreamIvf]] relies on). The coarse quantizer deliberately stays
    * fixed (retraining would silently reshuffle every stored cell
    * assignment — the [[save]] scaladoc's train-once contract); under
    * corpus drift, recall degrades gracefully until a scheduled
    * re-train + re-bucket, which is a REBUILD, not an append. Appended
    * ids must be disjoint from every id already indexed, and each
    * append needs its own epoch name. */
  def appendToIndex(newVectors: DataFrame, vecCol: String,
                    path: String, epoch: String): Unit = {
    EpochIndex.checkEpoch(epoch)
    val spark = newVectors.sparkSession
    val model = load(spark, s"$path/model")
    assignCells(newVectors, vecCol, model)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/data/__epoch=$epoch")
  }

  /** Top-k against a written index, in one of two probe-resolution
    * modes (spec-asserted identical output):
    *
    *  - `broadcastProbes = true` (default — the interactive-serving
    *    shape): the queries' probe cells resolve FIRST via one bounded
    *    driver collect (|queries| × nProbe ints — the query set is a
    *    probe set by contract; same bounded-collect planning
    *    discipline as the bucketed sink's manifest), then the corpus
    *    scan is STATICALLY pruned to those partition directories —
    *    `PartitionFilters` in the scan, asserted in IvfSpec — and the
    *    probe pairs broadcast into the candidate join.
    *  - `broadcastProbes = false` (the batch shape for million-query
    *    probe sets): NO driver collect anywhere — the probe pairs stay
    *    a distributed plan and the prune is pushed as an equi-JOIN on
    *    `cell`, so query-set size is bounded by cluster memory, not
    *    driver memory. The corpus scan is not statically pruned (the
    *    cells aren't known at plan time); at that query scale most
    *    cells are probed anyway, so the scan-vs-prune trade favors the
    *    join. Queries are also NOT broadcast in the verify stage.
    *
    * Cell assignments come from the layout in both modes, not a
    * re-derivation; ranking is identical to [[topK]]. */
  def topKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int,
                  broadcastProbes: Boolean = true,
                  excludeEpochs: Seq[String] = Nil): DataFrame =
    topKIndexedWith(spark, load(spark, s"$path/model"), path, queries,
      idCol, vecCol, k, nProbe, broadcastProbes, excludeEpochs)

  /** [[topKIndexed]] with a pre-loaded model — the entry for callers
    * that serve many searches against one index (load the tiny model
    * artifact once) and for the no-collect plan assertion in IvfSpec
    * (model loading is itself a driver-side read; with it out of the
    * way, `broadcastProbes = false` must build the whole search plan
    * without running a single job). */
  def topKIndexedWith(spark: SparkSession, model: Model, path: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nProbe: Int,
                      broadcastProbes: Boolean,
                      excludeEpochs: Seq[String] = Nil): DataFrame = {
    // at-least-once replay seam ([[graft.stream.EpochFold]]): `__epoch`
    // is a partition value, so excluding an in-flight batch's own epoch
    // prunes its directories before any IO
    val data = EpochIndex.without(spark.read.parquet(s"$path/data"),
      excludeEpochs)
    // one probe-cell derivation per query row, shared by both modes
    val probesPlan = queries.select(col(idCol).as("query_id"),
      explode(VectorExpressions.nearestCells(
        col(vecCol).cast("array<double>"), model.asSeq, nProbe)).as("cell"))
    if (broadcastProbes) {
      // resolve the probe pairs ONCE and reuse the collected result for
      // both the partition prune and the candidate join, so the
      // nearestCells pass over the queries runs a single time
      val collected = probesPlan.collect()
      val probes = spark.createDataFrame(
        java.util.Arrays.asList(collected: _*), probesPlan.schema)
      val qCells = collected.map(_.getInt(1)).distinct.toIndexedSeq
      val corpus = data.where(col("cell").isin(qCells: _*))
      val cands = corpus.select(col(idCol).as("neighbor_id"), col("cell"))
        .join(broadcast(probes), "cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      verifyTopK(cands, corpus, queries, idCol, vecCol, k,
        broadcastQueries = true)
    } else {
      val corpus = data
      val cands = corpus.select(col(idCol).as("neighbor_id"), col("cell"))
        .join(probesPlan, "cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      verifyTopK(cands, corpus, queries, idCol, vecCol, k,
        broadcastQueries = false)
    }
  }
}
