package graft.ext

import graft.functions.{PqExpressions, VectorExpressions}
import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ: product-quantized ANN — the memory-compression scale path on
  * top of [[Ivf]]'s cell layout.
  *
  * At 100 TB the IVF-Flat index stores every raw vector (dim × 4 bytes
  * for float): a 64-dim corpus of 10^11 vectors is ~25 TB of floats
  * that every probe must stream. Product quantization splits each
  * UNIT-NORMALIZED vector into `m` subvectors and stores only the id of
  * the nearest per-subspace codebook centroid — `m` BYTES per vector
  * (32× smaller at dim 64, m 8), so the ADC scan over a probed cell
  * reads codes, not floats. Because cosine against a unit query
  * decomposes over subspaces (dot(q,x) = Σ_j dot(q_j, x_j)), a
  * per-query lookup table of m × ksub partial dots turns scoring into
  * `m` table lookups per candidate (asymmetric distance computation,
  * Jégou et al., TPAMI 2011 — public method). Codebooks may quantize
  * RESIDUALS against the coarse cell centroid (the paper's IVFADC
  * form, [[train]]'s `residualOf`): the ADC score then adds the
  * per-(query, cell) `dot(q, centroid)` constant, and the same code
  * budget buys measurably more recall because residuals concentrate
  * near the origin. The pipeline is the
  * standard one: IVF cells prune the corpus, ADC ranks the survivors
  * from codes alone, the top `rerank` candidates are re-scored EXACTLY
  * from their raw vectors (read back by id from the probed cells
  * only), and the final top-k uses the module's one similarity
  * expression ([[Similarity.pairSim]]) — so the emitted `sim` values
  * are exact cosines and the PQ approximation affects WHICH candidates
  * reach the rerank, never the reported scores.
  *
  * Determinism: training mirrors [[Ivf.train]] (scramble-ordered
  * deterministic sample, first-k-distinct seeding, lower-index
  * tie-breaks, fixed iteration count), so two trainings on the same
  * corpus yield bit-identical codebooks and the recall gate can pin
  * the found counts per scale factor. */
object Pq {

  /** Per-subspace codebooks: `codebooks(j)(c)` is the subDim-length
    * centroid for code `c` of subspace `j`. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty model")
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
    def dim: Int = m * subDim
    require(ksub <= 256, "PQ codes are stored as single bytes (ksub <= 256)")
  }

  /** Train per-subspace k-means codebooks on a bounded deterministic
    * sample (the [[Ivf.train]] discipline: scramble order, first-ksub
    * distinct subvectors seed, lower-index ties, plain L2 Lloyd
    * iterations — L2 on unit-normalized full vectors is the right
    * quantization objective for dot-product ADC). Vectors are
    * unit-normalized before splitting; zero vectors are excluded.
    *
    * `residualOf`: when set, codebooks are trained on RESIDUALS —
    * `unit(v) - centroid(cell(v))` under that coarse quantizer (the
    * IVFADC form from the same Jégou TPAMI'11 paper). Residuals
    * concentrate near the origin regardless of which cell a vector
    * lives in, so the same `m × ksub` code budget quantizes far finer
    * than it does raw positions — the public remedy for PQ recall at
    * fixed compression. Indexes built from a residual model must
    * encode AND score in residual mode ([[writeIndex]]'s `residual`
    * flag, persisted with the codebooks). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, ksub: Int = 256, maxTrain: Int = 25600,
            iters: Int = 10, residualOf: Option[Ivf.Model] = None): Model = {
    require(m >= 1 && ksub >= 1 && ksub <= 256 && iters >= 0)
    val sampleU = corpus
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
    require(sampleU.nonEmpty, "PQ training: no non-zero vectors in corpus")
    val sample = residualOf match {
      case None => sampleU
      case Some(im) =>
        require(im.centroids(0).length == sampleU(0).length,
          "coarse quantizer dim != corpus dim")
        sampleU.map { u =>
          val cent = im.centroids(nearestCellByDot(im.centroids, u))
          val r = u.clone()
          var d = 0
          while (d < r.length) { r(d) -= cent(d); d += 1 }
          r
        }
    }
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(
        v, j * subDim, (j + 1) * subDim))
      kmeansL2(subs, ksub, iters)
    }
    Model(books)
  }

  /** Driver-side twin of [[graft.functions.NearestCells]]' assignment
    * rule (argmax dot, strict comparisons, ties keep the LOWER index) —
    * residual training must bucket its sample exactly as
    * [[Ivf.cellOf]] buckets the corpus, or codes and cells disagree. */
  private def nearestCellByDot(cents: Array[Array[Double]],
                               v: Array[Double]): Int = {
    var best = 0
    var bs = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * w(i); i += 1 }
      if (s > bs) { bs = s; best = c }
      c += 1
    }
    best
  }

  /** v/|v|, or null for the zero vector (the [[Ivf]] helper, repeated
    * privately — both modules keep their kernels self-contained). */
  private def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    if (s == 0.0) null
    else {
      val n = math.sqrt(s); val o = new Array[Double](v.length)
      i = 0
      while (i < v.length) { o(i) = v(i) / n; i += 1 }
      o
    }
  }

  /** Plain L2 Lloyd iterations, deterministic: first-k-distinct seeding
    * in sample order, nearest ties to the lower code, empty cells keep
    * their centroid. */
  private def kmeansL2(sample: Array[Array[Double]], k: Int,
                       iters: Int): Array[Array[Double]] = {
    val subDim = sample(0).length
    // seed: first k distinct subvectors (repeat if fewer)
    val seeds = new scala.collection.mutable.ArrayBuffer[Array[Double]](k)
    val seen = new scala.collection.mutable.HashSet[Seq[Double]]()
    var i = 0
    while (i < sample.length && seeds.size < k) {
      if (seen.add(sample(i).toSeq)) seeds += sample(i)
      i += 1
    }
    i = 0
    while (seeds.size < k) { seeds += sample(i % sample.length); i += 1 }
    var cents = seeds.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](subDim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestL2(cents, v)
        val sv = sums(c)
        var d = 0
        while (d < subDim) { sv(d) += v(d); d += 1 }
        counts(c) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val o = new Array[Double](subDim)
          var d = 0
          while (d < subDim) { o(d) = sums(c)(d) / counts(c); d += 1 }
          o
        }
      }
      it += 1
    }
    cents
  }

  /** argmin L2 (ties → lower code) — public: the generated encode
    * kernel calls it. */
  def nearestL2(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bd = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - w(i); s += d * d; i += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    best
  }

  /** Persist a trained model as a (subspace, code, centroid, residual)
    * parquet table — the train-once artifact, same contract as
    * [[Ivf.save]]. `residual` records the ENCODING MODE the codebooks
    * were trained for, so a written index is self-describing: append
    * and search resolve the mode from storage, never from the caller
    * remembering it. */
  def save(spark: SparkSession, model: Model, path: String,
           residual: Boolean = false): Unit = {
    import spark.implicits._
    (for {
      j <- model.codebooks.indices
      c <- model.codebooks(j).indices
    } yield (j, c, model.codebooks(j)(c).toSeq, residual))
      .toDF("subspace", "code", "centroid", "residual")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Bit-identical round trip of [[save]]. */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path)
      .select(col("subspace").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<double>"))
      .orderBy("subspace", "code").collect()
    require(rows.nonEmpty, s"empty PQ model at $path")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ksub, s"ragged PQ model at $path")
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    Model(books.map(_.toArray))
  }

  /** The stored encoding mode ([[save]]'s `residual` column); false for
    * pre-flag model tables. */
  private def loadResidualFlag(spark: SparkSession, path: String): Boolean = {
    val df = spark.read.parquet(path)
    if (!df.columns.contains("residual")) false
    else df.select("residual").head().getBoolean(0)
  }

  /** Tiny (cell, centroid) frame of the coarse quantizer — the
    * broadcast side of residual encode/score joins (nCells rows). */
  private def centroidsDf(spark: SparkSession, ivfModel: Ivf.Model): DataFrame = {
    import spark.implicits._
    ivfModel.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "__cent")
  }

  /** codes column for `df` (which already carries `cell`): plain or
    * residual per the model's mode. */
  private def encoded(df: DataFrame, vecCol: String, ivfModel: Ivf.Model,
                      pqModel: Model, residual: Boolean): DataFrame =
    if (!residual)
      df.withColumn("codes",
        PqExpressions.encode(col(vecCol).cast("array<double>"), pqModel))
    else
      df.join(broadcast(centroidsDf(df.sparkSession, ivfModel)), "cell")
        .withColumn("codes", PqExpressions.encodeResidual(
          col(vecCol).cast("array<double>"), col("__cent"), pqModel))
        .drop("__cent")

  /** Persist the corpus as a searchable IVF-PQ index:
    * {{{
    *   path/model   the coarse (cell) quantizer  — [[Ivf.save]]
    *   path/pq      the per-subspace codebooks   — [[save]]
    *   path/data/__epoch=base/cell=N/   (id, vec, codes m-byte binary)
    * }}}
    * Raw vectors stay IN the layout (the rerank stage reads them back
    * by id from probed cells only); the ADC scan itself projects only
    * (id, codes) — column pruning keeps the float columns out of the
    * hot scan, which is the IO story PQ exists for. */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 ivfModel: Ivf.Model, pqModel: Model, path: String,
                 residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    Ivf.save(spark, ivfModel, s"$path/model")
    save(spark, pqModel, s"$path/pq", residual)
    encoded(
        corpus.withColumn("cell", Ivf.cellOf(col(vecCol), ivfModel)),
        vecCol, ivfModel, pqModel, residual)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/data/__epoch=base")
  }

  /** Fold new vectors into a written IVF-PQ index under its OWN stored
    * models (cell assignment AND codes — the [[Ivf.appendToIndex]]
    * train-once contract, extended to the codebooks: re-training either
    * quantizer would silently re-map every stored code), written as an
    * `__epoch=<epoch>` sibling — O(batch), idempotent per epoch.
    * Appended ids must be disjoint from every id already indexed. */
  def appendToIndex(newVectors: DataFrame, idCol: String, vecCol: String,
                    path: String, epoch: String): Unit = {
    EpochIndex.checkEpoch(epoch)
    val spark = newVectors.sparkSession
    val ivfModel = Ivf.load(spark, s"$path/model")
    val pqModel = load(spark, s"$path/pq")
    val residual = loadResidualFlag(spark, s"$path/pq")
    encoded(
        newVectors.withColumn("cell", Ivf.cellOf(col(vecCol), ivfModel)),
        vecCol, ivfModel, pqModel, residual)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/data/__epoch=$epoch")
  }

  /** Top-k against a written IVF-PQ index: probe `nProbe` cells per
    * query (bounded planning collect, the [[Ivf.topKIndexed]]
    * broadcast-probes shape), ADC-rank the probed cells' CODES, keep
    * the top `rerank` per query, re-score those exactly from raw
    * vectors fetched by id, emit the deterministic top-k
    * ([[Similarity.pairSim]] rounded sim, id tie-breaks — the same
    * ranking contract as every other ANN path in the engine). */
  def topKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int,
                  rerank: Int = 50): DataFrame = {
    val ivfModel = Ivf.load(spark, s"$path/model")
    val pqModel = load(spark, s"$path/pq")
    val residual = loadResidualFlag(spark, s"$path/pq")
    val qBase = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"),
      Similarity.l2(col(vecCol)).as("__qn"))
    // Probe rows carry (query, cell, dot(unit q, cell centroid)): under
    // residual encoding the ADC score decomposes as dot(q,x) ≈
    // dot(q,cent) + Σ_j lut[codes_j] — the per-(query,cell) constant
    // term is computed here once (broadcast-small) instead of per
    // candidate; in plain mode it is simply 0.
    val probesCells = qBase.select(col("query_id"), col("__qv"), col("__qn"),
      explode(VectorExpressions.nearestCells(
        col("__qv"), ivfModel.asSeq, nProbe)).as("cell"))
    val probesPlan =
      if (residual)
        probesCells.join(broadcast(centroidsDf(spark, ivfModel)), "cell")
          .select(col("query_id"), col("cell"),
            (VectorExpressions.dotProduct(col("__qv"), col("__cent")) /
              col("__qn")).as("__qdotc"))
      else
        probesCells.select(col("query_id"), col("cell"),
          lit(0.0).as("__qdotc"))
    val collected = probesPlan.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), probesPlan.schema)
    val qCells = collected.map(_.getInt(1)).distinct.toIndexedSeq
    val data = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(qCells: _*))
    // ADC stage: codes-only scan of the probed cells; the per-query LUT
    // (m × ksub partial dots) is computed once per query row and rides
    // the broadcast join
    val qLut = broadcast(qBase.select(col("query_id"),
      PqExpressions.lut(col("__qv"), pqModel).as("__lut")))
    val adcScored = data.select(col(idCol).as("neighbor_id"), col("cell"),
        col("codes"))
      .join(broadcast(probes), "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .join(qLut, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (col("__qdotc") +
          PqExpressions.adc(col("codes"), col("__lut"), pqModel.ksub))
          .as("__adc"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("__adc").desc, col("neighbor_id").asc)
    val shortlist = adcScored
      .withColumn("__r", row_number().over(wAdc)).where(col("__r") <= rerank)
      .select("query_id", "neighbor_id")
    // exact rerank: fetch the shortlist's raw vectors from the probed
    // cells by id (the only stage that touches floats)
    val cv = data.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), Similarity.l2(col(vecCol)).as("__cn"))
    val qv = broadcast(qBase)
    val sim = Similarity.pairSim(col("__qv"), col("__qn"),
      col("__cv"), col("__cn"))
    val scored = shortlist.join(qv, "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), sim.as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
