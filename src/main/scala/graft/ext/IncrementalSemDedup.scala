package graft.ext

import graft.util.EpochIndex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental [[SemDedup]] against a PERSISTED clustered index — the
  * daily-ingest form: "which NEW embeddings semantically duplicate the
  * corpus (or each other)?" probed against the [[Ivf]] index layout
  * (`model/` + cell-partitioned epoch-first `data/`), then folded in as
  * an O(batch) cell-bucketed append. The index IS an IVF index —
  * [[writeIndex]]/[[appendToIndex]] delegate to [[Ivf]]'s, so one
  * stored artifact serves both ANN search and semantic dedup.
  *
  * Contract (spec-asserted): the verdicts equal [[SemDedup.prune]] over
  * `indexed ∪ batch` UNDER THE INDEX'S MODEL, restricted to batch
  * vectors. The witness rule is SemDeDup's: a batch vector is pruned
  * iff some same-cell vector with a smaller id — indexed or earlier in
  * the batch — is within `tau` cosine. (Witnesses are ANY smaller-id
  * vector, kept or pruned, exactly as in the one-shot operator, which
  * is why the index keeps every vector: dropping pruned rows would
  * silently change later verdicts.) The coarse quantizer stays fixed
  * across appends (the [[Ivf.appendToIndex]] train-once contract);
  * the model-independent STRUCTURAL property — every pruned vector has
  * a smaller-id exact-cosine neighbor at `tau` — is what the
  * `llm_semdedup_incremental_check` gate verifies live.
  *
  * Scale shape: the index read is partition-pruned to the BATCH's cells
  * (bounded planning collect, ≤ nCells ints) before any IO; everything
  * downstream is bounded by batch size × cell occupancy. */
object IncrementalSemDedup {

  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 path: String, nCells: Int): Unit = {
    val model = Ivf.train(corpus, idCol, vecCol, nCells)
    Ivf.writeIndex(corpus, vecCol, model, path)
  }

  def appendToIndex(newVectors: DataFrame, vecCol: String, path: String,
                    epoch: String): Unit =
    Ivf.appendToIndex(newVectors, vecCol, path, epoch)

  /** Per-batch-vector verdict (idCol, cell, kept) — equal to the
    * restricted full recompute under the index's model. `excludeEpochs`
    * is the streaming replay seam ([[graft.stream.EpochFold]]). */
  def prune(spark: SparkSession, path: String, newVecs: DataFrame,
            idCol: String, vecCol: String, tau: Double,
            excludeEpochs: Seq[String] = Nil): DataFrame = {
    val model = Ivf.load(spark, s"$path/model")
    val batch = Ivf.assignCells(newVecs, vecCol, model)
      .select(col(idCol), col("cell"), col(vecCol).as("__v"),
        Similarity.l2(col(vecCol)).as("__n"))
    // bounded planning collect: the batch's cell set (≤ nCells ints),
    // pruning the index read to those partition dirs before any IO
    val batchCells = batch.select("cell").distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val idx = EpochIndex.without(spark.read.parquet(s"$path/data"),
        excludeEpochs)
      .where(col("cell").isin(batchCells: _*))
      .select(col(idCol).as("id_a"), col("cell"), col(vecCol).as("__va"),
        Similarity.l2(col(vecCol)).as("__na"))
    // witnesses: any smaller-id same-cell vector — indexed or batch
    val witnesses = idx.unionByName(
      batch.select(col(idCol).as("id_a"), col("cell"),
        col("__v").as("__va"), col("__n").as("__na")))
    val probe = batch.select(col(idCol).as("id_b"), col("cell"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    val prunedIds = witnesses.join(probe, "cell")
      .where(col("id_a") < col("id_b"))
      .where(Similarity.pairSim(col("__va"), col("__na"),
        col("__vb"), col("__nb")) >= tau)
      .select(col("id_b").as(idCol)).distinct()
    batch.select(col(idCol), col("cell"))
      .join(prunedIds.withColumn("__pruned", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(!col("__pruned"), lit(true)).as("kept"))
  }
}
