package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim
import graft.similarity.Similarity

/** Semantic deduplication (the SemDeDup shape): cluster the corpus
  * with the driver-trained coarse quantizer, then look for
  * high-cosine pairs ONLY within each cluster and drop every vector
  * that has a smaller-id near-duplicate in its own cluster. The
  * embedding-space answer to "this corpus says the same thing many
  * times in different words" — d1-d4 catch lexical duplication,
  * d5 catches global geometric near-dups; this is the scalable
  * middle: clustering bounds the candidate set the way LSH bands do,
  * but with semantically meaningful cells.
  *
  * Scale shape: the quantizer is k×dim floats trained on a bounded
  * deterministic sample (s3's trainer, run once per call); assignment is
  * a pure narrow literal-centroid map, so the corpus never shuffles
  * for training. The within-cell self-join shuffles both sides on
  * cell — the two sides build identical exchanges, so Catalyst
  * reuses one (plan-pinned) — and a cell with D members costs D²/2
  * cosines locally, never a global all-pairs (the default cell count
  * is DERIVED from a corpus count so cells stay ≈targetCellSize as
  * the corpus grows — the same per-key-bounded contract as the LSH
  * band join). Keep/drop is
  * deterministic: a vector is dropped iff some smaller vec_id in its
  * cell clears the threshold, with `dup_of` = the smallest such
  * anchor, so replays and retries route identically.
  */
object SemDedup {

  /** Per-vector verdict: (vec_id, cell, n_dups_smaller, dup_of, keep).
    * `keep` is false iff a smaller-id same-cell vector has cosine ≥
    * threshold; `dup_of` is the smallest such anchor (null when kept).
    *
    * `numCells <= 0` (the default) derives the cell count from a
    * corpus count: k = clamp(ceil(n / targetCellSize), 16, 1 << 20).
    * The within-cell self-join is per-key-bounded only if the cell
    * count GROWS with the corpus — at a fixed k the mean cell holds
    * n/k vectors and in-cell cosine work is O(n²/k), quadratic again.
    * Deriving k keeps expected cell population ≈ targetCellSize, so
    * per-cell work is a constant (targetCellSize²/2 cosines) and
    * total work is linear in n. The count is a single metadata-cheap
    * aggregate over the id column; callers that already know n (or
    * must replay a fixed quantizer) pass numCells explicitly. Count
    * and quantizer derive from `emb` within the call, so a call over
    * a subset trains on that subset. Result is UNORDERED — oracle-determinism
    * sorting lives in the SparkEntry lambda (same contract as Dedup).
    */
  def semanticDedup(emb: DataFrame, numCells: Int = 0,
                    threshold: Double = 0.4,
                    targetCellSize: Int = 4096): DataFrame = {
    // the shared family derivation (Similarity.derivedNumCells):
    // counts NON-NULL embeddings — the population the trainer ingests
    // and the oracle's `e` CTE counts, so a SQL replay derives the
    // identical k
    val k =
      if (numCells > 0) numCells
      else Similarity.derivedNumCells(emb, targetCellSize)
    val cents = Similarity.centroidMatrix(emb, k, iters = 3)
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
      .withColumn("cell", Similarity.assignBest(col("embedding"), cents))
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    val dups = a.join(b.hint("shuffle_hash"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .filter(cosine_sim(col("a.embedding"), col("b.embedding")) >= threshold)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(min(col("b.vec_id")).as("dup_of"),
        count(lit(1)).as("n_dups_smaller"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** Verified entry (SURVEY §2 d9) over `embeddings`; the cell count
    * DERIVES from the corpus with the IVF family's targetCellSize
    * (128 — VERDICT r12 item 1), which the DuckDB oracle replays with
    * the same ceil(n/128) clamp-16 formula in its cents0 LIMIT, so
    * quantizer and replay agree at ANY corpus size (at the verified
    * scales both derive the floor 16, so d9 trains the same model as
    * s3 from the same sample); the determinism sort is entry-only.
    */
  def d9(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(spark, dir), targetCellSize = 128)
      .orderBy(col("vec_id"))
}
