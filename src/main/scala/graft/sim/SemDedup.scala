package graft.sim

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.CosineSim.cosineSim

/** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
  * cluster the embedding space with a coarse k-means codebook, then
  * deduplicate ONLY within clusters — a vector is dropped when a
  * lower-id member of its own cluster sits within cosine ≥ τ. Cross-
  * cluster near-dups are the documented recall trade that makes the
  * pair space tractable: pairwise work is Σ |cluster|², not n².
  *
  * Reuses the trained IVF coarse quantizer ([[Knn.codebook]], trained
  * by [[Lloyd]]) and the zero-shuffle broadcast-argmax assignment ([[Knn.assign]]), so the
  * whole train→assign→within-cluster-pairs pipeline is deterministic
  * and fully mirrored in the DuckDB oracle.
  *
  * Scale posture: at 100 TB the SemDeDup knob is k — pick k ≈ n/⟨target
  * cluster size⟩ so each cluster's pairwise tile fits an executor (the
  * paper runs k = 11k on 5B embeddings); the within-cluster self-join is
  * a plain shuffled equi-join on cent_id, and a fat outlier cluster
  * takes the same grid-blocking used by `dedup_embedding`. The shared
  * [[Knn.nlistFor]] codebook sizes k to n/LIST_CAP (min 16), so the
  * within-cluster tile stays ~LIST_CAP² regardless of corpus size.
  */
object SemDedup {

  /** Same near-dup threshold as the exact embedding dedup — on this
    * isotropic corpus true twins sit well above it.
    */
  val TAU = 0.4

  private val semantic = Q(
    "dedup_semantic",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cents = Knn.codebook(e)
      // feeds both sides of the within-cluster self-join — checkpoint so
      // the broadcast-argmax kernel runs once per vector, not per side
      val assigned = Knn.assign(e, cents).transform(graft.Checkpoint.of)
      val cos = cosineSim(col("va"), col("vb"))
      val dropped = assigned
        .select(col("cent_id"), col("vec_id").as("a_id"), col("v").as("va"))
        .join(assigned.select(col("cent_id"), col("vec_id").as("b_id"),
          col("v").as("vb")), "cent_id")
        .filter(col("a_id") < col("b_id"))
        // raw-cosine half-up boundary, not round-per-pair — the
        // blockedCosinePairs rationale (round's BigDecimal dominates
        // an all-pairs scan); one IEEE subtraction both engines fold
        .filter(cos >= lit(TAU - 5e-7))
        .select(col("b_id").as("vec_id"))
        .distinct()
        .withColumn("is_dup", lit(true))
      assigned.select("vec_id", "cent_id")
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ${Knn.sqlCodebook("e")},
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, ${Knn.ivfCents} c) WHERE rk = 1),
    dropd AS (
      SELECT DISTINCT b.vec_id AS vec_id
      FROM assigned a JOIN assigned b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= ($TAU - 5e-7))
    SELECT s2.vec_id AS vec_id, s2.cent_id AS cent_id,
      (dropd.vec_id IS NOT NULL) AS is_dup
    FROM assigned s2 LEFT JOIN dropd ON s2.vec_id = dropd.vec_id
    ORDER BY s2.vec_id"""))

  val all: Seq[Q] = Seq(semantic)
}
