package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosineSim

/** The stages every vector query ranks through. Brute force, LSH, IVF,
  * int8-IVF, PQ and IVF-PQ are each candidate generation, then an
  * optional approximate cut ([[rerank]]), then the exact cosine top-k
  * ([[topK]]); the queries only say how they generate candidates.
  * [[IndexQuery]]'s driver path mirrors these rules.
  *
  * Materialization stays at the call sites: a stage here never
  * checkpoints, because whether a frame may be checkpointed depends on
  * its caller (a checkpointed LUT over stored parquet would erase the
  * scan lineage DPP plans its partition filter from).
  */
private[sim] object Ann {

  /** The query set of a (vec_id, v) frame: its rows with vec_id < `nq`
    * as (query_id, qv), followed by `more`.
    */
  def queries(e: DataFrame, nq: Int, more: Column*): DataFrame =
    e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id") +: col("v").as("qv") +: more: _*)

  /** Exact top-`k`: (query_id, qv, vec_id, v) candidates ranked per
    * query by cosine DESC then vec_id, as (query_id, neighbor_id, rank,
    * cosine rounded to 6 places) ordered by (query_id, rank).
    */
  def topK(cand: DataFrame, k: Int): DataFrame = {
    val cos = cosineSim(col("qv"), col("v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cos.desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(cos, 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** The approximate cut, then [[topK]]: keep each query's top-`r`
    * (query_id, vec_id) candidates by `score` DESC then vec_id, join the
    * survivors back to `vectors` (vec_id, v) and the broadcast query set
    * `q` (query_id, qv), and rank them exactly.
    */
  def rerank(cand: DataFrame, score: Column, r: Int, vectors: DataFrame,
      q: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(score.desc, col("vec_id"))
    topK(cand.withColumn("rr", row_number().over(w))
      .filter(col("rr") <= r)
      .select("query_id", "vec_id")
      .join(vectors, "vec_id").join(broadcast(q), "query_id"), k)
  }
}
