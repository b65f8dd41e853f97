package graft

import org.apache.spark.sql.functions._

/** Pins the adaptive-nlist contract (r18): [[graft.sim.Knn.nlistFor]]
  * is THE deterministic integer function of training-corpus size that
  * every gated IVF oracle mirrors via [[graft.sim.Knn.sqlNlistLimit]].
  * A drifted constant on either side breaks ~15 oracles at bench sfs
  * (the gate sfs all sit below the first boundary, where nlist is the
  * historical pinned 16 — which is also pinned here so a change to the
  * function surfaces as a red test, not a silent gate-sf result shift).
  */
class NlistSpec extends SparkSpec {
  import graft.sim.Knn

  test("nlistFor: floor 16 below 4096, ceil(n/256) above, capped") {
    // every driver sf sits in the floor region -> bit-identical to the
    // pinned-NLIST rounds
    assert(Knn.nlistFor(1) == 16)
    assert(Knn.nlistFor(500) == 16)   // sf0.001 / sf0.01 embeddings
    assert(Knn.nlistFor(2000) == 16)  // sf0.1 embeddings
    assert(Knn.nlistFor(4096) == 16)  // boundary: 4096/256 = 16 exactly
    assert(Knn.nlistFor(4097) == 17)  // first adaptive value
    assert(Knn.nlistFor(20000) == 79)  // gendata sf1
    assert(Knn.nlistFor(60000) == 235) // gendata sf3
    assert(Knn.nlistFor(Long.MaxValue) == (1 << 20)) // cap, no overflow
  }

  test("sqlNlistLimit interpolates the same constants as nlistFor") {
    val sql = Knn.sqlNlistLimit("e")
    // the three constants of nlistFor, verbatim in the mirror: min 16,
    // cap 2^20, ceil-div by 256 as (COUNT(*) + 255) // 256
    assert(sql.contains("GREATEST(16,"))
    assert(sql.contains(s"LEAST(${1 << 20},"))
    assert(sql.contains("(COUNT(*) + 255) // 256"))
    assert(sql.contains("FROM e)"))
  }

  test("the SQL trainer runs Lloyd.ITER rounds and ends at the CTE its " +
      "consumers read") {
    import graft.sim.Lloyd
    val cte = "(\\w+) AS \\(".r
    for ((sql, out) <- Seq(
        Knn.sqlCodebook("e") -> Lloyd.sqlCents(),
        Lloyd.sqlTrain("rsv2", "sv", 16, "LIMIT 16", "r", "_2") ->
          Lloyd.sqlCents("r", "_2"))) {
      // one argmax assignment per round
      assert("row_number\\(\\) OVER".r.findAllIn(sql).size == Lloyd.ITER)
      val names = cte.findAllMatchIn(sql).map(_.group(1)).toSeq
      assert(names.size == 1 + 2 * Lloyd.ITER, names)
      assert(names.last == out)
    }
    // the IVF oracles read the trained centroids by that name
    assert(SparkEntry.oracleSql("knn_ivf")
      .contains(s"FROM e, ${Lloyd.sqlCents()} c)"))
  }

  test("codebook trains nlistFor(n) centroids across the boundary") {
    // synthetic 4200-vector corpus (first adaptive rung: nlist = 17);
    // deterministic pseudo-random unit-ish vectors, DIM=64 like the
    // driver corpus
    val n = 4200
    val dim = 64
    val e = spark.range(n).toDF("vec_id")
      .withColumn("v", array((0 until dim).map(i =>
        sin(col("vec_id") * lit(0.7) + lit(i * 1.3))): _*))
    val cents = Knn.codebook(e)
    val k = cents.count()
    assert(Knn.nlistFor(n) == 17)
    // Lloyd can only lose cells (dead centroids), never add them
    assert(k <= 17 && k > 16 - 5, s"expected ~17 trained centroids, got $k")
  }
}
