package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-owned scale-up generator: synthesize an sfN corpus from the
  * driver's sf0.1 tables (TESTDATA.md schema, read-only source) so the
  * scaling sweep can extend a decade past the largest driver-provided
  * sf — the decade where data cost, not job launch, dominates, which is
  * where a super-linear operator would actually show.
  *
  * NOT naive row replication. Each of the `reps` replicas applies a
  * deterministic, replica-keyed transform chosen so the UNION behaves
  * like a corpus that is genuinely 10× larger rather than one with a
  * planted 10-way duplicate of every row (which would inflate every
  * dedup/ANN candidate set quadratically — a measurement artifact, not
  * data scaling):
  *
  *   - **Keys** shift by `replica · 10^9` with FK consistency (orders
  *     reference their replica's customers, lineitem its replica's
  *     orders/parts/suppliers), so join fan-outs and group counts scale
  *     linearly and skew SHAPE is preserved. Replica 0 is the identity,
  *     so fixed probe sets (`vec_id < NQ` style) keep their size — a
  *     fixed query workload against a growing corpus, the realistic
  *     search-scaling regime.
  *   - **Text** mutates each token type with probability 0.4, keyed by
  *     `hash(token, replica)`: content-keyed, so two near/exact dup
  *     docs INSIDE a replica mutate identically and stay dups (the
  *     planted dup fraction survives per replica), while cross-replica
  *     token Jaccard lands ≈0.22 — far below every dedup threshold, so
  *     no phantom cross-replica clusters. Vocabulary grows with corpus
  *     size, as real corpora do.
  *   - **Embeddings** apply a per-replica signed coordinate permutation
  *     — exactly orthogonal, so every intra-replica cosine (planted
  *     near-dup geometry, cluster margins) is preserved to float
  *     reorder noise, while cross-replica cosines scramble toward 0
  *     (hash-keyed signs; no phantom near-dup pairs).
  *   - **Dims** (region, nation) stay fixed — dimensions do not scale
  *     with fact data.
  *
  * Usage: `runMain graft.GenData [srcDir] [outDir] [reps]`, default
  * `/root/testdata/sf0.1 target/gendata/sf1 10`. Output is
  * one Spark-written `<table>.parquet` directory per table, readable by
  * the same `Tables` loader; deterministic (hash-keyed, no RNG state).
  */
object GenData {
  private val STRIDE = 1000000000L

  /** Signed-permutation parameters for replica i over dim d: an affine
    * index permutation (odd multiplier — coprime to the power-of-two
    * dim) plus murmur-keyed signs. Replica 0 = identity.
    */
  private def permuted(i: Int, d: Int): Seq[org.apache.spark.sql.Column] = {
    val a = (34 * i + 17) % d | 1
    val b = (23 * i) % d
    (0 until d).map { k =>
      val j = if (i == 0) k else (a * k + b) % d
      val h = scala.util.hashing.MurmurHash3.finalizeHash(
        scala.util.hashing.MurmurHash3.mix(i * 0x9e3779b9, k * 0x85ebca6b), 2)
      val s = if (i == 0 || (h & 1) == 1) 1.0f else -1.0f
      (element_at(col("embedding"), j + 1) * lit(s)).cast("float")
    }
  }

  /** Token-type mutation for replica i: ~40% of token TYPES get a
    * replica-suffixed form, keyed by hash(token, replica) so identical
    * texts mutate identically (intra-replica dup structure preserved).
    */
  private def mutateText(i: Int) = {
    val t0 = split(col("text"), " ")
    if (i == 0) col("text")
    else concat_ws(" ", transform(t0, t =>
      when(t =!= "" && pmod(hash(t, lit(i)), lit(10)) < 4,
        concat(t, lit("q" + i))).otherwise(t)))
  }

  private def shifted(c: String, i: Int) = col(c) + lit(STRIDE * i)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/gendata/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.fromEnv()

    def read(t: String) = Tables(spark, src, t)
    def write(df: DataFrame, t: String, files: Int): Unit = {
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[gendata] $t written")
    }
    def replicate(t: String, files: Int)(
        f: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      write((0 until reps).map(i => f(base, i)).reduce(_ unionByName _),
        t, files)
    }

    // fixed dims: copy through (dimensions do not scale with facts)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    replicate("customer", 2) { (df, i) =>
      df.withColumn("c_custkey", shifted("c_custkey", i))
    }
    replicate("supplier", 1) { (df, i) =>
      df.withColumn("s_suppkey", shifted("s_suppkey", i))
    }
    replicate("part", 2) { (df, i) =>
      df.withColumn("p_partkey", shifted("p_partkey", i))
    }
    replicate("orders", 4) { (df, i) =>
      df.withColumn("o_orderkey", shifted("o_orderkey", i))
        .withColumn("o_custkey", shifted("o_custkey", i))
    }
    replicate("lineitem", 8) { (df, i) =>
      df.withColumn("l_orderkey", shifted("l_orderkey", i))
        .withColumn("l_partkey", shifted("l_partkey", i))
        .withColumn("l_suppkey", shifted("l_suppkey", i))
    }
    replicate("events", 4) { (df, i) =>
      df.withColumn("event_id", shifted("event_id", i))
        .withColumn("user_id", shifted("user_id", i))
    }
    replicate("documents", 2) { (df, i) =>
      df.withColumn("text", mutateText(i))
        .withColumn("doc_id", shifted("doc_id", i))
        .withColumn("n_chars", length(col("text")))
    }
    val dim = read("embeddings").selectExpr("size(embedding) d")
      .head().getInt(0)
    replicate("embeddings", 2) { (df, i) =>
      df.withColumn("embedding", array(permuted(i, dim): _*))
        .withColumn("vec_id", shifted("vec_id", i))
    }
    println(s"""{"gendata":"done","src":"$src","out":"$out","reps":$reps}""")
    spark.stop()
  }
}
