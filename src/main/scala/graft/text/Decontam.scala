package graft.text

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.dedup.Dedup

/** Benchmark decontamination — the GPT-3/Gopher-style n-gram overlap
  * check every training-data pipeline runs before a model sees the data:
  * a training document is CONTAMINATED if it shares at least one n-token
  * gram with any document of the held-out benchmark set.
  *
  * Here the "benchmark" is a deterministic content-hash slice of the
  * corpus itself ([[Sampling.hashBucket]] < 10% of the hash space — the
  * same engine-stable rule as `sample_split`), which makes the whole
  * check mirrorable in the DuckDB oracle; in production the benchmark
  * side is the eval suites.
  *
  * Scale posture: the benchmark n-gram set is SMALL by construction
  * (eval suites are at most millions of grams) while the training corpus
  * is the 100 TB side — so the plan broadcasts the distinct benchmark
  * grams and streams the training side through a broadcast hash join:
  * ZERO shuffle of the corpus, one map-side-combined per-doc count. If
  * the benchmark side ever outgrows broadcast range, the same plan
  * degrades gracefully to one shuffled equi-join on the gram key (or a
  * bloom-filter pre-pass feeding the exact join — same verify-on-thin
  * -candidates shape as the dedup suite).
  */
object Decontam {

  /** Gram width. Real pipelines use 8–13 tokens; 5 keeps planted
    * near-dup overlap detectable on the short synthetic docs while
    * staying long enough that unrelated docs rarely collide.
    */
  val N = 5

  /** Benchmark slice: content-hash bucket < 10% of the 16-bit space. */
  val BENCH_CUT = 6554

  /** Distinct n-grams of a `(…, text)` frame — the benchmark side of the
    * check (the shingle kernel already emits per-doc distinct grams;
    * `distinct()` dedups across docs so the broadcast side is minimal).
    */
  def benchmarkGrams(bench: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bench
      .select(explode(Dedup.shingles(col("text"), N)).as("g"))
      .distinct()

  /** Per-doc contamination flags of a `(doc_id, text)` frame against a
    * benchmark gram set — the shared core of the batch query and the
    * streaming sink ([[graft.streaming.Streaming.decontamSink]]): gram
    * explode, broadcast hash join, map-side-combined hit count.
    */
  def flags(docs: org.apache.spark.sql.DataFrame,
      benchGrams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hits = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), N)).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  private val decontam = Q(
    "decontam_ngram",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          Sampling.hashBucket(col("text")).as("hb"))
      val bench = docs.filter(col("hb") < BENCH_CUT)
      val train = docs.filter(col("hb") >= BENCH_CUT)
      flags(train, benchmarkGrams(bench)).orderBy("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id,
        ('0x' || substr(md5(coalesce(text, '')), 1, 4))::INT AS hb,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    g AS (SELECT doc_id, hb,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
          w[i+3] || ' ' || w[i+4]
          for i in range(1, greatest(len(w)-3, 1))]) gs
      FROM d),
    bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE hb < $BENCH_CUT),
    tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE hb >= $BENCH_CUT),
    h AS (SELECT doc_id, COUNT(*) AS n_hits
      FROM tg JOIN bg USING (gram) GROUP BY doc_id)
    SELECT t.doc_id AS doc_id,
      COALESCE(h.n_hits, 0::BIGINT) AS n_hits,
      COALESCE(h.n_hits, 0::BIGINT) > 0 AS contaminated
    FROM (SELECT doc_id FROM d WHERE hb >= $BENCH_CUT) t
    LEFT JOIN h USING (doc_id)
    ORDER BY doc_id"""))

  // ---------------------------------------------------- decontam_embedding
  /** SEMANTIC benchmark decontamination — the embedding-space complement
    * of the n-gram rule (paraphrased eval material shares no 5-gram but
    * sits next to the benchmark in embedding space; the contamination
    * analog of SemDeDup's observation): a training vector is flagged
    * when its max cosine to ANY benchmark vector reaches τ, reporting
    * the nearest benchmark id as evidence. Benchmark = a deterministic
    * id-residue slice of the embeddings table (both engines state it
    * identically), the stand-in for the eval suite's embedded items.
    *
    * Scale: the benchmark side is small by construction (eval suites),
    * so it broadcasts against one corpus scan — the knn_bruteforce
    * shape: |corpus|×|bench| scored in the projection, immediately
    * thinned by the per-vector top-1 window (partial WindowGroupLimit).
    * Cosines use the sequential-fold kernel, bit-equal to DuckDB's
    * list_cosine_similarity; ordering and the τ test both use the
    * ROUNDED value so the tie-break is cross-engine stable.
    *
    * The benchmark slice is CAPPED at [[BENCH_CAP]] ids (the first
    * residue hits), because a real eval suite is FIXED SIZE — it does
    * not grow with the training corpus. The uncapped id-residue form
    * was a fixed FRACTION (n/50 benchmark rows), which made the
    * "broadcast the small side" claim quadratic in disguise: the r16
    * sweep measured exponent 1.32 (16 s at sf1, headed for ~150 s at
    * sf3) — the r10 fixed-fraction-threshold lesson in benchmark
    * clothing. Capped, the scored mass is |corpus|·BENCH_CAP — linear.
    */
  private val BENCH_MOD = 50L
  private val BENCH_RES = 3L
  private[graft] val BENCH_CAP = 200L
  private val EMB_TAU = 0.4

  private val decontamEmb = Q(
    "decontam_embedding",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      // benchmark = the BENCH_CAP LOWEST residue-slice ids, by RANK —
      // not an id bound: an id-bound cap (`vec_id < CAP·MOD`) assumes
      // ids are dense from 0 and silently empties the benchmark on a
      // strided/regenerated corpus while both engines' mirrored
      // predicates keep the gate green (ADVICE r16). Rank-capped, the
      // slice is exactly min(CAP, n_residue) under ANY id distribution,
      // and identical to the old bound under dense ids. orderBy+limit
      // is a distributed top-k (TakeOrderedAndProject), never a
      // single-task global window.
      val bench = e.filter(col("vec_id") % BENCH_MOD === BENCH_RES)
        .orderBy("vec_id").limit(BENCH_CAP.toInt)
        .select(col("vec_id").as("bench_id"), col("v").as("bv"))
      val train = e.join(bench.select(col("bench_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      val cos = round(graft.functions.CosineSim.cosineSim(
        col("v"), col("bv")), 6)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(cos.desc, col("bench_id"))
      train.crossJoin(broadcast(bench))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("bench_id").as("best_bench_id"),
          cos.as("cosine"), (cos >= EMB_TAU).as("is_contaminated"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    b AS MATERIALIZED (SELECT vec_id AS bench_id, v AS bv FROM e
      WHERE vec_id % $BENCH_MOD = $BENCH_RES
      ORDER BY vec_id LIMIT $BENCH_CAP),
    t AS (SELECT * FROM e
      WHERE vec_id NOT IN (SELECT bench_id FROM b)),
    sc AS (SELECT t.vec_id, b.bench_id,
        round(list_cosine_similarity(t.v, b.bv), 6) AS cos
      FROM t, b),
    r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY cos DESC, bench_id) AS rn FROM sc)
    SELECT vec_id, bench_id AS best_bench_id, cos AS cosine,
      cos >= $EMB_TAU AS is_contaminated
    FROM r WHERE rn = 1 ORDER BY vec_id"""))

  val all: Seq[Q] = Seq(decontam, decontamEmb)
}
