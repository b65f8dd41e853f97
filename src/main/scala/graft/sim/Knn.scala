package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.CosineSim.{cosineSim, dotProduct}

/** Similarity search over `embeddings` — SURVEY.md §2.5.
  *
  * `knn_bruteforce` is the exact baseline (oracle-gated); `knn_lsh` and
  * `knn_ivf` are the 100 TB scale paths (candidate generation bounded by
  * bucket/partition size instead of the full corpus) whose recall against
  * the baseline is measured in KnnSpec.
  */
object Knn {

  private val K = 5         // neighbors returned
  private[graft] val NQ = 10 // query set = vec_id < NQ

  import Ann.queries

  // -------------------------------------------------------- knn_bruteforce
  /** Exact top-k: broadcast the (small) query set against one pass over the
    * corpus — a BroadcastNestedLoopJoin that scales linearly in corpus size
    * and never shuffles the corpus; the final per-query top-k shuffles only
    * |queries|·|corpus-partition winners| rows.
    */
  private val bruteforce = Q(
    "knn_bruteforce",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      Ann.topK(e.join(broadcast(queries(e, NQ)),
        col("query_id") =!= col("vec_id")), K)
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < $NQ)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT query_id, e.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) AS rank,
        round(list_cosine_similarity(qv, e.v), 6) AS cosine
      FROM q, e WHERE query_id <> e.vec_id)
    WHERE rank <= $K ORDER BY query_id, rank"""))

  // ---------------------------------------------------------- knn_radius
  /** RADIUS (range) search — the other half of the vector-search API
    * surface: not "the k nearest" but "EVERYTHING within similarity τ"
    * (retrieval recall floors, near-dup audits around a probe vector,
    * density queries). Same broadcast-queries-vs-one-corpus-pass shape
    * as [[bruteforce]], but the per-query window disappears entirely —
    * the τ predicate filters INSIDE the scan projection, so the plan is
    * map-only codegen with zero exchange before the output sort, and
    * result size is data-dependent (that's the operator's contract).
    *
    * The τ comparison is on the RAW cosine: both engines hold
    * bit-identical doubles (sequential-fold kernel both sides), so the
    * boundary decision is exact — rounding first would only blur it.
    */
  private val RAD_TAU = 0.3

  private val radius = Q(
    "knn_radius",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cos = cosineSim(col("qv"), col("v"))
      e.join(broadcast(queries(e, NQ)), col("query_id") =!= col("vec_id"))
        .filter(cos >= RAD_TAU)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cos, 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < $NQ)
    SELECT query_id, e.vec_id AS neighbor_id,
      round(list_cosine_similarity(qv, e.v), 6) AS cosine
    FROM q, e
    WHERE query_id <> e.vec_id
      AND list_cosine_similarity(qv, e.v) >= $RAD_TAU
    ORDER BY query_id, neighbor_id"""))

  // -------------------------------------------------------------- knn_lsh
  /** Random-hyperplane LSH: 16 tables × 6-bit signatures from a fixed
    * seeded hyperplane bank (deterministic across runs/executors — the
    * planes are compile-time-seeded literals, broadcast with the plan).
    * Corpus rows land in 16 buckets each; queries probe their 16 buckets;
    * only bucket collisions are scored. Scale: candidate count per query
    * ≈ 16 · corpus/2^6 — tune tables/bits to the corpus; recall vs
    * brute force is asserted in KnnSpec.
    */
  private val TABLES = 16
  private val BITS = 6
  private val DIM = 64

  /** Fixed hyperplane bank [table][bit] — unit-free gaussians, seed 42. */
  private lazy val planes: Array[Array[Array[Double]]] =
    Hyperplanes.bank(TABLES, BITS, DIM, 42)

  private def lshBuckets(v: Column): Column = Hyperplanes.buckets(planes, v)

  private def lshProbeBuckets(v: Column): Column =
    Hyperplanes.probeBuckets(planes, v)

  /** The seeded plane bank as a DuckDB VALUES literal — one row per
    * (tbl, bit) with the 64-dim plane as DOUBLE[]. Scala's Double.toString
    * is the shortest round-trip form, so DuckDB parses the identical bit
    * pattern and sign(list_dot_product) matches the codegen'd dot_product
    * exactly (both are sequential left-to-right folds).
    */
  private lazy val planesSql: String =
    (for (t <- 0 until TABLES; b <- 0 until BITS) yield
      s"($t,$b,[${planes(t)(b).mkString(",")}]::DOUBLE[])").mkString(",\n      ")

  private val lsh = Q(
    "knn_lsh",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      // bucket index and candidate pairs carry bare IDs (16 B/row), not
      // the 64-double vectors — dedup hashes longs, exchanges stay thin,
      // and vectors are re-attached only to the surviving candidates
      val corpus = e.select(col("vec_id"),
          explode(lshBuckets(col("v"))).as("b"))
        .select(col("vec_id"), col("b.tbl"), col("b.bucket"))
      val probes = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"),
          explode(lshProbeBuckets(col("v"))).as("b"))
        .select(col("query_id"), col("b.tbl"), col("b.bucket"))
      val cand = corpus.join(broadcast(probes), Seq("tbl", "bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
      Ann.topK(cand.join(e, "vec_id")
        .join(broadcast(queries(e, NQ)), "query_id"), K)
    },
    // deterministic end-to-end (seeded literal planes, id tie-breaks), so
    // the whole LSH pipeline is mirrorable: bucket = Σ 2^bit over positive
    // plane dots, corpus indexes exact buckets, queries probe exact+1-bit
    // flips, candidates score like brute force
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    planes(tbl, bit, p) AS (VALUES
      $planesSql),
    sig AS (
      SELECT e.vec_id, pl.tbl,
        SUM(CASE WHEN list_dot_product(e.v, pl.p) > 0
          THEN 1 << pl.bit ELSE 0 END)::INT AS bucket
      FROM e, planes pl GROUP BY e.vec_id, pl.tbl),
    qsig AS (SELECT vec_id AS query_id, tbl, bucket FROM sig
      WHERE vec_id < $NQ),
    probes AS (
      SELECT query_id, tbl, bucket FROM qsig
      UNION ALL
      SELECT query_id, tbl, xor(bucket, (1 << f.range)::INT) AS bucket
      FROM qsig, range($BITS) f),
    cand AS (
      SELECT DISTINCT p.query_id, c.vec_id
      FROM sig c JOIN probes p USING (tbl, bucket)
      WHERE p.query_id <> c.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQ)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT cd.query_id, cd.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY cd.query_id
          ORDER BY list_cosine_similarity(q.qv, e.v) DESC, cd.vec_id)
          AS rank,
        round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
      FROM cand cd
      JOIN q ON cd.query_id = q.query_id
      JOIN e ON cd.vec_id = e.vec_id)
    WHERE rank <= $K ORDER BY query_id, rank"""))

  // -------------------------------------------------------------- knn_ivf
  /** IVF coarse quantizer trained in-plan by [[Lloyd]] ([[codebook]]);
    * queries probe their NPROBE nearest centroids and scan only those
    * inverted lists. The trainer is deterministic across engines and
    * partitionings, so the full pipeline is mirrorable as ground truth.
    * Lists are hash-partitioned by centroid; probe joins are broadcast;
    * recall tunes with nprobe.
    *
    * Honest recall note: this synthetic corpus is isotropic (no cluster
    * structure), the hardest case for IVF — measured recall@5 is 0.82 at
    * nprobe/nlist = 8/16 (~50% scanned) vs 0.5 expected from a random
    * half-scan, so the trained codebook beats random ~1.6×. The
    * placeholder first-16-ids codebook it replaced scored 0.94 only
    * because the spec's queries (vec_id < NQ) were themselves centroids
    * and always probed their own neighborhood — leakage, not quality. On
    * real clustered embedding corpora the same operator prunes far
    * harder at fixed recall.
    */
  private[graft] val NPROBE = 8

  /** Adaptive codebook size — the r14/r17 pinned-knob quadratic fix.
    * A pinned nlist makes derive-in-query IVF candidate volume
    * n²·nprobe/nlist (knn_join measured 655 s at sf3, exponent 2.41);
    * scaling nlist so each inverted list targets [[LIST_CAP]] vectors
    * makes the probe-side candidate stream n·NPROBE·LIST_CAP — linear.
    * The trainer's broadcast-argmax assign pass is then n·nlist
    * (n²/LIST_CAP kernel ops — negligible below ~1M vectors; past
    * that a two-level coarse quantizer is the production answer, see
    * OPTIMIZATION_r18.md).
    *
    * Lockstep rule: nlist must be THE SAME deterministic integer
    * function of the training-corpus row count in Spark and in every
    * DuckDB mirror — [[nlistFor]] and [[sqlNlistLimit]] interpolate
    * the same three constants, and the SQL counts the same CTE the
    * Spark side counts (the codebook's own training frame: `e`
    * everywhere except the incremental oracle, which trains on `eb`).
    * Below n = NLIST_MIN·LIST_CAP = 4096 this evaluates to
    * NLIST_MIN = 16, the historical pinned value — every gate sf
    * (n ≤ 2000) is bit-identical to the pinned-NLIST rounds.
    */
  private[graft] val NLIST_MIN = 16
  private[graft] val LIST_CAP = 256L
  private[graft] val NLIST_MAX = 1 << 20
  private[graft] def nlistFor(n: Long): Int = {
    // overflow-total ceil-div (n + LIST_CAP - 1 would wrap near
    // Long.Max); identical to the SQL (COUNT(*) + 255) // 256 for every
    // count below 2^63 - 255, i.e. always
    val lists = n / LIST_CAP + (if (n % LIST_CAP == 0) 0L else 1L)
    math.min(NLIST_MAX.toLong, math.max(NLIST_MIN.toLong, lists)).toInt
  }

  /** DuckDB mirror of [[nlistFor]] as a complete `LIMIT` clause over
    * the count of `src` (the codebook's training CTE). Inline scalar
    * subquery — no named CTE, so composed oracles can't collide (the
    * r11 CTE-name trap).
    */
  private[graft] def sqlNlistLimit(src: String): String =
    s"LIMIT (SELECT LEAST($NLIST_MAX, GREATEST($NLIST_MIN, " +
      s"(COUNT(*) + ${LIST_CAP - 1}) // $LIST_CAP)) FROM $src)"

  /** Nearest-centroid assignment WITHOUT a corpus shuffle: the codebook
    * collapses to one broadcast row holding a cent_id-sorted
    * array<struct>, and each corpus vector picks its argmax-cosine entry
    * via the codegen'd [[graft.functions.NearestCentroid]] kernel
    * (strict `>` over the sorted array == ordering by (cosine DESC,
    * cent_id ASC) — the exact DuckDB row_number tie-break). Zero
    * exchange: at 100 TB this beats shuffling NLIST× the corpus into a
    * window by orders of magnitude.
    */
  private[graft] def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cs"))
    e.crossJoin(broadcast(centArr))
      .withColumn("cent_id", org.apache.spark.sql.graft.Shim.column(
        graft.functions.NearestCentroid(
          org.apache.spark.sql.graft.Shim.expression(col("v")),
          org.apache.spark.sql.graft.Shim.expression(col("cs")))))
      .select("vec_id", "v", "cent_id")
  }

  /** NPROBE-nearest-centroid probe selection WITHOUT a shuffle: the
    * top-k twin of [[assign]]. The query frame (any columns + `qv`)
    * cross-joins the one-row broadcast codebook and explodes the
    * codegen'd [[graft.functions.NearestCentroids]] top-k array
    * map-side — reproducing exactly the rows of the
    * `row_number() OVER (... ORDER BY cos DESC, cent_id) <= nprobe`
    * form (KernelSpec pins the equality) with ZERO exchange. When the
    * query set is the corpus itself (knn_join), the window form
    * shuffled n·nlist rows each carrying the full query vector; this
    * is the 100 TB difference between probe selection being free and
    * being ~16× the corpus vector volume through one exchange.
    */
  private[graft] def probe(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val centArr = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cs"))
    q.crossJoin(broadcast(centArr))
      .withColumn("cent_id", explode(org.apache.spark.sql.graft.Shim.column(
        graft.functions.NearestCentroids(
          org.apache.spark.sql.graft.Shim.expression(col("qv")),
          org.apache.spark.sql.graft.Shim.expression(col("cs")), nprobe))))
      .drop("cs")
  }

  /** [[probe]] with the probe RANK retained (`prank` 1 = the query's own
    * assignment cell — [[assign]] is the same argmax): the stored form
    * [[buildKnnGraphIndexFrom]] persists so [[appendKnnGraph]] can (a)
    * reverse-probe which existing queries see a slice's cells and (b)
    * read an affected query's own cell without re-probing the corpus.
    * Same zero-exchange posexplode of the codegen'd
    * [[graft.functions.NearestCentroids]] top-k array — array order IS
    * rank order (KernelSpec pins it against the window form).
    */
  private[graft] def probeRanked(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val centArr = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cs"))
    q.crossJoin(broadcast(centArr))
      .select(col("*"), posexplode(org.apache.spark.sql.graft.Shim.column(
        graft.functions.NearestCentroids(
          org.apache.spark.sql.graft.Shim.expression(col("qv")),
          org.apache.spark.sql.graft.Shim.expression(col("cs")), nprobe))))
      .withColumn("prank", (col("pos") + 1).cast("long"))
      .withColumnRenamed("col", "cent_id")
      .drop("pos", "cs")
  }

  /** The trained IVF codebook over `e` (`vec_id` long, `v`): (cent_id,
    * cv) for the ≤ nlistFor(n) centroids that survive [[Lloyd]]'s
    * rounds. n is counted in the job that materializes `e`, in lockstep
    * with the oracle's COUNT(*) scalar subquery ([[sqlCodebook]]).
    */
  private[graft] def codebook(e: DataFrame): DataFrame =
    Lloyd.codebook(e, nlistFor, DIM, 1)

  /** The DuckDB mirror of [[codebook]] trained over the CTE `src`
    * (vec_id, v), ending at [[ivfCents]].
    */
  private[graft] def sqlCodebook(src: String): String =
    Lloyd.sqlTrain(src, "v", DIM, sqlNlistLimit(src))

  /** The CTE the IVF oracles read the trained (cent_id, cv) from. */
  private[sim] def ivfCents: String = Lloyd.sqlCents()

  /** The full trained-IVF pipeline as a reusable CTE chain ending in
    * `ivf_hits(query_id, neighbor_id, rank, cosine)` — shared by the
    * knn_ivf / knn_ivf_persisted oracles and composed (with a brute
    * CTE) by the knn_recall oracle.
    */
  private[sim] lazy val sqlIvfCtes = s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ${sqlCodebook("e")},
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQ),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT q.query_id, q.qv, c.cent_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cent_id)
            AS rk
        FROM q, $ivfCents c) WHERE rk <= $NPROBE),
    ivf_hits AS (
      SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.vec_id)
            AS rank,
          round(list_cosine_similarity(p.qv, a.v), 6) AS cosine
        FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
        WHERE p.query_id <> a.vec_id)
      WHERE rank <= $K)"""

  /** The full trained-IVF mirror — shared verbatim by `knn_ivf` and
    * `knn_ivf_persisted`: the persisted variant changes WHERE the
    * inverted lists are read from, not what they contain.
    */
  private lazy val sqlIvf = s"""WITH $sqlIvfCtes
    SELECT query_id, neighbor_id, rank, cosine FROM ivf_hits
    ORDER BY query_id, rank"""

  // -------------------------------------------------------- knn_ivf_balance
  /** IVF CELL-BALANCE report — the index-health card read before
    * trusting nprobe/recall numbers (FAISS's `imbalance_factor`): per
    * trained centroid, how many vectors its inverted list holds and its
    * exact floor-millionths share of the corpus. A skewed codebook
    * (dead cells + one giant list) means probes scan far more than
    * corpus/NLIST·nprobe — the dashboard number that triggers
    * retraining with better seeds or more Lloyd rounds. Dead centroids
    * REPORT (zero-coalesced left join from the codebook) — the failure
    * mode is invisible if only assigned cells appear.
    *
    * Scale: the zero-shuffle broadcast-argmax [[assign]] pass + ONE
    * map-side-combined count onto ≤NLIST keys; the share's total is a
    * single-partition window over the NLIST-row frame (index state,
    * never the corpus).
    */
  private val ivfBalance = Q(
    "knn_ivf_balance",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cents = codebook(e)
      val counts = assign(e, cents).groupBy("cent_id")
        .agg(count(lit(1)).as("n_vectors"))
      cents.select("cent_id")
        .join(counts, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
        .withColumn("g", lit(1))
        .withColumn("total", sum(col("n_vectors")).over(
          Window.partitionBy("g")))
        .select(col("cent_id"), col("n_vectors"),
          expr("n_vectors * 1000000 DIV total").as("share_m6"))
        .orderBy("cent_id")
    },
    Some(s"""WITH $sqlIvfCtes,
    counts AS MATERIALIZED (
      SELECT $ivfCents.cent_id, COUNT(a.vec_id)::BIGINT AS n_vectors
      FROM $ivfCents LEFT JOIN assigned a ON a.cent_id = $ivfCents.cent_id
      GROUP BY $ivfCents.cent_id)
    SELECT cent_id, n_vectors,
      (n_vectors * 1000000
        // (SELECT SUM(n_vectors) FROM counts))::BIGINT AS share_m6
    FROM counts ORDER BY cent_id"""))

  // ------------------------------------------------------ knn_ivf_residuals
  /** IVF RESIDUAL-NORM report — the quantization-error half of the
    * index-health pair ([[ivfBalance]] reads list-size skew; this reads
    * how far vectors sit from their centroid — FAISS's per-list
    * quantization error, and the IVFPQ feasibility number: PQ encodes
    * RESIDUALS, so a cell with a huge mean residual norm is where ADC
    * recall will die first): per trained centroid, list size + mean
    * squared residual norm in exact floor-micro units.
    *
    * Exactness: the residual is the elementwise IEEE subtraction via
    * the [[graft.functions.VecSub]] codegen kernel (bit-equal to
    * DuckDB's indexed list comprehension — the knn_ivfpq contract) and
    * its squared norm is the sequential-fold [[dotProduct]] kernel
    * (bit-equal to `list_inner_product` — the knn_mips contract), so
    * `floor(‖r‖²·10⁶)` is the same exact long both engines; sums are
    * exact DECIMAL(38,0)/HUGEINT, the mean ONE IEEE division. Dead
    * cells report n=0 with a NULL mean (the ivfBalance rule). Scale:
    * one zero-shuffle assign pass + two map-side kernels per vector +
    * one map-side-combined aggregate onto ≤NLIST keys.
    */
  private val ivfResiduals = Q(
    "knn_ivf_residuals",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cents = codebook(e)
      def vecSub(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        org.apache.spark.sql.graft.Shim.column(graft.functions.VecSub(
          org.apache.spark.sql.graft.Shim.expression(a),
          org.apache.spark.sql.graft.Shim.expression(b)))
      val r2 = assign(e, cents)
        .join(broadcast(cents), "cent_id")
        .select(col("cent_id"),
          floor(dotProduct(vecSub(col("v"), col("cv")),
            vecSub(col("v"), col("cv"))) * lit(1000000.0)).as("r2m"))
      val agg = r2.groupBy("cent_id")
        .agg(count(lit(1)).as("n_vectors"),
          // accumulate in decimal (oracle sums into HUGEINT) — a giant
          // list of high-residual vectors must not overflow a long sum
          sum(col("r2m").cast(DecimalType(38, 0)))
            .cast(DecimalType(38, 0)).as("t"))
      cents.select("cent_id")
        .join(agg, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
          when(coalesce(col("n_vectors"), lit(0L)) === 0L,
            lit(null).cast("double"))
            .otherwise(col("t").cast("double") / col("n_vectors"))
            .as("mean_r2_micro"))
        .orderBy("cent_id")
    },
    Some(s"""WITH $sqlIvfCtes,
    resid AS (
      SELECT cent_id,
        FLOOR(list_inner_product(rv, rv) * 1000000)::BIGINT AS r2m
      FROM (
        SELECT a.cent_id,
          [a.v[i] - c.cv[i] for i in range(1, len(a.v) + 1)] AS rv
        FROM assigned a JOIN $ivfCents c USING (cent_id))),
    ag AS (
      SELECT cent_id, COUNT(*)::BIGINT AS n_vectors, SUM(r2m) AS t
      FROM resid GROUP BY cent_id)
    SELECT $ivfCents.cent_id,
      COALESCE(ag.n_vectors, 0)::BIGINT AS n_vectors,
      (CASE WHEN COALESCE(ag.n_vectors, 0) = 0 THEN NULL
        ELSE CAST(ag.t AS DOUBLE) / ag.n_vectors END) AS mean_r2_micro
    FROM $ivfCents LEFT JOIN ag USING (cent_id)
    ORDER BY $ivfCents.cent_id"""))

  private val ivf = Q(
    "knn_ivf",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cents = codebook(e)
      ivfQueryPlan(assign(e, cents), cents, queries(e, NQ), K, NPROBE)
    },
    // fully deterministic (hash-order seeds, decimal-exact Lloyd means,
    // cosine ties broken by id), so the whole trained-IVF pipeline is
    // mirrorable as ground truth
    Some(sqlIvf))

  // ---------------------------------------------------- knn_ivf_persisted
  /** The written schemas of the persisted IVF tables, partition columns
    * typed long. Reading with them skips parquet schema inference (one
    * Spark job per read) and the int-typed partition columns it infers.
    */
  private[graft] val CentsSchema = StructType(Seq(
    StructField("cent_id", LongType), StructField("cv", ArrayType(DoubleType))))
  private[graft] val ListsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType)),
    StructField("cent_id", LongType), StructField("ingest_id", LongType)))

  /** The kNN-graph artifact's reverse-probe table ([[probeRanked]] rows;
    * its lists are read with [[ListsSchema]]).
    */
  private val ProbesSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("prank", LongType),
    StructField("cent_id", LongType), StructField("ingest_id", LongType)))

  /** Train an IVF index over `e` (`vec_id`, `v: array<double>`) and
    * persist it at `path` — the build-once half of the build-once /
    * query-many shape a production vector store actually runs (knn_ivf
    * retrains per query). Layout: `path/lists` = the assigned inverted
    * lists PARTITIONED BY cent_id, `path/cents` = the NLIST×DIM
    * codebook. Overwrites any prior index at `path` (delete-on-
    * overwrite via parquet overwrite mode — no stale files survive).
    * At cluster scale this is the one-time build job; `path` is any
    * shared filesystem URI (HDFS/object store).
    */
  def buildIvfIndex(e: DataFrame, path: String): Unit = {
    val cents = codebook(e)
    // ingest_id=0 marks the base build; appendIvfIndex slices take ids
    // > 0, keeping the lists directory a uniform two-level
    // (cent_id, ingest_id) layout (a mixed-depth directory would be
    // unreadable — the textIndexSink lesson). cent_id stays the LEADING
    // partition level, so queryIvfIndex's DPP pruning is unaffected.
    assign(e, cents).withColumn("ingest_id", lit(0L))
      .write.mode("overwrite")
      .partitionBy("cent_id", "ingest_id").parquet(s"$path/lists")
    cents.write.mode("overwrite").parquet(s"$path/cents")
  }

  /** Fail fast when a slice's ids already exist in a stored
    * ingest_id-partitioned table under a DIFFERENT ingest_id — the
    * [[graft.dedup.DedupState.appendDedupState]] duplicate-identity
    * contract extended to the vector-index appends: a silent duplicate
    * vec_id would land duplicate rows in lists/codes and corrupt top-k
    * edges and ADC ranks. Replaying the SAME ingestId stays allowed
    * (the dynamic-overwrite retry contract), and a takedown'd id can
    * be re-ingested (it is gone from the store). The check is a thin
    * column-pruned semi-join (vec_id only — list vectors never read).
    */
  private[graft] def requireFreshIds(s: SparkSession, storePath: String,
      slice: DataFrame, ingestId: Long, what: String): Unit = {
    // a store every row of which was taken down has no partition dirs
    // left to read (deleteFromLists removes emptied directories): with
    // the schema given it reads as empty — no prior identities, nothing
    // to clash with
    val prior = s.read.schema(StructType(Seq(
        StructField("vec_id", LongType), StructField("ingest_id", LongType))))
      .parquet(storePath)
      .filter(col("ingest_id") =!= ingestId)
      .select("vec_id")
    val clash = slice.select("vec_id").distinct()
      .join(prior, Seq("vec_id"), "left_semi").limit(1).count()
    require(clash == 0,
      s"$what: slice vec_ids overlap an already-ingested slice under " +
        "a different ingestId — identities must be globally unique " +
        "(replay the SAME ingestId to retry a slice)")
  }

  /** Incrementally ingest a vector slice into a persisted IVF index —
    * the ANN twin of [[graft.dedup.MinhashIndex.append]] and the text
    * index's streaming sink: assign the slice against the EXISTING
    * codebook and append its rows to the inverted lists. The codebook
    * stays FROZEN across appends (retraining would reassign and
    * re-shuffle every list; when drift accumulates, refresh =
    * [[buildIvfIndex]] anew) — the standard IVF maintenance contract
    * (FAISS's add-after-train). Appends are associative by
    * construction (each slice's assignment depends only on the frozen
    * codebook — KnnSpec pins append(B1)+append(B2) ≡ append(B1∪B2)),
    * [[queryIvfIndex]] needs no change (lists grow in place; probes and
    * both read paths are codebook-driven), and each append accretes
    * one file set per list directory —
    * [[graft.sources.Sources.compactParquet]] per `cent_id=` dir is the
    * maintenance pass.
    */
  def appendIvfIndex(s: SparkSession, path: String, e: DataFrame,
      ingestId: Long): Unit = {
    // ingestId must be unique per SLICE (the streaming batchId
    // contract): a replay of the same slice with the same id
    // dynamically overwrites its own (cent_id, ingest_id) partitions
    // instead of duplicating inverted-list rows — plain append mode
    // silently doubled neighbors on a crash-retry. 0 is reserved for
    // the base build. As with any dynamic overwrite, a RETRY must
    // carry the same rows (a shrunk retry leaves the vanished
    // partitions' stale rows in place).
    require(ingestId > 0, s"ingestId must be > 0 (0 = base build), got $ingestId")
    requireFreshIds(s, s"$path/lists", e, ingestId, "appendIvfIndex")
    val cbook = s.read.schema(CentsSchema).parquet(s"$path/cents")
    assign(e, cbook).withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id", "ingest_id").parquet(s"$path/lists")
  }

  /** Maintenance: fold accreted append slices into the base partitions
    * — [[graft.sources.Sources.foldIngestPartitions]] over the lists
    * (answers unchanged; the daily-slice loop's partition-count bound).
    */
  def compactIvfIndex(s: SparkSession, path: String): (Int, Int) =
    graft.sources.Sources.foldIngestPartitions(s, s"$path/lists")

  /** Drift-triggered refresh — closes the frozen-codebook loop the
    * append contract leaves open ("when drift accumulates, refresh = a
    * new build"): measure the incoming slice's embedding-distribution
    * drift against the stored corpus (the emb_drift signal — exact
    * per-dimension decimal means, drift = L2 displacement of the mean
    * vector), and
    *   - BELOW `tau`: byte no-op, return false — the slice is
    *     codebook-compatible; ingest it with [[appendIvfIndex]] as
    *     usual (this operator never ingests, it only decides + rebuilds
    *     — callers keep one ingest path);
    *   - AT/ABOVE `tau`: retrain + re-encode via [[buildIvfIndex]] over
    *     stored ∪ slice and return true — the artifact afterwards IS a
    *     fresh build on the union corpus (bit-identical: the codebook
    *     trains on exact decimal sums, order-independent), with the
    *     slice ingested as part of the base (ingest_id=0).
    *
    * Cost is bounded: the decision is ONE linear pass over (stored ∪
    * slice) vectors into a d-row aggregate plus a driver-side d-row
    * fold — no shuffle beyond the d-key exchange; the rebuild only runs
    * when triggered and costs exactly one [[buildIvfIndex]]. Lives on
    * the IVF index because its lists store the RAW vectors (the rebuild
    * is self-contained); an IVFPQ artifact stores only codes, so its
    * refresh needs the corpus handed back — run the drift decision
    * here, rebuild with [[Pq.buildIvfPqIndex]] from source.
    */
  def reindexOnDrift(s: SparkSession, path: String, slice: DataFrame,
      tau: Double): Boolean = {
    import org.apache.spark.sql.types.DecimalType
    require(tau > 0, s"tau must be positive, got $tau")
    val dec = DecimalType(38, 0)
    val stored = s.read.schema(ListsSchema).parquet(s"$path/lists")
      .select("vec_id", "v")
    val sl = graft.Checkpoint.of(slice.select("vec_id", "v"))
    if (sl.limit(1).count() == 0) return false
    val clash = sl.select("vec_id").distinct()
      .join(stored.select("vec_id"), Seq("vec_id"), "left_semi")
      .limit(1).count()
    require(clash == 0,
      "reindexOnDrift: slice vec_ids overlap the stored corpus — " +
        "identities must be globally unique")
    val comp = stored.withColumn("is_new", lit(false))
      .unionByName(sl.withColumn("is_new", lit(true)))
      .select(posexplode(col("v")).as(Seq("d0", "x")), col("is_new"))
      .select(col("d0"), col("is_new"),
        (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
          .cast(dec).as("m"))
    val st = comp.groupBy("d0").agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("nn"),
      sum(when(!col("is_new"), col("m")).otherwise(lit(0).cast(dec)))
        .cast(dec).as("sb"),
      sum(when(col("is_new"), col("m")).otherwise(lit(0).cast(dec)))
        .cast(dec).as("sn"))
    val drift2 = st.select(
      pow(col("sn").cast("double") / (col("nn") * lit(1000000.0))
        - col("sb").cast("double") / (col("nb") * lit(1000000.0)),
        2).as("d2"))
      .agg(sum("d2").as("s")).head().getDouble(0)
    if (math.sqrt(drift2) < tau) false
    else {
      // the union lineage reads the very lists the rebuild overwrites
      val union = graft.Checkpoint.of(stored.unionByName(sl))
      buildIvfIndex(union, path)
      true
    }
  }

  /** Maintenance: fold the kNN-graph artifact's appended slices into
    * the base — both ingest-partitioned tables (lists, probes); edges
    * are unpartitioned and untouched.
    */
  def compactKnnGraphIndex(s: SparkSession, path: String): (Int, Int) = {
    val (lb, la) = graft.sources.Sources
      .foldIngestPartitions(s, s"$path/lists")
    val (pb, pa) = graft.sources.Sources
      .foldIngestPartitions(s, s"$path/probes")
    (lb + pb, la + pa)
  }

  /** Drop `vec_id` rows from a (cent_id, ingest_id)-partitioned vector
    * table by rewriting ONLY the partitions that contain them — the
    * lists hold the corpus vectors, so a takedown must never become a
    * full-table rewrite. Dynamic overwrite replaces the affected
    * partitions; a partition left EMPTY gets no rows written (dynamic
    * overwrite cannot express "now empty"), so its directory is
    * removed explicitly, and so is its `cent_id=` parent once no
    * ingest slice is left under it. Affected-partition and leftover-dir
    * lists are collected — bounded by the removal's cell fan-out, never
    * corpus-sized (the Sources touched-bucket contract). `schema` is
    * the table's written one (lists or codes).
    */
  private[sim] def deleteFromLists(s: SparkSession, listsPath: String,
      schema: StructType, ids: DataFrame): Seq[Long] = {
    val lists = s.read.schema(schema).parquet(listsPath)
    val aff = lists.join(ids, Seq("vec_id"), "left_semi")
      .select("cent_id", "ingest_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (aff.isEmpty) return Seq.empty
    val keyCol = concat_ws("/", col("cent_id"), col("ingest_id"))
    val affKeys = aff.map { case (c, i) => s"$c/$i" }.toSeq
    val keep = graft.Checkpoint.of(
      lists.filter(keyCol.isin(affKeys: _*))
        .join(ids, Seq("vec_id"), "left_anti"))
    keep.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id", "ingest_id").parquet(listsPath)
    val wrote = keep.select("cent_id", "ingest_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fs = new org.apache.hadoop.fs.Path(listsPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    for ((c, i) <- aff if !wrote((c, i))) {
      val cell = new org.apache.hadoop.fs.Path(s"$listsPath/cent_id=$c")
      fs.delete(new org.apache.hadoop.fs.Path(cell, s"ingest_id=$i"), true)
      if (fs.listStatus(cell).isEmpty) fs.delete(cell, true)
    }
    aff.map(_._1).distinct.toSeq
  }

  /** TAKEDOWN: remove vectors from a persisted IVF index — the
    * retraction path next to [[appendIvfIndex]]'s ingest: delete(x) ∘
    * build(A) answers exactly like an index whose lists were assigned
    * from A∖x against the SAME frozen codebook (KnnSpec pins it; the
    * codebook keeps the FAISS add/remove-after-train contract, so
    * other vectors' list membership cannot move). Cost is bounded by
    * the removed vectors' partition fan-out via [[deleteFromLists]];
    * a removed id may be re-ingested later by [[appendIvfIndex]].
    */
  def removeFromIvfIndex(s: SparkSession, path: String,
      vecIds: DataFrame): Unit = {
    deleteFromLists(s, s"$path/lists", ListsSchema,
      graft.Checkpoint.of(vecIds.select("vec_id").distinct()))
    ()
  }

  /** Query a persisted IVF index: exact top-`k` cosine neighbors of each
    * (`query_id`, `qv`) row of `q` among the `nprobe` nearest inverted
    * lists.
    *
    * A batch of at most [[IndexQuery.DRIVER_QUERIES]] queries whose
    * probed cells hold at most [[IndexQuery.DRIVER_LIST_BYTES]] of
    * parquet ends on the driver ([[IndexQuery.ivf]]) in 2 jobs: collect
    * the batch, read the probed cells through a static `cent_id IN (…)`
    * partition filter. The frozen codebook costs one more job the first
    * time its files are seen. The size check reads the pruned file
    * listing and launches no job. The answer is a LocalRelation with the
    * plan's rows and schema.
    *
    * Past either bound, or for a batch the driver can't reproduce (see
    * [[IndexQuery]]), the distributed plan runs (9 jobs for an 8-query
    * batch): because cent_id is a partition column of `path/lists` and
    * the probe side joins it through a broadcast, Spark's dynamic
    * partition pruning turns the probe set into a directory filter — a
    * query READS only its nprobe/nlist share of the index from storage
    * (KnnSpec asserts `dynamicpruning` reaches the list scan), which at
    * 100 TB is the difference between an 8/16-list read and a
    * full-index scan per query batch.
    */
  def queryIvfIndex(s: SparkSession, path: String, q: DataFrame,
      k: Int = K, nprobe: Int = NPROBE): DataFrame =
    queryIvfIndexWith(s, path, q, k, nprobe, IndexQuery.IVF)

  /** `bound` is the specs' seam for forcing either path. */
  private[graft] def queryIvfIndexWith(s: SparkSession, path: String,
      q: DataFrame, k: Int, nprobe: Int, bound: IndexQuery.Bound): DataFrame = {
    val lists = s.read.schema(ListsSchema).parquet(s"$path/lists")
    val cbook = s.read.schema(CentsSchema).parquet(s"$path/cents")
    lazy val plan = ivfQueryPlan(lists, cbook, q, k, nprobe)
    IndexQuery.ivf(q, cbook, lists, k, nprobe, bound,
      graft.PlanSchemas.of(Seq("ivf", q.schema), plan.schema))
      .getOrElse(plan)
  }

  /** The distributed plan of [[queryIvfIndex]], and knn_ivf's over the
    * lists it assigns in-query.
    */
  private def ivfQueryPlan(lists: DataFrame, cbook: DataFrame, q: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    Ann.topK(ivfCandidates(lists, cbook, q, nprobe), k)

  /** IVF candidates: each (query_id, qv) row of `q` against the members
    * (vec_id, v, cent_id) of its `nprobe` nearest `lists` cells, itself
    * excluded.
    */
  private def ivfCandidates(lists: DataFrame, cbook: DataFrame,
      q: DataFrame, nprobe: Int): DataFrame =
    lists.join(broadcast(probe(q, cbook, nprobe)
        .select(col("query_id"), col("qv"), col("cent_id"))), "cent_id")
      .filter(col("query_id") =!= col("vec_id"))

  private[graft] def cachedIndex(s: SparkSession, dir: String): String =
    graft.Artifacts.cached("ivf", s, dir)(
      buildIvfIndex(Tables.vectors(s, dir), _))

  /** IVF as a PERSISTED index — [[buildIvfIndex]] once per corpus
    * fingerprint ([[graft.Artifacts.cached]]), [[queryIvfIndex]] against
    * the files. Results are identical to knn_ivf by construction (same
    * training, same probes, same scoring; doubles round-trip parquet
    * bit-exactly), so the oracle is [[sqlIvf]] verbatim.
    */
  private val ivfPersisted = Q(
    "knn_ivf_persisted",
    (s, dir) => {
      val idx = cachedIndex(s, dir)
      queryIvfIndex(s, idx, queries(Tables.vectors(s, dir), NQ))
    },
    Some(sqlIvf))

  // ---------------------------------------------------- knn_ivf_quantized
  /** IVF with int8-quantized candidate scoring — the 100 TB memory play:
    * the probe-list scan reads 1-byte codes (4× smaller than float32,
    * 8× than these float64 test vectors) and scores candidates with an
    * INTEGER dot product times two per-vector scales; only the top
    * [[RERANK]] quantized hits per query are re-scored with the exact
    * float cosine. Training, assignment, and probing are identical to
    * [[ivf]] (same decimal-exact Lloyd codebook), so the memory saving
    * composes with the same recall story, and KnnSpec asserts the
    * quantized recall@5 stays within 0.02 of the float path.
    *
    * Fully deterministic, so oracle-gated end-to-end: codes/scales
    * mirror emb_quantize (round parity proven there), the quantized
    * score is an exact integer sum (|code| ≤ 127, dim 64 ⇒ dot ≤ ~10⁶,
    * exact in double, order-independent) times two IEEE multiplies in
    * fixed left-to-right association, ties broken by vec_id.
    *
    * Scale shape: codes attach to the inverted lists ONCE (a build-time
    * join on vec_id); probes travel with the query codes as one
    * broadcast; the candidate scan never touches the float vectors,
    * which are re-joined only for the ≤ RERANK·|Q| survivors.
    */
  private val RERANK = 50

  private val ivfQuantized = Q(
    "knn_ivf_quantized",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      // scale materialized before the code lambda reads it (emb_quantize
      // re-evaluation trap), then the code table materialized before the
      // joins below inline the O(d) transform into join projections
      val qz = e.withColumn("s", Quantize.int8Scale(col("v")))
        .transform(graft.Checkpoint.of)
      val codes = qz.select(col("vec_id"),
          Quantize.int8Codes(col("v"), col("s")).cast("array<double>")
            .as("c"), col("s"))
        .transform(graft.Checkpoint.of)
      val cents = codebook(e)
      // inverted lists carry (cent_id, codes, scale) — no float vectors
      val lists = assign(e, cents).select("vec_id", "cent_id")
        .join(codes, "vec_id")
      val q = queries(e, NQ)
      val probes = probe(q, cents, NPROBE)
        .select(col("query_id"), col("cent_id"))
        .join(codes.select(col("vec_id").as("query_id"),
          col("c").as("qc"), col("s").as("qs")), "query_id")
      // integer dot × scales, fixed (dot·qs)·s association both engines
      val qscore =
        (graft.functions.CosineSim.dotProduct(col("qc"), col("c")) *
          col("qs")) * col("s")
      // float re-rank of the survivors only
      Ann.rerank(lists.join(broadcast(probes), "cent_id")
        .filter(col("query_id") =!= col("vec_id")), qscore, RERANK, e, q, K)
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    qz AS (SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM e),
    codes AS (SELECT vec_id,
        list_transform(v, x -> CASE WHEN s = 0 THEN 0.0
          ELSE round(x / s) END) AS c, s
      FROM qz),
    ${sqlCodebook("e")},
    assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQ),
    probes AS (
      SELECT query_id, cent_id FROM (
        SELECT q.query_id, c.cent_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cent_id)
            AS rk
        FROM q, $ivfCents c) WHERE rk <= $NPROBE),
    topr AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY list_dot_product(qc.c, cc.c) * qc.s * cc.s DESC,
              a.vec_id) AS rr
        FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
        JOIN codes qc ON qc.vec_id = p.query_id
        JOIN codes cc ON cc.vec_id = a.vec_id
        WHERE p.query_id <> a.vec_id) WHERE rr <= $RERANK)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT t.query_id, t.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY t.query_id
          ORDER BY list_cosine_similarity(q.qv, e.v) DESC, t.vec_id)
          AS rank,
        round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
      FROM topr t
      JOIN q ON t.query_id = q.query_id
      JOIN e ON t.vec_id = e.vec_id)
    WHERE rank <= $K ORDER BY query_id, rank"""))

  // -------------------------------------------------------------- knn_join
  /** kNN JOIN — the top-k neighbor graph over the WHOLE corpus (every
    * vector, not a small query set): the building block for kNN-graph
    * clustering and graph-based dedup. Same trained IVF machinery as
    * [[ivf]], with the query side = the corpus itself: every vector
    * probes its NPROBE nearest centroids and scores only those inverted
    * lists.
    *
    * Scale shape: probe selection is ZERO-exchange — the corpus-sized
    * query set explodes its [[graft.functions.NearestCentroids]] top-k
    * array map-side against the one-row broadcast codebook (see
    * [[probe]]; a window formulation here shuffled n·nlist rows each
    * carrying the full query vector). Candidates are scored IN the join
    * projection and immediately projected to thin (query_id,
    * neighbor_id, cosine) rows, so the only wide exchange is the
    * cent_id-keyed list join (n·NPROBE probe rows — NOT broadcast, the
    * corpus is the query set); the per-query top-k window is preceded
    * by Spark's partial WindowGroupLimit, which cuts each partition to
    * k rows per query BEFORE the window shuffle — the shuffle carries
    * O(n·k), not O(n·n/nlist).
    */
  private val JOIN_K = 3

  /** The kNN graph (query_id, neighbor_id, rank, cosine) — knn_join's
    * body, shared with graph_pagerank's edge list.
    */
  private def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.vectors(s, dir)
    knnGraphFrom(e, codebook(e))
  }

  /** [[knnGraph]] against a CALLER-SUPPLIED (possibly frozen) codebook —
    * the body [[buildKnnGraphIndexFrom]] persists and the reference
    * semantics [[appendKnnGraph]]'s incremental maintenance must
    * reproduce (KnnGraphAppendSpec pins build+append ≡ this over the
    * union corpus with the frozen codebook).
    */
  private[graft] def knnGraphFrom(e: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = assign(e, cents)
    val probes = probe(
      e.select(col("vec_id").as("query_id"), col("v").as("qv")),
      cents, NPROBE)
      .select(col("query_id"), col("qv"), col("cent_id"))
    val cos = cosineSim(col("qv"), col("v"))
    // bounded-heap top-k aggregate, NOT a row_number window: the window
    // form sorts the whole n·nprobe·cellsize candidate stream map-side
    // (the r15 sf3 sweep spilled 79 GB of disk through it); the
    // aggregate's map-side combine reduces it to ≤k rows per query
    // before the exchange, with bit-identical selection under the same
    // (rounded-cosine desc, vec_id asc) total order (TopEdgesSpec)
    topKEdgesOf(assigned.join(probes, "cent_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), round(cos, 6).as("cosine"),
        col("vec_id").as("neighbor_id")))
  }

  /** (query_id, cosine, neighbor_id) candidate stream → the top-
    * [[JOIN_K]] ranked edges per query via [[graft.functions.TopEdges]]
    * — the ONLY legal top-k on corpus-scale candidate streams (a
    * row_number window sorts the whole stream; see [[knnGraphFrom]]).
    * Selection order (cosine desc, neighbor_id asc), bit-identical to
    * the window form.
    */
  private def topKEdgesOf(cand: DataFrame): DataFrame =
    cand.groupBy("query_id")
      .agg(graft.functions.TopEdges.topK(JOIN_K)(
        col("cosine"), col("neighbor_id")).as("tops"))
      .select(col("query_id"), posexplode(col("tops")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("cosine"))

  private val knnJoin = Q(
    "knn_join",
    (s, dir) => knnGraph(s, dir).orderBy("query_id", "rank"),
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ${sqlCodebook("e")},
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk = 1),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk <= $NPROBE)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY p.query_id
          ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
            a.vec_id) AS rank,
        round(list_cosine_similarity(p.qv, a.v), 6) AS cosine
      FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
      WHERE p.query_id <> a.vec_id)
    WHERE rank <= $JOIN_K ORDER BY query_id, rank"""))

  // --------------------------------------------------------- graph_pagerank
  /** PageRank over the kNN graph — the graph-centrality curation signal
    * (a vector whose neighborhood keeps pointing back at it is a dense
    * region's representative; crawl pipelines use the same iteration on
    * the link graph). Edges are [[knnGraph]]'s directed top-[[JOIN_K]]
    * list; [[PR_ROUNDS]] fixed damped rounds, then every node's score.
    *
    * Cross-engine exactness: float PageRank would drift (per-node sums
    * in different orders), so the CONTRACT is stated in integers —
    * scores are micro-units starting at 10⁶, and one round is
    * `pr' = 150000 + (850 · Σ_incoming floor(pr/outdeg)) DIV 1000`
    * (damping 0.85 as exact integer ratios, floor division in both
    * engines). Every round is exact integer arithmetic in any
    * aggregation order — the kmeans_train fixed-round-iteration
    * precedent applied to a graph fixpoint.
    *
    * Scale: the degree-annotated edge list (n·k thin (u, v_id, d) rows)
    * is checkpointed once; each round is ONE join of the (id, pr) frame
    * against it plus one map-side-combined sum keyed by neighbor — the
    * standard distributed PageRank shape, no driver-side state.
    */
  private val PR_ROUNDS = 3

  /** The damped-pagerank report from any (query_id, neighbor_id) edge
    * frame — shared by [[pagerank]] and `graph_pagerank_persisted`.
    */
  private def pagerankReport(s: SparkSession, dir: String,
      rawEdges: DataFrame): DataFrame = {
      // materialized FIRST: e0 feeds both the degree aggregate and the
      // join below — un-checkpointed, the whole edge lineage (for the
      // in-query derivation, the IVF kNN-join) would run once per
      // consumer (the graph_components lesson)
      val e0 = graft.Checkpoint.of(rawEdges
        .select(col("query_id").as("u"), col("neighbor_id").as("v_id")))
      val deg = e0.groupBy("u").agg(count(lit(1)).as("d"))
      // static (u, v_id, d) — the per-round loop then needs ONE join
      // (pr on u) instead of pr⋈deg followed by ⋈edges
      val edges = e0.join(deg, "u").transform(graft.Checkpoint.of)
      val nodes = Tables.vectors(s, dir).select("vec_id")
      val last = (1 to PR_ROUNDS).foldLeft(
          nodes.withColumn("pr", lit(1000000L))) { (pr, _) =>
        val contrib = pr.join(edges, pr("vec_id") === edges("u"))
          .select(expr("pr DIV d").as("c"), col("v_id"))
          .groupBy(col("v_id").as("vec_id"))
          .agg(sum("c").as("contrib"))
        nodes.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            expr("150000 + ((850 * coalesce(contrib, 0)) DIV 1000)")
              .cast("long").as("pr"))
          .transform(graft.Checkpoint.of)
      }
      last.orderBy("vec_id")
  }

  private val sqlPagerank: String = {
      val roundCtes = (1 to PR_ROUNDS).map { r =>
        s"""pr$r AS (
      SELECT n.vec_id,
        (150000 + ((850 * COALESCE(SUM(p.pr // d.d), 0)) // 1000))::BIGINT
          AS pr
      FROM e n
      LEFT JOIN edges ed ON ed.v_id = n.vec_id
      LEFT JOIN pr${r - 1} p ON p.vec_id = ed.u
      LEFT JOIN deg d ON d.u = ed.u
      GROUP BY n.vec_id)"""
      }.mkString(",\n    ")
      s"""WITH $sqlKnnEdgesCte,
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    pr0 AS (SELECT vec_id, 1000000::BIGINT AS pr FROM e),
    $roundCtes
    SELECT vec_id, pr FROM pr$PR_ROUNDS ORDER BY vec_id"""}

  private val pagerank = Q(
    "graph_pagerank",
    (s, dir) => pagerankReport(s, dir,
      knnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlPagerank))

  private val pagerankPersistedQ = Q(
    "graph_pagerank_persisted",
    (s, dir) => pagerankReport(s, dir,
      readKnnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlPagerank))

  /** The knn-graph edge list as a DuckDB CTE chain (`e` … `edges`) —
    * the shared oracle prefix of graph_pagerank / graph_triangles,
    * mirroring [[knnGraph]]'s directed top-[[JOIN_K]] edges exactly.
    */
  private def sqlKnnEdgesCte: String =
    s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ${sqlCodebook("e")},
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk = 1),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk <= $NPROBE),
    edges AS (
      SELECT query_id AS u, neighbor_id AS v_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
              a.vec_id) AS rank
        FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
        WHERE p.query_id <> a.vec_id)
      WHERE rank <= $JOIN_K)"""

  // -------------------------------------------------------- graph_triangles
  /** Per-node TRIANGLE COUNT + degree over the undirected kNN graph —
    * the local-density signal next to [[pagerank]]'s centrality: a
    * node whose neighbors also neighbor each other sits inside a tight
    * near-dup/topic cluster (its local clustering coefficient
    * 2T/(d(d−1)) follows from these two integers); triangle-free
    * spokes are the corpus's genuinely isolated points. Classic
    * distributed triangle counting (Suri & Vassilvitskii's MapReduce
    * formulation) as three self-equi-joins on the ORDERED edge list
    * (u < v), so each triangle {a<b<c} materializes exactly once from
    * (a,b)⋈(b,c)⋈(a,c).
    *
    * Scale: the undirected edge list is n·k thin long pairs,
    * checkpointed once; the ab⋈bc join is keyed on the shared vertex
    * (Σ deg² pair volume — bounded by k·n·k here since out-degree ≤ k)
    * and the closing ac probe is another thin equi-join. Per-node
    * roll-ups are map-side-combined counts. No arrays, no windows, no
    * driver state.
    */
  /** The deduped undirected (u < v) edge set, checkpointed — shared
    * derivation of every undirected-graph report body.
    */
  private def undirectedEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("query_id"), col("neighbor_id")).as("u"),
        greatest(col("query_id"), col("neighbor_id")).as("v"))
      .distinct()
      .transform(graft.Checkpoint.of)

  /** The triangle/degree report from any (query_id, neighbor_id) edge
    * frame — shared by the derive-in-query `graph_triangles` and
    * `graph_triangles_persisted` (edges read from the stored graph):
    * ONE definition, two ingestion paths.
    */
  private def triangleReport(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
      val und = undirectedEdges(edges)
      val deg = und.select(col("u").as("node"))
        .unionByName(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val tri = und.as("ab")
        .join(und.as("bc"), col("ab.v") === col("bc.u"))
        .join(und.as("ac"),
          col("ac.u") === col("ab.u") && col("ac.v") === col("bc.v"))
        .select(col("ab.u").as("a"), col("ab.v").as("b"),
          col("bc.v").as("c"))
      val perNode = tri.select(col("a").as("node"))
        .unionByName(tri.select(col("b").as("node")))
        .unionByName(tri.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
      Tables.vectors(s, dir).select(col("vec_id"))
        .join(deg.withColumnRenamed("node", "vec_id"), Seq("vec_id"),
          "left")
        .join(perNode.withColumnRenamed("node", "vec_id"), Seq("vec_id"),
          "left")
        .select(col("vec_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"))
        .orderBy("vec_id")
  }

  /** Shared by graph_triangles and graph_triangles_persisted — the
    * stored edges are [[knnGraph]]'s rows by construction, so one
    * oracle gates both ingestion paths.
    */
  private val sqlTriangles: String = s"""WITH $sqlKnnEdgesCte,
    und AS (SELECT DISTINCT least(u, v_id) AS u, greatest(u, v_id) AS v
      FROM edges),
    tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM und ab
      JOIN und bc ON ab.v = bc.u
      JOIN und ac ON ac.u = ab.u AND ac.v = bc.v),
    deg AS (SELECT node, COUNT(*)::BIGINT AS degree FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      GROUP BY node),
    tpn AS (SELECT node, COUNT(*)::BIGINT AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY node)
    SELECT e.vec_id, COALESCE(deg.degree, 0) AS degree,
      COALESCE(tpn.triangles, 0) AS triangles
    FROM e
    LEFT JOIN deg ON deg.node = e.vec_id
    LEFT JOIN tpn ON tpn.node = e.vec_id
    ORDER BY e.vec_id"""

  private val triangleQ = Q(
    "graph_triangles",
    (s, dir) => triangleReport(s, dir,
      knnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlTriangles))

  // --------------------------------------------------------- graph_linkpred
  /** LINK PREDICTION over the kNN graph — common-neighbor Jaccard
    * scoring (Liben-Nowell & Kleinberg's classic baseline): for every
    * NON-adjacent pair sharing ≥1 neighbor, score =
    * |N(u)∩N(v)|·10⁶ DIV |N(u)∪N(v)| in exact integer millionths
    * (union = deg(u)+deg(v)−common, so ONE wedge count and two degree
    * lookups suffice — the neighbor sets are never materialized as
    * arrays). Top-50 predicted edges: the pairs the kNN index "missed"
    * — in a dedup/similarity pipeline these are the candidate pairs a
    * second verification pass should score next.
    *
    * Scale: wedge generation is the adjacency self-join on the shared
    * CENTER vertex — Σ deg² pair volume, bounded by n·(2k)² on a
    * degree-capped kNN graph (never all-pairs); adjacency and degrees
    * derive from one checkpointed edge list; the known-edge exclusion
    * is a thin anti-join on ordered pairs; top-50 plans as
    * TakeOrderedAndProject.
    */
  /** The link-prediction report from any (query_id, neighbor_id) edge
    * frame — shared by [[linkpredQ]] and `graph_linkpred_persisted`.
    */
  private def linkpredReport(edges: DataFrame): DataFrame = {
      val und = undirectedEdges(edges)
      val adj = und.select(col("u").as("node"), col("v").as("nb"))
        .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
      val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
      val common = adj.as("x").join(adj.as("y"),
          col("x.node") === col("y.node") && col("x.nb") < col("y.nb"))
        .groupBy(col("x.nb").as("pu"), col("y.nb").as("pv"))
        .agg(count(lit(1)).as("common"))
      common
        .join(und, col("pu") === col("u") && col("pv") === col("v"),
          "left_anti")
        .join(deg.withColumnRenamed("node", "pu")
          .withColumnRenamed("d", "du"), Seq("pu"))
        .join(deg.withColumnRenamed("node", "pv")
          .withColumnRenamed("d", "dv"), Seq("pv"))
        .select(col("pu").as("src"), col("pv").as("dst"), col("common"),
          expr("common * 1000000 DIV (du + dv - common)").cast("long")
            .as("jaccard_m6"))
        .orderBy(col("jaccard_m6").desc, col("src"), col("dst"))
        .limit(50)
  }

  /** Shared by graph_linkpred and graph_linkpred_persisted. */
  private val sqlLinkpred: String = s"""WITH $sqlKnnEdgesCte,
    und AS (SELECT DISTINCT least(u, v_id) AS u, greatest(u, v_id) AS v
      FROM edges),
    adj AS (SELECT u AS node, v AS nb FROM und
      UNION ALL SELECT v, u FROM und),
    deg AS (SELECT node, COUNT(*)::BIGINT AS d FROM adj GROUP BY node),
    common AS (
      SELECT x.nb AS pu, y.nb AS pv, COUNT(*)::BIGINT AS common
      FROM adj x JOIN adj y ON x.node = y.node AND x.nb < y.nb
      GROUP BY 1, 2),
    cand AS (
      SELECT pu, pv, common FROM common
      WHERE NOT EXISTS (SELECT 1 FROM und
        WHERE u = pu AND v = pv))
    SELECT pu AS src, pv AS dst, common,
      (common * 1000000 // (du.d + dv.d - common))::BIGINT AS jaccard_m6
    FROM cand
    JOIN deg du ON du.node = pu
    JOIN deg dv ON dv.node = pv
    ORDER BY jaccard_m6 DESC, src, dst LIMIT 50"""

  private val linkpredQ = Q(
    "graph_linkpred",
    (s, dir) => linkpredReport(
      knnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlLinkpred))

  // ------------------------------------------------------ graph_labelprop
  /** COMMUNITY DETECTION via synchronous label propagation (Raghavan,
    * Albert & Kumara 2007) over the persisted kNN graph — the
    * coarser-than-components structure a curation dashboard reads
    * (components answers "is the space one blob"; communities answer
    * "what are the topic-sized regions inside the blob"). Exactly
    * [[LPA_ROUNDS]] synchronous rounds, fully deterministic: every
    * node adopts the most frequent label among its neighbors, ties by
    * max count then MIN label — so the unrolled-CTE oracle hash-gates
    * the whole trajectory (the kmeans_train fixed-rounds precedent;
    * no convergence probe, so cost is bounded by construction — the
    * mm_phash_clusters diameter lesson applied a priori).
    *
    * Scale: each round is ONE equi-join of the checkpointed 2E-row
    * adjacency against the n-row label frame + a map-side-combined
    * (node, lbl) count + a partial-aggregatable `max_by` argmax (no
    * exchange+sort+window — the q30 rule). Labels are consumed ONCE
    * per round (isolated nodes are handled at the END — they never
    * change label, so the loop runs only over nodes with edges),
    * keeping the 3-round lineage LINEAR with zero per-round
    * checkpoints. Final labels checkpoint once (sizes + report = two
    * consumers).
    */
  private val LPA_ROUNDS = 3

  private def labelpropReport(s: SparkSession, dir: String,
      rawEdges: DataFrame): DataFrame = {
    val und = undirectedEdges(
      rawEdges.select("query_id", "neighbor_id"))
    val adj = und.select(col("u").as("node"), col("v").as("nb"))
      .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
      .transform(graft.Checkpoint.of) // one frame, LPA_ROUNDS consumers
    var lbl = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to LPA_ROUNDS) {
      lbl = adj
        .join(lbl.withColumnRenamed("node", "nb"), "nb")
        .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(max_by(col("lbl"), struct(col("c"), -col("lbl"))).as("lbl"))
    }
    val fin = graft.Checkpoint.of(lbl)
    val all = Tables.vectors(s, dir).select(col("vec_id"))
      .join(fin.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("community_id"))
    val sizes = all.groupBy("community_id")
      .agg(count(lit(1)).as("community_size"))
    all.join(sizes, "community_id")
      .select("vec_id", "community_id", "community_size")
      .orderBy("vec_id")
  }

  private val sqlLabelprop: String = {
    val rounds = (1 to LPA_ROUNDS).map { k =>
      val prev = s"lpl${k - 1}"
      s"""lpc$k AS (
      SELECT a.node, p.lbl, COUNT(*)::BIGINT AS c
      FROM adj a JOIN $prev p ON a.nb = p.node
      GROUP BY a.node, p.lbl),
    lpl$k AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (PARTITION BY node
          ORDER BY c DESC, lbl) AS rn FROM lpc$k)
      WHERE rn = 1)"""
    }.mkString(",\n    ")
    s"""WITH $sqlKnnEdgesCte,
    und AS MATERIALIZED (SELECT DISTINCT least(u, v_id) AS u,
      greatest(u, v_id) AS v FROM edges),
    adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM und
      UNION ALL SELECT v, u FROM und),
    lpl0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
    $rounds,
    lab AS MATERIALIZED (
      SELECT e.vec_id, COALESCE(l.lbl, e.vec_id) AS community_id
      FROM e LEFT JOIN lpl$LPA_ROUNDS l ON e.vec_id = l.node),
    sz AS (SELECT community_id, COUNT(*)::BIGINT AS community_size
      FROM lab GROUP BY community_id)
    SELECT vec_id, community_id, community_size
    FROM lab JOIN sz USING (community_id) ORDER BY vec_id"""
  }

  private val labelpropQ = Q(
    "graph_labelprop",
    (s, dir) => labelpropReport(s, dir, readKnnGraph(s, dir)),
    Some(sqlLabelprop))

  // --------------------------------------------------- graph_embeddedness
  /** EDGE EMBEDDEDNESS — common-neighbor support of every EXISTING
    * edge (the inner-join complement of [[linkpredReport]]'s
    * non-adjacent candidates): `emb(u,v) = |N(u)∩N(v)|`, jaccard in
    * exact integer millionths. This is the graph-sparsification /
    * strong-tie report (Satuluri et al. 2011's local-similarity edge
    * pruning): at 100 TB the kNN graph keeps only high-embeddedness
    * edges before the expensive analytics run, and zero-embeddedness
    * edges are the likely IVF artifacts a verification pass re-scores
    * first. Top-50 strongest ties; same Σ deg²-bounded wedge join and
    * checkpointed edge list as linkpred — never all-pairs.
    */
  private def embeddednessReport(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges)
    val adj = und.select(col("u").as("node"), col("v").as("nb"))
      .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
    val common = adj.as("x").join(adj.as("y"),
        col("x.node") === col("y.node") && col("x.nb") < col("y.nb"))
      .groupBy(col("x.nb").as("pu"), col("y.nb").as("pv"))
      .agg(count(lit(1)).as("common"))
    und.join(common, col("u") === col("pu") && col("v") === col("pv"),
        "left")
      .select(col("u"), col("v"),
        coalesce(col("common"), lit(0L)).as("common"))
      .join(deg.withColumnRenamed("node", "u")
        .withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v")
        .withColumnRenamed("d", "dv"), Seq("v"))
      .select(col("u").as("src"), col("v").as("dst"), col("common"),
        expr("common * 1000000 DIV (du + dv - common)").cast("long")
          .as("jaccard_m6"))
      .orderBy(col("jaccard_m6").desc, col("src"), col("dst"))
      .limit(50)
  }

  private val sqlEmbeddedness: String = s"""WITH $sqlKnnEdgesCte,
    und AS MATERIALIZED (SELECT DISTINCT least(u, v_id) AS u,
      greatest(u, v_id) AS v FROM edges),
    adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM und
      UNION ALL SELECT v, u FROM und),
    deg AS (SELECT node, COUNT(*)::BIGINT AS d FROM adj GROUP BY node),
    common AS (
      SELECT x.nb AS pu, y.nb AS pv, COUNT(*)::BIGINT AS common
      FROM adj x JOIN adj y ON x.node = y.node AND x.nb < y.nb
      GROUP BY 1, 2)
    SELECT u AS src, v AS dst,
      COALESCE(c.common, 0)::BIGINT AS common,
      (COALESCE(c.common, 0) * 1000000
        // (du.d + dv.d - COALESCE(c.common, 0)))::BIGINT AS jaccard_m6
    FROM und
    LEFT JOIN common c ON c.pu = u AND c.pv = v
    JOIN deg du ON du.node = u
    JOIN deg dv ON dv.node = v
    ORDER BY jaccard_m6 DESC, src, dst LIMIT 50"""

  private val embeddednessQ = Q(
    "graph_embeddedness",
    (s, dir) => embeddednessReport(
      readKnnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlEmbeddedness))

  // ------------------------------------------------- persisted kNN graph
  /** The kNN GRAPH as a PERSISTED artifact — the production shape for
    * the whole graph family: at 100 TB the edge list (n·k thin rows —
    * ~1/1000th of the corpus bytes) is built ONCE (an IVF train +
    * bucketed join pass over the corpus) and every downstream graph
    * analytic — triangles, link prediction, components, centrality —
    * reads the stored edges instead of re-deriving them per query.
    * Built once per corpus fingerprint ([[graft.Artifacts.cached]]);
    * doubles round-trip parquet bit-exactly, so the stored
    * edges ARE [[knnGraph]]'s rows and the non-persisted oracles gate
    * the persisted queries verbatim.
    */
  def buildKnnGraphIndex(s: SparkSession, dir: String,
      path: String): Unit =
    buildKnnGraphIndexFrom(Tables.vectors(s, dir), path)

  /** Build the persisted graph artifact at `path` from any
    * (`vec_id`, `v: array<double>`) frame, overwriting prior state.
    * Layout (every table thin except `lists`, which holds the vectors):
    *
    *   - `cents`  = the trained codebook, FROZEN across appends (the
    *     [[appendIvfIndex]] / FAISS add-after-train contract);
    *   - `lists`  = [[assign]]'s (vec_id, v, cent_id) rows PARTITIONED
    *     BY (cent_id, ingest_id) — candidate reads are directory-pruned
    *     to probed cells, and each append dynamically overwrites only
    *     its own slice partitions (replay-idempotent);
    *   - `probes` = (query_id, prank, cent_id) PARTITIONED BY
    *     (cent_id, ingest_id) — the REVERSE-PROBE index: which existing
    *     queries probe a given cell (so an append touches exactly the
    *     queries a slice's cells can re-rank, never the corpus), and
    *     each query's prank=1 own cell (so its vector is a pruned
    *     directory read away);
    *   - `edges`  = the (query_id, neighbor_id, rank, cosine) kNN edge
    *     list every graph analytic reads — [[knnGraphFrom]]'s rows
    *     verbatim (doubles round-trip parquet bit-exactly), so the
    *     non-persisted oracles gate the persisted queries unchanged.
    */
  def buildKnnGraphIndexFrom(e: DataFrame, path: String): Unit =
    buildKnnGraphIndexWith(e, codebook(e), path)

  /** [[buildKnnGraphIndexFrom]] with a caller-supplied codebook (since
    * r18 the default [[codebook]] already sizes nlist ∝ n via
    * [[nlistFor]], mirrored in every gated oracle), and the hook
    * KnnGraphLayoutSpec uses to prove the walk's pruned fetch on a
    * clustered corpus.
    */
  private[graft] def buildKnnGraphIndexWith(e: DataFrame, cb: DataFrame,
      path: String): Unit = {
    val cents = cb
    cents.write.mode("overwrite").parquet(s"$path/cents")
    assign(e, cents).withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("cent_id", "ingest_id")
      .parquet(s"$path/lists")
    probeRanked(e.select(col("vec_id").as("query_id"), col("v").as("qv")),
        cents, NPROBE)
      .select(col("query_id"), col("prank"), col("cent_id"))
      .withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("cent_id", "ingest_id")
      .parquet(s"$path/probes")
    knnGraphFrom(e, cents).write.mode("overwrite").parquet(s"$path/edges")
    writeGraphSearchLayout(e.sparkSession, path, None)
  }

  /** Derived SEARCH-LAYOUT tables for [[graphSearchAt]] — projections
    * of edges/lists that turn the beam walk's candidate fetch from
    * per-round corpus scans into pruned point-ish reads (the r14 scale
    * wart: HOPS+1 full `lists` scans per query batch):
    *
    *   - `sym/`     = the symmetrized adjacency PARTITIONED BY the
    *     SOURCE's own cell (`u_cent`), carrying the TARGET's cell — a
    *     beam round reads only its beam members' cells' directories;
    *   - `medoids/` = per-cell entry points (argmax raw cosine to the
    *     centroid, tie min vec_id) WITH their vectors, partitioned by
    *     cell for maintenance overwrites — round-0 scoring reads no
    *     corpus;
    *   - `celladj/` = cell → cells holding any stored neighbor of any
    *     member (nlist×fanout thin rows) — the walk's DRIVER-RESIDENT
    *     routing table that prunes each round's vector fetch. It is
    *     smaller than the codebook every probe already broadcasts, the
    *     IVF analog of HNSW's in-memory upper layers.
    *
    * Every maintenance op calls this after its edge rewrite: sym and
    * celladj are full THIN rebuilds (the writeLabels cost class — edge
    * ids × cell ids, never vector bytes); medoids recompute only
    * `touched` cells via pruned reads + dynamic overwrite (`None` =
    * base build, all cells; `Some(Seq.empty)` = lists untouched, e.g.
    * [[refineKnnGraph]], skip), with emptied cells' directories
    * FS-deleted (dynamic overwrite cannot express "now empty" — the
    * [[deleteFromLists]] rule).
    */
  private def writeGraphSearchLayout(s: SparkSession, path: String,
      touched: Option[Seq[Long]]): Unit = {
    val lists = s.read.schema(ListsSchema).parquet(s"$path/lists")
    val cells = lists.select(col("vec_id"), col("cent_id"))
    val e0 = Tables.parquet(s, s"$path/edges")
      .select(col("query_id").as("u"), col("neighbor_id").as("nv"))
    e0.unionByName(e0.select(col("nv").as("u"), col("u").as("nv")))
      .distinct()
      .join(cells.select(col("vec_id").as("u"),
        col("cent_id").as("u_cent")), "u")
      .join(cells.select(col("vec_id").as("nv"),
        col("cent_id").as("nv_cent")), "nv")
      .select(col("u"), col("nv"), col("nv_cent"), col("u_cent"))
      .write.mode("overwrite").partitionBy("u_cent")
      .parquet(s"$path/sym")
    Tables.parquet(s, s"$path/sym")
      .select(col("u_cent").cast("long").as("cent_id"),
        col("nv_cent").as("adj_cent"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/celladj")
    val mcells = touched match {
      case Some(cs) if cs.isEmpty => return
      case Some(cs) => lists.filter(col("cent_id").isin(cs: _*))
      case None => lists
    }
    val cents = Tables.parquet(s, s"$path/cents")
    val mcos = cosineSim(col("v"), col("cv"))
    val medoids = mcells.join(broadcast(cents), "cent_id")
      .groupBy("cent_id")
      .agg(max_by(struct(col("vec_id"), col("v")),
        struct(mcos, -col("vec_id"))).as("m"))
      .select(col("m.vec_id").as("vec_id"), col("m.v").as("v"),
        col("cent_id"))
    touched match {
      case None =>
        medoids.write.mode("overwrite").partitionBy("cent_id")
          .parquet(s"$path/medoids")
      case Some(cs) =>
        val m = graft.Checkpoint.of(medoids)
        m.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cent_id").parquet(s"$path/medoids")
        val wrote = m.select("cent_id").distinct().collect()
          .map(_.getLong(0)).toSet
        val fs = new org.apache.hadoop.fs.Path(s"$path/medoids")
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        for (c <- cs if !wrote(c))
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$path/medoids/cent_id=$c"), true)
    }
  }

  /** Incrementally ingest a vector slice into a persisted kNN-graph
    * artifact — the graph twin of [[appendIvfIndex]] /
    * [[graft.dedup.DedupState.appendDedupState]], closing the one
    * build-once artifact that had no append path. The codebook stays
    * FROZEN (retraining would move every cell boundary and re-derive
    * the whole graph; refresh = [[buildKnnGraphIndexFrom]] anew), and
    * under that contract the result is EXACTLY [[knnGraphFrom]] over
    * the union corpus (KnnGraphAppendSpec pins bit-equality):
    *
    *   1. the slice assigns + probes against the frozen codebook and
    *      lands in its own (cent_id, ingest_id) partitions — a replay
    *      with the same `ingestId` dynamically overwrites itself;
    *   2. NEW-node edges score the slice's queries against ONLY their
    *      probed cells' inverted lists (a directory-pruned read of the
    *      union lists — never slice×corpus);
    *   3. EXISTING nodes whose top-k can change are found by REVERSE
    *      PROBE: stored `probes` rows in the slice's cells name exactly
    *      the queries that can see a slice vector. Each affected query
    *      merges its STORED top-k edges (a superset of every union
    *      winner outside the slice — the stored list is the exact base
    *      top-k under the same total order) with the slice vectors in
    *      its probe∩slice cells, and re-ranks. Unaffected queries are
    *      untouched by construction.
    *
    * Work is collision-mass-bounded: probed/own-cell list reads are
    * directory-pruned (the touched-cell lists are collected — bounded
    * by NLIST, the Sources touched-bucket contract), the refresh joins
    * are slice-mass × probe-fan thin rows, and the only full-table pass
    * is the final thin-edge rewrite (n·k longs — the writeLabels
    * analog, ~1/1000th of corpus bytes).
    */
  def appendKnnGraph(s: SparkSession, path: String, e: DataFrame,
      ingestId: Long): Unit = {
    require(ingestId > 0,
      s"ingestId must be > 0 (0 = base build), got $ingestId")
    requireUnrefined(s, path, "appendKnnGraph")
    requireFreshIds(s, s"$path/lists", e, ingestId, "appendKnnGraph")
    val cents = Tables.parquet(s, s"$path/cents")
    val sa = graft.Checkpoint.of(assign(e, cents))
    sa.withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id", "ingest_id").parquet(s"$path/lists")
    val sliceProbes = graft.Checkpoint.of(probeRanked(
      e.select(col("vec_id").as("query_id"), col("v").as("qv")),
      cents, NPROBE))
    sliceProbes.select(col("query_id"), col("prank"), col("cent_id"))
      .withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id", "ingest_id").parquet(s"$path/probes")

    val lists = s.read.schema(ListsSchema).parquet(s"$path/lists")
    val probesStore = s.read.schema(ProbesSchema).parquet(s"$path/probes")
    // touched-cell id lists: bounded by NLIST (index parameter, never
    // corpus-sized) — the Sources touched-bucket collect contract
    val sliceCells = sa.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val probedCells = sliceProbes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq

    val cos = cosineSim(col("qv"), col("v"))
    // new-node edges: slice queries × their probed union lists —
    // identical ordering contract to knnGraphFrom (rounded cosine
    // desc, vec_id asc), via the same bounded-heap top-k (a window
    // here sorted the slice×cell candidate stream — the sf3 spill)
    val newEdges = topKEdgesOf(
      lists.filter(col("cent_id").isin(probedCells: _*))
        .join(sliceProbes.select(col("query_id"), col("qv"),
          col("cent_id")), "cent_id")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), round(cos, 6).as("cosine"),
          col("vec_id").as("neighbor_id")))

    // reverse probe: existing queries whose probe set meets the
    // slice's cells (ingest_id filter keeps a replayed slice out of
    // its own refresh — its rows are fully recomputed as new nodes)
    val affProbes = graft.Checkpoint.of(probesStore
      .filter(col("ingest_id") =!= ingestId
        && col("cent_id").isin(sliceCells: _*))
      .select(col("query_id"), col("cent_id")))
    val affIds = affProbes.select("query_id").distinct()
    // affected queries' vectors: pruned read of their prank=1 own cells
    val ownCells = probesStore
      .filter(col("prank") === 1 && col("ingest_id") =!= ingestId)
      .select(col("query_id"), col("cent_id"))
      .join(affIds, "query_id")
    val ownCellList = ownCells.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qvs = lists
      .filter(col("cent_id").isin(ownCellList: _*)
        && col("ingest_id") =!= ingestId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .join(affIds, "query_id")
    // new candidates for affected queries: slice vectors in their
    // probe∩slice cells, scored with the shared rounding contract
    val oldCand = affProbes
      .join(sa.select(col("cent_id"), col("vec_id"), col("v")), "cent_id")
      .join(qvs, "query_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos, 6).as("cosine"))

    // merge stored top-k with the new candidates and re-rank; distinct
    // absorbs a replay (recomputed candidates == stored rows)
    val edgesCur = graft.Checkpoint.of(Tables.parquet(s, s"$path/edges"))
    val refreshed = topKEdgesOf(edgesCur.join(affIds, "query_id")
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .unionByName(oldCand).distinct()
      .select(col("query_id"), col("cosine"), col("neighbor_id")))

    val sliceIds = sa.select(col("vec_id").as("query_id")).distinct()
    edgesCur
      .join(affIds.unionByName(sliceIds).distinct(),
        Seq("query_id"), "left_anti")
      .unionByName(refreshed).unionByName(newEdges)
      .write.mode("overwrite").parquet(s"$path/edges")
    // search layout follows the edge rewrite; medoids can only move in
    // the cells that received slice vectors
    writeGraphSearchLayout(s, path, Some(sliceCells))
  }

  /** TAKEDOWN: remove vectors from a persisted kNN-graph artifact —
    * the retraction path next to [[appendKnnGraph]]'s ingest, same
    * frozen-codebook contract: afterwards the artifact holds EXACTLY
    * [[knnGraphFrom]] over the remaining corpus (KnnGraphAppendSpec
    * pins bit-equality — component splits in downstream analytics
    * included, since they just read the edges).
    *
    *   1. the removed vectors leave `lists` partition-pruned
    *      ([[deleteFromLists]]) and `probes`/`edges` by thin rewrites;
    *   2. surviving queries whose stored top-k CONTAINED a removed
    *      neighbor lost a candidate and need a replacement, so they
    *      re-score against their full probe cells (post-delete lists,
    *      directory-pruned reads — the [[appendKnnGraph]] refresh
    *      machinery run in reverse). A query whose top-k had no
    *      removed neighbor cannot change: shrinking the candidate set
    *      below rank k never reorders the top k.
    */
  def removeFromKnnGraph(s: SparkSession, path: String,
      vecIds: DataFrame): Unit = {
    requireUnrefined(s, path, "removeFromKnnGraph")
    val ids = graft.Checkpoint.of(vecIds.select("vec_id").distinct())
    val qid = ids.select(col("vec_id").as("query_id"))
    val edgesCur = graft.Checkpoint.of(Tables.parquet(s, s"$path/edges"))
    val affQ = graft.Checkpoint.of(edgesCur
      .join(ids.select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .select("query_id").distinct()
      .join(qid, Seq("query_id"), "left_anti"))

    val removedCells = deleteFromLists(s, s"$path/lists", ListsSchema, ids)
    val probesKeep = graft.Checkpoint.of(
      s.read.schema(ProbesSchema).parquet(s"$path/probes")
        .join(qid, Seq("query_id"), "left_anti"))
    probesKeep.select("query_id", "prank", "cent_id", "ingest_id")
      .write.mode("overwrite").partitionBy("cent_id", "ingest_id")
      .parquet(s"$path/probes")

    // full re-score of the affected queries against their probed
    // (post-delete) lists — cell lists bounded by NLIST
    val affProbes = probesKeep.join(affQ, Seq("query_id"), "left_semi")
    val probeCells = affProbes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val ownCells = affProbes.filter(col("prank") === 1)
      .select("cent_id").distinct().collect().map(_.getLong(0)).toSeq
    val lists = s.read.schema(ListsSchema).parquet(s"$path/lists")
    val qvs = lists.filter(col("cent_id").isin(ownCells: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .join(affQ, "query_id")
    val cos = cosineSim(col("qv"), col("v"))
    // bounded-heap top-k, never a window over the re-score stream
    // (the knnGraphFrom rule)
    val refreshed = topKEdgesOf(
      lists.filter(col("cent_id").isin(probeCells: _*))
        .join(affProbes.select(col("query_id"), col("cent_id")), "cent_id")
        .join(qvs, "query_id")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), round(cos, 6).as("cosine"),
          col("vec_id").as("neighbor_id")))

    edgesCur
      .join(affQ.unionByName(qid).distinct(), Seq("query_id"),
        "left_anti")
      .unionByName(refreshed)
      .write.mode("overwrite").parquet(s"$path/edges")
    // search layout follows the edge rewrite; medoids can only move in
    // the cells that lost vectors (emptied cells get their medoid
    // directory removed inside the layout writer)
    writeGraphSearchLayout(s, path, Some(removedCells))
  }

  // v3: the artifact gained the sym/medoids/celladj search layout — the
  // kind bump keeps an older directory from shadowing it (v2 = the
  // cents/lists/probes/edges split)
  private[graft] def cachedGraph(s: SparkSession, dir: String): String =
    graft.Artifacts.cached("knngraph3", s, dir)(buildKnnGraphIndex(s, dir, _))

  /** The stored edge list (query_id, neighbor_id, rank, cosine). */
  def readKnnGraph(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, cachedGraph(s, dir) + "/edges")

  /** The slice of the driver corpus the INCREMENTAL ingest appends —
    * a deterministic 25% by vec_id, mirrored verbatim in the oracle.
    */
  private[graft] val INCR_SLICE_MOD = 4L

  /** Edge list produced by the INCREMENTAL path over the driver corpus:
    * build on the 75% base split, then [[appendKnnGraph]] the rest —
    * the production ingest loop. The append-equals-rebuild contract
    * (KnnGraphAppendSpec proves it bit-exactly) makes this
    * [[knnGraphFrom]] over the full corpus with the BASE-trained
    * codebook, which `graph_components_incremental`'s oracle mirrors
    * (base-trained Lloyd, full-corpus assignment). Built once per corpus
    * fingerprint ([[graft.Artifacts.cached]]).
    */
  def readKnnGraphIncremental(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, graft.Artifacts.cached("knngraph-incr", s, dir) { path =>
      val e = Tables.vectors(s, dir)
      val isSlice = col("vec_id") % INCR_SLICE_MOD === INCR_SLICE_MOD - 1
      buildKnnGraphIndexFrom(e.filter(!isSlice), path)
      appendKnnGraph(s, path, e.filter(isSlice), 1L)
    } + "/edges")

  // --------------------------------------------------- graph_nndescent
  /** One NN-DESCENT refinement round (Dong, Moses & Li, WWW'11) over
    * the persisted kNN graph — the classic ANN-graph improvement move:
    * a neighbor's neighbor is likely a neighbor, so each node re-ranks
    * its CURRENT top-k against its 2-hop candidate set (symmetric
    * closure wedges — in- and out-neighbors both generate, as in the
    * paper's general-join formulation) and keeps the best k. Lifts the
    * IVF-join graph's recall where probe sets missed a cell (KnnSpec
    * measures the strict improvement vs brute force); output is the
    * refined edge list under the same (rounded-cosine desc, id) order
    * contract, so every downstream graph analytic can consume it
    * unchanged.
    *
    * Scale: the wedge join is the [[linkpredReport]] machinery —
    * Σ deg² ≤ n·(2k)² thin candidate rows, never all-pairs; scoring
    * joins the candidate list against the vector table twice (thin
    * keys, map-side combine into the WindowGroupLimit-bounded top-k).
    * Iterating the round converges like the paper; one round is the
    * oracle-bounded operator (the kmeans fixed-round precedent).
    */
  private def nnDescentReport(s: SparkSession, dir: String,
      rawEdges: DataFrame): DataFrame =
    nnDescentFrom(rawEdges, Tables.vectors(s, dir))

  /** One NN-Descent round from any (query_id, neighbor_id) edge frame
    * and (vec_id, v) vector frame — the body [[nnDescentReport]] wraps
    * and [[refineKnnGraph]] persists.
    */
  private[graft] def nnDescentFrom(rawEdges: DataFrame,
      vecs: DataFrame): DataFrame = {
    val e0 = graft.Checkpoint.of(rawEdges
      .select(col("query_id").as("u"), col("neighbor_id").as("v")))
    val sym = graft.Checkpoint.of(e0
      .unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct())
    val wedges = sym.as("a").join(sym.as("b"), col("a.v") === col("b.u"))
      .select(col("a.u").as("u"), col("b.v").as("x"))
      .filter(col("u") =!= col("x"))
    val cand = wedges
      .unionByName(e0.select(col("u"), col("v").as("x")))
      .distinct()
    val cos = cosineSim(col("uv"), col("xv"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("cosine").desc, col("x"))
    cand
      .join(vecs.select(col("vec_id").as("u"), col("v").as("uv")), "u")
      .join(vecs.select(col("vec_id").as("x"), col("v").as("xv")), "x")
      .select(col("u"), col("x"), round(cos, 6).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= JOIN_K)
      .select(col("u").as("query_id"), col("x").as("neighbor_id"),
        col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private val sqlNnDescent: String = s"""WITH $sqlKnnEdgesCte,
    sym AS MATERIALIZED (SELECT u, v_id AS v FROM edges
      UNION SELECT v_id, u FROM edges),
    cand AS (
      SELECT a.u AS u, b.v AS x FROM sym a JOIN sym b ON a.v = b.u
      WHERE a.u <> b.v
      UNION
      SELECT u, v_id FROM edges),
    scored AS (
      SELECT c.u, c.x,
        round(list_cosine_similarity(eu.v, ex.v), 6) AS cosine,
        row_number() OVER (PARTITION BY c.u
          ORDER BY round(list_cosine_similarity(eu.v, ex.v), 6) DESC,
            c.x) AS rank
      FROM cand c
      JOIN e eu ON eu.vec_id = c.u
      JOIN e ex ON ex.vec_id = c.x)
    SELECT u AS query_id, x AS neighbor_id, rank::BIGINT AS rank, cosine
    FROM scored WHERE rank <= $JOIN_K ORDER BY query_id, rank"""

  /** REFINE the persisted kNN graph in place: one NN-Descent round
    * over the stored edges + stored vectors, rewriting `edges` — the
    * maintenance op that turns the IVF-join build into the
    * higher-recall walk substrate (HNSW builds do the same local
    * improvement at insert time; here it is a batch pass like
    * [[graft.text.TextIndex.compactTextIndex]]). Reads vectors from
    * the artifact's own lists (never re-embeds), keeps the
    * (rounded-cosine desc, id) edge contract so every downstream
    * analytic and [[graphSearchAt]] consume the result unchanged in
    * shape. Σdeg²-bounded wedge candidates, one corpus-thin rewrite.
    * Idempotence is NOT expected (each round improves the graph
    * toward the true kNN fixpoint — the paper's convergence); specs
    * pin refined ≡ [[nnDescentFrom]] of the pre-refine edges, and
    * that the beam walk over the refined graph holds its recall.
    */
  def refineKnnGraph(s: SparkSession, path: String): Unit = {
    require(!graft.Artifacts.isCached(path),
      s"refineKnnGraph: $path backs the gated session cache — refining " +
        "it would break every graph_*_persisted oracle (they re-derive " +
        "the frozen-codebook IVF edges in SQL). Refine a copy, or build " +
        "your own artifact via buildKnnGraphIndexFrom.")
    val lists = s.read.schema(ListsSchema).parquet(s"$path/lists")
    val refined = graft.Checkpoint.of(nnDescentFrom(
      Tables.parquet(s, s"$path/edges").select("query_id", "neighbor_id"),
      lists.select("vec_id", "v")))
    // checkpointed above: the write overwrites its own input path
    refined.write.mode("overwrite").parquet(s"$path/edges")
    // the walk's adjacency layout must follow the refined edges; lists
    // are untouched, so medoids stay (empty touched set = skip)
    writeGraphSearchLayout(s, path, Some(Seq.empty))
    // ordering contract vs append/remove: stored edges are no longer
    // knnGraphFrom's frozen-codebook top-k, which the maintenance merge
    // invariant ("stored top-k ⊇ union winners outside the slice")
    // requires — mark the artifact so append/remove fail fast instead
    // of silently merging against the wrong base (refine AFTER
    // maintenance is the supported order; KnnGraphRefineOrderSpec)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(refinedMarker(path), true).close()
  }

  private def refinedMarker(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path, "_REFINED")

  /** True once [[refineKnnGraph]] has rewritten this artifact's edges
    * away from the frozen-codebook IVF top-k.
    */
  def isRefinedKnnGraph(s: SparkSession, path: String): Boolean = {
    val p = refinedMarker(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  private def requireUnrefined(s: SparkSession, path: String,
      op: String): Unit =
    require(!isRefinedKnnGraph(s, path),
      s"$op: $path was refined by refineKnnGraph — its stored edges are " +
        "NN-Descent output, not the frozen-codebook IVF top-k the " +
        "maintenance merge invariant assumes; merging against them would " +
        "be silently wrong. Rebuild via buildKnnGraphIndexFrom (and " +
        "refine AFTER maintenance), or keep refined artifacts read-only.")

  private val nnDescentQ = Q(
    "graph_nndescent",
    (s, dir) => nnDescentReport(s, dir,
      readKnnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlNnDescent))

  private val trianglePersistedQ = Q(
    "graph_triangles_persisted",
    (s, dir) => triangleReport(s, dir,
      readKnnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlTriangles))

  private val linkpredPersistedQ = Q(
    "graph_linkpred_persisted",
    (s, dir) => linkpredReport(
      readKnnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlLinkpred))

  // -------------------------------------------------------- emb_mmr_select
  /** MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein 1998)
    * — the diversity-aware re-ranker between ANN retrieval and a
    * context window / labeling budget: from each query's top-
    * [[MMR_POOL]] candidates, greedily pick [[MMR_K]] maximizing
    * `λ·rel − (1−λ)·max-sim-to-already-selected`. λ = 0.7 is applied
    * as `(7·rel − 3·maxsim)/10` — integer-scaled IEEE ops in the same
    * order both engines, on raw cosines that are already bit-identical
    * (sequential-fold kernel), so every greedy argmax decides exactly.
    *
    * Shape: the ONLY corpus-sized work is the candidate generation
    * (broadcast queries, WindowGroupLimit-bounded top-pool — the
    * knn_bruteforce plan); the greedy runs UNROLLED as k−1 stages over
    * the checkpointed pool (|Q|·pool rows) and pairwise sim table
    * (|Q|·pool² rows), each round's ≤|Q|-row selection materialized by
    * a micro-action (the CC-loop pattern — three consumers read it, an
    * unmaterialized lineage re-executes earlier rounds 3^k times). At
    * 100 TB the pool comes from the persisted IVF index instead; the
    * MMR stages are scale-invariant (they never touch the corpus).
    */
  private val MMR_NQ = 3
  private val MMR_POOL = 16
  private val MMR_K = 5

  private val mmrSelect = Q(
    "emb_mmr_select",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val q = queries(e, MMR_NQ)
      val scored = e.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), col("v"),
          cosineSim(col("qv"), col("v")).as("rel"))
      val wPool = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("vec_id"))
      val cand = scored.withColumn("rk", row_number().over(wPool))
        .filter(col("rk") <= MMR_POOL)
        .select("query_id", "vec_id", "v", "rel")
        .transform(graft.Checkpoint.of)
      val sims = cand.as("a").join(cand.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.query_id").as("query_id"),
          col("a.vec_id").as("ca"), col("b.vec_id").as("cb"),
          cosineSim(col("a.v"), col("b.v")).as("sim"))
        .transform(graft.Checkpoint.of)
      val base = cand.select("query_id", "vec_id", "rel")
      // per-query argmax as ONE partial-aggregatable max_by (ordering
      // struct = (score desc, vec_id asc) via the negated tie key) —
      // an exchange+sort+window over these ≤|Q|·pool-row frames would
      // triple the per-stage cost for identical semantics
      def argmax(sc: DataFrame): DataFrame =
        sc.groupBy("query_id")
          .agg(max_by(struct(col("vec_id"), col("score")),
            struct(col("score"), (-col("vec_id")).as("tie"))).as("m"))
          .select(col("query_id"), col("m.vec_id").as("vec_id"),
            col("m.score").as("score"))
      // each round's selection (≤|Q| rows) is MATERIALIZED before the
      // next round reads it: the accumulated set is consumed by THREE
      // sub-plans per round (remaining-filter, max-sim leg, final
      // union), so an un-checkpointed lineage re-executes the earlier
      // rounds 3^k times (measured: 7 s → 1.5 s at sf0.1). Same
      // micro-action pattern as the CC loop — the corpus is still
      // touched exactly once, in the candidate stage.
      var sels = Vector(graft.Checkpoint.of(
        argmax(base.select(col("query_id"), col("vec_id"),
            col("rel").as("score")))
          .withColumn("sel_rank", lit(1L))))
      for (i <- 2 to MMR_K) {
        // every stage-side frame is ≤|Q|·pool rows — broadcast them so
        // the greedy stages never shuffle (scale-invariant by design)
        val sel = sels.reduce(_ unionByName _).select("query_id", "vec_id")
        val rem = base.join(broadcast(sel), Seq("query_id", "vec_id"),
          "left_anti")
        val ms = sims
          .join(broadcast(sel.withColumnRenamed("vec_id", "cb")),
            Seq("query_id", "cb"))
          .groupBy(col("query_id"), col("ca").as("vec_id"))
          .agg(max("sim").as("ms"))
        val scoredI = rem.join(broadcast(ms), Seq("query_id", "vec_id"))
          .select(col("query_id"), col("vec_id"),
            ((lit(7) * col("rel") - lit(3) * col("ms")) / lit(10))
              .as("score"))
        sels :+= graft.Checkpoint.of(
          argmax(scoredI).withColumn("sel_rank", lit(i.toLong)))
      }
      sels.reduce(_ unionByName _)
        .select("query_id", "sel_rank", "vec_id", "score")
        .orderBy("query_id", "sel_rank")
    },
    Some {
      val rounds = (2 to MMR_K).map { i =>
        s"""sel$i AS (
      SELECT query_id, vec_id, score, ${i}::BIGINT AS sel_rank FROM (
        SELECT c.query_id, c.vec_id,
          (7 * c.rel - 3 * m.ms) / 10 AS score,
          row_number() OVER (PARTITION BY c.query_id
            ORDER BY (7 * c.rel - 3 * m.ms) / 10 DESC, c.vec_id) AS r
        FROM cand c
        JOIN (SELECT s.query_id, s.ca AS vec_id, MAX(s.sim) AS ms
            FROM sims s JOIN acc${i - 1} a
              ON s.query_id = a.query_id AND s.cb = a.vec_id
            GROUP BY 1, 2) m
          ON m.query_id = c.query_id AND m.vec_id = c.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM acc${i - 1} a2
          WHERE a2.query_id = c.query_id AND a2.vec_id = c.vec_id))
      WHERE r = 1),
    acc$i AS MATERIALIZED (
      SELECT query_id, vec_id, score, sel_rank FROM acc${i - 1}
      UNION ALL SELECT query_id, vec_id, score, sel_rank FROM sel$i)"""
      }.mkString(",\n    ")
      s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < $MMR_NQ),
    cand AS MATERIALIZED (
      SELECT query_id, vec_id, v, rel FROM (
        SELECT q.query_id, e.vec_id, e.v,
          list_cosine_similarity(qv, e.v) AS rel,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id)
            AS rk
        FROM q, e WHERE query_id <> e.vec_id)
      WHERE rk <= $MMR_POOL),
    sims AS MATERIALIZED (
      SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
        list_cosine_similarity(a.v, b.v) AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
    acc1 AS MATERIALIZED (
      SELECT query_id, vec_id, rel AS score, 1::BIGINT AS sel_rank FROM (
        SELECT query_id, vec_id, rel,
          row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, vec_id) AS r
        FROM cand)
      WHERE r = 1),
    $rounds
    SELECT query_id, sel_rank, vec_id, score FROM acc$MMR_K
    ORDER BY query_id, sel_rank"""})

  // ---------------------------------------------------- kmeans_train/assign
  /** The trained Lloyd codebook and its corpus assignment as first-class
    * OPERATORS (k-means clustering is its own pipeline stage — corpus
    * partitioning for curriculum/mixing, SemDeDup's clustering step,
    * IVF index builds — not just an internal of knn_ivf): `kmeans_train`
    * emits the k×dim codebook exploded to (cent_id, dim_idx, component)
    * rows (arrays don't cross the oracle hash; components ship as RAW
    * doubles — the decimal-exact order-independent sums divide once in
    * IEEE, so both engines hold bit-identical values and re-rounding
    * would only reintroduce half-even-vs-half-up tie drift),
    * `kmeans_assign` the zero-shuffle broadcast-argmax
    * assignment of every corpus vector. Training is the [[codebook]]
    * pipeline shared with knn_ivf/dedup_semantic — one implementation,
    * three oracle gates on it.
    */
  private val kmeansTrain = Q(
    "kmeans_train",
    (s, dir) => {
      val cents = codebook(Tables.vectors(s, dir))
      cents.select(col("cent_id"),
          posexplode(col("cv")).as(Seq("d0", "v")))
        .select(col("cent_id"), (col("d0") + 1).cast("long").as("dim_idx"),
          col("v").as("component"))
        .orderBy("cent_id", "dim_idx")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ${sqlCodebook("e")}
    SELECT cent_id, g.i AS dim_idx, cv[g.i] AS component
    FROM $ivfCents, range(1, ${DIM + 1}) g(i)
    ORDER BY cent_id, dim_idx"""))

  private val kmeansAssign = Q(
    "kmeans_assign",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      assign(e, codebook(e))
        .select(col("vec_id"), col("cent_id"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ${sqlCodebook("e")}
    SELECT vec_id, cent_id FROM (
      SELECT e.vec_id, c.cent_id,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
          AS rk
      FROM e, $ivfCents c) WHERE rk = 1 ORDER BY vec_id"""))

  // -------------------------------------------------------------- knn_recall
  /** ANN EVALUATION as a first-class operator — recall@k of the trained
    * IVF against the exact brute-force ground truth, per query: the
    * number every ANN deployment watches when tuning nprobe/nlist, and
    * KnnSpec's driver-side recall checks promoted into the library
    * (and under the oracle gate: both pipelines are deterministic, so
    * the whole evaluation is mirrorable).
    *
    * `recall` is ONE IEEE division of exact integers (n_matched / k).
    * Scale: both sides are the operators' own plans; the comparison
    * adds one |queries|·k-row join — evaluation cost is dominated by
    * the pipelines being evaluated, as it should be.
    */
  private val recallQ = Q(
    "knn_recall",
    (s, dir) => {
      val exact = bruteforce.fn(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val approx = ivf.fn(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val k = exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      val matched = exact.join(approx, Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
      k.join(matched, Seq("query_id"), "left")
        .select(col("query_id"), col("k"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          (coalesce(col("n_matched"), lit(0L)).cast("double") / col("k"))
            .as("recall"))
        .orderBy("query_id")
    },
    Some(s"""WITH $sqlIvfCtes,
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, e.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id)
            AS rank
        FROM q, e WHERE query_id <> e.vec_id)
      WHERE rank <= $K),
    kk AS (SELECT query_id, COUNT(*) AS k FROM brute GROUP BY query_id),
    m AS (
      SELECT b.query_id, COUNT(*) AS n_matched
      FROM brute b JOIN ivf_hits i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY b.query_id)
    SELECT kk.query_id, kk.k,
      COALESCE(m.n_matched, 0) AS n_matched,
      CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / kk.k AS recall
    FROM kk LEFT JOIN m ON kk.query_id = m.query_id
    ORDER BY kk.query_id"""))

  // ------------------------------------------------------ knn_recall_curve
  /** RECALL@k CURVE for the IVF index against exact brute force — the
    * full ANN evaluation protocol ([[recallQ]] reports the single
    * operating point k=[[K]]; the curve shows how recall decays as
    * the cutoff tightens, the number an index-tuning loop actually
    * plots): for k ∈ {1, 3, 5}, `recall@k = |top-k exact ∩ top-k
    * approx| / (NQ·k)` in exact integer millionths. Both rankings
    * already exist WindowGroupLimit-bounded; the rank-pair join feeds
    * ONE consumer (the k-grid non-equi left join), so it is NOT
    * checkpointed (r17: the barrier here was pure cost — removing it
    * measured 4.1 → 1.9 s at sf0.1; the single-consumer chain keeps
    * one job).
    */
  private val recallCurveQ = Q(
    "knn_recall_curve",
    (s, dir) => {
      import s.implicits._
      val exact = bruteforce.fn(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("er"))
      val approx = ivf.fn(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("ar"))
      val m = exact.join(approx, Seq("query_id", "neighbor_id"))
        .select("er", "ar")
      val ks = Seq(1L, 3L, 5L).toDF("k")
      ks.join(m, col("er") <= col("k") && col("ar") <= col("k"), "left")
        .groupBy("k")
        .agg(count(col("er")).as("n_matched"))
        .select(col("k"), col("n_matched"),
          (col("k") * NQ).as("n_possible"),
          expr(s"n_matched * 1000000 DIV (k * $NQ)").cast("long")
            .as("recall_m6"))
        .orderBy("k")
    },
    Some(s"""WITH $sqlIvfCtes,
    brute AS (
      SELECT query_id, neighbor_id, rank AS er FROM (
        SELECT query_id, e.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id)
            AS rank
        FROM q, e WHERE query_id <> e.vec_id)
      WHERE rank <= $K),
    m AS MATERIALIZED (
      SELECT b.er, i.rank AS ar
      FROM brute b JOIN ivf_hits i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id),
    ks AS (SELECT * FROM (VALUES (1), (3), (5)) t(k))
    SELECT ks.k::BIGINT AS k, COUNT(m.er)::BIGINT AS n_matched,
      (ks.k * $NQ)::BIGINT AS n_possible,
      (COUNT(m.er) * 1000000 // (ks.k * $NQ))::BIGINT AS recall_m6
    FROM ks LEFT JOIN m ON m.er <= ks.k AND m.ar <= ks.k
    GROUP BY ks.k ORDER BY k"""))

  // ------------------------------------------------------ graph_components
  /** Connected components over the kNN graph — the third of the classic
    * graph trio (pagerank: importance; triangles: local density;
    * components: global connectivity — the "is my embedding space one
    * blob or many islands" diagnostic, and the same label machinery
    * dedup's cluster assignment runs). Reuses
    * [[graft.dedup.Dedup.connectedComponents]] (a driver union-find
    * for bounded graphs, else iterated min-label propagation over thin
    * (id, label) longs, checkpointed per round);
    * the oracle recomputes the closure with a recursive CTE over the
    * mirrored edge list, so a green row proves the edge list AND the
    * fixpoint. Output carries the component size — the quantity a
    * curation dashboard actually reads.
    */
  /** The component report from any (query_id, neighbor_id) edge frame
    * — shared by [[componentsQ]] and `graph_components_persisted`.
    */
  private def componentsReport(s: SparkSession, dir: String,
      rawEdges: DataFrame,
      coverage: Option[DataFrame] = None): DataFrame = {
      // no barrier: connectedComponents materializes its edges once, so
      // the edge lineage (in-query: the IVF kNN-join) runs once
      val labels = graft.dedup.Dedup.connectedComponents(rawEdges
        .select(col("query_id").as("u"), col("neighbor_id").as("v")))
      val lab = coverage.getOrElse(Tables.vectors(s, dir)).select(col("vec_id"))
        .join(labels.select(col("id").as("vec_id"), col("label")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("component_id"))
      val sizes = lab.groupBy("component_id")
        .agg(count(lit(1)).as("component_size"))
      lab.join(sizes, "component_id")
        .select("vec_id", "component_id", "component_size")
        .orderBy("vec_id")
  }

  /** The recursive-closure components body over any `edges(u, v_id)`
    * CTE — shared by the full-corpus, incremental and takedown oracles;
    * `cov` = the CTE whose vec_ids the report covers.
    */
  private def sqlComponentsTail(cov: String = "e"): String = s"""
    sym AS (SELECT u, v_id AS v FROM edges
      UNION SELECT v_id, u FROM edges),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u),
    cmin AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS component_id
      FROM reach GROUP BY u),
    lab AS (SELECT e.vec_id,
        COALESCE(c.component_id, e.vec_id) AS component_id
      FROM $cov e LEFT JOIN cmin c USING (vec_id)),
    sz AS (SELECT component_id, COUNT(*)::BIGINT AS component_size
      FROM lab GROUP BY component_id)
    SELECT vec_id, component_id, component_size
    FROM lab JOIN sz USING (component_id) ORDER BY vec_id"""

  private val sqlComponents: String =
    s"WITH RECURSIVE $sqlKnnEdgesCte,${sqlComponentsTail()}"

  /** [[sqlKnnEdgesCte]] with the codebook trained on the 75% BASE split
    * only (seeds and rounds over `eb`) and assignment/probing
    * over the FULL corpus — exactly [[readKnnGraphIncremental]]'s
    * frozen-codebook contract, mirrored in SQL.
    */
  private def sqlKnnEdgesIncrCte: String =
    s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    eb AS MATERIALIZED (SELECT vec_id, v FROM e
      WHERE vec_id % $INCR_SLICE_MOD < ${INCR_SLICE_MOD - 1}),
    ${sqlCodebook("eb")},
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk = 1),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM e, $ivfCents c) WHERE rk <= $NPROBE),
    edges AS (
      SELECT query_id AS u, neighbor_id AS v_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
              a.vec_id) AS rank
        FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
        WHERE p.query_id <> a.vec_id)
      WHERE rank <= $JOIN_K)"""

  private val sqlComponentsIncr: String =
    s"WITH RECURSIVE $sqlKnnEdgesIncrCte,${sqlComponentsTail()}"

  /** The takedown mirror of [[sqlKnnEdgesIncrCte]]: codebook trained
    * on the FULL corpus (exactly [[readKnnGraphTakedown]]'s frozen
    * state), assignment/probing/coverage over the REMAINING vectors.
    */
  private def sqlKnnEdgesTakedownCte: String =
    s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    er AS MATERIALIZED (SELECT vec_id, v FROM e
      WHERE vec_id % $INCR_SLICE_MOD <> ${INCR_SLICE_MOD - 1}),
    ${sqlCodebook("e")},
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM er e, $ivfCents c) WHERE rk = 1),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
            AS rk
        FROM er e, $ivfCents c) WHERE rk <= $NPROBE),
    edges AS (
      SELECT query_id AS u, neighbor_id AS v_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
              a.vec_id) AS rank
        FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
        WHERE p.query_id <> a.vec_id)
      WHERE rank <= $JOIN_K)"""

  private val sqlComponentsTakedown: String =
    s"WITH RECURSIVE $sqlKnnEdgesTakedownCte,${sqlComponentsTail("er")}"

  private val componentsQ = Q(
    "graph_components",
    (s, dir) => componentsReport(s, dir,
      knnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlComponents))

  private val componentsPersistedQ = Q(
    "graph_components_persisted",
    (s, dir) => componentsReport(s, dir,
      readKnnGraph(s, dir).select("query_id", "neighbor_id")),
    Some(sqlComponents))

  /** The incremental graph-ingest loop gated END-TO-END at the driver:
    * [[buildKnnGraphIndexFrom]] on the base split +
    * [[appendKnnGraph]]'s reverse-probe refresh of the 25% slice, then
    * the components report over the stored edges — the
    * dedup_clusters_incremental precedent for the kNN graph. The
    * oracle re-derives the same frozen-codebook graph (base-trained
    * Lloyd, full-corpus assignment) and its component fixpoint from
    * scratch, so a green row proves the whole append path: slice
    * assignment, new-node scoring, affected-node re-rank, and the
    * edge rewrite.
    */
  private val componentsIncrementalQ = Q(
    "graph_components_incremental",
    (s, dir) => componentsReport(s, dir,
      readKnnGraphIncremental(s, dir).select("query_id", "neighbor_id")),
    Some(sqlComponentsIncr))

  /** Edge list produced by the TAKEDOWN path: build on the full corpus,
    * then [[removeFromKnnGraph]] the 25% vec_id slice — the retraction
    * mirror of [[readKnnGraphIncremental]]. Built once per corpus
    * fingerprint ([[graft.Artifacts.cached]]).
    */
  def readKnnGraphTakedown(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, graft.Artifacts.cached("knngraph-takedown", s, dir) {
      path =>
        val e = Tables.vectors(s, dir)
        val isSlice = col("vec_id") % INCR_SLICE_MOD === INCR_SLICE_MOD - 1
        buildKnnGraphIndexFrom(e, path)
        removeFromKnnGraph(s, path, e.filter(isSlice).select("vec_id"))
    } + "/edges")

  /** The graph TAKEDOWN path under the driver's hash gate: edges from
    * build-on-full + [[removeFromKnnGraph]] of the 25% slice must hold
    * the frozen (FULL-corpus-trained) codebook's graph over the
    * remaining vectors — the oracle re-derives exactly that (full-
    * trained Lloyd, remaining-only assignment/probing/coverage), so a
    * green row proves the partition-pruned list delete AND the
    * reverse re-score of queries that lost a neighbor end-to-end.
    */
  private val componentsTakedownQ = Q(
    "graph_components_takedown",
    (s, dir) => componentsReport(s, dir,
      readKnnGraphTakedown(s, dir).select("query_id", "neighbor_id"),
      coverage = Some(Tables.vectors(s, dir).filter(
        col("vec_id") % INCR_SLICE_MOD =!= INCR_SLICE_MOD - 1))),
    Some(sqlComponentsTakedown))

  // --------------------------------------------------------- knn_hamming
  /** Binary-sketch ANN — 1-bit scalar quantization: each vector collapses
    * to the 64-bit word of its component signs ([[graft.functions.SignBits]]
    * codegen kernel), hamming distance (`bit_count(sig ^ qsig)` — one
    * popcount on 8 bytes instead of 64 FMAs on 512 bytes) screens the
    * corpus down to [[HCAND]] candidates per query, and exact cosine
    * re-ranks only those. The sign(⟨x−y⟩) ↔ angle link is the same
    * hyperplane-LSH fact behind dedup_embedding_lsh, specialized to the
    * coordinate hyperplanes; it's the binary-embedding retrieval shape
    * (Faiss `IndexBinaryFlat` + refine) that pairs with int8
    * [[ivfQuantized]] and PQ on the memory/recall curve — 64× smaller
    * scan than raw doubles.
    *
    * Exactness: signatures are exact integers (`v[i] > 0` is the same
    * IEEE decision both engines), hamming rank ties break on vec_id, and
    * the re-rank cosine is the bit-exact sequential-fold kernel — the
    * candidate SET and final ranking are engine-identical, so the oracle
    * mirrors the full pipeline (not just the end result). Scale: corpus
    * scanned once map-only (scan + kernel stay in one codegen stage),
    * per-query top-CAND via WindowGroupLimit, re-rank touches
    * NQ·HCAND rows.
    */
  private val HCAND = 32

  private val hamming = Q(
    "knn_hamming",
    (s, dir) => {
      val sigExpr = org.apache.spark.sql.graft.Shim.column(
        graft.functions.SignBits(
          org.apache.spark.sql.graft.Shim.expression(col("v"))))
      val sigs = Tables.vectors(s, dir).withColumn("sig", sigExpr)
      val q = queries(sigs, NQ, col("sig").as("qsig"))
      val ham = bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("long")
      val wh = Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("vec_id"))
      val cand = sigs.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .withColumn("hamming", ham)
        .withColumn("hrank", row_number().over(wh))
        .filter(col("hrank") <= HCAND)
      val cos = cosineSim(col("qv"), col("v"))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(cos.desc, col("vec_id"))
      cand.withColumn("rank", row_number().over(wc).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rank"), col("hamming"), round(cos, 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    sg AS (
      -- null-safe: components past len(v) are NULL, which must
      -- contribute 0 like the kernel (it reads min(len, 64) components),
      -- so the positive test gates the bit and everything else falls to 0
      SELECT vec_id, SUM(CASE WHEN v[i.range + 1] > 0 THEN
          (CASE WHEN i.range = 63 THEN -9223372036854775807 - 1
            ELSE (1::BIGINT << i.range) END)
          ELSE 0 END)::BIGINT AS sig
        FROM e, range(64) i GROUP BY vec_id),
    es AS (SELECT e.vec_id, v, sig FROM e JOIN sg USING (vec_id)),
    q AS (SELECT vec_id query_id, v qv, sig qsig FROM es
      WHERE vec_id < $NQ),
    cand AS (
      SELECT query_id, qv, s.vec_id, s.v,
        bit_count(xor(s.sig, qsig))::BIGINT AS hamming,
        row_number() OVER (PARTITION BY query_id
          ORDER BY bit_count(xor(s.sig, qsig)), s.vec_id) AS hrank
      FROM q, es s WHERE query_id <> s.vec_id)
    SELECT query_id, neighbor_id, rank, hamming, cosine FROM (
      SELECT query_id, vec_id AS neighbor_id, hamming,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS rank,
        round(list_cosine_similarity(qv, v), 6) AS cosine
      FROM cand WHERE hrank <= $HCAND)
    WHERE rank <= $K ORDER BY query_id, rank"""))

  // --------------------------------------------------- knn_hard_negatives
  /** Hard-negative mining — the contrastive-training curation step (DPR /
    * sentence-transformers): for each query vector, the top-k most
    * SIMILAR vectors with a DIFFERENT label. Those are the negatives
    * that actually move a retriever's loss — random negatives are
    * trivially separable; the near-misses define the decision boundary.
    * Same broadcast-queries-vs-one-corpus-pass shape as [[bruteforce]]
    * with the label-disagreement predicate filtered INSIDE the scan
    * (before the window), so the per-query top-k ranks only true
    * negatives. Exactness: label equality is integer, ranking is the
    * bit-exact sequential-fold cosine with vec_id tie-break. Scale: at a
    * real corpus this runs per training shard with the same plan — the
    * filter prunes before the WindowGroupLimit, and the broadcast query
    * block is the batch of anchors being mined.
    */
  private val hardNegatives = Q(
    "knn_hard_negatives",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      val q = queries(e, NQ, col("label").as("qlabel"))
      val cos = cosineSim(col("qv"), col("v"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(cos.desc, col("vec_id"))
      e.join(broadcast(q), col("label") =!= col("qlabel"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("qlabel").cast("long").as("query_label"),
          col("vec_id").as("negative_id"),
          col("label").cast("long").as("negative_label"),
          col("rank"), round(cos, 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
    q AS (SELECT vec_id query_id, v qv, label qlabel FROM e
      WHERE vec_id < $NQ)
    SELECT query_id, query_label, negative_id, negative_label, rank, cosine
    FROM (
      SELECT query_id, qlabel::BIGINT AS query_label,
        e.vec_id AS negative_id, e.label::BIGINT AS negative_label,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) AS rank,
        round(list_cosine_similarity(qv, e.v), 6) AS cosine
      FROM q, e WHERE e.label <> qlabel)
    WHERE rank <= $K ORDER BY query_id, rank"""))

  // ------------------------------------------------------ emb_knn_classify
  /** kNN LABEL PROPAGATION — the semi-supervised labeler next to the
    * trained classifiers ([[graft.text.Classify]]'s Rocchio / NB learn
    * a model; this votes directly from neighbors, the right tool when
    * labels are scarce but geometry is trusted): each held-out query
    * (vec_id < NQ, its own label masked) takes the majority label of
    * its [[VOTE_K]] nearest LABELED vectors (vec_id ≥ NQ — a real
    * train/test split, so queries never vote for each other), ties
    * broken (count desc, label asc) — fully deterministic. Emits
    * predicted vs actual + the correct flag, so the output doubles as
    * the holdout accuracy table.
    *
    * Scale: the [[bruteforce]] posture — broadcast query block vs ONE
    * corpus pass, `rank ≤ k` plans WindowGroupLimit (every partition
    * pre-reduced to k rows); the vote re-aggregates ≤ NQ·k thin rows.
    */
  private val VOTE_K = 10

  private val knnClassify = Q(
    "emb_knn_classify",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      val q = queries(e, NQ, col("label").cast("long").as("actual"))
      val cos = cosineSim(col("qv"), col("v"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(cos.desc, col("vec_id"))
      val votes = e.filter(col("vec_id") >= NQ)
        .join(broadcast(q), col("query_id") =!= col("vec_id"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= VOTE_K)
        .groupBy(col("query_id"), col("actual"),
          col("label").cast("long").as("predicted"))
        .agg(count(lit(1)).as("n_votes"))
      val pick = Window.partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("predicted"))
      votes.withColumn("vr", row_number().over(pick))
        .filter(col("vr") === 1)
        .select(col("query_id"), col("predicted"), col("actual"),
          col("n_votes"), (col("predicted") === col("actual")).as("correct"))
        .orderBy("query_id")
    },
    Some(s"""WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
    q AS (SELECT vec_id query_id, v qv, label::BIGINT AS actual FROM e
      WHERE vec_id < $NQ),
    nn AS (
      SELECT query_id, actual, label::BIGINT AS predicted
      FROM (
        SELECT query_id, actual, e.label,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id)
            AS rank
        FROM q, e WHERE e.vec_id >= $NQ)
      WHERE rank <= $VOTE_K),
    votes AS (
      SELECT query_id, actual, predicted, COUNT(*)::BIGINT AS n_votes
      FROM nn GROUP BY query_id, actual, predicted)
    SELECT query_id, predicted, actual, n_votes,
      predicted = actual AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY n_votes DESC, predicted) AS vr FROM votes)
    WHERE vr = 1 ORDER BY query_id"""))

  // ------------------------------------------------------------ knn_triplets
  /** TRIPLET mining — the (anchor, hardest positive, hardest negative)
    * table a contrastive/metric-learning run trains on
    * ([[hardNegatives]] mines the negative half; a triplet loss also
    * needs the hardest POSITIVE — the most DISsimilar same-label
    * vector, the pair the embedding must pull together): per anchor,
    * pos = argmin cosine over same-label, neg = argmax cosine over
    * different-label, plus the raw margin `pos_cos − neg_cos` (the
    * quantity the loss clamps; emitted UNROUNDED — both operands are
    * already bit-identical rounded doubles, and re-rounding a value
    * sitting ON the 6-dp grid is the round-trip trap kmeans_train hit
    * — see SURVEY §5).
    *
    * One corpus pass vs broadcast anchors; BOTH extremes ride a single
    * window partitioned by (anchor, is_pos) ordered by the sign-folded
    * cosine (`is_pos ? cos : −cos` asc) — one exchange, rank=1 plans
    * WindowGroupLimit, then a ≤2-rows-per-anchor pivot.
    */
  private val triplets = Q(
    "knn_triplets",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      val q = queries(e, NQ, col("label").as("qlabel"))
      val cos = cosineSim(col("qv"), col("v"))
      val w = Window.partitionBy(col("query_id"), col("is_pos"))
        .orderBy(when(col("is_pos"), col("c")).otherwise(-col("c")).asc,
          col("vec_id"))
      e.filter(col("vec_id") >= NQ)
        .join(broadcast(q), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (col("label") === col("qlabel")).as("is_pos"), cos.as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .groupBy("query_id")
        .agg(max(when(col("is_pos"), col("vec_id"))).as("pos_id"),
          max(when(col("is_pos"), round(col("c"), 6))).as("pos_cosine"),
          max(when(!col("is_pos"), col("vec_id"))).as("neg_id"),
          max(when(!col("is_pos"), round(col("c"), 6))).as("neg_cosine"))
        .withColumn("margin", col("pos_cosine") - col("neg_cosine"))
        .orderBy("query_id")
    },
    Some(s"""WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
    q AS (SELECT vec_id query_id, v qv, label qlabel FROM e
      WHERE vec_id < $NQ),
    scored AS (
      SELECT query_id, e.vec_id, e.label = qlabel AS is_pos,
        list_cosine_similarity(qv, e.v) AS c
      FROM q, e WHERE e.vec_id >= $NQ),
    ranked AS (
      SELECT query_id, vec_id, is_pos, c,
        row_number() OVER (PARTITION BY query_id, is_pos
          ORDER BY CASE WHEN is_pos THEN c ELSE -c END ASC, vec_id)
          AS rank
      FROM scored),
    piv AS (
      SELECT query_id,
        MAX(CASE WHEN is_pos THEN vec_id END) AS pos_id,
        MAX(CASE WHEN is_pos THEN round(c, 6) END) AS pos_cosine,
        MAX(CASE WHEN NOT is_pos THEN vec_id END) AS neg_id,
        MAX(CASE WHEN NOT is_pos THEN round(c, 6) END) AS neg_cosine
      FROM ranked WHERE rank = 1 GROUP BY query_id)
    SELECT query_id, pos_id, pos_cosine, neg_id, neg_cosine,
      pos_cosine - neg_cosine AS margin
    FROM piv ORDER BY query_id"""))

  // -------------------------------------------------------------- knn_mips
  /** MAXIMUM-INNER-PRODUCT search — the other exact retrieval mode next
    * to [[bruteforce]]'s cosine: rank by the RAW dot product, where the
    * vector NORM carries signal (recommendation scoring, learned
    * retrieval models whose relevance = ⟨q, d⟩, popularity-weighted
    * item embeddings). Cosine and MIPS rankings genuinely differ on
    * unnormalized vectors, which is why ANN libraries ship them as
    * separate index metrics (FAISS METRIC_INNER_PRODUCT).
    *
    * Same broadcast-queries-vs-one-corpus-pass shape as [[bruteforce]]
    * with the same rank-filter → WindowGroupLimit O(n·k) bound; the
    * scoring kernel is the codegen'd [[graft.functions.DotProduct]] —
    * sequential fold, bit-identical to DuckDB's `list_inner_product`
    * (the cosine kernel's subexpression), so the emitted rounded score
    * hash-gates, not just the ranking.
    */
  private val mips = Q(
    "knn_mips",
    (s, dir) => {
      import graft.functions.CosineSim.dotProduct
      val e = Tables.vectors(s, dir)
      val q = queries(e, NQ)
      val dot = dotProduct(col("qv"), col("v"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(dot.desc, col("vec_id"))
      e.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rank"), round(dot, 6).as("dot"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < $NQ)
    SELECT query_id, neighbor_id, rank, dot FROM (
      SELECT query_id, e.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_inner_product(qv, e.v) DESC, e.vec_id) AS rank,
        round(list_inner_product(qv, e.v), 6) AS dot
      FROM q, e WHERE query_id <> e.vec_id)
    WHERE rank <= $K ORDER BY query_id, rank"""))

  // ---------------------------------------------------- knn_graph_search
  /** GRAPH-BASED ANN SEARCH — greedy beam search over the persisted kNN
    * graph, the HNSW/NSG-shape query path (Malkov & Yashunin 2016 walk a
    * proximity graph from an entry point; here the layer-0 analog over
    * [[buildKnnGraphIndexFrom]]'s stored artifact): IVF probes answer
    * from CELL GEOMETRY (everything in the probed Voronoi cells), the
    * graph walk answers from NEIGHBORHOOD TOPOLOGY (follow stored edges
    * toward the query), reaching true neighbors that sit just across a
    * cell boundary — the case probe sets miss.
    *
    * Protocol (fully deterministic, every choice on raw cosines that are
    * bit-identical in both engines, ties broken by vec_id):
    *
    *   1. SEEDS: the query probes its [[BEAM_SEEDS]] nearest stored
    *      centroids (same codegen kernel as IVF) and enters the graph at
    *      those cells' ENTRY POINTS — each cell's medoid (max cosine to
    *      its centroid), the stored-artifact analog of HNSW's fixed
    *      entry node.
    *   2. WALK: [[BEAM_HOPS]] fixed rounds (the kmeans/pagerank
    *      fixed-round oracle precedent); each round expands the current
    *      beam's SYMMETRIZED stored edges (in- ∪ out-neighbors — the
    *      NN-Descent closure, degree ~2k), scores candidates against the
    *      query, and keeps the best [[BEAM_W]]. The beam never loses its
    *      best member (previous beam ⊆ candidates), so result quality is
    *      monotone in hops.
    *   3. ANSWER: top-[[K]] of the final beam, self excluded throughout
    *      (the out-of-sample query protocol — a corpus query must not
    *      shortcut through its own stored adjacency).
    *
    * Budget honesty (KnnSpec): the walk scores ~|seeds| + hops·BEAM_W·2k
    * candidates per query — measured, beam recall@5 ≥ IVF recall@5 at an
    * nprobe whose candidate count is at least the walk's.
    *
    * Scale: per-query work is independent of corpus size (candidates are
    * bounded by beam×degree, not cell mass — the reason graph indexes
    * win at billion scale); the corpus-sized costs are one partial-agg
    * medoid pass and, per round, one thin (vec_id, v) column-pruned scan
    * of the stored lists that the broadcast candidate set hash-joins
    * (HOPS+1 scans per query BATCH, amortized over all queries in it).
    * Each round's beam (|Q|·BEAM_W rows) is checkpointed — candidates
    * reference the prior beam twice (keep ∪ expand), which unmaterialized
    * would re-execute the walk prefix 2^hops times (the CC-loop rule).
    */
  private[graft] val BEAM_W = 24
  private[graft] val BEAM_HOPS = 8
  private[graft] val BEAM_SEEDS = 2
  /** Max celladj rows the walk may hold on the driver (see
    * [[graphSearchAt]]'s fail-fast at the collect).
    */
  private[graft] val CELLADJ_DRIVER_BUDGET = 1L << 22

  /** The walk plus its scored-candidate audit: (result, visited) where
    * visited = every (query_id, vec_id) the walk scored — the spec's
    * equal-budget comparison reads its count, the gated query only the
    * result. Lineage: beams are checkpointed, visited unions the cheap
    * cand derivations over those materialized parents.
    */
  private[graft] def graphSearchParts(
      s: SparkSession, dir: String, nSeeds: Int = BEAM_SEEDS,
      width: Int = BEAM_W, hops: Int = BEAM_HOPS): (DataFrame, DataFrame) = {
    val q = queries(Tables.vectors(s, dir), NQ)
    graphSearchAt(s, cachedGraph(s, dir), q, nSeeds, width, hops)
  }

  /** The walk against an explicit store path and query frame
    * (`query_id`, `qv`) — lets specs search a refined or experimental
    * copy of the artifact without touching the gated session cache.
    */
  private[graft] def graphSearchAt(s: SparkSession, path: String,
      q: DataFrame, nSeeds: Int, width: Int,
      hops: Int): (DataFrame, DataFrame) = {
    val cents = Tables.parquet(s, s"$path/cents")
    val lists = s.read.schema(ListsSchema).parquet(s"$path/lists")
    val sym = Tables.parquet(s, s"$path/sym")
      .withColumn("u_cent", col("u_cent").cast("long"))
    val medoids = Tables.parquet(s, s"$path/medoids")
      .withColumn("cent_id", col("cent_id").cast("long"))
    // the walk's DRIVER-RESIDENT routing table (nlist×fanout ids —
    // smaller than the codebook the probes broadcast): which cells can
    // hold a neighbor of a member of cell c. Prunes each round's
    // vector fetch to adj(beam cells) instead of the corpus.
    // Driver-residency BOUND, fail fast (the id-width-guard precedent):
    // nlist scales ∝ corpus ([[nlistFor]], commit aba6884; receipt in
    // CHANGES.md), so celladj is the ONE walk structure whose driver
    // footprint grows with data.
    // 2^22 rows (~64 MB boxed) admits fanout 8 × nlist 512k ≈ a
    // billion-vector corpus at 2k vectors/cell; past that the routing
    // belongs in a broadcast join, not driver state — raise loudly
    // instead of OOMing the driver quietly. Parquet count() is
    // metadata-only, no scan.
    val adjSrc = Tables.parquet(s, s"$path/celladj")
    val adjRows = adjSrc.count()
    require(adjRows <= CELLADJ_DRIVER_BUDGET,
      s"graphSearchAt: celladj has $adjRows rows > driver budget " +
        s"$CELLADJ_DRIVER_BUDGET (nlist×fanout outgrew driver " +
        "residency) — route via a broadcast join instead of the " +
        "driver-resident map for this artifact")
    val cellAdj: Map[Long, Seq[Long]] = adjSrc
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (c, vs) => c -> vs.map(_._2).toSeq }
    // the query batch lives on the driver for the walk's duration —
    // bounded by the BATCH (|Q|·dim doubles), never the corpus; as a
    // LocalRelation its broadcasts cost no per-round file scans
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false)))
    val qRows = q.select(col("query_id"),
      col("qv").cast("array<double>")).collect()
    val qLocal = s.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSchema)
    val beamSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cos",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    def beamDf(rows: Array[org.apache.spark.sql.Row]): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), beamSchema)
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    def topW(scored: DataFrame): Array[org.apache.spark.sql.Row] =
      scored.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= width)
        .select("query_id", "vec_id", "cent_id", "cos")
        .collect()
    val cos = cosineSim(col("qv"), col("v"))
    // round 0: score each query's seed cells' stored entry points (the
    // medoid is a member of its cell, so its own cell IS cent_id)
    val seeds = probe(qLocal, cents, nSeeds)
      .select("query_id", "cent_id")
      .join(broadcast(medoids), "cent_id")
      .filter(col("query_id") =!= col("vec_id"))
    var beam = topW(seeds
      .join(broadcast(qLocal), "query_id")
      .select(col("query_id"), col("vec_id"), col("cent_id"),
        cos.as("cos")))
    var visited: DataFrame =
      seeds.select("query_id", "vec_id")
    for (_ <- 1 to hops) {
      // candidate cells are known BEFORE the round's one job runs:
      // beam cells (kept members) ∪ their routing-table fan-out
      // (every neighbor a beam member can expand to) — both reads
      // below are directory-pruned to them
      val bd = beamDf(beam)
      val beamCells = beam.map(_.getLong(2)).distinct.toSeq
      val candCells = (beamCells ++
        beamCells.flatMap(cellAdj.getOrElse(_, Seq.empty))).distinct
      val expanded = sym.filter(col("u_cent").isin(beamCells: _*))
        .join(broadcast(bd.select(col("query_id"),
          col("vec_id").as("u"))), "u")
        .filter(col("query_id") =!= col("nv"))
        .select(col("query_id"), col("nv").as("vec_id"),
          col("nv_cent").as("cent_id"))
        .distinct()
      visited = visited.unionByName(bd.select("query_id", "vec_id"))
        .unionByName(expanded.select("query_id", "vec_id"))
      // kept members reuse their stored score (same kernel, same bits);
      // only the expansion is scored, against a cell-pruned vector read
      val scored = lists.filter(col("cent_id").isin(candCells: _*))
        .select(col("vec_id"), col("v"))
        .join(broadcast(expanded), "vec_id")
        .join(broadcast(qLocal), "query_id")
        .select(col("query_id"), col("vec_id"), col("cent_id"),
          cos.as("cos"))
      beam = topW(scored.unionByName(bd).distinct())
    }
    val res = beamDf(beam)
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
    (res, visited.distinct())
  }

  /** IVF top-[[K]] at an arbitrary nprobe plus its candidate count —
    * the spec's equal-budget yardstick (the gated knn_ivf is fixed at
    * [[NPROBE]]; the budget comparison needs the dial).
    */
  private[graft] def ivfSearchAt(s: SparkSession, dir: String,
      nprobe: Int): (DataFrame, Long) = {
    val e = Tables.vectors(s, dir)
    val cents = codebook(e)
    val cand = ivfCandidates(assign(e, cents), cents, queries(e, NQ), nprobe)
    (Ann.topK(cand, K), cand.count())
  }

  /** One unrolled beam round in SQL: expand `prev` through the
    * symmetric edges, score, keep [[BEAM_W]]. UNION dedups; every beam
    * CTE is referenced twice (keep ∪ expand) so it MATERIALIZEs, or
    * DuckDB re-evaluates the whole walk prefix per reference.
    */
  private def sqlBeamRound(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT cnd.query_id, cnd.vec_id,
          row_number() OVER (PARTITION BY cnd.query_id
            ORDER BY list_cosine_similarity(bq.qv, ev.v) DESC, cnd.vec_id)
            AS rk
        FROM (SELECT query_id, vec_id FROM $prev
              UNION
              SELECT b.query_id, s.v AS vec_id FROM $prev b
              JOIN bsym s ON s.u = b.vec_id
              WHERE s.v <> b.query_id) cnd
        JOIN bq ON bq.query_id = cnd.query_id
        JOIN bse ev ON ev.vec_id = cnd.vec_id) WHERE rk <= $BEAM_W)"""

  private val sqlGraphSearch: String = {
    val rounds = (1 to BEAM_HOPS)
      .map(r => sqlBeamRound(s"bb${r - 1}", s"bb$r")).mkString(",\n    ")
    s"""WITH $sqlKnnEdgesCte,
    -- materialized shadows: DuckDB 1.0 re-evaluates non-materialized
    -- CTEs per reference, and the unrolled walk references the corpus
    -- ~10x and the trainer chain 2x more (the r13 open-files trap class)
    bse AS MATERIALIZED (SELECT vec_id, v FROM e),
    bc2 AS MATERIALIZED (SELECT cent_id, cv FROM $ivfCents),
    bsym AS MATERIALIZED (SELECT u, v_id AS v FROM edges
      UNION SELECT v_id, u FROM edges),
    bmed AS MATERIALIZED (
      SELECT cent_id, vec_id FROM (
        SELECT c.cent_id, a.vec_id,
          row_number() OVER (PARTITION BY c.cent_id
            ORDER BY list_cosine_similarity(a.v, c.cv) DESC, a.vec_id)
            AS rk
        FROM assigned a JOIN bc2 c USING (cent_id)) WHERE rk = 1),
    bq AS MATERIALIZED (
      SELECT vec_id AS query_id, v AS qv FROM bse WHERE vec_id < $NQ),
    bqp AS (SELECT query_id, cent_id FROM (
        SELECT bq.query_id, c.cent_id,
          row_number() OVER (PARTITION BY bq.query_id
            ORDER BY list_cosine_similarity(bq.qv, c.cv) DESC, c.cent_id)
            AS rk
        FROM bq, bc2 c) WHERE rk <= $BEAM_SEEDS),
    bb0 AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT sd.query_id, sd.vec_id,
          row_number() OVER (PARTITION BY sd.query_id
            ORDER BY list_cosine_similarity(bq.qv, ev.v) DESC, sd.vec_id)
            AS rk
        FROM (SELECT DISTINCT bqp.query_id, m.vec_id
              FROM bqp JOIN bmed m USING (cent_id)
              WHERE m.vec_id <> bqp.query_id) sd
        JOIN bq ON bq.query_id = sd.query_id
        JOIN bse ev ON ev.vec_id = sd.vec_id) WHERE rk <= $BEAM_W),
    $rounds
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT b.query_id, b.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY b.query_id
          ORDER BY list_cosine_similarity(bq.qv, ev.v) DESC, b.vec_id)
          AS rank,
        round(list_cosine_similarity(bq.qv, ev.v), 6) AS cosine
      FROM bb$BEAM_HOPS b
      JOIN bq ON bq.query_id = b.query_id
      JOIN bse ev ON ev.vec_id = b.vec_id)
    WHERE rank <= $K ORDER BY query_id, rank"""
  }

  private val graphSearchQ = Q(
    "knn_graph_search",
    (s, dir) => graphSearchParts(s, dir)._1,
    Some(sqlGraphSearch))

  val all: Seq[Q] = Seq(bruteforce, radius, lsh, ivf, ivfBalance, ivfResiduals,
    ivfPersisted, ivfQuantized,
    knnJoin, pagerank, triangleQ, componentsQ, linkpredQ, labelpropQ,
    embeddednessQ,
    trianglePersistedQ, linkpredPersistedQ, componentsPersistedQ,
    componentsIncrementalQ, componentsTakedownQ, nnDescentQ,
    pagerankPersistedQ, mmrSelect, recallCurveQ, kmeansTrain, kmeansAssign,
    recallQ, hamming, hardNegatives, mips, knnClassify, triplets,
    graphSearchQ)
}
