package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Embedding compression — symmetric per-vector int8 scalar quantization
  * (the standard storage step before shipping embeddings to a trainer:
  * 4× smaller than float32, dequantize = code · scale).
  *
  * `scale = max|x| / 127`, `code_i = round(x_i / scale)` ∈ [-127, 127]
  * (the max element lands exactly on ±127, so no clamp is needed;
  * all-zero vectors quantize to zeros with scale 0).
  *
  * Determinism: scale/codes/errors are IEEE ops on identical inputs in
  * both engines; the oracle compares integer code summaries plus the
  * max (order-independent, unlike a sum) absolute reconstruction error,
  * rounded 6 dp both sides.
  */
object Quantize {

  import Ann.queries

  /** int8 codes for a vector column given its precomputed scale. The
    * scale must be a MATERIALIZED attribute, not the max-abs expression:
    * CollapseProject would inline that expression into the per-element
    * lambda and re-run the O(d) max once per element (O(d²)/row).
    */
  def int8Codes(v: Column, scaleAttr: Column): Column =
    transform(v, x => when(scaleAttr === 0.0, lit(0L))
      .otherwise(round(x / scaleAttr).cast("long")))

  /** Per-vector scale = max|x| / 127. */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / 127.0

  private val quantize = Q(
    "emb_quantize",
    (s, dir) => {
      // checkpoint so scale_raw is a plain attribute inside the code
      // lambdas (see int8Codes); the table is small and the HOFs here
      // run O(d) per element on it — this is a storage/demo op, the hot
      // kernels live in graft.functions
      val e = Tables.vectors(s, dir)
        .withColumn("scale_raw", int8Scale(col("v")))
        .transform(graft.Checkpoint.of)
      e.withColumn("codes", int8Codes(col("v"), col("scale_raw")))
        .select(
          col("vec_id"),
          round(col("scale_raw"), 6).as("scale"),
          aggregate(col("codes"), lit(0L), _ + _).as("code_sum"),
          array_min(col("codes")).as("code_min"),
          array_max(col("codes")).as("code_max"),
          round(array_max(zip_with(col("v"), col("codes"),
            (x, q) => abs(x - q * col("scale_raw")))), 6)
            .as("max_abs_err"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    q AS (
      SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale_raw
      FROM e),
    c AS (
      SELECT vec_id, v, scale_raw,
        list_transform(v, x -> CASE WHEN scale_raw = 0 THEN 0
          ELSE CAST(round(x / scale_raw) AS BIGINT) END) AS codes
      FROM q)
    SELECT vec_id,
      round(scale_raw, 6) AS scale,
      CAST(list_sum(codes) AS BIGINT) AS code_sum,
      CAST(list_min(codes) AS BIGINT) AS code_min,
      CAST(list_max(codes) AS BIGINT) AS code_max,
      round(list_max([abs(v[i] - codes[i] * scale_raw)
        for i in range(1, len(v) + 1)]), 6) AS max_abs_err
    FROM c ORDER BY vec_id"""))

  // -------------------------------------------------------------- emb_stats
  /** Per-DIMENSION corpus statistics — the data-prep pass feeding
    * whitening / standardization / asymmetric-quantizer range decisions:
    * for every embedding dimension, count, min, max, mean, and
    * population variance.
    *
    * Cross-engine exactness on the moments (the kmeans/decimal recipe
    * extended to second order): each component becomes an exact INTEGER
    * count of millionths (`round(x,6)` is lossless in DECIMAL(38,6),
    * then ·10⁶), so Σm and Σm² are exact order-independent integers in
    * DECIMAL(38,0)/HUGEINT (6e5 rows × m²≤1.6e13 stays well inside 38
    * digits), the variance numerator `n·Σm² − (Σm)²` is an exact
    * integer in both engines, and each output is ONE deterministic
    * IEEE cast-and-divide. min/max compare raw doubles — exact by
    * definition.
    *
    * Scale: posexplode is map-side; the only exchange is the
    * map-side-combined aggregate on `dim` keys (n·d component rows
    * combine to d rows per partition before shuffling).
    */
  /** The per-dimension moment table shared by emb_stats (output) and
    * emb_standardize (applied): dim_idx, n, min_x, max_x, mean,
    * variance. See the emb_stats docstring for the exactness argument.
    */
  private def statsOf(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val comp = e
      .select(posexplode(col("v")).as(Seq("d0", "x")))
      .select((col("d0") + 1).cast("long").as("dim_idx"), col("x"),
        (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
          .cast(dec).as("m"))
    comp.groupBy("dim_idx")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        sum("m").cast(dec).as("s"),
        sum((col("m") * col("m")).cast(dec)).cast(dec).as("ss"))
      .select(col("dim_idx"), col("n"), col("min_x"), col("max_x"),
        (col("s").cast("double") / (col("n") * lit(1000000.0)))
          .as("mean"),
        ((col("n").cast(dec) * col("ss") - col("s") * col("s"))
          .cast("double") /
          ((col("n") * col("n")).cast("double") * lit(1.0e12)))
          .as("variance"))
  }

  /** The identical moment table as DuckDB CTEs (`e` must be in scope as
    * (vec_id, v DOUBLE[])); exposes `stats(dim_idx, n, min_x, max_x,
    * mean, variance)`.
    */
  private val statsSql = """comp AS (
      SELECT u.s.i AS dim_idx, u.s.x AS x,
        (round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::HUGEINT AS m
      FROM e, UNNEST([struct_pack(i := i::BIGINT, x := v[i])
          for i in range(1, len(v) + 1)]) u(s)),
    stats AS (
      SELECT dim_idx, COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
        CAST(SUM(m) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean,
        CAST(COUNT(*)::HUGEINT * SUM(m*m) - SUM(m)*SUM(m) AS DOUBLE)
          / (CAST(COUNT(*) * COUNT(*) AS DOUBLE) * 1e12) AS variance
      FROM comp GROUP BY dim_idx)"""

  private val stats = Q(
    "emb_stats",
    (s, dir) => statsOf(Tables.vectors(s, dir)).orderBy("dim_idx"),
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    $statsSql
    SELECT * FROM stats ORDER BY dim_idx"""))

  // --------------------------------------------------------- emb_standardize
  /** Per-dimension z-scoring (whitening application of [[stats]]): every
    * component becomes `(x − mean_d) / sqrt(var_d)` against the corpus
    * moments — the standardization pass before isotropic-assuming
    * consumers (PCA, product quantizers, cosine-calibrated thresholds).
    *
    * Determinism: mean/variance are bit-identical across engines (the
    * emb_stats argument), so each z is the same chain of IEEE ops on
    * identical doubles — sqrt is correctly rounded, division is one op.
    * The oracle gates ORDER-INDEPENDENT per-vector summaries (min z,
    * max z, outlier count) in the emb_quantize house style — no float
    * sums whose accumulation order could differ.
    *
    * Scale: the d-row moment table collapses to ONE broadcast row
    * (sorted struct array — the [[Knn.assign]] codebook pattern); the
    * corpus maps once, no shuffle anywhere. The summary is the
    * [[graft.functions.ZScoreSummary]] codegen kernel — the previous
    * composed form (a `transform` z array consumed by array_min /
    * array_max / filter) paid three interpreted O(d) passes per row
    * after CollapseProject inlined the array into each consumer; the
    * kernel is one pass, and QuantizeSpec asserts the generated code
    * calls it exactly once (codegen subexpression elimination dedups
    * the three struct-field reads).
    */
  private val OUTLIER_Z = 3.0

  private val standardize = Q(
    "emb_standardize",
    (s, dir) => {
      import org.apache.spark.sql.graft.Shim
      val e = Tables.vectors(s, dir)
      val st = statsOf(e).agg(
        array_sort(collect_list(struct(col("dim_idx"), col("mean"),
          col("variance")))).as("ms"))
      e.crossJoin(broadcast(st))
        .select(col("vec_id"), Shim.column(graft.functions.ZScoreSummary(
          Shim.expression(col("v")), Shim.expression(col("ms")),
          OUTLIER_Z)).as("zs"))
        .select(col("vec_id"),
          col("zs.z_min").as("z_min"),
          col("zs.z_max").as("z_max"),
          col("zs.n_outliers").as("n_outliers"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    $statsSql,
    msrow AS (
      SELECT list_sort(list(struct_pack(dim_idx := dim_idx,
        mean := mean, variance := variance))) AS ms FROM stats),
    zs AS (
      SELECT vec_id,
        [CASE WHEN s.variance = 0 THEN 0.0
              ELSE (v[s.dim_idx] - s.mean) / sqrt(s.variance) END
         for s in ms] AS z
      FROM e CROSS JOIN msrow)
    SELECT vec_id, list_min(z) AS z_min, list_max(z) AS z_max,
      len(list_filter(z, zz -> abs(zz) > $OUTLIER_Z))::BIGINT
        AS n_outliers
    FROM zs ORDER BY vec_id"""))

  // ------------------------------------------------------------ emb_project
  /** Johnson-Lindenstrauss SIGN random projection (Achlioptas 2003,
    * "Database-friendly random projections": ±1 entries preserve
    * pairwise distances like Gaussian ones) — the dimensionality-
    * reduction stage before cheaper ANN / clustering passes: d=64 →
    * [[PROJ_K]]=16, `y = (1/√k)·S·x` with `s_ji ∈ {±1}`.
    *
    * Cross-engine exactness: the sign matrix derives from md5 parity of
    * the (j, i) coordinate string — the seeded-hash trick that lets BOTH
    * engines generate the identical matrix — and each component enters
    * as an exact integer count of millionths (the emb_stats recipe), so
    * `Σ ±m_i` is an exact order-independent BIGINT and the float `y` is
    * ONE IEEE division by 4·10⁶ (√16 = 4 — k chosen so the JL scale is
    * exactly representable).
    *
    * Scale: the 64×16 sign matrix is a broadcast literal-free join (no
    * typedLit tree — the LSH lesson); the corpus posexplodes map-side
    * and the only exchange is the map-side-combined (vec_id, j)
    * aggregate. QuantizeSpec checks the JL distance-preservation
    * property against exact pairwise distances.
    */
  private[graft] val PROJ_K = 16

  private val project = Q(
    "emb_project",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val e = Tables.vectors(s, dir)
      // one flat range, not range×range: a crossJoin of two tiny ranges
      // plans a (bounded but flagged) nested-loop join for no benefit
      val r = s.range(0, 64L * PROJ_K)
        .select((col("id") % 64 + 1).as("i"),
          (expr("id DIV 64") + 1).as("j"))
        .select(col("i"), col("j"),
          (lit(1) - lit(2) * (conv(substring(md5(
            concat(col("j"), lit("_"), col("i"))), 1, 1), 16, 10)
            .cast("long") % 2)).as("sgn"))
      val comp = e
        .select(col("vec_id"), posexplode(col("v")).as(Seq("d0", "x")))
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("i"),
          (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
            .cast(DecimalType(38, 0)).cast("long").as("m"))
      comp.join(broadcast(r), "i")
        .groupBy("vec_id", "j")
        .agg(sum(col("sgn") * col("m")).as("y_scaled"))
        .select(col("vec_id"), col("j"), col("y_scaled"),
          (col("y_scaled").cast("double") / lit(4000000.0)).as("y"))
        .orderBy("vec_id", "j")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    r AS (
      SELECT i.range AS i, j.range AS j,
        1 - 2 * ((('0x' || substr(md5(j.range::VARCHAR || '_' ||
          i.range::VARCHAR), 1, 1))::BIGINT) % 2) AS sgn
      FROM range(1, 65) i, range(1, ${PROJ_K + 1}) j),
    comp AS MATERIALIZED (
      SELECT vec_id, u.s.i AS i,
        (round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::BIGINT AS m
      FROM e, UNNEST([struct_pack(i := k::BIGINT, x := v[k])
        for k in range(1, len(v) + 1)]) u(s))
    SELECT vec_id, j, SUM(sgn * m)::BIGINT AS y_scaled,
      CAST(SUM(sgn * m) AS DOUBLE) / 4000000.0 AS y
    FROM comp JOIN r USING (i)
    GROUP BY vec_id, j ORDER BY vec_id, j"""))

  // --------------------------------------------------------- emb_covariance
  /** Per-dimension-PAIR population covariance — the d×d matrix behind
    * PCA / ZCA whitening / Mahalanobis gating (what a whitening stage
    * eigendecomposes; the [[stats]] variance is its diagonal): for every
    * i ≤ j, `cov(i,j) = (n·Σ mᵢmⱼ − Σmᵢ·Σmⱼ) / (n²·10¹²)` with every
    * sum an exact order-independent integer (the emb_stats recipe at
    * second order, cross-moment form: mᵢmⱼ ≤ 2.6e12 × 6e5 rows stays
    * well inside DECIMAL(38)/HUGEINT), one IEEE division per output
    * cell.
    *
    * Scale: each vector emits its d(d+1)/2 upper-triangle products
    * MAP-SIDE (one flatten(transform) per row, a single Generate input
    * — evaluated once, never a self-join shuffling n·d rows to pair
    * components); the only exchange is the map-side-combined (i, j)
    * aggregate collapsing to d(d+1)/2 rows per partition. The DuckDB
    * mirror states the same cells via a per-vector component self-join —
    * different plan, identical exact integers.
    */
  /** Shared scatter-moment builder for [[covariance]] / [[pcaPower]]:
    * (i, j, n, sp = Σmᵢmⱼ, si = Σmᵢ, sj = Σmⱼ) over the upper triangle,
    * every sum an exact order-independent integer.
    *
    * Three plan decisions carry the whole cost (this build was the
    * slowest query in BENCH_r06 before them):
    * 1. the micro-component array is materialized ONCE behind a
    *    checkpoint barrier — referenced through 2·d(d+1)/2 element_at's,
    *    CollapseProject would otherwise inline the array-transform into
    *    every reference and re-evaluate it ~4000× per row;
    * 2. products multiply as LONGs in the exploded structs (m ≤ 10⁷
    *    micro-units ⇒ p ≤ 10¹⁴, far inside Long) and only the SUM
    *    accumulates as DECIMAL(38,0) — identical integers, none of the
    *    interpreted per-element Decimal arithmetic;
    * 3. the linear sums Σmᵢ don't ride the d(d+1)/2-row explode at all
    *    (they are constant in j): a d-row posexplode aggregate computes
    *    them once and broadcast-joins onto the cell aggregate twice.
    */
  private def scatter(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val msL = transform(col("v"), x =>
      (round(x, 6).cast(DecimalType(38, 6)) * lit(1000000)).cast("long"))
    val m = e.select(col("vec_id"), msL.as("ms"))
      .transform(graft.Checkpoint.of)
    val dims = m.select(posexplode(col("ms")).as(Seq("p0", "mv")))
      .groupBy((col("p0") + 1).cast("long").as("i"))
      .agg(sum(col("mv").cast(dec)).cast(dec).as("s"))
    // the kernel's flat output index ↔ (i, j) mapping: row-major over
    // the upper triangle, stated as a row_number over the d(d+1)/2 pair
    // table (a one-partition window over ≤ thousands of rows, broadcast)
    val di = dims.select(col("i"))
    val pairs = di.join(di.select(col("i").as("j")), col("i") <= col("j"))
      .withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("i", "j")) - 1)
    val tri = org.apache.spark.sql.graft.Shim.column(
      graft.functions.TriProducts(
        org.apache.spark.sql.graft.Shim.expression(col("ms"))))
    m.select(posexplode(tri).as(Seq("pos", "p")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast(dec)).cast(dec).as("sp"))
      .join(broadcast(pairs), "pos")
      .join(broadcast(dims.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(dims.select(col("i").as("j"), col("s").as("sj"))),
        "j")
      .select(col("i"), col("j"), col("n"), col("sp"), col("si"),
        col("sj"))
  }

  private val covariance = Q(
    "emb_covariance",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      scatter(Tables.vectors(s, dir))
        .select(col("i"), col("j"), col("n"),
          ((col("n").cast(dec) * col("sp") - col("si") * col("sj"))
            .cast("double") /
            ((col("n") * col("n")).cast("double") * lit(1.0e12)))
            .as("cov"))
        .orderBy("i", "j")
    },
    Some("""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    comp AS MATERIALIZED (
      SELECT vec_id, u.s.i AS i,
        (round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::HUGEINT AS m
      FROM e, UNNEST([struct_pack(i := k::BIGINT, x := v[k])
        for k in range(1, len(v) + 1)]) u(s))
    SELECT a.i AS i, b.i AS j, COUNT(*)::BIGINT AS n,
      CAST(COUNT(*)::HUGEINT * SUM(a.m * b.m) - SUM(a.m) * SUM(b.m)
        AS DOUBLE) / (CAST(COUNT(*) * COUNT(*) AS DOUBLE) * 1e12) AS cov
    FROM comp a JOIN comp b
      ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i ORDER BY a.i, b.i"""))

  // --------------------------------------------------------- emb_pca_power
  /** PCA top component by POWER ITERATION over the exact-integer scatter
    * matrix — the eigen-step downstream of [[covariance]] (whitening,
    * SemDeDup-style cluster preconditioning, variance-explained QA), and
    * the third iterative-but-exact trainer in the library after
    * kmeans_train and text_bpe_train: every round is pure integer
    * arithmetic, so the unrolled-CTE oracle hash-gates the whole loop.
    *
    * Recipe: `S(i,j) = n·Σmᵢmⱼ − Σmᵢ·Σmⱼ` (the [[covariance]] cells
    * WITHOUT the final division — n²·10¹² × the covariance, still exact
    * DECIMAL(38,0)/HUGEINT), `v₀ = 10⁶·1`, then `PCA_ROUNDS` rounds of
    * `r = S·v` followed by max-norm renormalization
    * `v ← (r·10⁶) DIV max|r|` — integral division truncates toward zero
    * in BOTH engines (Spark IntegralDivide, DuckDB HUGEINT `//`), so the
    * iterate stays bit-identical with entries in [−10⁶, 10⁶]. No square
    * roots, no float normalization — max-norm instead of L2 is exactly
    * why the loop closes over the integers.
    *
    * Magnitude ceiling: `S ≤ n²·2.6e12`, so the matvec term
    * `S·v ≤ n²·2.6e12·10⁶·d` stays inside DECIMAL(38) up to n ≈ 7·10⁸
    * vectors at d=64; past that, drop component units from micro to
    * milli (same recipe, 10⁶ smaller cells). The normalize quotient is
    * ≤ 10⁶ so Spark's Long-typed DIV never overflows.
    *
    * Scale: one corpus pass emits the d(d+1)/2 upper-triangle moments
    * map-side (the [[covariance]] plan, checkpointed once); the
    * iteration then runs entirely on the d²-row matrix with a
    * broadcast d-row iterate — corpus size appears nowhere in the loop.
    */
  private val PCA_ROUNDS = 3

  /** The trained top component as a (j, v: DECIMAL(38,0)) frame — the
    * power iteration shared by [[pcaPower]] (exports it) and
    * [[pcaProject]] (applies it corpus-wide).
    */
  private[graft] def scatterMirror(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    // upper triangle once (checkpointed: consumed by both union legs),
    // mirrored to the full matrix for the matvec joins
    val tri = scatter(e)
      .select(col("i"), col("j"),
        (col("n").cast(dec) * col("sp") - col("si") * col("sj"))
          .cast(dec).as("sv"))
      .transform(graft.Checkpoint.of)
    tri.union(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("sv")))
      .transform(graft.Checkpoint.of)
  }

  /** One round of the iterate as ONE linear plan: the max-|component|
    * normalizer is a single-partition WINDOW aggregate over the d-row
    * matvec result instead of a broadcast 1-row scalar — the matvec
    * subtree appears ONCE in the plan (a broadcast scalar re-executes
    * it per consumer: 2^rounds executions of round 1 by the end), so
    * the whole trainer is one action with no per-round checkpoint. The
    * single partition holds d rows — the trainer state, never the
    * corpus.
    *
    * r17: REFERENCE implementation only. The production trainer is
    * [[powerVec]] over the COLLECTED mirror — the in-plan form paid
    * 6 exchanges of d-row data plus a one-time ~13 s Catalyst/Janino
    * bill for the 50+-operator linear plan (BENCH_OUT_r17_before:
    * emb_pca_power rep1 14.96 s vs reps 1.8 s). Kept so
    * QuantizeTrainerSpec can pin driver-vs-plan bit-equality.
    */
  private[graft] def powerIterateFrom(sm: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val wg = Window.partitionBy("g")
    var v = sm.select(col("i").as("j")).distinct()
      .select(col("j"), lit(1000000L).cast(dec).as("v"))
    for (_ <- 1 to PCA_ROUNDS) {
      v = sm.join(broadcast(v), "j")
        .groupBy("i").agg(sum(col("sv") * col("v")).cast(dec).as("r"))
        .withColumn("g", lit(1))
        .withColumn("mx", max(abs(col("r"))).over(wg).cast(dec))
        .select(col("i").as("j"),
          expr("r * 1000000 DIV mx").cast(dec).as("v"))
    }
    v
  }

  // ------------- r17: driver-side exact trainer over the collected mirror
  /** Upper bound on the embedding dimensionality whose d²-row scatter
    * mirror the trainer pulls to the driver (512² = 262,144 thin integer
    * rows, a few MB). The collected state is bounded by the ENCODER
    * dimensionality, never the corpus — the r15 LocalRelation-beam
    * precedent (bounded query-batch-sized driver state is legal; corpus-
    * sized is not). A wider encoder raises loudly here instead of
    * silently collecting a big matrix.
    */
  private val MAX_TRAINER_DIM = 512

  private val M6 = BigInt(1000000)

  /** The d²-row scatter mirror collected as (sorted dims, dense BigInt
    * matrix). sv is DECIMAL(38,0) — `toBigIntegerExact` keeps every cell
    * exact; absent cells (none in practice: every dim pair co-occurs)
    * default to 0, matching the join-aggregate's missing-row semantics.
    */
  private[graft] def collectScatter(
      sm: DataFrame): (Array[Long], Array[Array[BigInt]]) = {
    val rows = sm.select(col("i"), col("j"), col("sv")).collect()
    val dims = rows.map(_.getLong(0)).distinct.sorted
    require(dims.length <= MAX_TRAINER_DIM,
      s"PCA trainer: d=${dims.length} exceeds MAX_TRAINER_DIM=" +
        s"$MAX_TRAINER_DIM (the d^2 driver-collect budget) — raise the " +
        "budget deliberately or train in-plan (powerIterateFrom)")
    val idx = dims.zipWithIndex.toMap
    val mat = Array.fill(dims.length, dims.length)(BigInt(0))
    rows.foreach { r =>
      mat(idx(r.getLong(0)))(idx(r.getLong(1))) =
        BigInt(r.getDecimal(2).toBigIntegerExact)
    }
    (dims, mat)
  }

  /** [[PCA_ROUNDS]] of matvec + max-norm renormalize in exact BigInt —
    * the bit-identical driver form of [[powerIterateFrom]]: integer sums
    * are order-independent, and BigInteger division truncates toward
    * zero exactly like Spark's IntegralDivide and DuckDB's HUGEINT `//`
    * (QuantizeTrainerSpec pins the equality against the in-plan form).
    */
  private[graft] def powerVec(mat: Array[Array[BigInt]]): Array[BigInt] = {
    val d = mat.length
    var v = Array.fill(d)(M6)
    for (_ <- 1 to PCA_ROUNDS) {
      val r = Array.tabulate(d) { a =>
        var s = BigInt(0); var b = 0
        while (b < d) { s += mat(a)(b) * v(b); b += 1 }
        s
      }
      val mx = if (d == 0) BigInt(1) else r.iterator.map(_.abs).max
      require(mx.signum != 0,
        "power iteration: all-zero matvec (degenerate scatter matrix)")
      v = r.map(x => x * M6 / mx)
    }
    v
  }

  /** The trained iterate as a (j, v DECIMAL(38,0)) LocalRelation — the
    * same frame shape [[powerIterateFrom]] produced, so every consumer
    * (export, broadcast apply) is untouched.
    */
  private def trainedFrame(s: org.apache.spark.sql.SparkSession,
      dims: Array[Long], vs: Seq[(String, Array[BigInt])]): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, DecimalType}
    import scala.jdk.CollectionConverters._
    val schema = StructType(StructField("j", LongType, nullable = false) +:
      vs.map { case (n, _) =>
        StructField(n, DecimalType(38, 0), nullable = false) })
    val rows: java.util.List[org.apache.spark.sql.Row] =
      dims.indices.map { a =>
        org.apache.spark.sql.Row.fromSeq(dims(a) +:
          vs.map(v => new java.math.BigDecimal(v._2(a).bigInteger)))
      }.asJava
    s.createDataFrame(rows, schema)
  }

  private def powerIterate(e: DataFrame): DataFrame = {
    val (dims, mat) = collectScatter(scatterMirror(e))
    trainedFrame(e.sparkSession, dims, Seq("v" -> powerVec(mat)))
  }

  /** The shared DuckDB CTE chain ending at `v$PCA_ROUNDS` (the trained
    * iterate) — prefix of both the pcaPower and pcaProject mirrors.
    */
  private def pcaCte: String = {
    val rounds = (1 to PCA_ROUNDS).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""r$k AS (SELECT sm.i, SUM(sv * v) AS r
      FROM sm JOIN $prev ON sm.j = $prev.j GROUP BY sm.i),
    m$k AS (SELECT MAX(ABS(r)) AS mx FROM r$k),
    v$k AS (SELECT i AS j, (r * 1000000::HUGEINT) // mx AS v
      FROM r$k, m$k)"""
    }.mkString(",\n    ")
    s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    comp AS MATERIALIZED (
      SELECT vec_id, u.s.i AS i,
        (round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::HUGEINT AS m
      FROM e, UNNEST([struct_pack(i := k::BIGINT, x := v[k])
        for k in range(1, len(v) + 1)]) u(s)),
    tri AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, COUNT(*)::HUGEINT AS n,
        SUM(a.m * b.m) AS sp, SUM(a.m) AS si, SUM(b.m) AS sj
      FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i),
    sm AS MATERIALIZED (
      SELECT i, j, n * sp - si * sj AS sv FROM tri
      UNION ALL
      SELECT j, i, n * sp - si * sj FROM tri WHERE i < j),
    v0 AS (SELECT DISTINCT i AS j, 1000000::HUGEINT AS v FROM sm),
    $rounds"""
  }

  // ------------------------------------------------------------ emb_spectrum
  /** EMBEDDING-SPACE spectrum card — how anisotropic is the corpus?
    * `top_share = λ₁ / trace(S)`: the dominant eigenvalue's share of
    * total variance (Mu & Viswanath 2018's anisotropy diagnostic; a
    * collapsed encoder shows top_share → 1, a healthy space spreads
    * variance). This is the number a pipeline reads BEFORE trusting
    * cosine thresholds (dedup_embedding's τ) or IVF cell balance on a
    * new encoder version — the embedding twin of text_zipf's corpus
    * card.
    *
    * Exactness: trace is the exact DECIMAL sum of the scatter
    * diagonal; λ₁ is the integer RAYLEIGH QUOTIENT `vᵀSv DIV vᵀv` of
    * the [[powerIterateFrom]] iterate (every factor an exact integer:
    * sv entries, the ≤10⁶ iterate components, one matvec join — no
    * eigendecomposition, no floats until the output casts); the share
    * is `λ̂·10⁶ DIV trace` floor-millionths. Scale: corpus appears only
    * in the one scatter pass; everything after runs on the d²-row
    * mirror and the d-row iterate (checkpointed once — matvec + inner
    * product are two consumers).
    */
  private val spectrum = Q(
    "emb_spectrum",
    (s, dir) => {
      // r17: everything after the one distributed scatter pass is d²-row
      // arithmetic — run it on the driver in exact BigInt (the same
      // integers the former in-plan trace/matvec/quotient computed; the
      // double casts are correctly-rounded in both forms). Removes the
      // trainer exchanges + a BNLJ scalar pair from the plan.
      val (dims, mat) = collectScatter(scatterMirror(Tables.vectors(s, dir)))
      val d = dims.length
      val trace = (0 until d).map(a => mat(a)(a)).sum
      require(trace.signum != 0, "emb_spectrum: zero trace (empty corpus?)")
      val v = powerVec(mat)
      val r = Array.tabulate(d) { a =>
        (0 until d).map(b => mat(a)(b) * v(b)).sum }
      val num = (0 until d).map(a => v(a) * r(a)).sum
      val den = (0 until d).map(a => v(a) * v(a)).sum
      val l1 = num / den
      val top = l1 * M6 / trace
      import org.apache.spark.sql.types.{StructType, StructField, LongType, DoubleType}
      import scala.jdk.CollectionConverters._
      val schema = StructType(Seq(
        StructField("n_dims", LongType, nullable = false),
        StructField("trace", DoubleType, nullable = false),
        StructField("lambda1", DoubleType, nullable = false),
        StructField("top_share_m6", LongType, nullable = false)))
      s.createDataFrame(Seq(org.apache.spark.sql.Row(
        d.toLong,
        new java.math.BigDecimal(trace.bigInteger).doubleValue(),
        new java.math.BigDecimal(l1.bigInteger).doubleValue(),
        top.toLong)).asJava, schema)
    },
    Some(s"""$pcaCte,
    tr AS (SELECT SUM(sv) AS trace, COUNT(*)::BIGINT AS n_dims
      FROM sm WHERE i = j),
    mv AS (SELECT sm.i, SUM(sv * v) AS r
      FROM sm JOIN v$PCA_ROUNDS p ON sm.j = p.j GROUP BY sm.i),
    quot AS (SELECT SUM(p.v * mv.r) AS num, SUM(p.v * p.v) AS den
      FROM mv JOIN v$PCA_ROUNDS p ON mv.i = p.j)
    SELECT n_dims, CAST(trace AS DOUBLE) AS trace,
      CAST(num // den AS DOUBLE) AS lambda1,
      ((num // den) * 1000000 // trace)::BIGINT AS top_share_m6
    FROM tr, quot"""))

  private val pcaPower = Q(
    "emb_pca_power",
    (s, dir) =>
      powerIterate(Tables.vectors(s, dir))
        .select(col("j").as("i"), col("v").cast("long").as("v_micro"))
        .orderBy("i"),
    Some(s"""$pcaCte
    SELECT j AS i, v::BIGINT AS v_micro FROM v$PCA_ROUNDS ORDER BY i"""))

  // -------------------------------------------------------- emb_pca_project
  /** Corpus-wide PROJECTION onto the trained top component — the apply
    * half of the [[pcaPower]] train/apply pair (kmeans_train/
    * kmeans_assign at eigen-land): per vector, `y_scaled = Σ mₖ·vₖ` with
    * both factors exact integers (micro-unit component × micro-unit
    * iterate ⇒ the sum is an exact BIGINT, |Σ| ≤ d·10⁷·10⁶ — order-
    * independent in any partitioning), and `y = y_scaled / 10¹²` as ONE
    * IEEE division. This is the 1-d embedding a curation pipeline sorts
    * or buckets on (variance-direction stratification, whitening QA).
    *
    * Scale: training runs on the d²-row scatter matrix ([[powerIterate]]
    * — corpus size appears only in the one scatter pass); application is
    * the [[project]] shape — posexplode map-side, the trained d-row
    * iterate broadcast, one map-side-combined vec_id aggregate.
    */
  private val pcaProject = Q(
    "emb_pca_project",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val vTop = powerIterate(Tables.vectors(s, dir))
        .select(col("j").as("i"), col("v").cast("long").as("vm"))
      val comp = Tables.vectors(s, dir)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("d0", "x")))
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("i"),
          (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
            .cast(DecimalType(38, 0)).cast("long").as("m"))
      comp.join(broadcast(vTop), "i")
        .groupBy("vec_id")
        .agg(sum(col("m") * col("vm")).as("y_scaled"))
        .select(col("vec_id"), col("y_scaled"),
          (col("y_scaled").cast("double") / lit(1.0e12)).as("y"))
        .orderBy("vec_id")
    },
    Some(s"""$pcaCte,
    vt AS (SELECT j AS i, v::BIGINT AS vm FROM v$PCA_ROUNDS)
    SELECT vec_id, SUM(m * vm)::BIGINT AS y_scaled,
      CAST(SUM(m * vm) AS DOUBLE) / 1000000000000.0 AS y
    FROM comp JOIN vt USING (i)
    GROUP BY vec_id ORDER BY vec_id"""))

  // ---------------------------------------------------------- emb_outliers
  /** Top-K embedding outliers by squared L2 distance to the corpus
    * centroid — the embedding-space corpus-QA pass (mislabeled media,
    * encoder failures, and off-distribution injections all surface as
    * centroid outliers before any clustering runs).
    *
    * Exactness: avoid the centroid division entirely — with per-dim
    * micro sums s_d over n vectors, `Σ_d (n·m_d − s_d)²` is an exact
    * integer equal to `n²·10¹²` times the real squared distance, and the
    * real value is recovered with ONE cast-and-divide (the emb_stats
    * variance argument, applied per vector). Order-independent decimal
    * sums ⇒ bit-identical across engines and any partitioning. Headroom:
    * (n·2·10⁶)²·d stays inside DECIMAL(38) to n ≈ 10⁹ vectors at d=64.
    *
    * Scale: components explode map-side; the d-row moment table
    * broadcasts back; partial aggregation collapses each vector's d
    * terms before the one thin n-row vec_id exchange; top-K plans as
    * TakeOrdered. The corpus-touching lineage runs twice (moments +
    * distances) — at 100 TB the caller materializes `comp` once via
    * [[graft.Checkpoint]] exactly like the text posting streams.
    */
  private val OUTLIER_K = 50

  private val outliers = Q(
    "emb_outliers",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val comp = Tables.vectors(s, dir)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("d0", "x")))
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("dim_idx"),
          (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
            .cast(dec).as("m"))
      val st = comp.groupBy("dim_idx")
        .agg(count(lit(1)).as("n"), sum("m").cast(dec).as("s"))
      comp.join(broadcast(st), "dim_idx")
        .withColumn("diff", (col("n").cast(dec) * col("m") - col("s"))
          .cast(dec))
        .groupBy("vec_id")
        .agg(sum((col("diff") * col("diff")).cast(dec)).cast(dec).as("num"),
          max(col("n")).as("n"))
        .select(col("vec_id"), (col("num").cast("double") /
          ((col("n") * col("n")).cast("double") * lit(1.0e12))).as("dist2"))
        .orderBy(col("dist2").desc, col("vec_id"))
        .limit(OUTLIER_K)
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    comp AS (
      SELECT vec_id, u.s.i AS dim_idx,
        (round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::HUGEINT AS m
      FROM e, UNNEST([struct_pack(i := i::BIGINT, x := v[i])
          for i in range(1, len(v) + 1)]) u(s)),
    st AS (SELECT dim_idx, COUNT(*) AS n, SUM(m) AS s
      FROM comp GROUP BY dim_idx),
    d AS (
      SELECT vec_id,
        SUM((st.n * m - st.s) * (st.n * m - st.s)) AS num, MAX(st.n) AS n
      FROM comp JOIN st USING (dim_idx) GROUP BY vec_id)
    SELECT vec_id, CAST(num AS DOUBLE) / (CAST(n * n AS DOUBLE) * 1e12)
      AS dist2
    FROM d ORDER BY dist2 DESC, vec_id LIMIT $OUTLIER_K"""))

  // -------------------------------------------------------------- emb_drift
  /** Embedding-distribution DRIFT between the base corpus and an
    * incoming slice — the monitor a pipeline reads before admitting a
    * new crawl batch (encoder version skew, a scraper gone wrong, or a
    * genuine domain shift all show up as per-dimension mean
    * displacement). The slice convention is dedup_cross's: sources
    * src0/src1 are the NEW batch, everything else is base.
    *
    * Exactness: per slice per dimension, Σ of round(x,6)-millionths in
    * DECIMAL(38,0) (exact in any aggregation order — the emb_stats
    * recipe), then each mean is ONE IEEE cast-and-divide and the drift
    * is ONE IEEE subtraction of bit-identical doubles — shipped RAW
    * (integer `DIV` would need floor/truncate agreement on negative
    * sums; see SURVEY.md §6). Scale: one corpus pass, map-side posexplode,
    * the only exchange the d-key combined aggregate; the documents join
    * is broadcast-able (thin id→source).
    */
  private val DRIFT_NEW = Seq("src0", "src1")

  private val drift = Q(
    "emb_drift",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val src = Tables(s, dir, "documents")
        .select(col("doc_id").as("vec_id"),
          col("source").isin(DRIFT_NEW: _*).as("is_new"))
      val comp = Tables.vectors(s, dir).join(src, "vec_id")
        .select(posexplode(col("v")).as(Seq("d0", "x")), col("is_new"))
        .select((col("d0") + 1).cast("long").as("dim_idx"), col("is_new"),
          (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
            .cast(dec).as("m"))
      comp.groupBy("dim_idx")
        .agg(
          sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_base"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
          sum(when(!col("is_new"), col("m")).otherwise(lit(0).cast(dec)))
            .cast(dec).as("s_base"),
          sum(when(col("is_new"), col("m")).otherwise(lit(0).cast(dec)))
            .cast(dec).as("s_new"))
        .select(col("dim_idx"), col("n_base"), col("n_new"),
          (col("s_base").cast("double") / (col("n_base") * lit(1000000.0)))
            .as("mean_base"),
          (col("s_new").cast("double") / (col("n_new") * lit(1000000.0)))
            .as("mean_new"))
        .withColumn("drift", col("mean_new") - col("mean_base"))
        .orderBy("dim_idx")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    comp AS (
      SELECT u.s.i AS dim_idx,
        d.source IN ('src0','src1') AS is_new,
        (round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::HUGEINT AS m
      FROM e
      JOIN documents d ON e.vec_id = d.doc_id,
        UNNEST([struct_pack(i := i::BIGINT, x := v[i])
          for i in range(1, len(v) + 1)]) u(s)),
    st AS (
      SELECT dim_idx,
        SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END)::BIGINT AS n_base,
        SUM(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS n_new,
        SUM(CASE WHEN NOT is_new THEN m ELSE 0 END) AS s_base,
        SUM(CASE WHEN is_new THEN m ELSE 0 END) AS s_new
      FROM comp GROUP BY dim_idx)
    SELECT dim_idx, n_base, n_new,
      CAST(s_base AS DOUBLE) / (n_base * 1000000.0) AS mean_base,
      CAST(s_new AS DOUBLE) / (n_new * 1000000.0) AS mean_new,
      CAST(s_new AS DOUBLE) / (n_new * 1000000.0)
        - CAST(s_base AS DOUBLE) / (n_base * 1000000.0) AS drift
    FROM st ORDER BY dim_idx"""))

  // -------------------------------------------------------- emb_matryoshka
  /** MATRYOSHKA truncation evaluation (Kusupati et al. 2022, and the
    * dimension-budget question every MRL-trained embedding deployment
    * answers before shipping a cheap retrieval tier): for prefix budgets
    * d ∈ {32, 16, 8} of the 64-dim embedding, how much of each query's
    * exact top-10 (full-dim cosine) does the truncated top-10 retain?
    * Output = per-query overlap@10 per budget — the table that picks the
    * operating point on the recall/4×-8× cost-cut curve.
    *
    * Each budget's ranking is its OWN top-K list — a broadcast-queries
    * corpus pass whose `row_number <= K` filter lets Spark plan
    * WindowGroupLimit (the knn_bruteforce shape): every partition keeps
    * only K rows per query BEFORE the query_id exchange, so the
    * per-query work is O(n·k) partial top-k, never a corpus-sized sort
    * on |queries| reducers. The K-row lists then join on
    * (query_id, vec_id) — AQE broadcasts the NQ·K-row sides — and a
    * per-query count of matches is the overlap. Prefix cosines run on
    * `slice()`d arrays through the same codegen
    * [[graft.functions.CosineSim]] kernel whose sequential fold matches
    * DuckDB's `list_cosine_similarity` bit-for-bit (cosines only ORDER
    * here — never emitted — so no rounding contract is involved, just
    * identical comparisons). Scale: four linear corpus scans (one per
    * budget), corpus never shuffled, shuffle payload = NQ·K thin rows
    * per list; at 100 TB the same evaluation runs on a sampled query
    * set exactly like every recall audit in this module.
    */
  private val MAT_K = 10
  private val MAT_NQ = 10

  private val matryoshka = Q(
    "emb_matryoshka",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.CosineSim.cosineSim
      val e = Tables.vectors(s, dir)
      val q = queries(e, MAT_NQ)
      // one top-K list per budget; the rank filter is what buys
      // WindowGroupLimit (PlanSpec asserts it)
      def top(d: Int): DataFrame = {
        val cos =
          if (d == 64) cosineSim(col("qv"), col("v"))
          else cosineSim(slice(col("qv"), 1, d), slice(col("v"), 1, d))
        e.join(broadcast(q), col("query_id") =!= col("vec_id"))
          .withColumn("rk", row_number()
            .over(Window.partitionBy(col("query_id"))
              .orderBy(cos.desc, col("vec_id"))))
          .filter(col("rk") <= MAT_K)
          .select(col("query_id"), col("vec_id"))
      }
      def mark(d: Int, name: String): DataFrame =
        top(d).withColumn(name, lit(1L))
      top(64)
        .join(mark(32, "m32"), Seq("query_id", "vec_id"), "left")
        .join(mark(16, "m16"), Seq("query_id", "vec_id"), "left")
        .join(mark(8, "m8"), Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(coalesce(col("m32"), lit(0L))).as("overlap_d32"),
          sum(coalesce(col("m16"), lit(0L))).as("overlap_d16"),
          sum(coalesce(col("m8"), lit(0L))).as("overlap_d8"))
        .orderBy("query_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < $MAT_NQ),
    ranked AS (
      SELECT query_id, e.vec_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) AS r64,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv[1:32], e.v[1:32]) DESC,
            e.vec_id) AS r32,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv[1:16], e.v[1:16]) DESC,
            e.vec_id) AS r16,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv[1:8], e.v[1:8]) DESC,
            e.vec_id) AS r8
      FROM q, e WHERE query_id <> e.vec_id)
    SELECT query_id,
      SUM(CASE WHEN r64 <= $MAT_K AND r32 <= $MAT_K THEN 1 ELSE 0 END)::BIGINT
        AS overlap_d32,
      SUM(CASE WHEN r64 <= $MAT_K AND r16 <= $MAT_K THEN 1 ELSE 0 END)::BIGINT
        AS overlap_d16,
      SUM(CASE WHEN r64 <= $MAT_K AND r8 <= $MAT_K THEN 1 ELSE 0 END)::BIGINT
        AS overlap_d8
    FROM ranked GROUP BY query_id ORDER BY query_id"""))

  // ------------------------------------------------------------ emb_pca2
  /** Two-component PCA BASIS via SIMULTANEOUS orthogonal iteration —
    * extends [[pcaPower]]'s top component to the 2-d basis a
    * visualization / stratification pass wants, still closing every
    * round over the integers so the unrolled-CTE oracle hash-gates the
    * whole co-trained chain. Both iterates advance in ONE state frame
    * per round (the textbook 2-column subspace iteration with per-round
    * integer Gram–Schmidt): one sm-join+agg computes `ra = S·v₁` and
    * `rb = S·v₂` together, each max-norm-renormalizes FIRST
    * (`u = r·10⁶ DIV max|r|` — entries ≤ 10⁶, so every later product
    * stays ≤ ~6.4·10¹⁹, far inside DECIMAL(38), and every integral
    * quotient inside a 64-bit lane), then v₂'s iterate deflates against
    * THIS round's v₁ iterate in integers:
    * `o = ub − (⟨ua,ub⟩·ua) DIV ⟨ua,ua⟩` (truncation toward zero in
    * BOTH engines — the pcaPower normalize argument) with a
    * `greatest(·,1)` zero-guard renormalize. v₂ starts at alternating
    * ±10⁶ — a start parallel to v₁'s all-ones would deflate to the
    * zero vector in round one and stay there.
    *
    * The projection quotient truncates, so v₂ is orthogonal to the
    * final v₁ up to one unit in the last fixed-point place per
    * component — a deterministic artifact, not drift; both engines
    * compute the identical integers. Scale: identical to pcaPower —
    * corpus appears only in the one scatter pass; the trainer runs on
    * the broadcast d²-row matrix as ONE linear plan (per-round scalars
    * are single-partition window aggregates over the d-row iterate —
    * see [[powerIterateFrom]] — so the whole 3-round chain is a single
    * action, no per-round checkpoint).
    */
  /** The trained 2-d basis as a `(j, va, vb)` DECIMAL(38,0) frame —
    * shared by [[pca2]] (exports it) and [[pca2Project]] (applies it
    * corpus-wide).
    */
  private def pca2Basis(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // r17: the co-trained 2-column subspace iteration is d-row state over
    // the d²-row collected mirror — driver BigInt, bit-identical to the
    // in-plan reference below (QuantizeTrainerSpec pins it). Removes ~14
    // exchanges and the giant-linear-plan Catalyst/Janino bill from both
    // pca2 exports.
    val (dims, mat) = collectScatter(scatterMirror(Tables.vectors(s, dir)))
    val (va, vb) = pca2Vecs(dims, mat)
    trainedFrame(s, dims, Seq("va" -> va, "vb" -> vb))
  }

  /** The 2-column subspace rounds in exact BigInt — mirrors
    * [[pca2IterateFrom]] op for op (renormalize first, THEN deflate
    * against this round's ua; truncating quotients; greatest(·,1)
    * zero-guard).
    */
  private[graft] def pca2Vecs(dims: Array[Long],
      mat: Array[Array[BigInt]]): (Array[BigInt], Array[BigInt]) = {
    val d = mat.length
    var va = Array.fill(d)(M6)
    var vb = Array.tabulate(d)(a => if (dims(a) % 2 == 0) M6 else -M6)
    for (_ <- 1 to PCA_ROUNDS) {
      def matvec(v: Array[BigInt]) = Array.tabulate(d) { a =>
        var sAcc = BigInt(0); var b = 0
        while (b < d) { sAcc += mat(a)(b) * v(b); b += 1 }
        sAcc
      }
      val ra = matvec(va)
      val rb = matvec(vb)
      val mxa = if (d == 0) BigInt(1) else ra.iterator.map(_.abs).max
      val mxb = if (d == 0) BigInt(1) else rb.iterator.map(_.abs).max
      require(d == 0 || (mxa.signum != 0 && mxb.signum != 0),
        "pca2 trainer: all-zero matvec (degenerate scatter matrix)")
      val ua = ra.map(x => x * M6 / mxa)
      val ub = rb.map(x => x * M6 / mxb)
      val uab = (0 until d).map(a => ua(a) * ub(a)).sum
      val uaa = (0 until d).map(a => ua(a) * ua(a)).sum
      val o = Array.tabulate(d)(a => ub(a) - uab * ua(a) / uaa)
      val mxo = (if (d == 0) BigInt(1)
                 else o.iterator.map(_.abs).max).max(BigInt(1))
      va = ua
      vb = o.map(x => x * M6 / mxo)
    }
    (va, vb)
  }

  /** In-plan reference form of the 2-column trainer (the r11 window-
    * aggregate restatement) — kept for QuantizeTrainerSpec's driver-vs-
    * plan bit-equality pin, no longer on the query path.
    */
  private[graft] def pca2IterateFrom(sm: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val wg = Window.partitionBy("g")
    var st = sm.select(col("i").as("j")).distinct()
      .select(col("j"), lit(1000000L).cast(dec).as("va"),
        when(pmod(col("j"), lit(2)) === 0, lit(1000000L))
          .otherwise(lit(-1000000L)).cast(dec).as("vb"))
    // Each round is ONE linear plan: every per-round scalar (the two
    // max-norms, the two Gram-Schmidt inner products, the deflated
    // max-norm) is a single-partition WINDOW aggregate over the d-row
    // iterate, so no subtree is consumed twice — the former broadcast
    // 1-row scalars re-executed the matvec join+agg ~8x per round
    // (nested-broadcast fan-out), which at 3 rounds dominated the
    // query (11.8 s -> the trainer is now one action). The single
    // partition holds d rows — trainer state, never the corpus.
    for (_ <- 1 to PCA_ROUNDS) {
      st = sm.join(broadcast(st), "j")
        .groupBy("i")
        .agg(sum(col("sv") * col("va")).cast(dec).as("ra"),
          sum(col("sv") * col("vb")).cast(dec).as("rb"))
        .withColumn("g", lit(1))
        .withColumn("mxa", max(abs(col("ra"))).over(wg).cast(dec))
        .withColumn("mxb", max(abs(col("rb"))).over(wg).cast(dec))
        .select(col("g"), col("i"),
          expr("ra * 1000000 DIV mxa").cast(dec).as("ua"),
          expr("rb * 1000000 DIV mxb").cast(dec).as("ub"))
        .withColumn("uab", sum(col("ua") * col("ub")).over(wg).cast(dec))
        .withColumn("uaa", sum(col("ua") * col("ua")).over(wg).cast(dec))
        .select(col("g"), col("i"), col("ua"),
          (col("ub") - expr("uab * ua DIV uaa")).cast(dec).as("o"))
        .withColumn("mxo",
          greatest(max(abs(col("o"))).over(wg), lit(1L).cast(dec))
            .cast(dec))
        .select(col("i").as("j"), col("ua").as("va"),
          expr("o * 1000000 DIV mxo").cast(dec).as("vb"))
    }
    // single-use in both exports (pca2 sorts it, pca2Project broadcasts
    // it once) — no materialization needed, the chain is linear
    st
  }

  /** The identical trained basis as DuckDB CTEs ending at
    * `st$PCA_ROUNDS(j, va, vb)` — prefix of the pca2 and
    * pca2Project mirrors (extends [[pcaCte]]).
    */
  private def pca2Cte: String = {
    val rounds = (1 to PCA_ROUNDS).map { k =>
      val prev = s"st${k - 1}"
      s"""rp$k AS MATERIALIZED (SELECT sm.i,
        SUM(sv * va) AS ra, SUM(sv * vb) AS rb
      FROM sm JOIN $prev ON sm.j = $prev.j GROUP BY sm.i),
    mp$k AS (SELECT MAX(ABS(ra)) AS mxa, MAX(ABS(rb)) AS mxb FROM rp$k),
    up$k AS MATERIALIZED (SELECT i,
        (ra * 1000000::HUGEINT) // mxa AS ua,
        (rb * 1000000::HUGEINT) // mxb AS ub
      FROM rp$k, mp$k),
    cp$k AS (SELECT SUM(ua * ub) AS uab, SUM(ua * ua) AS uaa FROM up$k),
    op$k AS MATERIALIZED (SELECT i, ua,
        ub - (cp$k.uab * ua) // cp$k.uaa AS o
      FROM up$k, cp$k),
    mop$k AS (SELECT GREATEST(MAX(ABS(o)), 1::HUGEINT) AS mxo FROM op$k),
    st$k AS (SELECT i AS j, ua AS va,
        (o * 1000000::HUGEINT) // mxo AS vb
      FROM op$k, mop$k)"""
    }.mkString(",\n    ")
    s"""$pcaCte,
    st0 AS (SELECT DISTINCT i AS j, 1000000::HUGEINT AS va,
      CASE WHEN i % 2 = 0 THEN 1000000::HUGEINT
        ELSE -1000000::HUGEINT END AS vb FROM sm),
    $rounds"""
  }

  private val pca2 = Q(
    "emb_pca2",
    (s, dir) =>
      pca2Basis(s, dir)
        .select(col("j").as("i"), col("va").cast("long").as("v1_micro"),
          col("vb").cast("long").as("v2_micro"))
        .orderBy("i"),
    Some(s"""$pca2Cte
    SELECT j AS i, va::BIGINT AS v1_micro, vb::BIGINT AS v2_micro
    FROM st$PCA_ROUNDS ORDER BY i"""))

  // ------------------------------------------------------ emb_pca2_project
  /** Corpus-wide 2-D PROJECTION onto the trained [[pca2]] basis — the
    * apply half of the pca2 train/apply pair (what a visualization /
    * stratification pass actually consumes: one (y1, y2) coordinate per
    * vector). Per vector, `y_scaled = Σ mₖ·vₖ` per basis column with
    * both factors exact integers (micro-unit component × micro-unit
    * basis entry ⇒ exact BIGINT sums, order-independent in any
    * partitioning — the [[pcaProject]] argument, twice), and each
    * coordinate is ONE IEEE cast-and-divide by 10¹².
    *
    * Scale: training runs on the d²-row scatter matrix ([[pca2Basis]]
    * — corpus size appears only in the one scatter pass); application
    * is the [[project]] shape — posexplode map-side, the trained d-row
    * basis broadcast, one map-side-combined vec_id aggregate.
    */
  private val pca2Project = Q(
    "emb_pca2_project",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val basis = pca2Basis(s, dir)
        .select(col("j").as("i"), col("va").cast("long").as("w1"),
          col("vb").cast("long").as("w2"))
      val comp = Tables.vectors(s, dir)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("d0", "x")))
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("i"),
          (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
            .cast(DecimalType(38, 0)).cast("long").as("m"))
      comp.join(broadcast(basis), "i")
        .groupBy("vec_id")
        .agg(sum(col("m") * col("w1")).as("y1_scaled"),
          sum(col("m") * col("w2")).as("y2_scaled"))
        .select(col("vec_id"),
          (col("y1_scaled").cast("double") / lit(1.0e12)).as("y1"),
          (col("y2_scaled").cast("double") / lit(1.0e12)).as("y2"))
        .orderBy("vec_id")
    },
    Some(s"""$pca2Cte,
    basis AS (SELECT j AS i, va::BIGINT AS w1, vb::BIGINT AS w2
      FROM st$PCA_ROUNDS)
    SELECT vec_id,
      CAST(SUM(m * w1) AS DOUBLE) / 1000000000000.0 AS y1,
      CAST(SUM(m * w2) AS DOUBLE) / 1000000000000.0 AS y2
    FROM comp JOIN basis USING (i)
    GROUP BY vec_id ORDER BY vec_id"""))

  // --------------------------------------------------- emb_quantize_recall
  /** INT8 PRECISION-impact audit — the [[matryoshka]] evaluation's twin
    * for the other compression axis (it varies dimensions; this varies
    * precision): per query, overlap@10 between the exact full-precision
    * cosine top-10 and the ranking against the int8-DEQUANTIZED corpus
    * (`code·scale` — queries stay full precision, corpus compressed:
    * the asymmetric setup every int8 ANN deployment runs). The table
    * that decides whether 4× storage cut costs any recall.
    *
    * Determinism: codes and scale are the [[quantize]]-gated arithmetic
    * (exact ints; one IEEE divide), dequantization is one IEEE multiply
    * per component → bit-identical arrays both engines; cosines only
    * ORDER (the matryoshka argument). The dequantized corpus is
    * CHECKPOINTED so the interpreted `transform` lambda runs once per
    * vector, never once per (query, vector) pair (the emb_quantize
    * scale_raw lesson). Each ranking is its own rank-filtered top-K
    * list (WindowGroupLimit bounds every partition at O(n·k) — the
    * [[matryoshka]] shape, PlanSpec-asserted); the two NQ·K-row lists
    * join on (query_id, vec_id) and the per-query match count is the
    * overlap.
    */
  private val quantizeRecall = Q(
    "emb_quantize_recall",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.CosineSim.cosineSim
      val e = Tables.vectors(s, dir)
        .withColumn("scale_raw", int8Scale(col("v")))
        .transform(graft.Checkpoint.of) // scale as attribute (see above)
        .withColumn("codes", int8Codes(col("v"), col("scale_raw")))
        .withColumn("dq", transform(col("codes"),
          c => c.cast("double") * col("scale_raw")))
        .select(col("vec_id"), col("v"), col("dq"))
        .transform(graft.Checkpoint.of)
      val q = queries(e, MAT_NQ)
      def top(corpus: Column): DataFrame =
        e.join(broadcast(q), col("query_id") =!= col("vec_id"))
          .withColumn("rk", row_number()
            .over(Window.partitionBy(col("query_id"))
              .orderBy(cosineSim(col("qv"), corpus).desc, col("vec_id"))))
          .filter(col("rk") <= MAT_K)
          .select(col("query_id"), col("vec_id"))
      top(col("v"))
        .join(top(col("dq")).withColumn("m", lit(1L)),
          Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("m"), lit(0L))).as("overlap_int8"))
        .orderBy("query_id")
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    sc AS (
      SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale_raw
      FROM e),
    dq AS MATERIALIZED (
      SELECT vec_id, v,
        list_transform(v, x -> CASE WHEN scale_raw = 0 THEN 0.0
          ELSE CAST(CAST(round(x / scale_raw) AS BIGINT) AS DOUBLE)
            * scale_raw END) AS dqv
      FROM sc),
    q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < $MAT_NQ),
    ranked AS (
      SELECT query_id, d.vec_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv, d.v) DESC, d.vec_id)
          AS r_full,
        row_number() OVER (PARTITION BY query_id
          ORDER BY list_cosine_similarity(qv, d.dqv) DESC, d.vec_id)
          AS r_int8
      FROM q, dq d WHERE query_id <> d.vec_id)
    SELECT query_id,
      SUM(CASE WHEN r_full <= $MAT_K AND r_int8 <= $MAT_K
        THEN 1 ELSE 0 END)::BIGINT AS overlap_int8
    FROM ranked GROUP BY query_id ORDER BY query_id"""))

  val all: Seq[Q] =
    Seq(quantize, stats, standardize, project, covariance, spectrum, pcaPower,
      pcaProject, outliers, drift, matryoshka, pca2, pca2Project,
      quantizeRecall)
}
