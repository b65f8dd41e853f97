package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.CosineSim.dotProduct

/** PRODUCT QUANTIZATION ANN (Jégou, Douze & Schmid, TPAMI 2011 — the
  * FAISS `IndexPQ` shape): the vector-compression twin of
  * `knn_ivf_quantized`'s full-dimension int8 scalar quantization.
  * d=64 splits into M=4 16-dim subspaces; each subspace trains its own
  * small codebook ([[Lloyd]] at subspace width) and every corpus vector
  * compresses to M small codes — 4 bytes standing in for 512. Queries
  * score candidates by ASYMMETRIC DISTANCE COMPUTATION: one M×KSUB
  * look-up table of exact subspace dot products per query, then each
  * candidate costs M array look-ups (not a d-dim float scan); the top
  * [[Pq.RERANK]] ADC hits per query are re-scored with the exact float
  * cosine, exactly the `knn_ivf_quantized` re-rank contract.
  *
  * Deterministic end-to-end, so the whole train→encode→scan→re-rank
  * loop hash-gates:
  *   - sub-codebooks: [[Lloyd]]'s deterministic trainer, per subspace;
  *   - codes are DENSE 1-based ranks of the surviving centroids
  *     (row_number over cent_id — both engines derive the same map);
  *   - each LUT entry is the sequential-fold dot product (bit-equal to
  *     DuckDB `list_dot_product`), and the ADC score sums the M=4
  *     entries in fixed left-to-right IEEE association — identical
  *     doubles, candidate ORDER tie-broken by vec_id;
  *   - the survivor set is re-ranked by the exact cosine fold
  *     ([[Ann.rerank]]).
  *
  * Recall, honestly measured (sf0.001, 10 queries, K=5): 0.42 at
  * RERANK=50 (a random 50-of-499 candidate set would score ~0.10 — the
  * 12-bit codes carry real signal), 0.66 at 100, 0.80 at 150. The
  * ceiling is the corpus, not the operator: on ISOTROPIC gaussian
  * vectors a 4-bit-per-subspace quantizer removes little variance
  * (same analysis as dedup_embedding_lsh's in-code note); on real
  * clustered embedding corpora PQ's distortion — and so its recall at
  * fixed RERANK — is far better. RERANK=50 is the scale-honest
  * default: the re-rank cost is a CONSTANT per query (50 float
  * vectors), not a corpus fraction.
  *
  * Scale shape: training is [[Lloyd]]'s (one materialization of the
  * corpus, then the driver or one pass per round); encoding is map-side
  * (M kernel calls against 4 one-row broadcast codebooks, zero
  * exchange); the ADC scan broadcasts |Q| rows of (query_id, 4 LUT
  * arrays) against the THIN codes table — the corpus's float vectors
  * are never read by the scan, which is the whole point: at 100 TB the
  * scan reads the 64× smaller codes table, map-filters to
  * per-partition top-RERANK via the partial WindowGroupLimit, and only
  * ≤ RERANK·|Q| survivors re-join the float vectors.
  */
object Pq {

  private val K = 5        // neighbors returned
  private val NQ = 10      // query set = vec_id < NQ
  private val M = 4        // subspaces
  private val SD = 16      // dims per subspace (M·SD = 64)
  private val KSUB = 16    // centroids per subspace
  private val RERANK = 50  // ADC survivors re-scored with exact cosine

  import Ann.queries

  private def nc(v: Column, cs: Column): Column =
    org.apache.spark.sql.graft.Shim.column(graft.functions.NearestCentroid(
      org.apache.spark.sql.graft.Shim.expression(v),
      org.apache.spark.sql.graft.Shim.expression(cs)))

  private def sub(m: Int, v: Column): Column = slice(v, m * SD + 1, SD)

  /** The M sub-codebooks over `e` (`vec_id` long, `v`), trained
    * jointly by [[Lloyd]]: (m, code, cv), code the dense 1-based rank of
    * the surviving centroid within subspace m.
    */
  private[graft] def subCodebooks(e: DataFrame): DataFrame =
    Lloyd.codebook(e, _ => KSUB, M * SD, M)

  /** Per-subspace one-row broadcast codebook arrays (code-ASC sorted so
    * the kernel's strict-> scan reproduces (cos DESC, code ASC)) off the
    * jointly-trained table — M tiny filters of one checkpointed frame.
    */
  private def cbArraysOf(cbs: DataFrame): Seq[DataFrame] =
    (0 until M).map(m => cbs.filter(col("m") === m).agg(
      array_sort(collect_list(
        struct(col("code").as("cent_id"), col("cv")))).as(s"cs$m")))

  private def cbArrays(e: DataFrame): Seq[DataFrame] =
    cbArraysOf(subCodebooks(e))

  /** ENCODE: M map-side kernel calls, zero exchange. Every column of
    * `df` but `v`, then its M codes k0..k(M-1) against `cbArrs`.
    */
  private def encode(df: DataFrame, cbArrs: Seq[DataFrame]): DataFrame =
    cbArrs.zipWithIndex.foldLeft(df) { case (d, (cb, m)) =>
      d.crossJoin(broadcast(cb))
        .withColumn(s"k$m", nc(sub(m, col("v")), col(s"cs$m")))
        .drop(s"cs$m")
    }.drop("v")

  /** The per-query ADC look-up tables: every column of `q` but `qv`,
    * then lut0..lut(M-1), each the exact dot products of the query's
    * subspace slice with that subspace's centroids in code-ASC order
    * (code = array position). Interpreted HOF is fine here: |Q| rows.
    */
  private def luts(q: DataFrame, cbArrs: Seq[DataFrame]): DataFrame =
    cbArrs.zipWithIndex.foldLeft(q) { case (d, (cb, m)) =>
      d.crossJoin(broadcast(cb))
        .withColumn(s"lut$m", transform(col(s"cs$m"),
          c => dotProduct(sub(m, col("qv")), c.getField("cv"))))
        .drop(s"cs$m")
    }.drop("qv")

  /** The ADC score of a codes row against a LUT row: M look-ups summed
    * in fixed left-to-right association, as the oracles sum them.
    */
  private val adc: Column = (0 until M).map(m =>
    element_at(col(s"lut$m"), col(s"k$m").cast("int"))).reduceLeft(_ + _)

  private val pq = Q(
    "knn_pq",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cbArrs = cbArrays(e)
      val codes = encode(e, cbArrs).transform(graft.Checkpoint.of)
      val q = queries(e, NQ)
      val qlut = luts(q, cbArrs).transform(graft.Checkpoint.of)
      // ADC scan over the thin codes table, exact re-rank of the
      // survivors only
      Ann.rerank(
        codes.join(broadcast(qlut), col("query_id") =!= col("vec_id")),
        adc, RERANK, e, q, K)
    },
    Some {
      val perSub = (0 until M).map(m =>
        subSql(m, "", "e") + s""",
        lut$m AS (SELECT q.query_id,
            list(list_dot_product(q.qv[${m * SD + 1}:${(m + 1) * SD}],
              cb.cv) ORDER BY cb.code) AS lut
          FROM q, cb_$m cb GROUP BY q.query_id)""").mkString(",\n    ")
      val adc = (0 until M).map(m => s"l$m.lut[c.k$m]").mkString(" + ")
      s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQ),
      $perSub,
      codes AS (SELECT k0.vec_id, k0.code AS k0, k1.code AS k1,
          k2.code AS k2, k3.code AS k3
        FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id)
        JOIN k3 USING (vec_id)),
      topr AS (SELECT query_id, vec_id FROM (
        SELECT l0.query_id, c.vec_id,
          row_number() OVER (PARTITION BY l0.query_id
            ORDER BY $adc DESC, c.vec_id) AS rr
        FROM codes c, lut0 l0
        JOIN lut1 l1 USING (query_id) JOIN lut2 l2 USING (query_id)
        JOIN lut3 l3 USING (query_id)
        WHERE l0.query_id <> c.vec_id) WHERE rr <= $RERANK)
      SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT t.query_id, t.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY t.query_id
            ORDER BY list_cosine_similarity(q.qv, e.v) DESC, t.vec_id)
            AS rank,
          round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
        FROM topr t
        JOIN q ON t.query_id = q.query_id
        JOIN e ON t.vec_id = e.vec_id)
      WHERE rank <= $K ORDER BY query_id, rank"""
    })

  /** Per-subspace mirror chain over `base`(vec_id, v): ${p}sv$m slices,
    * the [[Lloyd.sqlTrain]] chain over them, dense-code table cb_$m (no
    * prefix — shared name shape with the LUT/codes consumers), corpus
    * assignment k$m. `p` keeps the two chains of a query that trains on
    * both raw vectors and residuals disjoint.
    */
  private def subSql(m: Int, p: String, base: String): String =
    s"""${p}sv$m AS (SELECT vec_id, v[${m * SD + 1}:${(m + 1) * SD}] AS sv
        FROM $base),
      ${Lloyd.sqlTrain(s"${p}sv$m", "sv", SD, s"LIMIT $KSUB", p, s"_$m")},
      cb_$m AS (SELECT row_number() OVER (ORDER BY cent_id) AS code, cv
        FROM ${Lloyd.sqlCents(p, s"_$m")}),
      k$m AS (SELECT vec_id, code FROM (
        SELECT s.vec_id, cb.code,
          row_number() OVER (PARTITION BY s.vec_id
            ORDER BY list_cosine_similarity(s.sv, cb.cv) DESC, cb.code)
            AS rk
        FROM ${p}sv$m s, cb_$m cb) WHERE rk = 1)"""

  // ---------------------------------------------------- knn_pq_distortion
  /** PQ RECONSTRUCTION-ERROR report — the compression-quality card for
    * the [[pq]] encoder (emb_matryoshka audits the dimension axis,
    * emb_quantize_recall the int8 precision axis; this audits the PQ
    * codebook axis): per subspace, the mean squared error between each
    * vector's slice and its assigned centroid — the number that decides
    * KSUB/M before a 100 TB corpus is committed to 64×-smaller codes
    * (Jégou et al. 2011 §IV's distortion curve).
    *
    * Exactness: slices lift to the exact round(x,6) micro integers and
    * the trained centroids to FLOOR-micro integers (`floor(cv·10⁶)` —
    * cv is already a bit-identical double both engines: decimal-exact
    * sums ÷ count in one IEEE division, then one IEEE multiply and a
    * floor), so every squared error is an exact BIGINT and the
    * per-subspace totals are exact DECIMAL(38,0)/HUGEINT sums — the
    * only FP in the output is the final total→DOUBLE cast and ONE IEEE
    * division per row. Scale: encode is the [[pq]] map-side kernel
    * chain (zero exchange); components posexplode map-side and join
    * the n-row codes table CO-PARTITIONED on vec_id and the ≤M·KSUB·SD
    * = 1024-row broadcast centroid components; the aggregate map-side-
    * combines onto M keys.
    */
  private val pqDistortion = Q(
    "knn_pq_distortion",
    (s, dir) => {
      val dec = DecimalType(38, 0)
      val e = Tables.vectors(s, dir)
      val cbArrs = cbArrays(e)
      val codes = encode(e, cbArrs)
      val cbcomp = cbArrs.zipWithIndex.map { case (cb, m) =>
        cb.select(explode(col(s"cs$m")).as("c"))
          .select(lit(m).as("m"), col("c.cent_id").as("code"),
            posexplode(col("c.cv")).as(Seq("p0", "cx")))
          .select(col("m"), col("code"), col("p0"),
            floor(col("cx") * lit(1000000.0)).as("ci"))
      }.reduce(_ unionByName _)
      val comp = e
        .select(col("vec_id"), posexplode(col("v")).as(Seq("i0", "x")))
        .select(col("vec_id"), expr(s"CAST(i0 DIV $SD AS INT)").as("m"),
          expr(s"i0 % $SD").as("p0"),
          (round(col("x"), 6).cast(DecimalType(38, 6)) * lit(1000000))
            .cast(dec).cast("long").as("mi"))
      comp.join(codes, "vec_id")
        .withColumn("code", element_at(
          array((0 until M).map(m => col(s"k$m")): _*),
          (col("m") + 1).cast("int")))
        .join(broadcast(cbcomp), Seq("m", "code", "p0"))
        .groupBy("m")
        .agg(count(lit(1)).as("n_comp"),
          // cast BEFORE the sum: the per-component square fits a long,
          // but the corpus-scale TOTAL must accumulate in decimal (the
          // oracle sums into HUGEINT)
          sum(((col("mi") - col("ci")) * (col("mi") - col("ci")))
            .cast(dec)).cast(dec).as("total"))
        .select(col("m"), expr(s"n_comp DIV $SD").as("n_vectors"),
          col("total").cast("double").as("total_se"),
          (col("total").cast("double") / expr(s"n_comp DIV $SD"))
            .as("mse"))
        .orderBy("m")
    },
    Some {
      val chains = (0 until M).map(m => subSql(m, "", "e"))
        .mkString(",\n      ")
      val cbcomp = (0 until M).map(m =>
        s"""SELECT $m AS m, code, u.s.p AS p0,
          FLOOR(u.s.c * 1000000)::BIGINT AS ci
        FROM cb_$m, UNNEST([struct_pack(p := i - 1, c := cv[i])
          for i in range(1, len(cv) + 1)]) u(s)""").mkString(
        "\n        UNION ALL\n        ")
      s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      $chains,
      codes AS (SELECT k0.vec_id, k0.code AS k0, k1.code AS k1,
          k2.code AS k2, k3.code AS k3
        FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id)
        JOIN k3 USING (vec_id)),
      cbcomp AS MATERIALIZED (
        $cbcomp),
      comp AS (
        SELECT vec_id, (u.s.i // $SD)::INT AS m, (u.s.i % $SD)::INT AS p0,
          ((round(u.s.x, 6)::DECIMAL(38,6) * 1000000)::HUGEINT)::BIGINT
            AS mi
        FROM e, UNNEST([struct_pack(i := k - 1, x := v[k])
          for k in range(1, len(v) + 1)]) u(s)),
      err AS (
        SELECT c.m, COUNT(*)::BIGINT AS n_comp,
          SUM((c.mi - cb.ci) * (c.mi - cb.ci)) AS total
        FROM comp c
        JOIN codes k USING (vec_id)
        JOIN cbcomp cb ON cb.m = c.m AND cb.p0 = c.p0
          AND cb.code = ([k.k0, k.k1, k.k2, k.k3])[c.m + 1]
        GROUP BY c.m)
      SELECT m, (n_comp // $SD)::BIGINT AS n_vectors,
        CAST(total AS DOUBLE) AS total_se,
        CAST(total AS DOUBLE) / (n_comp // $SD) AS mse
      FROM err ORDER BY m"""
    })

  private def vecSub(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.Shim.column(graft.functions.VecSub(
      org.apache.spark.sql.graft.Shim.expression(a),
      org.apache.spark.sql.graft.Shim.expression(b)))

  /** The corpus's IVF residuals: (vec_id, cent_id, v = x − its
    * centroid) over [[Knn.assign]].
    */
  private def residuals(e: DataFrame, cents: DataFrame): DataFrame =
    Knn.assign(e, cents)
      .join(broadcast(cents), "cent_id")
      .select(col("vec_id"), col("cent_id"),
        vecSub(col("v"), col("cv")).as("v"))

  /** The queries' residuals against each of their `nprobe` probed
    * centroids: (query_id, cent_id, qv = q − centroid).
    */
  private def queryResiduals(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    Knn.probe(q, cents, nprobe)
      .join(broadcast(cents), "cent_id")
      .select(col("query_id"), col("cent_id"),
        vecSub(col("qv"), col("cv")).as("qv"))

  /** IVF + PQ — the production FAISS `IndexIVFPQ` shape and the ANN
    * capstone: the trained IVF codebook partitions the corpus into
    * inverted lists ([[Knn.codebook]]/[[Knn.assign]], unchanged), PQ
    * compresses each vector's RESIDUAL (x − its centroid — residuals
    * concentrate around 0, which is exactly why FAISS quantizes them
    * instead of raw vectors), queries probe NPROBE lists and score
    * candidates by ADC against a PER-(query, probed-centroid) LUT of
    * residual subspace dot products, and the top-RERANK survivors
    * re-rank with the exact float cosine on the ORIGINAL vectors.
    *
    * Exactness composes from the proven pieces: IVF train/assign/probe
    * are knn_ivf's (bit-gated there); residuals are elementwise IEEE
    * subtraction via the [[graft.functions.VecSub]] codegen kernel
    * (bit-equal to DuckDB's indexed `list_transform` — no fold, no
    * ordering subtlety); sub-codebook training/encoding and the
    * fixed-order ADC sum are knn_pq's. Scale shape: everything knn_pq
    * does PLUS the scan only touches the probed lists' codes (the
    * cent_id equi-join replaces knn_pq's full-corpus broadcast scan) —
    * at 100 TB the ADC scan reads nprobe/nlist of a codes table that is
    * already 64× thinner than the vectors.
    */
  private val ivfpq = Q(
    "knn_ivfpq",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cents = Knn.codebook(e)
      val res = residuals(e, cents).transform(graft.Checkpoint.of)
      val cbArrs = cbArrays(res)
      // inverted lists carry (cent_id, 4 residual codes) — no floats
      val codes = encode(res, cbArrs).transform(graft.Checkpoint.of)
      val q = queries(e, NQ)
      val qlut = luts(queryResiduals(q, cents, Knn.NPROBE), cbArrs)
        .transform(graft.Checkpoint.of)
      ivfPqRank(codes, qlut, e, q, K, RERANK)
    },
    Some {
      val perSub = (0 until M).map(m =>
        subSql(m, "r", "res") + s""",
        lut$m AS (SELECT qr.query_id, qr.cent_id,
            list(list_dot_product(qr.qv[${m * SD + 1}:${(m + 1) * SD}],
              cb.cv) ORDER BY cb.code) AS lut
          FROM qres qr, cb_$m cb GROUP BY qr.query_id, qr.cent_id)""")
        .mkString(",\n    ")
      val adc = (0 until M).map(m => s"l$m.lut[c.k$m]").mkString(" + ")
      val lutJoins = (1 until M).map(m =>
        s"JOIN lut$m l$m ON l$m.query_id = l0.query_id" +
          s" AND l$m.cent_id = l0.cent_id").mkString(" ")
      s"""WITH ${Knn.sqlIvfCtes},
      res AS (
        SELECT a.vec_id, a.cent_id,
          list_transform(a.v, (x, i) -> x - c.cv[i]) AS v
        FROM assigned a JOIN ${Knn.ivfCents} c USING (cent_id)),
      qres AS (
        SELECT p.query_id, p.cent_id,
          list_transform(p.qv, (x, i) -> x - c.cv[i]) AS qv
        FROM probes p JOIN ${Knn.ivfCents} c USING (cent_id)),
      $perSub,
      codes AS (SELECT r.vec_id, r.cent_id, k0.code AS k0, k1.code AS k1,
          k2.code AS k2, k3.code AS k3
        FROM res r JOIN k0 USING (vec_id) JOIN k1 USING (vec_id)
        JOIN k2 USING (vec_id) JOIN k3 USING (vec_id)),
      topr AS (SELECT query_id, vec_id FROM (
        SELECT l0.query_id, c.vec_id,
          row_number() OVER (PARTITION BY l0.query_id
            ORDER BY $adc DESC, c.vec_id) AS rr
        FROM lut0 l0 $lutJoins
        JOIN codes c ON c.cent_id = l0.cent_id
        WHERE l0.query_id <> c.vec_id) WHERE rr <= $RERANK)
      SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT t.query_id, t.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY t.query_id
            ORDER BY list_cosine_similarity(q.qv, e.v) DESC, t.vec_id)
            AS rank,
          round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
        FROM topr t
        JOIN q ON t.query_id = q.query_id
        JOIN e ON t.vec_id = e.vec_id)
      WHERE rank <= $K ORDER BY query_id, rank"""
    })

  // ------------------------------------------------ knn_ivfpq_persisted
  /** The IVFPQ index PERSISTED — the production FAISS `IndexIVFPQ`
    * lifecycle next to [[Knn.buildIvfIndex]]'s flat-IVF one: train
    * once, store `{cents, subcents, codes}`, query many. What survives
    * on storage is the NLIST-row coarse codebook, the M·KSUB-row
    * residual sub-codebooks, and the codes table — (vec_id, cent_id,
    * k0..k3) longs PARTITIONED BY (cent_id, ingest_id), 64× thinner
    * than the vectors it stands for; queries DPP-prune it to their
    * probed cells. The exact re-rank reads survivor rows from a
    * caller-supplied vector table (the FAISS refine-index shape — raw
    * vectors live beside, not inside, the compressed index).
    *
    * Codebooks (coarse AND sub) stay FROZEN across appends — the
    * add-after-train contract [[Knn.appendIvfIndex]] documents; floats
    * round-trip parquet bit-exactly and codes are longs, so
    * `knn_ivfpq_persisted` is gated by knn_ivfpq's oracle verbatim.
    */
  def buildIvfPqIndex(e: DataFrame, path: String): Unit = {
    val cents = Knn.codebook(e)
    cents.write.mode("overwrite").parquet(s"$path/cents")
    val res = residuals(e, cents).transform(graft.Checkpoint.of)
    val subs = subCodebooks(res)
    subs.write.mode("overwrite").parquet(s"$path/subcents")
    encode(res, cbArraysOf(subs)).withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("cent_id", "ingest_id")
      .parquet(s"$path/codes")
  }

  /** The written schemas of the persisted IVF-PQ tables beside
    * [[Knn.CentsSchema]] (the coarse codebook), partition columns typed
    * long: reads with them skip parquet schema inference.
    */
  private[graft] val SubcentsSchema = StructType(Seq(
    StructField("m", IntegerType), StructField("code", LongType),
    StructField("cv", ArrayType(DoubleType))))
  private[graft] val CodesSchema = StructType(
    StructField("vec_id", LongType) +:
      (0 until M).map(m => StructField(s"k$m", LongType)) :+
      StructField("cent_id", LongType) :+ StructField("ingest_id", LongType))

  /** Incrementally ingest a vector slice: assign + residual-encode
    * against the FROZEN stored codebooks, land in the slice's own
    * (cent_id, ingest_id) partitions — replay-idempotent, associative
    * (each code depends only on frozen state; PqSpec pins append ≡
    * encoding the union).
    */
  def appendIvfPqIndex(s: SparkSession, path: String, e: DataFrame,
      ingestId: Long): Unit = {
    require(ingestId > 0,
      s"ingestId must be > 0 (0 = base build), got $ingestId")
    Knn.requireFreshIds(s, s"$path/codes", e, ingestId, "appendIvfPqIndex")
    val cents = s.read.schema(Knn.CentsSchema).parquet(s"$path/cents")
    val subs = s.read.schema(SubcentsSchema).parquet(s"$path/subcents")
    encode(residuals(e, cents), cbArraysOf(subs))
      .withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id", "ingest_id").parquet(s"$path/codes")
  }

  /** Maintenance: fold appended code slices into the base partitions
    * ([[graft.sources.Sources.foldIngestPartitions]]; answers and ADC
    * ranks unchanged — codes are frozen-codebook deterministic).
    */
  def compactIvfPqIndex(s: SparkSession, path: String): (Int, Int) =
    graft.sources.Sources.foldIngestPartitions(s, s"$path/codes")

  /** TAKEDOWN: drop vectors from the codes table — partition-pruned
    * ([[Knn.deleteFromLists]] on the thin codes layout); codebooks
    * frozen, other codes can't move.
    */
  def removeFromIvfPqIndex(s: SparkSession, path: String,
      vecIds: DataFrame): Unit =
    Knn.deleteFromLists(s, s"$path/codes", CodesSchema,
      graft.Checkpoint.of(vecIds.select("vec_id").distinct()))

  /** Query the persisted index: probe → per-(query, probed-cell)
    * residual LUTs → ADC over the probed cells' codes → exact re-rank of
    * the top-[[RERANK]] survivors against `vectors` (vec_id, v — the raw
    * corpus table).
    *
    * A batch of at most [[IndexQuery.DRIVER_QUERIES]] queries whose
    * probed cells hold at most [[IndexQuery.DRIVER_CODE_BYTES]] of codes
    * parquet ends on the driver ([[IndexQuery.ivfPq]]) in 3 jobs:
    * collect the batch, read the probed cells' codes through a static
    * `cent_id IN (…)` partition filter, and read the ≤ rerank·|Q|
    * survivors' vectors. The frozen coarse and sub-codebooks cost one
    * more job each the first time their files are seen. The size check
    * reads the pruned file listing and launches no job. The answer is a
    * LocalRelation with the plan's rows and schema.
    *
    * Past either bound, or for a batch the driver can't reproduce, the
    * distributed plan runs (21 jobs for an 8-query batch): [[ivfpq]]'s
    * plan with storage reads replacing the train/encode stages, the
    * probe broadcast DPP-pruning the codes read.
    */
  def queryIvfPqIndex(s: SparkSession, path: String, q: DataFrame,
      vectors: DataFrame, k: Int = K, nprobe: Int = Knn.NPROBE,
      rerank: Int = RERANK): DataFrame =
    queryIvfPqIndexWith(s, path, q, vectors, k, nprobe, rerank,
      IndexQuery.IVF_PQ)

  /** `bound` is the specs' seam for forcing either path. */
  private[graft] def queryIvfPqIndexWith(s: SparkSession, path: String,
      q: DataFrame, vectors: DataFrame, k: Int, nprobe: Int, rerank: Int,
      bound: IndexQuery.Bound): DataFrame = {
    val cents = s.read.schema(Knn.CentsSchema).parquet(s"$path/cents")
    val subs = s.read.schema(SubcentsSchema).parquet(s"$path/subcents")
    val codes = s.read.schema(CodesSchema).parquet(s"$path/codes")
    lazy val plan = ivfPqQueryPlan(cents, subs, codes, q, vectors, k,
      nprobe, rerank)
    IndexQuery.ivfPq(q, cents, subs, codes, vectors, k, nprobe, rerank, M,
      SD, bound,
      graft.PlanSchemas.of(Seq("ivfpq", q.schema, vectors.schema),
        plan.schema))
      .getOrElse(plan)
  }

  /** The distributed plan of [[queryIvfPqIndex]]. */
  private def ivfPqQueryPlan(cents: DataFrame, subs: DataFrame,
      codes: DataFrame, q: DataFrame, vectors: DataFrame, k: Int,
      nprobe: Int, rerank: Int): DataFrame =
    // the LUT is NOT checkpointed (unlike knn_ivfpq's over live training
    // lineage): here it derives from stored parquet + the filtered query
    // scan, and a checkpoint would replace that file-scan lineage with
    // a LogicalRDD — erasing the selective predicate DPP needs to plan
    // the probe set as a partition filter on the codes read (the
    // literal-LocalRelation trap)
    ivfPqRank(codes,
      luts(queryResiduals(q, cents, nprobe), cbArraysOf(subs)),
      vectors, q, k, rerank)

  /** IVF-PQ's ranking: ADC over the codes of each (query_id, cent_id)
    * LUT row's cell, itself excluded, then the exact re-rank of the
    * top-`rerank` survivors against `vectors`.
    */
  private def ivfPqRank(codes: DataFrame, qlut: DataFrame,
      vectors: DataFrame, q: DataFrame, k: Int, rerank: Int): DataFrame =
    Ann.rerank(codes.join(broadcast(qlut), "cent_id")
      .filter(col("query_id") =!= col("vec_id")), adc, rerank, vectors, q, k)

  private val ivfpqPersisted = Q(
    "knn_ivfpq_persisted",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val q = queries(e, NQ)
      val path = graft.Artifacts.cached("ivfpq", s, dir)(
        buildIvfPqIndex(e, _))
      queryIvfPqIndex(s, path, q, e)
    },
    ivfpq.oracle)

  val all: Seq[Q] = Seq(pq, pqDistortion, ivfpq, ivfpqPersisted)
}
