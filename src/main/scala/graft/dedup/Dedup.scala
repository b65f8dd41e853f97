package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Q, Tables}
import graft.text.TextOps

/** Deduplication suite over `documents` — SURVEY.md §2.4.
  *
  * Scale posture (100 TB): no operator materializes the O(n²) pair space.
  * Pair generation goes through an inverted index (ngram), LSH band buckets
  * (minhash, simhash) — candidate sets proportional to true-duplicate mass,
  * then exact verification on the candidates only. The one exact-by-design
  * operator (`dedup_embedding`) documents its ANN-candidate scale path and
  * is kept exact here because the oracle demands ground truth.
  *
  * Determinism: jaccard/hamming arithmetic is integer-exact; cosine is a
  * sequential double fold identical to DuckDB's evaluation order.
  */
object Dedup {

  /** Distinct k-word shingles straight from the text (empty when < k
    * tokens), via the codegen'd [[graft.functions.WordShingles]] kernel —
    * the composed `transform(sequence, array_join(slice))` +
    * `array_distinct` form was an interpreted HOF chain re-splitting the
    * text per evaluation, and it dominated the dedup/pipeline suites.
    */
  def shingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.Shim.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Shim.expression(text), k))

  private val K = 3          // shingle width
  /** Jaccard near-dup threshold (planted dups ≥0.9; clean gap below).
    * Shared with pipeline_prepare — change here, not at call sites.
    */
  val TAU = 0.6

  /** (doc_id, sh: array<string>, nsh) for every document — materialized
    * via [[graft.Checkpoint.of]]: every consumer self-joins this frame,
    * and with a live lineage Catalyst re-inlines the whole
    * split→filter→shingle expression tree on BOTH join sides AND
    * re-derives it again during constraint propagation (the dominant
    * planning cost here). Checkpointing evaluates the shingles exactly
    * once and hands downstream plans plain attributes. At 100 TB this is
    * the standard "materialize the shingle table" stage — set
    * `spark.graft.checkpointDir` to an HDFS/object-store path and every
    * barrier becomes a reliable `checkpoint()` task retries can re-read.
    */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    shingleTable(Tables(s, dir, "documents").select("doc_id", "text"))

  /** The checkpointed (doc_id, sh, nsh) shingle frame for ANY
    * (doc_id, text) docs frame — [[docShingles]] generalized so the
    * persisted-state build/append path ([[DedupState]]) shares the
    * exact pipeline.
    */
  private[dedup] def shingleTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingles(col("text"), K).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .transform(graft.Checkpoint.of)

  /** DuckDB-side shingle CTE mirroring [[shingles]] exactly. */
  private val sqlShingleCte =
    s"""d AS (SELECT doc_id,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    s AS (SELECT doc_id,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          for i in range(1, greatest(len(w)-1, 1))]) sh
      FROM d)"""

  /** Ground-truth pair SQL: exact jaccard over full shingle sets ≥ TAU.
    * Used as the oracle for BOTH the inverted-index and the LSH pipeline —
    * passing proves the LSH candidate generation has full recall here.
    */
  private val sqlExactJaccardPairs =
    s"""WITH $sqlShingleCte
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      round(len(list_intersect(a.sh, b.sh)) * 1.0 /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
        AS jaccard
    FROM s a, s b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $TAU
    ORDER BY a_id, b_id"""

  // ------------------------------------------------------------ dedup_exact
  /** Exact dedup: md5 over normalized text, keeper = min doc_id per cluster.
    * One hash-agg exchange on a 32-char key + one broadcast-able join back.
    */
  private val exact = Q(
    "dedup_exact",
    (s, dir) => {
      val f = Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.normalizedMd5(col("text")).as("fp"))
      val keep = f.groupBy("fp").agg(min("doc_id").as("keeper_id"))
      f.join(keep, "fp")
        .select(col("doc_id"), col("keeper_id"),
          (col("doc_id") =!= col("keeper_id")).as("is_dup"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
        AS fp FROM documents),
    k AS (SELECT fp, MIN(doc_id) AS keeper_id FROM f GROUP BY fp)
    SELECT doc_id, keeper_id, doc_id <> keeper_id AS is_dup
    FROM f JOIN k ON f.fp = k.fp ORDER BY doc_id"""))

  /** Inverted-index jaccard pairs over a (doc_id, sh, nsh) shingle frame:
    * explode postings, self-join on the shingle, count intersections per
    * pair, exact jaccard from the counts. Returns (a_id, b_id, jaccard
    * [raw double]) with a_id < b_id and jaccard >= tau. Shared by
    * dedup_ngram_jaccard and pipeline_prepare.
    *
    * Scale: a shingle table of at most [[ShinglePairs.DRIVER_POSTINGS]]
    * (2^22) postings ENDS ON THE DRIVER in 2 jobs: one counts the
    * postings, one collects the (doc_id, sh, nsh) rows — at the bound
    * 4M shingle strings, which ran in a 1 GB heap — and [[ShinglePairs]]
    * counts every candidate's exact intersection over in-memory posting
    * lists (ScanCount), then applies the predicate below. The answer is
    * a local frame (LocalRelation) with the plan's rows and schema. At
    * sf1 (2.6M postings) that is 5.6 s against the plan's 54 s; the
    * timings are on [[ShinglePairs.DRIVER_POSTINGS]]. Larger tables,
    * answers over [[ShinglePairs.DRIVER_ANSWER_ROWS]] (2^20) rows, and
    * frames the driver cannot reproduce exactly (see [[ShinglePairs]])
    * run the distributed plan: the df-capped postings self-join, 8 jobs
    * at test scale, whose cost is linear in Σ df². `dfCap` is the
    * web-scale guard: shingles with df > cap (boilerplate present in
    * thousands of documents) are dropped from CANDIDATE GENERATION — one
    * viral shingle otherwise contributes df² join rows — and surviving
    * candidates are verified with the exact jaccard over the FULL shingle
    * sets, so the cap can cost recall only for pairs whose every shared
    * shingle is viral (boilerplate-only overlap — exactly the pairs a
    * near-dup τ is not after). Capped candidates come straight out of the
    * per-shingle postings list (≤ cap²/2 pairs each, bounded memory), no
    * self-join.
    *
    * The cap is ON by default ([[DEFAULT_DF_CAP]] = 1000): pointing the
    * uncapped form at web data is the one plan in this suite that
    * detonates (a boilerplate shingle in 10⁵ docs contributes 10¹⁰ join
    * rows), so unbounded is the explicit opt-out (`dfCap = None`), not
    * the default. 1000 is far above the max df at every test SF (25 at
    * sf0.1 — the ground-truth oracle proves recall is untouched) and far
    * below where df² hurts.
    *
    * The capped plan stays count-based (no per-pair array materialization
    * unless forced): the self-join runs over kept shingles only
    * (2 ≤ df ≤ cap — df=1 shingles pair nothing, dropping them is free
    * and exact), yielding each pair's EXACT intersection count over kept
    * shingles. With `V` = number of distinct dropped (viral) shingles —
    * one in-plan scalar — the true jaccard is bracketed by
    * `[j(inter_kept), j(min(inter_kept+V, min(na,nb)))]`; pairs whose
    * bracket tops out below τ are rejected exactly, and only pairs whose
    * bracket reaches τ go through the full-array verify. When nothing is
    * dropped (V=0, every test SF) the bracket is tight and the verify
    * stage receives ZERO rows — the capped plan costs one extra thin df
    * aggregate over the uncapped one; at web scale the verify volume is
    * proportional to near-dup mass, not to Σdf².
    *
    * Documented recall edge of the cap trade (only reachable when V>0):
    * a pair whose shared shingles are ALL viral has zero kept
    * intersection, so the kept-shingle join never GENERATES it as a
    * candidate and the bracket/verify stage never sees it — the bracket
    * logic rejects exactly, but only among generated candidates. Such a
    * miss requires both documents to be boilerplate-dominated: with
    * kept intersection 0 and true jaccard ≥ τ, the shared viral set has
    * ≥ τ(na+nb)/(1+τ) shingles, i.e. each doc is ≥ ~2τ/(1+τ) viral by
    * shingle count (≥75% at τ=0.6). Near-dup detection on boilerplate-
    * dominated docs is better served by first stripping the boilerplate
    * (that is what df>cap identifies); callers who must pair them can
    * opt out with `dfCap = None` on that slice.
    */
  val DEFAULT_DF_CAP = 1000

  def jaccardPairs(shingleTable: DataFrame, tau: Double,
      dfCap: Option[Int] = Some(DEFAULT_DF_CAP)): DataFrame =
    jaccardPairs(shingleTable, tau, dfCap, ShinglePairs.DRIVER_POSTINGS)

  /** `driverPostings` is DedupSpec's seam for forcing either path. */
  private[graft] def jaccardPairs(shingleTable: DataFrame, tau: Double,
      dfCap: Option[Int], driverPostings: Long): DataFrame = {
    dfCap.foreach(cap => require(cap >= 2,
      s"dfCap must be >= 2 to ever pair documents, got $cap"))
    val jLow = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter"))
    def answer(bracketed: DataFrame): DataFrame = dfCap match {
      case None =>
        bracketed
          .withColumn("jaccard", jLow)
          .filter(col("jaccard") >= tau)
          .select("a_id", "b_id", "jaccard")
      case Some(_) =>
        val interHigh = least(col("inter") + col("n_viral"),
          least(col("na"), col("nb")))
        val jHigh = interHigh.cast("double") /
          (col("na") + col("nb") - interHigh)
        // V=0 ⇒ the bracket is a point: emit exactly, verify nothing
        val certain = bracketed
          .filter(col("n_viral") === 0L && jLow >= tau)
          .select(col("a_id"), col("b_id"), jLow.as("jaccard"))
        val uncertain = bracketed
          .filter(col("n_viral") > 0L && jHigh >= tau)
          .select("a_id", "b_id")
        certain.unionByName(
          verifyJaccard(uncertain, shingleTable, tau))
    }
    lazy val plan = bracketedPairs(shingleTable, dfCap)
    pairsOnDriver(shingleTable, driverPostings,
      // keyed per kernel, input schema and cap shape: τ moves no type
      // or nullability
      graft.PlanSchemas.of(Seq("jaccard", shingleTable.schema,
        dfCap.isDefined), answer(plan).schema))(
      ShinglePairs.jaccard(_, dfCap.getOrElse(Int.MaxValue), tau,
        answerRows(driverPostings)))
      .getOrElse(answer(
        if (dfCap.isEmpty) plan else graft.Checkpoint.of(plan)))
  }

  /** The distributed candidate plan of [[jaccardPairs]] and
    * [[containmentPairs]], unmaterialized: (a_id, b_id, na, nb, inter,
    * n_viral) for every pair a_id < b_id sharing a kept shingle, with
    * `inter` its exact count of shared kept shingles and `n_viral` the
    * number V of distinct shingles over the cap (0 uncapped, where
    * every shingle is kept). A capped caller materializes it: its
    * certain and verify branches both read it, and each would otherwise
    * re-run the postings self-join (the exchanges would be reusable, but
    * AQE's broadcast conversion breaks that reuse — the dedup_substring
    * lesson).
    */
  private def bracketedPairs(shingleTable: DataFrame,
      dfCap: Option[Int]): DataFrame = {
    val ex = shingleTable
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("sh"))
    val df = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    val kept = dfCap.fold(ex)(cap =>
      ex.join(df.filter(col("df").between(2, cap)).select("sh"), "sh"))
    val a = kept.select(col("doc_id").as("a_id"), col("nsh").as("na"),
      col("sh"))
    val b = kept.select(col("doc_id").as("b_id"), col("nsh").as("nb"),
      col("sh"))
    val counted = a.join(b, "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "na", "nb")
      .agg(count(lit(1)).as("inter"))
    dfCap match {
      case None => counted.withColumn("n_viral", lit(0L))
      case Some(cap) =>
        // the df aggregate feeding `kept` again, so the planner shares
        // ONE exchange between them (ReusedExchange)
        counted.crossJoin(broadcast(df.agg(coalesce(
          sum(when(col("df") > cap, 1L).otherwise(0L)), lit(0L))
          .as("n_viral"))))
    }
  }

  /** The driver's answer bound; a `driverPostings` seam below it lowers
    * it too, so a test can reach it with a small table.
    */
  private def answerRows(driverPostings: Long): Long =
    math.min(driverPostings, ShinglePairs.DRIVER_ANSWER_ROWS)

  /** A shingle-pair answer computed on the driver: the shingle table
    * collected ([[ShinglePairs.collect]], ≤ `bound` postings), `kernel`
    * run over it, and its rows (None past the bound) wrapped in a local
    * frame with `schema`, the distributed plan's own. None when any
    * step declines.
    */
  private def pairsOnDriver(shingleTable: DataFrame, bound: Long,
      schema: => StructType)(kernel: ShinglePairs.Postings =>
        Option[Array[_ <: Product]]): Option[DataFrame] =
    ShinglePairs.collect(shingleTable, bound).flatMap(kernel).map { rows =>
      shingleTable.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows.map(Row.fromTuple): _*), schema)
    }

  /** Distinct candidate pairs (a_id < b_id) sharing ≥1 shingle with
    * df ≤ cap: postings grouped per shingle (ONE exchange over the
    * exploded postings, map-side combined), hot shingles dropped whole,
    * pairs generated inside each ≤cap-long list.
    */
  def jaccardCandidates(shingleTable: DataFrame, cap: Int): DataFrame = {
    require(cap >= 2, s"dfCap must be >= 2 to ever pair documents, got $cap")
    val ex = shingleTable
      .select(explode(col("sh")).as("sh"), col("doc_id"))
    // thin df pre-pass (map-side combined counts) BEFORE any postings list
    // exists — a viral shingle must never materialize its list at all
    val kept = ex.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, cap)).select("sh")
    val postings = ex.join(kept, "sh")
      .groupBy("sh").agg(collect_list(col("doc_id")).as("ds"))
    postings
      .select(explode(col("ds")).as("a_id"), col("ds"))
      .select(col("a_id"), explode(col("ds")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .distinct()
  }

  /** Exact-jaccard verification of candidate (a_id, b_id) pairs against
    * the full shingle sets — the shared verify tail of every candidate
    * strategy (capped inverted index, minhash LSH, winnow). Returns RAW
    * jaccard ≥ tau; callers round for output. `nsh ≥ 1` is guaranteed by
    * candidates only pairing docs that produced index entries, so the
    * denominator `na + nb - inter ≥ max(na, nb) > 0`.
    */
  private[dedup] def verifyJaccard(cand: DataFrame, shingleTable: DataFrame,
      tau: Double): DataFrame =
    cand
      .join(shingleTable.select(col("doc_id").as("a_id"),
        col("sh").as("sha"), col("nsh").as("na")), "a_id")
      .join(shingleTable.select(col("doc_id").as("b_id"),
        col("sh").as("shb"), col("nsh").as("nb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")

  // --------------------------------------------------- dedup_ngram_jaccard
  private val ngramJaccard = Q(
    "dedup_ngram_jaccard",
    (s, dir) =>
      jaccardPairs(docShingles(s, dir), TAU)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id"),
    Some(sqlExactJaccardPairs))

  // ---------------------------------------------------- dedup_minhash_lsh
  private[graft] val PERMS = 64
  private[graft] val BANDS = 16     // 16 bands × 4 rows: P(miss at j=0.9) ≈ 3e-8
  private val ROWS = PERMS / BANDS

  /** MinHash + LSH near-dup detection.
    *
    * signatures: the [[graft.functions.MinhashBands]] kernel computes all
    * PERMS (64) seeded minhashes AND the BANDS (16) band hashes per doc
    * in one map-side pass over the shingle array — ZERO exchange (the
    * previous shape exploded the shingle stream through a 64-aggregate
    * groupBy). The bucket self-join only materializes colliding pairs;
    * exact jaccard verifies candidates. The oracle is the ground-truth
    * pair set — passing proves full recall at this τ.
    */
  /** (doc_id, band, bh) banded MinHash bucket keys for a corpus with a
    * `text` column — THE shared signature pipeline of the batch query,
    * the streaming `minhashDedupSink`, and their specs, so the
    * empty-shingle guard and parameters cannot drift apart. Docs with
    * NO shingles emit no buckets (an all-MaxValue signature would pair
    * every short doc with every other).
    */
  def bandBuckets(docs: DataFrame, perms: Int = PERMS,
      bands: Int = BANDS): DataFrame =
    bandBucketsFromShingles(
      docs.select(col("doc_id"), shingles(col("text"), K).as("sh")),
      perms, bands)

  /** [[bandBuckets]] over a precomputed `(doc_id, sh)` shingle table —
    * the batch query feeds its (checkpointed) verification shingle frame
    * here so each document is shingled ONCE per run; the text-based entry
    * point above remains for callers without one (streaming sink).
    */
  def bandBucketsFromShingles(shingleTable: DataFrame, perms: Int = PERMS,
      bands: Int = BANDS): DataFrame =
    shingleTable
      .select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), org.apache.spark.sql.graft.Shim.column(
        graft.functions.MinhashBands(
          org.apache.spark.sql.graft.Shim.expression(col("sh")),
          perms, bands)).as("b"))
      .select(col("doc_id"), explode(col("b")).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))

  /** Verified MinHash-LSH near-dup pairs (a_id < b_id, RAW jaccard ≥ TAU)
    * — the shared candidate→verify pipeline of `dedup_minhash_lsh` and
    * the cluster roll-up `dedup_clusters`.
    */
  private[dedup] def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val ds = docShingles(s, dir)
    // signatures come from the SAME checkpointed shingle table the
    // verify stage reads (one shingling pass per doc per run);
    // checkpoint again: the band table feeds BOTH sides of the
    // self-join — with live lineage each side recomputes the kernel
    val buckets = bandBucketsFromShingles(ds)
      .transform(graft.Checkpoint.of)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, ds, TAU)
  }

  private val minhashLsh = Q(
    "dedup_minhash_lsh",
    (s, dir) =>
      minhashPairs(s, dir)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id"),
    Some(sqlExactJaccardPairs))

  // -------------------------------------------------------- dedup_lexsem
  /** Two-gate fuzzy dedup — LEXICAL recall, SEMANTIC precision (the
    * production composition modern corpora run: MinHash-LSH proposes
    * cheaply at high recall, an embedding check rejects coincidental
    * token overlap — boilerplate shells, templated pages — before
    * anything is dropped): every jaccard-verified [[minhashPairs]]
    * pair is scored with the documents' embedding cosine and flagged
    * `semantic_ok` at the [[LEXSEM_TAU]] half-up boundary (raw-value
    * compare, round-for-output-only — the blockedCosinePairs rule).
    * The testdata's doc_id ↔ vec_id spaces are aligned 1:1; its
    * embeddings are synthetic (not text-derived — lexical dups score
    * cosine ≤ ~0.28 here), so τ sits inside that observed range to
    * exercise the boundary BOTH ways in the gate; with a real text
    * encoder the production τ is ~0.9+.
    *
    * Scale: the expensive half is the LSH pair generation, unchanged;
    * the semantic gate adds two co-partitioned id joins against the
    * thin embedding table ONLY for surviving pairs — per-pair cost,
    * never per-corpus-square. (SemDedup prunes the embedding space
    * wholesale; this gates an existing lexical candidate set — the two
    * compose, they don't compete.)
    */
  private val LEXSEM_TAU = 0.1

  private val lexsem = Q(
    "dedup_lexsem",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cos = graft.functions.CosineSim.cosineSim(col("va"), col("vb"))
      minhashPairs(s, dir)
        .join(e.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(col("jaccard"), 6).as("jaccard"),
          round(cos, 6).as("cosine"),
          (cos >= lit(LEXSEM_TAU - 5e-7)).as("semantic_ok"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH $sqlShingleCte,
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        round(len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
          AS jaccard
      FROM s a, s b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= $TAU),
    e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
    SELECT a_id, b_id, jaccard,
      round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine,
      list_cosine_similarity(ea.v, eb.v) >= ($LEXSEM_TAU - 5e-7)
        AS semantic_ok
    FROM pairs
    JOIN e ea ON ea.vec_id = a_id
    JOIN e eb ON eb.vec_id = b_id
    ORDER BY a_id, b_id"""))

  // -------------------------------------------------------- dedup_winnow
  /** Near-dup candidates from shared winnowed fingerprints (the MOSS
    * plagiarism-detection recipe): docs sharing ≥1 window-min gram hash
    * pair up, exact jaccard verifies. Winnowing's contract is RUN-length
    * detection: any shared token run ≥ t = w+k-1 yields a shared
    * fingerprint. The window is the candidate-volume dial — at w=4
    * (t=6) this shared-vocabulary corpus produces 324k candidate pairs
    * (~everything pairs with everything); at w=9 (t=11) only genuine
    * near-copies collide, and the index is ~2/(w+1) ≈ 20% of the full
    * shingle postings. τ=0.6 near-dups here are near-copies whose shortest shared run here is 11 tokens, and the oracle is the exact ground-truth pair
    * set, so the green row PROVES full recall at these parameters.
    */
  private val WINDOW = 9          // detect runs >= 3+9-1 = 11 tokens
  private val MIN_SHARED_FPS = 2L // precision dial (see honesty note)

  private val winnowDedup = Q(
    "dedup_winnow",
    (s, dir) => {
      val ds = docShingles(s, dir)
      // checkpoint: both self-join sides read this table — live lineage
      // would re-run the winnow kernel per side and re-derive the text
      // expressions through constraint propagation
      val fps = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(
          org.apache.spark.sql.graft.Shim.column(
            graft.functions.Winnow(
              org.apache.spark.sql.graft.Shim.expression(col("text")),
              K, WINDOW))).as("fp"))
        .transform(graft.Checkpoint.of)
      // MOSS ranks matches by shared-fingerprint COUNT; requiring
      // min(MIN_SHARED_FPS, |fps_a|, |fps_b|) drops the long tail of
      // long-doc pairs sharing a single ~11-token phrase (150k pairs on
      // this shared-vocabulary corpus) before the expensive
      // set-intersection verify, while a short doc that only OWNS one
      // fingerprint still matches on it. HONESTY NOTE: the run guarantee
      // only promises ONE shared fingerprint per ≥t-token run
      // (overlapping windows can all share a single min), so any
      // threshold above 1 is MOSS's precision dial, not implied by the
      // guarantee — the exact-pair oracle proves it loses nothing on
      // this corpus; set MIN_SHARED_FPS = 1 for the pure guarantee.
      val nfp = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
      val cand = fps.as("x").join(fps.as("y"),
          col("x.fp") === col("y.fp")
            && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("shared_fps"))
        .join(broadcast(nfp.select(col("doc_id").as("a_id"),
          col("nfp").as("nfa"))), "a_id")
        .join(broadcast(nfp.select(col("doc_id").as("b_id"),
          col("nfp").as("nfb"))), "b_id")
        .filter(col("shared_fps") >=
          least(lit(MIN_SHARED_FPS), col("nfa"), col("nfb")))
        .select("a_id", "b_id")
      verifyJaccard(cand, ds, TAU)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id")
    },
    Some(sqlExactJaccardPairs))

  // -------------------------------------------------------- dedup_simhash
  private val SIMBITS = 60   // 15 md5 hex chars — exact in BOTH engines
  private val SIMBANDS = 4   // 4×15-bit bands; hamming ≤3 ⇒ ≥1 equal band
  private val HAM_MAX = 3

  /** Weighted 60-bit SimHash (votes weighted by in-doc term frequency —
    * the corpus shares one small vocabulary, so unweighted distinct-token
    * SimHash would collapse). Pair search blocks on 4×15-bit bands
    * (pigeonhole: hamming ≤ 3 ⇒ ≥1 identical band), then verifies
    * `bit_count(xor) ≤ 3`.
    *
    * The token hash is the first 15 hex chars of md5 (60 bits, positive
    * in a signed 64-bit lane) precisely so the whole pipeline is
    * integer-deterministic in BOTH engines and the oracle mirrors it
    * end-to-end. The Spark side computes the entire per-doc simhash in
    * the map-only [[graft.functions.Simhash]] kernel (bit-identical to
    * the mirrored SQL; previously explode → two exchanges); checkpointed
    * because the band table feeds both sides of the self-join.
    */
  private val simhash = Q(
    "dedup_simhash",
    (s, dir) => {
      // token-less docs are dropped BEFORE signing (mirroring the oracle,
      // where such docs produce no tok rows and vanish at unnest) — the
      // kernel would otherwise emit simhash=0 for every empty doc and the
      // band join would pair them all at hamming 0
      val sims = Tables(s, dir, "documents")
        .filter(size(TextOps.tokens(col("text"))) > 0)
        .select(col("doc_id"), org.apache.spark.sql.graft.Shim.column(
          graft.functions.Simhash(
            org.apache.spark.sql.graft.Shim.expression(col("text")),
            SIMBITS)).as("simhash"))
        .transform(graft.Checkpoint.of)
      val width = SIMBITS / SIMBANDS
      val banded = sims.select(col("doc_id"), col("simhash"),
          explode(array((0 until SIMBANDS).map(bnd =>
            struct(lit(bnd).as("band"),
              shiftright(col("simhash"), bnd * width)
                .bitwiseAND((1L << width) - 1).as("bv"))): _*)).as("b"))
        .select(col("doc_id"), col("simhash"), col("b.band"), col("b.bv"))
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          col("x.simhash").as("ha"), col("y.simhash").as("hb"))
        .distinct()
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= HAM_MAX)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH d AS (SELECT doc_id,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    tok AS (SELECT doc_id, tok, COUNT(*) AS w
      FROM (SELECT doc_id, unnest(w) AS tok FROM d) GROUP BY doc_id, tok),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h, w
      FROM tok),
    votes AS (SELECT doc_id, i.range AS i,
        SUM(CASE WHEN (h >> i.range) & 1 = 1 THEN w ELSE -w END) AS v
      FROM h, range($SIMBITS) i GROUP BY doc_id, i.range),
    sims AS (SELECT doc_id,
        SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id),
    banded AS (SELECT doc_id, simhash, b.range AS band,
        (simhash >> (b.range * ${SIMBITS / SIMBANDS})::INT)
          & ${(1L << (SIMBITS / SIMBANDS)) - 1} AS bv
      FROM sims, range($SIMBANDS) b),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
        x.simhash AS ha, y.simhash AS hb
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT a_id, b_id, bit_count(xor(ha, hb))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= $HAM_MAX
    ORDER BY a_id, b_id"""))

  // ------------------------------------------------------ dedup_embedding
  private val COS_TAU = 0.4  // synthetic embeddings: true near-dups ≥ ~0.4


  /** Exact embedding-cosine threshold self-join, blocked ("grid" /
    * 1-Bucket theta-join, Okcan & Riedewald): ids map to NBLOCKS blocks;
    * each unordered block pair (i ≤ j) is one composite equi-join key, so
    * the inherent O(n²) similarity work spreads over B(B+1)/2 uniform
    * (n/B)² tasks with bounded per-task memory — a plain shuffled equi
    * join, no BroadcastNestedLoopJoin/CartesianProduct, no side broadcast.
    *
    * Exact is the right DEFAULT here: these embeddings are isotropic on
    * the unit sphere and τ=0.4 is a weak threshold (θ≈66°), where sign-LSH
    * has ρ≈0.89 — candidate generation cannot beat a constant factor, and
    * a "fast" variant would silently trade recall. At 100 TB pick
    * B ≈ √(2·parallelism) so every core gets a uniform tile; the approx
    * path with measured recall is [[embeddingLsh]].
    *
    * Cosine is the codegen'd [[graft.functions.CosineSim]] expression —
    * sequential double folds, bit-identical to DuckDB's
    * `list_cosine_similarity` over DOUBLE[] (the interpreted
    * `aggregate(zip_with(...))` HOF route computes the same values ~20×
    * slower: higher-order functions are CodegenFallback).
    */
  /** Block-grid fan-out sized from the session's parallelism: B ≈
    * √(2·parallelism) gives B(B+1)/2 ≈ parallelism uniform tiles — one
    * per core locally, one per task slot on a cluster (the doc-comment
    * rule above, now derived instead of hard-coded). Block assignment is
    * id-mod, so the pair set — and the oracle — are B-agnostic
    * (ScaleSpec pins the sizing rule and the tile count).
    */
  private[graft] def nBlocksFor(parallelism: Int): Int =
    math.max(1, math.round(math.sqrt(2.0 * parallelism)).toInt)

  /** The grid theta-join core over ANY `(vec_id, v: array<double>)`
    * frame — shared by [[embedding]] and the multimodal embedding tier
    * (mm_embed_neardup). Returns (a_id, b_id, cosine rounded to 6) for
    * every unordered pair whose rounded cosine ≥ `tau`, unordered.
    */
  private[graft] def blockedCosinePairs(vecs: DataFrame,
      tau: Double): DataFrame = {
    val nb = nBlocksFor(vecs.sparkSession.sparkContext.defaultParallelism)
    val e = vecs.withColumn("blk", pmod(col("vec_id"), lit(nb)).cast("int"))
    // role A covers block pairs (blk, j≥blk); role B covers (i≤blk, blk):
    // every unordered block pair joins exactly once, on (ba, bb)
    val a = e.withColumn("bb", explode(sequence(col("blk"),
        lit(nb - 1))))
      .select(col("vec_id").as("x_id"), col("v").as("va"),
        col("blk").as("ba"), col("bb"))
    val b = e.withColumn("ba", explode(sequence(lit(0), col("blk"))))
      .select(col("vec_id").as("y_id"), col("v").as("vb"),
        col("ba"), col("blk").as("bb"))
    val cos = graft.functions.CosineSim.cosineSim(col("va"), col("vb"))
    a.join(b, Seq("ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("x_id") < col("y_id"))
      // filter on the RAW cosine at the half-up boundary (τ − 5·10⁻⁷,
      // one IEEE subtraction both engines fold identically): Spark's
      // round(double) goes through BigDecimal and at ~300 ns/pair it
      // DOMINATED the all-pairs scan (measured 4 s of 6 s on the
      // mm_embed_neardup grid); survivors — hundreds, not millions —
      // round for output only
      .filter(cos >= lit(tau - 5e-7))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        round(cos, 6).as("cosine"))
  }

  // ------------------------------------------------- pair output budget
  /** OUTPUT BUDGET for quadratic-answer pair reports (r14 sweep triage:
    * a τ=0.4 radius report's ANSWER is 96k pairs at sf1 — the plan was
    * fine, the emitted mass wasn't): a pair survives iff it ranks among
    * either endpoint's [[PAIR_CAP]] strongest pairs, so every doc keeps
    * its local neighborhood (downstream clustering still sees every
    * node's best links) while the report emits ≤ 2·cap·n rows — LINEAR
    * in the corpus instead of quadratic in duplicate-family size. At
    * 100 TB an uncapped near-dup report at a loose radius writes more
    * bytes than it reads; the uncapped form stays one explicit argument
    * away ([[blockedCosinePairs]] / [[perceptualPairs]] raw), and the
    * *_budget honesty cards gate the dropped mass so a cap can never
    * silently hide pair volume. Rank filters nest, so the kept set is
    * MONOTONE in `cap` and capPairs(∞) = identity (PairBudgetSpec).
    */
  private[graft] val PAIR_CAP = 8

  /** Keep pairs ranked ≤ `cap` from EITHER endpoint's perspective.
    * `asc` = smaller score is stronger (hamming); ties break on the
    * other endpoint's id — deterministic, and exactly mirrored by
    * [[sqlCapPairs]].
    */
  private[graft] def capPairs(pairs: DataFrame, score: String,
      asc: Boolean, cap: Int): DataFrame = {
    val sym = pairs
      .select(col("a_id").as("id"), col("b_id").as("other"), col(score))
      .unionByName(pairs
        .select(col("b_id").as("id"), col("a_id").as("other"), col(score)))
    val w = Window.partitionBy("id")
      .orderBy(if (asc) col(score).asc else col(score).desc, col("other"))
    val kept = sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(least(col("id"), col("other")).as("a_id"),
        greatest(col("id"), col("other")).as("b_id"))
      .distinct()
    pairs.join(kept, Seq("a_id", "b_id"), "left_semi")
  }

  /** The DuckDB mirror of [[capPairs]] as two CTEs (`{pfx}psym`,
    * `{pfx}pkept`); `pairsCte` MUST be materialized in the caller (it
    * is referenced twice more here — the r13 CTE re-evaluation trap).
    * Callers join `{pfx}pkept` back on (a_id, b_id).
    */
  private[graft] def sqlCapPairs(pairsCte: String, score: String,
      sqlDir: String, cap: Int, pfx: String = ""): String =
    s"""${pfx}psym AS (
      SELECT a_id AS id, b_id AS other, $score AS sc FROM $pairsCte
      UNION ALL SELECT b_id, a_id, $score FROM $pairsCte),
    ${pfx}pkept AS (
      SELECT DISTINCT LEAST(id, other) AS a_id, GREATEST(id, other) AS b_id
      FROM (SELECT id, other,
          row_number() OVER (PARTITION BY id ORDER BY sc $sqlDir, other)
            AS rk
        FROM ${pfx}psym) WHERE rk <= $cap)"""

  /** Capped τ=[[COS_TAU]] pair oracle + its budget card share this
    * materialized pair CTE (`ep` = the old exact all-pairs oracle body).
    */
  private val sqlCosPairsCte =
    s"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    ep AS MATERIALIZED (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM e a, e b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(a.v, b.v) >= ($COS_TAU - 5e-7)),
    ${sqlCapPairs("ep", "cosine", "DESC", PAIR_CAP)}"""

  private val sqlCosPairsCapped =
    s"""WITH $sqlCosPairsCte
    SELECT p.a_id AS a_id, p.b_id AS b_id, p.cosine AS cosine
    FROM ep p JOIN pkept USING (a_id, b_id)
    ORDER BY a_id, b_id"""

  private val embedding = Q(
    "dedup_embedding",
    (s, dir) =>
      capPairs(blockedCosinePairs(Tables.vectors(s, dir), COS_TAU),
        "cosine", asc = false, PAIR_CAP)
        .orderBy("a_id", "b_id"),
    Some(sqlCosPairsCapped))

  /** The budget honesty card: how much pair mass the [[PAIR_CAP]]
    * default declined — gated, so the cap can never silently hide
    * volume (the mm_embed_recall honesty-card precedent).
    */
  private val embeddingBudget = Q(
    "dedup_embedding_budget",
    (s, dir) => {
      val p = graft.Checkpoint.of(
        blockedCosinePairs(Tables.vectors(s, dir), COS_TAU))
      val kept = capPairs(p, "cosine", asc = false, PAIR_CAP)
      p.agg(count(lit(1)).cast("long").as("n_pairs"))
        .crossJoin(kept.agg(count(lit(1)).cast("long").as("n_kept")))
        .select(col("n_pairs"), col("n_kept"),
          (col("n_pairs") - col("n_kept")).as("n_dropped"))
    },
    Some(s"""WITH $sqlCosPairsCte,
    nk AS (SELECT COUNT(*)::BIGINT AS n_kept
      FROM ep JOIN pkept USING (a_id, b_id)),
    np AS (SELECT COUNT(*)::BIGINT AS n_pairs FROM ep)
    SELECT np.n_pairs AS n_pairs, nk.n_kept AS n_kept,
      (np.n_pairs - nk.n_kept)::BIGINT AS n_dropped
    FROM np, nk"""))

  // -------------------------------------------------- dedup_embedding_lsh
  /** Sign-LSH candidate generation + exact cosine verify: 64 tables ×
    * 4-bit hyperplane signatures (seeded bank compiled into the plan),
    * banded bucket self-join on (tbl, bucket) — the [[minhashLsh]] shape
    * over vectors. The oracle is the exact ground-truth pair set, so a
    * green row proves full recall of this bank on this corpus (measured:
    * every true pair collides in ≥3 of 64 tables at sf0.01/sf0.1).
    *
    * Honest scale note: at τ=0.4 over isotropic unit vectors the LSH gap
    * is thin (p_collide 0.63 vs 0.5/bit), so the table count needed for
    * full recall makes candidate pruning minimal ON THIS DATA; on real
    * embedding corpora (clustered, dedup τ ≥ 0.7, p ≥ 0.8/bit) the same
    * operator prunes the pair space by orders of magnitude while the
    * verify stage keeps precision exact.
    */
  private val ETABLES = 64
  private val EBITS = 4
  private lazy val eplanes = graft.sim.Hyperplanes.bank(ETABLES, EBITS, 64, 7)

  /** The LSH candidate→exact-verify pair set (UNCAPPED) — shared by the
    * gated query (which budgets it) and the recall card (which counts
    * exact pairs the bank missed; sharing one definition is the
    * batch/stream single-constant rule applied to a query/card pair).
    */
  private def lshVerifiedPairs(e: DataFrame): DataFrame = {
    // signature table materialized once — otherwise CollapseProject
    // re-inlines the 256-dot-product bucket array into the post-explode
    // projection and re-evaluates it per exploded row
    val sigs = e.select(col("vec_id"),
        graft.sim.Hyperplanes.buckets(eplanes, col("v")).as("bs"))
      .transform(graft.Checkpoint.of)
    val x = sigs.select(col("vec_id"), explode(col("bs")).as("b"))
      .select(col("vec_id"), col("b.tbl"), col("b.bucket"))
    val cand = x.as("x").join(x.as("y"),
        col("x.tbl") === col("y.tbl")
          && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val cos = graft.functions.CosineSim.cosineSim(col("va"), col("vb"))
    cand
      .join(e.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      // same raw-boundary rule as blockedCosinePairs — the verify
      // stage must keep the IDENTICAL pair set as the exact oracle
      .filter(cos >= lit(COS_TAU - 5e-7))
      .select(col("a_id"), col("b_id"), round(cos, 6).as("cosine"))
  }

  /** n_found of a SMALL already-τ-verified pair frame against the bank
    * (r18): a pair is in the verified LSH set iff its own two signatures
    * share a (tbl, bucket) — candidacy is a per-pair property of the two
    * signatures (the same argument the probe restriction rests on), and
    * the pairs handed in already satisfy the τ filter by construction.
    * So the recall card never needs the bucket self-join + distinct over
    * the O(|probe|·n/2^EBITS) candidate stream — saturated 4-bit buckets
    * made that 494M rows / 25 GB sort spill / 780 s at sf3 (the r16
    * single-band saturation lesson one tier up). Instead: two broadcast
    * joins attach each pair's signatures to it and `arrays_overlap`
    * tests collision directly — O(|pairs|) work beyond one signature
    * scan. Returns the 1-row (n_found) frame.
    */
  private[graft] def lshFoundCount(sigs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val withA = sigs.join(broadcast(pairs), col("vec_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("bs").as("bsa"))
    sigs.join(broadcast(withA), col("vec_id") === col("b_id"))
      .filter(arrays_overlap(col("bsa"), col("bs")))
      .agg(count(lit(1)).cast("long").as("n_found"))
  }

  /** The (vec_id, bs) sign-LSH signature table of `e` — checkpointed so
    * the bank kernel (256 dot products/row) runs once, not once per
    * consumer scan.
    */
  private[graft] def lshSigs(e: DataFrame): DataFrame =
    graft.Checkpoint.of(e.select(col("vec_id"),
      graft.sim.Hyperplanes.buckets(eplanes, col("v")).as("bs")))

  private val embeddingLsh = Q(
    "dedup_embedding_lsh",
    (s, dir) =>
      // same output budget as the exact twin (shared capped oracle). A
      // bank recall miss ranked BELOW the cap at both endpoints would
      // pass this gate undetected — full recall is therefore gated
      // separately and uncapped by dedup_embedding_lsh_recall below.
      capPairs(lshVerifiedPairs(Tables.vectors(s, dir)),
        "cosine", asc = false, PAIR_CAP)
        .orderBy("a_id", "b_id"),
    Some(sqlCosPairsCapped))

  /** UNCAPPED recall honesty card for the LSH bank: exact τ-pairs the
    * verified LSH set is missing must be ZERO (measured: every true
    * pair collides in ≥3 of 64 tables on these corpora). The capped
    * gate above can hide a miss ranked below [[PAIR_CAP]] at both
    * endpoints; this card cannot — the oracle STATES the zero-miss
    * contract, so any bank miss fails the hash gate loudly (the
    * mm_embed_recall honesty-card pattern).
    *
    * PROBE-BOUNDED above gate scale (r16 directive: the card ran the
    * full O(n²) grid every bench rep — exponent 1.92, 317 s at sf1, ~1h
    * at sf3): the zero-miss contract is checked over every exact pair
    * INCIDENT to the [[graft.EvalProbe]] probe set — the whole corpus
    * at every gate sf ([[graft.EvalProbe.CAP]] ≥ 500, so gated values
    * are byte-identical to the uncapped form), a fixed 2048-id probe at
    * bench-only sfs, making the card O(CAP·n). A pair's candidacy in
    * the bank depends only on its own two signatures, so probe-incident
    * zero-miss tests exactly the same per-pair bank property as the
    * global grid. `n_eval` reports the probe size, so the scope is in
    * the gated output, never silent.
    */
  /** The O(CAP·n) probe-bounded tier of the recall card, for corpora
    * past [[graft.EvalProbe.CAP]]: every exact pair INCIDENT to the
    * probe set, vs the LSH bank's verification of the same pairs.
    */
  private[graft] def lshRecallProbePath(e: DataFrame): DataFrame = {
      val probe = graft.EvalProbe.probeIds(e, "vec_id")
      // exact probe-incident τ-pairs: broadcast probe vectors against
      // ONE corpus scan (the knn_bruteforce shape — map-side only, no
      // shuffle), dedup the both-endpoints-in-probe double emission
      val pv = e.join(probe, "vec_id")
        .select(col("vec_id").as("p_id"), col("v").as("pv"))
      val cosE = graft.functions.CosineSim.cosineSim(col("pv"), col("v"))
      val exact = graft.Checkpoint.of(
        e.crossJoin(broadcast(pv))
          .filter(col("p_id") =!= col("vec_id")
            && cosE >= lit(COS_TAU - 5e-7))
          .select(least(col("p_id"), col("vec_id")).as("a_id"),
            greatest(col("p_id"), col("vec_id")).as("b_id"))
          .distinct())
      exact.agg(count(lit(1)).cast("long").as("n_exact"))
        .crossJoin(lshFoundCount(lshSigs(e), exact))
        .crossJoin(probe.agg(count(lit(1)).cast("long").as("n_eval")))
        .select(col("n_exact"), col("n_found"),
          (col("n_exact") - col("n_found")).as("n_missed"), col("n_eval"))
  }

  /** The n ≤ CAP (full-grid) branch of the recall card — separate so
    * EvalProbeSpec can pin branch agreement at the CAP boundary.
    */
  private[graft] def lshRecallFastPath(e: DataFrame, n: Long): DataFrame = {
        // probe == corpus (every gate sf AND the bench sf land here):
        // the probe restriction is the identity, but the probe-shaped
        // exact grid pays ~2× the work — probe×corpus cosines instead
        // of the blocked half-grid. Run the r16 half-grid exact form;
        // the output is identical by construction (probe-incident set
        // with probe = all ids IS the full set). Both branches test
        // bank membership per-pair via lshFoundCount (r18) — no bucket
        // self-join in the card on either side of the CAP;
        // EvalProbeSpec pins branch agreement across the boundary.
        val exact = graft.Checkpoint.of(
          blockedCosinePairs(e, COS_TAU).select(col("a_id"), col("b_id")))
        exact.agg(count(lit(1)).cast("long").as("n_exact"))
          .crossJoin(lshFoundCount(lshSigs(e), exact))
          .select(col("n_exact"), col("n_found"),
            (col("n_exact") - col("n_found")).as("n_missed"),
            lit(n).cast("long").as("n_eval"))
  }

  private val embeddingLshRecall = Q(
    "dedup_embedding_lsh_recall",
    (s, dir) => {
      // checkpointed: consumed by the probe build, the exact side and
      // the LSH side (3 consumers of the scan lineage)
      val e = graft.Checkpoint.of(Tables.vectors(s, dir))
      val n = e.count()
      if (n <= graft.EvalProbe.CAP) lshRecallFastPath(e, n)
      else lshRecallProbePath(e)
    },
    Some(s"""WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    pr AS MATERIALIZED (${graft.EvalProbe.sqlProbeIds("e", "vec_id")}),
    sep AS MATERIALIZED (
      SELECT DISTINCT LEAST(p.vec_id, x.vec_id) AS a_id,
        GREATEST(p.vec_id, x.vec_id) AS b_id
      FROM e p JOIN pr USING (vec_id) CROSS JOIN e x
      WHERE p.vec_id <> x.vec_id
        AND list_cosine_similarity(p.v, x.v) >= ($COS_TAU - 5e-7))
    SELECT COUNT(*)::BIGINT AS n_exact, COUNT(*)::BIGINT AS n_found,
      0::BIGINT AS n_missed,
      (SELECT COUNT(*) FROM pr)::BIGINT AS n_eval
    FROM sep"""))

  // ------------------------------------------------------- dedup_clusters
  /** The largest edge frame [[connectedComponents]] solves on the driver,
    * in input rows. 2^20 rows ship as 16 MB of packed (u, v) longs and
    * yield at most 2^21 node rows — a fixed size, whatever the corpus.
    * Near-dup pair graphs sit far below it (hundreds of pairs per 3k
    * docs, ~2k phash pairs at sf1), while the distributed loop spends
    * ≥ 2 jobs per round on graphs of any size.
    */
  private[graft] val DRIVER_CC_ROWS = 1L << 20

  /** Connected components over an undirected edge set: (id, label) for
    * every node that appears in an edge, label = the min id of the
    * node's component. Isolated nodes are the caller's coalesce.
    *
    * `edges`: (u, v) pairs in any orientation; duplicate and reversed
    * rows and self-loops are harmless. A null endpoint joins nothing:
    * its partner is still a node, and null ids report one (null, null)
    * row. `maxIter` caps only the distributed loop's rounds.
    *
    * The edges are materialized ONCE, and counted in the same job
    * ([[graft.Checkpoint.ofCounted]]); edges that are already a small
    * local frame (a driver path's pair answer) run neither job. Then:
    *
    *   - at most [[DRIVER_CC_ROWS]] rows of LongType ids: ONE more job
    *     collects them packed as longs (none for a local frame, whose
    *     rows are read where they are), and an exact union-find runs on
    *     the driver. It always unions into the smaller root, so every
    *     root is its component's min id. The answer is a local frame
    *     (LocalRelation). Driver-resident state is legal only when it is
    *     bounded, never corpus-sized: the bound caps it at 16 MB of edges
    *     and 2^21 node rows.
    *   - above the bound, or with non-long ids (an IntegerType frame
    *     always takes the loop, which keeps its id type): the distributed
    *     loop below, over the edges already materialized — the edge
    *     lineage never runs twice.
    *
    * Both paths return the same rows with the same schema (id and
    * label of the widened u/v type, nullable iff u or v is); DedupSpec
    * pins it on random, chain, star and degenerate graphs.
    *
    * The loop is iterative min-label propagation — the DataFrame
    * re-expression of GraphX's Pregel `connectedComponents` (each round
    * every node takes the min of its own label and its neighbors'
    * labels; labels only decrease, so the fixpoint assigns every node the
    * min id of its component). One round = one equi-join + one
    * map-side-combined min aggregate, both shuffling THIN (id, label)
    * longs on the id key — a 1000-executor cluster reuses the same hash
    * partitioning every round. Pointer doubling makes it O(log d)
    * rounds for component diameter d; for adversarially chained graphs
    * swap in the alternating-star algorithm (Kiveris et al., MRC'14),
    * same join shape. Labels are checkpointed per round (lineage would
    * otherwise grow by one join per iteration), and convergence is
    * probed in the same job (labels strictly decrease, so one surviving
    * row ⇒ not converged).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponents(edges, maxIter, DRIVER_CC_ROWS)

  /** `driverRows` is DedupSpec's seam for forcing either path. */
  private[graft] def connectedComponents(edges: DataFrame, maxIter: Int,
      driverRows: Long): DataFrame = {
    val (cp, n) =
      graft.Checkpoint.ofCounted(edges.select(col("u"), col("v")))
    if (n <= driverRows && cp.schema.forall(_.dataType == LongType))
      componentsOnDriver(cp)
    else componentsLoop(cp, maxIter)
  }

  /** The loop's fixpoint for a materialized long (u, v) frame, on the
    * driver; see [[connectedComponents]].
    */
  private def componentsOnDriver(cp: DataFrame): DataFrame = {
    // a local frame's rows are read where they are; otherwise one job
    // packs each partition
    val parts = graft.Checkpoint.local(cp).fold(
      cp.queryExecution.toRdd.mapPartitions(rows =>
        Iterator.single(packEdges(rows))).collect())(
      l => Array(packEdges(l.data.iterator)))
    val uv = parts.flatMap(_._1)
    // node ids sorted and unique: a smaller index IS a smaller id
    val ids = uv.clone()
    java.util.Arrays.sort(ids)
    var m = 0
    ids.foreach { x => if (m == 0 || ids(m - 1) != x) { ids(m) = x; m += 1 } }
    val node = java.util.Arrays.copyOf(ids, m)
    val parent = Array.range(0, m)
    def root(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var k = 0
    while (k < uv.length) {
      val a = root(java.util.Arrays.binarySearch(node, uv(k)))
      val b = root(java.util.Arrays.binarySearch(node, uv(k + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 2
    }
    val out = new java.util.ArrayList[Row](m + 1)
    if (parts.exists(_._2)) out.add(Row(null, null))
    (0 until m).foreach(i => out.add(Row(node(i), node(root(i)))))
    val nullable = cp.schema.exists(_.nullable)
    cp.sparkSession.createDataFrame(out, StructType(Seq("id", "label")
      .map(StructField(_, LongType, nullable))))
  }

  /** Edge rows as flat (u, v) longs: a null endpoint turns the edge into
    * its partner's self-loop, and the flag asks for the loop's one (null,
    * null) row.
    */
  private def packEdges(rows: Iterator[InternalRow]): (Array[Long], Boolean) = {
    val uv = Array.newBuilder[Long]
    var sawNull = false
    rows.foreach { r =>
      val (nu, nv) = (r.isNullAt(0), r.isNullAt(1))
      sawNull ||= nu || nv
      if (!nu || !nv) {
        val u = if (nu) r.getLong(1) else r.getLong(0)
        uv += u
        uv += (if (nv) u else r.getLong(1))
      }
    }
    (uv.result(), sawNull)
  }

  /** The distributed loop of [[connectedComponents]], over a
    * materialized (u, v) frame.
    */
  private def componentsLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    val sym = edges
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .transform(graft.Checkpoint.of)
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(graft.Checkpoint.of)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u").as("id")).agg(min("label").as("nmin"))
      // NOT checkpointed: prop is a join+agg of two already-materialized
      // thin frames; it has THREE plan consumers below (the compression
      // join's 'a' side plus lut1 and lut2), so the labels-join-nbrMin
      // lineage evaluates three times per round — still cheaper than a
      // localCheckpoint action per round (measured ON THIS three-consumer
      // loop shape: one checkpoint+probe round ≈ 0.5 s vs 0.3 s at
      // sf0.1, and the loop runs O(log d) rounds). `old` rides along so
      // convergence is a scan of the ROUND's own checkpoint, not a
      // second join.
      val prop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"),
          col("label").as("old"))
      // pointer-doubling (path compression): label ← min(label,
      // label(label)). Plain neighbor-min propagation needs O(diameter)
      // rounds — a 5k-node kNN giant component ran the loop into maxIter
      // (graph_components was the slowest query in the suite at 13.5 s);
      // the extra self-join halves the propagation distance each round,
      // O(log d) rounds total. The fixpoint is unchanged: labels only
      // ever take node-id values from the same component and only
      // decrease, so the stable point is still the component minimum —
      // the six oracle-gated CC consumers re-prove it. ONE
      // materialization per round: this checkpoint.
      val lut1 = prop.select(col("id").as("pid"), col("label").as("plabel"))
      val lut2 = prop.select(col("id").as("qid"), col("label").as("qlabel"))
      val plan = prop.as("a")
        .join(lut1, col("a.label") === col("pid"), "left")
        .withColumn("l1",
          least(col("a.label"), coalesce(col("plabel"), col("a.label"))))
        // second hop along the SAME round's mapping: two chain steps per
        // checkpoint, one extra join in the plan instead of an extra
        // round (rounds are the cost — each is a full job). A THIRD
        // hop was measured (r9, kNN giant component at sf0.1): round
        // count stays 6 — past two hops the loop is bounded by graph
        // distance through nbrMin, not by label-chain length, so more
        // hops only add join cost.
        .join(lut2, col("l1") === col("qid"), "left")
        .select(col("a.id").as("id"),
          least(col("l1"), coalesce(col("qlabel"), col("l1"))).as("label"),
          col("a.old").as("old"))
      // labels strictly decrease, so one surviving row ⇒ not converged.
      // Materialization and the convergence probe share ONE job
      // (Checkpoint.ofCounted): the probe's scan is the action that
      // fills the round's checkpoint — halving the per-round action
      // count that floors this loop's cost.
      val (next, changed) =
        graft.Checkpoint.ofCounted(plan, col("label") < col("old"))
      labels = next.select(col("id"), col("label"))
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** Near-dup CLUSTER roll-up — what a dedup pipeline actually consumes
    * (keep one doc per cluster), not the raw pair list: connected
    * components over the verified MinHash-LSH pairs, cluster id = min
    * doc_id of the component, singletons cluster to themselves. The
    * oracle computes the transitive closure of the ground-truth exact
    * jaccard pairs with a recursive CTE — a green row proves BOTH the
    * LSH pair recall and the component fixpoint.
    */
  private val clusters = Q(
    "dedup_clusters",
    (s, dir) => {
      val pairs = minhashPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val labels = connectedComponents(pairs)
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(labels.select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sqlShingleCte,
    p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a, s b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= $TAU),
    e AS (SELECT a_id AS u, b_id AS v FROM p
      UNION SELECT b_id, a_id FROM p),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
    cmin AS (SELECT u AS doc_id, MIN(v) AS m FROM reach GROUP BY u)
    SELECT d2.doc_id AS doc_id,
      COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) AS cluster_id,
      COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) <> d2.doc_id AS is_dup
    FROM documents d2 LEFT JOIN cmin c ON d2.doc_id = c.doc_id
    ORDER BY d2.doc_id"""))

  // -------------------------------------------------------- dedup_cross
  /** Incremental / CROSS-corpus dedup — check a NEW slice against an
    * existing BASE corpus (the production shape: every incoming crawl
    * slice is deduped against everything already ingested, never
    * re-pairing base against itself): MinHash band buckets from the ONE
    * shared signature pipeline, candidates = bucket collisions joined
    * ACROSS the two sides only (no base×base, no new×new), exact
    * jaccard verifies. Every new doc reports whether a base near-dup
    * exists and the smallest matching base doc_id.
    *
    * Scale: the base bucket table is what a production pipeline keeps
    * MATERIALIZED and appends to per slice (the streaming twin is
    * `minhashDedupSink`'s state dir); the cross join's volume is
    * candidate-mass-proportional exactly like dedup_minhash_lsh, and
    * the new slice — typically ≪ base — is the natural broadcast side
    * when small enough. The oracle is the ground-truth exact-jaccard
    * cross-pair set, so a green row proves full cross-corpus recall.
    */
  private[dedup] val NEW_SOURCES = Seq("src0", "src1")

  private val cross = Q(
    "dedup_cross",
    (s, dir) => {
      val isNew = col("source").isin(NEW_SOURCES: _*)
      val src = Tables(s, dir, "documents").select(col("doc_id"),
        isNew.as("is_new"))
      val ds = docShingles(s, dir)
      val b = bandBucketsFromShingles(ds).join(src, "doc_id")
      val cand = b.filter(col("is_new")).as("x")
        .join(b.filter(!col("is_new")).as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val matched = verifyJaccard(cand, ds, TAU)
        .groupBy(col("a_id").as("doc_id")).agg(min("b_id").as("dup_of"))
      src.filter(col("is_new")).select("doc_id")
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
          col("dup_of"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $sqlShingleCte,
    lab AS (SELECT s.doc_id, sh,
        source IN (${NEW_SOURCES.map(x => s"'$x'").mkString(",")}) AS isnew
      FROM s JOIN documents USING (doc_id)),
    p AS (SELECT n.doc_id AS new_id, b.doc_id AS base_id
      FROM lab n, lab b WHERE n.isnew AND NOT b.isnew
        AND len(list_intersect(n.sh, b.sh)) * 1.0 /
          (len(n.sh) + len(b.sh) - len(list_intersect(n.sh, b.sh)))
          >= $TAU),
    m AS (SELECT new_id AS doc_id, MIN(base_id) AS dup_of FROM p
      GROUP BY new_id)
    SELECT d.doc_id, m.dup_of IS NOT NULL AS is_dup, m.dup_of
    FROM documents d LEFT JOIN m USING (doc_id)
    WHERE d.source IN (${NEW_SOURCES.map(x => s"'$x'").mkString(",")})
    ORDER BY doc_id"""))

  // ---------------------------------------------------- dedup_substring
  /** Exact duplicated-SUBSTRING detection (Lee et al. 2022, arXiv:
    * 2107.06499 — "Deduplicating Training Data Makes Language Models
    * Better" removes repeated ≥50-token runs rather than whole near-dup
    * docs): per document, every maximal token run of length ≥ SUB_L
    * whose text occurs at least twice in the corpus (across documents
    * or within one).
    *
    * The paper builds one suffix array — a single-node privilege. The
    * distributed shape uses positional L-gram postings: a duplicated
    * run of length m ≥ L is EXACTLY a run of m−L+1 consecutive
    * duplicated L-grams, so (1) `posexplode` the non-distinct
    * [[graft.functions.WordShingles]] kernel (map-side, codegen'd), (2)
    * one count aggregate over md5-hashed 8-byte gram keys — never the
    * ~60 B gram strings — finds grams with total multiplicity ≥ 2
    * (the grams→count and grams→join sides shuffle on the same key, so
    * the planner reuses ONE exchange), (3) surviving thin (doc_id, pos)
    * positions merge into maximal spans with a gaps-and-islands window
    * PER DOC (bounded by doc length, never corpus-wide). Overlapping or
    * adjacent spans coalesce, so `dup_tokens` is the exact size of the
    * duplicated-position union.
    */
  private val SUB_L = 6

  /** Position slot of the substringScrub packed argmin key (2^20 token
    * positions — doc_id gets the remaining 43 bits).
    */
  private val POS_STRIDE = 1L << 20

  /** Maximal duplicated-run spans per doc: (doc_id, dup_spans,
    * dup_tokens) for docs that have any; `docs` needs (doc_id, text).
    */
  def substringSpans(docs: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gramArr = org.apache.spark.sql.graft.Shim.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Shim.expression(col("text")), l,
        distinct = false))
    // the thin positional posting table (3 longs/row) is consumed twice
    // (multiplicity count + position join); checkpointing evaluates
    // scan→kernel→explode→md5 ONCE instead of once per consumer
    val grams = docs
      .select(col("doc_id"), posexplode(gramArr).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long")
          .as("gh"))
      .transform(graft.Checkpoint.of)
    val hot = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("gh")
    val dup = grams.join(hot, "gh").select("doc_id", "pos")
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk", when(col("pos") >
          coalesce(max(col("pos") + lit(l - 1)).over(wPrev), lit(-1L))
            + 1, lit(1L))
        .otherwise(lit(0L)))
      .withColumn("island", sum("brk").over(wRun))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), (max(col("pos")) + lit(l - 1)).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
  }

  /** One positional L-gram as a DuckDB concat over the token list. */
  private def sqlGramExpr(l: Int): String =
    (0 until l).map(j => if (j == 0) "w[i]" else s"w[i+$j]")
      .mkString(" || ' ' || ")

  private val substringDedup = Q(
    "dedup_substring",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(substringSpans(docs.select("doc_id", "text"), SUB_L),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    grams AS (
      SELECT doc_id, u.s.p AS pos,
        ('0x' || substr(md5(u.s.g), 1, 15))::BIGINT AS gh
      FROM toks, UNNEST([struct_pack(p := i, g := ${sqlGramExpr(SUB_L)})
        for i in range(1, greatest(len(w) - ${SUB_L - 2}, 1))]) u(s)),
    hot AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
    dup AS (SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (gh)),
    isl AS (
      SELECT doc_id, pos,
        CASE WHEN pos > COALESCE(MAX(pos + ${SUB_L - 1}) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
          THEN 1 ELSE 0 END AS brk
      FROM dup),
    isl2 AS (SELECT doc_id, pos,
        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl),
    spans AS (SELECT doc_id, island, MIN(pos) AS s,
        MAX(pos) + ${SUB_L - 1} AS e
      FROM isl2 GROUP BY 1, 2),
    agg AS (SELECT doc_id, COUNT(*) AS dup_spans,
        SUM(e - s + 1)::BIGINT AS dup_tokens
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
      len(list_filter(string_split(text,' '), t -> t <> ''))::BIGINT
        AS n_tokens,
      COALESCE(a.dup_spans, 0) AS dup_spans,
      COALESCE(a.dup_tokens, 0) AS dup_tokens
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id"""))

  // ----------------------------------------------- dedup_substring_apply
  /** The APPLY half of [[substringDedup]] — Lee et al. 2022's output
    * stage: emit the SCRUBBED corpus with duplicated ≥L-token runs
    * removed, keeping the GLOBAL FIRST occurrence of each duplicated
    * gram (min (doc_id, pos) across the corpus — deterministic, and at
    * least one copy of every duplicated run survives in the earliest
    * document that carries it).
    *
    * Shape: the positional-L-gram posting table of the detect stage
    * (checkpointed — consumed by the multiplicity aggregate AND the
    * position join), one hash aggregate per gram carrying BOTH the
    * multiplicity and the argmin occurrence as a packed
    * `doc_id·2³² + pos` key (partial-aggregatable min — no
    * exchange+sort+window, the per-group-argmax rule; doc_id < 2³¹ is
    * the packing bound), then every NON-first duplicated occurrence
    * explodes its covered positions [pos, pos+L−1] and one LEFT ANTI
    * join drops them from the positional token stream. Rebuild is one
    * per-doc sort of the kept (pos, token) pairs — bounded by doc
    * length, never corpus-wide. Scrubbed TEXT hash-gates against
    * DuckDB's mirror string surgery (the text_pii_scrub precedent).
    */
  /** Scrubbed corpus for a `(doc_id, text)` frame — see the
    * dedup_substring_apply docstring for shape and keep rule.
    */
  def substringScrub(docs: DataFrame, l: Int): DataFrame = {
    val gramArr = org.apache.spark.sql.graft.Shim.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Shim.expression(col("text")), l,
        distinct = false))
    // the doc_id·2²⁰+pos argmin key packs (doc_id, token pos) into one
    // long: doc_id ∈ [0, 2⁴³), pos < 2²⁰ (a 1M-TOKEN doc — chunk
    // longer inputs). The original split burned 32 bits on position
    // that KB-scale docs never use and capped doc_id at 2³¹, which the
    // sf1 stress corpus's replica-strided ids exceeded. Both bounds
    // are enforced per row (the frameSample mediaId-range precedent):
    // past them Spark silently WRAPS the multiply (wrong
    // first-occurrence keep) while DuckDB raises on BIGINT overflow,
    // so the engines would diverge instead of failing fast
    val guarded = when(
      col("doc_id") < 0 || col("doc_id") >= lit(1L << 43),
      raise_error(concat(lit("substringScrub: doc_id "),
        col("doc_id").cast("string"),
        lit(" outside [0, 2^43) — the packed argmin key would overflow"))))
      .otherwise(col("doc_id"))
    val posGuarded = when(col("pos") >= lit(POS_STRIDE),
      raise_error(concat(lit("substringScrub: token position "),
        col("pos").cast("string"),
        lit(s" >= $POS_STRIDE — chunk docs past 2^20 tokens"))))
      .otherwise(col("pos"))
    val key = guarded * lit(POS_STRIDE) + posGuarded
    val grams = docs
      .select(col("doc_id"), posexplode(gramArr).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long")
          .as("gh"))
      .transform(graft.Checkpoint.of)
    val ag = grams.groupBy("gh")
      .agg(count(lit(1)).as("cnt"), min(key).as("first_key"))
      .filter(col("cnt") >= 2)
    val cover = grams.join(ag, "gh")
      .filter(key =!= col("first_key"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(l - 1))).as("pos"))
    val toksPos = docs
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("tok"))
    val scrub = toksPos
      .join(cover, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("scrubbed_text"))
    docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(scrub, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
      .orderBy("doc_id")
  }

  private val substringApply = Q(
    "dedup_substring_apply",
    (s, dir) =>
      substringScrub(Tables(s, dir, "documents").select("doc_id", "text"),
        SUB_L),
    Some(s"""WITH toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    grams AS MATERIALIZED (
      SELECT doc_id, u.s.p AS pos,
        ('0x' || substr(md5(u.s.g), 1, 15))::BIGINT AS gh
      FROM toks, UNNEST([struct_pack(p := i, g := ${sqlGramExpr(SUB_L)})
        for i in range(1, greatest(len(w) - ${SUB_L - 2}, 1))]) u(s)),
    ag AS (
      SELECT gh, COUNT(*) AS cnt,
        MIN(doc_id * $POS_STRIDE + pos) AS first_key
      FROM grams GROUP BY gh),
    cover AS (
      SELECT g.doc_id, g.pos + unnest(range(0, ${SUB_L})) AS pos
      FROM grams g JOIN ag USING (gh)
      WHERE ag.cnt >= 2
        AND g.doc_id * $POS_STRIDE + g.pos <> ag.first_key),
    tok2 AS (
      SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, w
      FROM toks),
    kept AS (
      SELECT t.doc_id, t.pos, t.w[t.pos] AS tok
      FROM tok2 t
      WHERE NOT EXISTS (SELECT 1 FROM cover c
        WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
    sc AS (
      SELECT doc_id, COUNT(*)::BIGINT AS kept_tokens,
        string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text
      FROM kept GROUP BY doc_id),
    -- mirror of the Spark-side pos guard: without it a small-doc_id
    -- document whose GRAM positions pass 2^20 would make Spark raise
    -- while DuckDB silently computed a wrong first_key (fail-fast
    -- asymmetry) — both engines must fail on the SAME corpus. Spark
    -- guards the gram position (max = len(w) - L + 1), so the mirror
    -- is len(w) - (L-1) >= stride, NOT len(w) >= stride (that raw
    -- token-count form erred L-1 docs early, tripping DuckDB alone on
    -- len(w) in [2^20, 2^20 + L - 2])
    posguard AS (
      SELECT CASE WHEN MAX(len(w)) - ${SUB_L - 1} >= $POS_STRIDE
        THEN error('substringScrub: token position >= $POS_STRIDE — chunk docs past 2^20 tokens')::BIGINT
        ELSE 1 END AS ok FROM toks)
    SELECT d.doc_id,
      len(list_filter(string_split(d.text,' '), t -> t <> ''))::BIGINT
        AS n_tokens,
      COALESCE(sc.kept_tokens, 0)::BIGINT AS kept_tokens,
      COALESCE(sc.scrubbed_text, '') AS scrubbed_text
    FROM documents d LEFT JOIN sc USING (doc_id)
    WHERE (SELECT ok FROM posguard) = 1
    ORDER BY d.doc_id"""))

  // ------------------------------------------------------ dedup_cross_bloom
  /** EXACT cross-corpus dedup with a Bloom prefilter — the content-hash
    * twin of [[cross]] (which is near-dup): is each incoming doc's
    * normalized fingerprint already in the ingested base? The naive
    * plan shuffles the whole slice against the base fingerprint table;
    * at 100 TB the production shape is (1) fold the base fingerprints
    * into ONE compact Bloom filter (Spark's native partial-aggregatable
    * `bloom_filter_agg`, here ~2M bits — a few hundred KB broadcast as
    * a scalar subquery), (2) drop every non-hit map-side
    * (`might_contain`, zero shuffle), (3) exact-verify ONLY the hits
    * with the semi-join — the probe side collapses from |slice| to
    * |true dups| + ε·|slice|. Bloom filters have NO false negatives,
    * so the verified output is BIT-EQUAL to the no-bloom exact join —
    * which is exactly what the oracle states (the probabilistic
    * structure never reaches the output, so the row hash-gates
    * despite the sketch in the plan; the approx_* sketches can't make
    * that claim, this operator can).
    */
  private val crossBloom = Q(
    "dedup_cross_bloom",
    (s, dir) => {
      import org.apache.spark.sql.graft.Shim
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
      def xx(c: Column) = new XxHash64(Seq(Shim.expression(c)))
      val isNew = col("source").isin(NEW_SOURCES: _*)
      val f = Tables(s, dir, "documents")
        .select(col("doc_id"), isNew.as("is_new"),
          TextOps.normalizedMd5(col("text")).as("fp"))
      val base = f.filter(!col("is_new"))
      val neu = f.filter(col("is_new"))
      val bf = base.agg(Shim.column(BloomFilterAggregate(xx(col("fp")),
        Literal(100000L), Literal(1600000L), 0, 0)
        .toAggregateExpression()).as("bf"))
      val hits = neu
        .filter(Shim.column(BloomFilterMightContain(
          Shim.expression(bf.scalar()), xx(col("fp")))))
      val matched = hits
        .join(base.select(col("fp"), col("doc_id").as("dup_of")), Seq("fp"))
        .groupBy("doc_id").agg(min("dup_of").as("dup_of"))
      neu.select("doc_id")
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
          col("dup_of"))
        .orderBy("doc_id")
    },
    Some(s"""WITH f AS (
      SELECT doc_id,
        source IN (${NEW_SOURCES.map(x => s"'$x'").mkString(",")}) AS isnew,
        md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
      FROM documents),
    m AS (
      SELECT n.doc_id, MIN(b.doc_id) AS dup_of
      FROM f n JOIN f b ON n.fp = b.fp AND n.isnew AND NOT b.isnew
      GROUP BY n.doc_id)
    SELECT f.doc_id, m.dup_of IS NOT NULL AS is_dup, m.dup_of
    FROM f LEFT JOIN m USING (doc_id)
    WHERE isnew ORDER BY doc_id"""))

  // -------------------------------------------------------------- dedup_url
  /** URL/host dedup — the stage every crawl pipeline (RefinedWeb, CCNet,
    * Dolma) runs BEFORE content dedup: canonicalize each document's URL
    * and collapse exact canonical matches, keeping the min doc_id. At
    * 100 TB this is the cheapest dedup pass by far — a map-only
    * [[graft.functions.CanonicalUrl]] codegen kernel (case-folded
    * scheme/host, `www.` and default-port stripping, trailing-slash
    * removal, fragment drop, query-param sort — step contract on
    * [[graft.functions.TextKernels.canonicalUrl]]) followed by ONE
    * hash-agg exchange on the canonical string; no joins, no pair space.
    *
    * The synthetic corpus has no URL column, so the query derives one
    * deterministically from doc_id — identically in both engines —
    * shaped so canonicalization is EXERCISED, not bypassed:
    * each group of 4 consecutive doc_ids shares a target in 4 spellings
    * (plain; upper-cased scheme+host with a trailing slash; `www.` +
    * `:443` + reversed query order; fragment + sorted query), which must
    * collapse to exactly 2 canonical groups of 2 (with/without query).
    * The oracle re-implements every canonicalization step in DuckDB
    * string functions, so the canonical STRINGS hash-gate, not just the
    * group counts.
    */
  private val urlDedup = Q(
    "dedup_url",
    (s, dir) => {
      import org.apache.spark.sql.graft.Shim
      val pid = expr("doc_id DIV 4").cast("string")
      val srv = (expr("doc_id DIV 4") % 10).cast("string")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("https://cdn"), srv,
            lit(".example.com/data/item"), pid))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://CDN"), srv,
            lit(".Example.COM/data/item"), pid, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://www.cdn"), srv,
            lit(".example.com:443/data/item"), pid, lit("?b=2&a=1")))
        .otherwise(
          concat(lit("https://cdn"), srv,
            lit(".example.com/data/item"), pid, lit("?a=1&b=2#frag")))
      Tables(s, dir, "documents")
        .select(col("doc_id"), Shim.column(graft.functions.CanonicalUrl(
          Shim.expression(url))).as("url"))
        .groupBy("url")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("url")
    },
    Some("""WITH urls AS (
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://cdn' || ((doc_id // 4) % 10)::VARCHAR
            || '.example.com/data/item' || (doc_id // 4)::VARCHAR
          WHEN 1 THEN 'HTTPS://CDN' || ((doc_id // 4) % 10)::VARCHAR
            || '.Example.COM/data/item' || (doc_id // 4)::VARCHAR || '/'
          WHEN 2 THEN 'https://www.cdn' || ((doc_id // 4) % 10)::VARCHAR
            || '.example.com:443/data/item' || (doc_id // 4)::VARCHAR
            || '?b=2&a=1'
          ELSE 'https://cdn' || ((doc_id // 4) % 10)::VARCHAR
            || '.example.com/data/item' || (doc_id // 4)::VARCHAR
            || '?a=1&b=2#frag'
        END AS url
      FROM documents),
    nofrag AS (
      SELECT doc_id,
        CASE WHEN strpos(url, '#') > 0
          THEN substr(url, 1, strpos(url, '#') - 1) ELSE url END AS u
      FROM urls),
    parts AS (
      SELECT doc_id,
        lower(substr(u, 1, strpos(u, '://') - 1)) AS scheme,
        substr(u, strpos(u, '://') + 3) AS rest
      FROM nofrag WHERE strpos(u, '://') > 0),
    auth0 AS (
      SELECT doc_id, scheme, rest,
        lower(regexp_extract(rest, '^[^/?]*')) AS a0
      FROM parts),
    auth1 AS (
      SELECT doc_id, scheme,
        substr(rest, length(a0) + 1) AS tail,
        CASE WHEN a0 LIKE 'www.%' THEN substr(a0, 5) ELSE a0 END AS a1
      FROM auth0),
    auth AS (
      SELECT doc_id, scheme, tail,
        CASE WHEN scheme = 'http' AND a1 LIKE '%:80'
               THEN substr(a1, 1, length(a1) - 3)
             WHEN scheme = 'https' AND a1 LIKE '%:443'
               THEN substr(a1, 1, length(a1) - 4)
             ELSE a1 END AS host
      FROM auth1),
    pq AS (
      SELECT doc_id, scheme, host,
        CASE WHEN strpos(tail, '?') > 0
          THEN substr(tail, 1, strpos(tail, '?') - 1) ELSE tail END AS p0,
        CASE WHEN strpos(tail, '?') > 0
          THEN substr(tail, strpos(tail, '?') + 1) ELSE '' END AS q0
      FROM auth),
    canon AS (
      SELECT doc_id,
        scheme || '://' || host || regexp_replace(p0, '/+$', '')
          || CASE WHEN q0 = '' THEN '' ELSE '?' ||
               array_to_string(list_sort(string_split(q0, '&')), '&') END
          AS url
      FROM pq)
    SELECT url, MIN(doc_id)::BIGINT AS keep_id, COUNT(*)::BIGINT AS n_docs
    FROM canon GROUP BY url ORDER BY url"""))

  // ----------------------------------------------------- sample_split_dedup
  /** DEDUP-AWARE train/val/test split — the leakage guard every serious
    * pipeline needs after near-dedup (Lee et al. 2022 §6: near-dups
    * straddling train/test inflate eval): whole near-dup CLUSTERS are
    * assigned atomically, so two documents that are ≥τ-similar can
    * never land in different splits. Cluster = the dedup_clusters
    * connected component (same verified MinHash-LSH pairs + min-label
    * propagation); the split label is the content-hash split of the
    * cluster REPRESENTATIVE's text (component-min doc), reusing
    * sample_split's 80/10/10 thresholds — singletons degenerate to
    * exactly sample_split's assignment.
    *
    * Scale: everything up to labels is the dedup_clusters machinery
    * (thin frames, per-round checkpoint); the representative's label
    * comes from ONE equi-join of the (doc_id, cluster_id) frame against
    * the corpus keyed by doc-as-representative — both sides shuffle on
    * the cluster key once. The oracle recomputes the full recursive
    * transitive closure + the same md5 thresholds, so a green row
    * proves the component fixpoint AND the atomic assignment.
    */
  private val splitDedup = Q(
    "sample_split_dedup",
    (s, dir) => {
      val pairs = minhashPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val labels = connectedComponents(pairs)
      val withCluster = Tables(s, dir, "documents").select(col("doc_id"))
        .join(labels.select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
      val reps = Tables(s, dir, "documents")
        .select(col("doc_id").as("cluster_id"),
          graft.text.Sampling.splitLabel(col("text")).as("split"))
      withCluster.join(reps, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sqlShingleCte,
    p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a, s b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= $TAU),
    e AS (SELECT a_id AS u, b_id AS v FROM p
      UNION SELECT b_id, a_id FROM p),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
    cmin AS (SELECT u AS doc_id, MIN(v) AS m FROM reach GROUP BY u),
    cl AS (SELECT d2.doc_id,
        COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) AS cluster_id
      FROM documents d2 LEFT JOIN cmin c ON d2.doc_id = c.doc_id),
    rep AS (SELECT doc_id AS cluster_id,
        CASE
          WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 4))::INT < 52429
            THEN 'train'
          WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 4))::INT < 58982
            THEN 'val'
          ELSE 'test'
        END AS split
      FROM documents)
    SELECT cl.doc_id, cl.cluster_id, rep.split
    FROM cl JOIN rep USING (cluster_id)
    ORDER BY cl.doc_id"""))

  // --------------------------------------------------------- dedup_recall
  /** Dedup EVALUATION as a first-class operator — the dedup twin of
    * knn_recall: precision/recall of the SimHash banded-hamming detector
    * against the exact-Jaccard ≥ τ ground truth (the pair set
    * dedup_ngram_jaccard computes). SimHash's hamming threshold is a
    * different similarity than Jaccard, so neither metric is 1 by
    * construction — this is the tuning number (bands / bits / hamming
    * radius) a pipeline owner actually watches. Both pipelines are
    * deterministic, so the entire evaluation sits under the hash gate;
    * ratios are exact-integer millionths (one DIV), zero-guarded.
    *
    * Scale: the two pair pipelines keep their own (bucketed, never
    * all-pairs) shapes; the comparison adds one equi-join on the pair
    * key plus three scalar aggregates.
    */
  private val dedupRecall = Q(
    "dedup_recall",
    (s, dir) => {
      val t = ngramJaccard.fn(s, dir).select("a_id", "b_id")
      val f = simhash.fn(s, dir).select("a_id", "b_id")
      val nt = t.agg(count(lit(1)).as("n_truth"))
      val nf = f.agg(count(lit(1)).as("n_found"))
      val nc = t.join(f, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("n_correct"))
      nt.crossJoin(broadcast(nf)).crossJoin(broadcast(nc))
        .select(col("n_truth"), col("n_found"), col("n_correct"),
          when(col("n_found") === 0, lit(0L))
            .otherwise(expr("n_correct * 1000000 DIV n_found"))
            .as("precision_micro"),
          when(col("n_truth") === 0, lit(0L))
            .otherwise(expr("n_correct * 1000000 DIV n_truth"))
            .as("recall_micro"))
    },
    Some(s"""SELECT n_truth, n_found, n_correct,
      (CASE WHEN n_found = 0 THEN 0
            ELSE n_correct * 1000000 // n_found END)::BIGINT
        AS precision_micro,
      (CASE WHEN n_truth = 0 THEN 0
            ELSE n_correct * 1000000 // n_truth END)::BIGINT
        AS recall_micro
    FROM (SELECT COUNT(*)::BIGINT AS n_truth
        FROM (${ngramJaccard.oracle.get}) tq),
      (SELECT COUNT(*)::BIGINT AS n_found
        FROM (${simhash.oracle.get}) fq),
      (SELECT COUNT(*)::BIGINT AS n_correct
        FROM (${ngramJaccard.oracle.get}) t2
        JOIN (${simhash.oracle.get}) f2 USING (a_id, b_id))"""))

  // ------------------------------------------------- dedup_recall_curve
  /** Detector evaluation across a τ GRID — the dedup twin of
    * knn_recall_curve (dedup_recall reports the single τ=0.6 operating
    * point; the curve shows how precision/recall move as "duplicate"
    * tightens — the bands/bits/radius tuning table): for τ ∈ {0.6,
    * 0.75, 0.9}, the SimHash banded-hamming detector's
    * precision/recall against the exact-Jaccard ≥ τ ground truth.
    * Thresholds compare the RAW jaccard double (bit-identical IEEE
    * division of exact integer counts both engines) against the same
    * literals — never a rounded value (the round-then-compare near-tie
    * trap). τ values are carried as exact micro LONGS; deriving them
    * as `(0.6 * 1e6).toLong` would floor to 599999.
    *
    * Scale: BOTH pipelines run ONCE (checkpointed truth + found pair
    * frames — the bucketed shapes, never all-pairs); the grid is one
    * pair-key left join + ONE 1-row aggregate holding all six
    * `sum(CASE)` counters (the dq_drift fan-out pattern). The 1-row
    * aggregate is NOT checkpointed before the 3-row report fan-out
    * (r17): the three branches share the counter aggregate's exchange
    * via ReuseExchange, so the barrier only added a job — removing it
    * measured 4.3 → 3.2 s at sf0.1. A green row proves the capped
    * postings pipeline keeps exact recall down to τ=0.6 vs the
    * all-pairs oracle AND pins the detector curve.
    */
  private val RC_TAUS_M6 = Seq(600000L, 750000L, 900000L)

  private val recallCurve = Q(
    "dedup_recall_curve",
    (s, dir) => {
      val truth = graft.Checkpoint.of(
        jaccardPairs(docShingles(s, dir), TAU)
          .select(col("a_id"), col("b_id"), col("jaccard")))
      val found = graft.Checkpoint.of(
        simhash.fn(s, dir).select(col("a_id"), col("b_id")))
      val hit = found.withColumn("hit", lit(1L))
      val aggExprs = RC_TAUS_M6.zipWithIndex.flatMap { case (m6, i) =>
        val t = m6 / 1.0e6
        Seq(sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"nt$i"),
          sum(when(col("jaccard") >= t && col("hit") === 1L, 1L)
            .otherwise(0L)).as(s"nc$i"))
      }
      val agg1 = truth.join(hit, Seq("a_id", "b_id"), "left")
        .agg(aggExprs.head, aggExprs.tail: _*)
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
      RC_TAUS_M6.zipWithIndex.map { case (m6, i) =>
        agg1.select(lit(m6).as("tau_m6"),
          coalesce(col(s"nt$i"), lit(0L)).as("n_truth"),
          col("n_found"),
          coalesce(col(s"nc$i"), lit(0L)).as("n_correct"))
      }.reduce(_ unionByName _)
        .withColumn("precision_micro", when(col("n_found") === 0, 0L)
          .otherwise(expr("n_correct * 1000000 DIV n_found")))
        .withColumn("recall_micro", when(col("n_truth") === 0, 0L)
          .otherwise(expr("n_correct * 1000000 DIV n_truth")))
        .orderBy("tau_m6")
    },
    Some {
      val taus = Seq("0.6" -> 0, "0.75" -> 1, "0.9" -> 2)
      val counters = taus.map { case (t, i) =>
        s"""SUM(CASE WHEN jac >= $t THEN 1 ELSE 0 END)::BIGINT AS nt$i,
        SUM(CASE WHEN jac >= $t AND hit = 1 THEN 1 ELSE 0 END)::BIGINT
          AS nc$i"""
      }.mkString(",\n      ")
      val rows = RC_TAUS_M6.zipWithIndex.map { case (m6, i) =>
        s"""SELECT ${m6}::BIGINT AS tau_m6,
          COALESCE(nt$i, 0)::BIGINT AS n_truth, n_found,
          COALESCE(nc$i, 0)::BIGINT AS n_correct FROM ag, nf"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH $sqlShingleCte,
    tp AS MATERIALIZED (
      SELECT a_id, b_id, jac FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            AS jac
        FROM s a, s b WHERE a.doc_id < b.doc_id)
      WHERE jac >= 0.6),
    fp AS MATERIALIZED (
      SELECT a_id, b_id, 1 AS hit FROM (${simhash.oracle.get}) fq),
    ag AS MATERIALIZED (SELECT
      $counters
      FROM tp LEFT JOIN fp USING (a_id, b_id)),
    nf AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n_found FROM fp)
    SELECT tau_m6, n_truth, n_found, n_correct,
      (CASE WHEN n_found = 0 THEN 0
            ELSE n_correct * 1000000 // n_found END)::BIGINT
        AS precision_micro,
      (CASE WHEN n_truth = 0 THEN 0
            ELSE n_correct * 1000000 // n_truth END)::BIGINT
        AS recall_micro
    FROM ($rows)
    ORDER BY tau_m6"""
    })

  // ---------------------------------------------------- text_gram_novelty
  /** Per-document n-gram NOVELTY — the diversity complement of the dedup
    * suite (same shingle stream, opposite question): what fraction of a
    * doc's distinct shingles appear in NO other document? Low novelty =
    * boilerplate/templated mass the near-dup detectors are about to find;
    * corpus-level novelty decay over ingest batches is the standard
    * "are we scraping the same web again" curation dashboard number.
    *
    * Scale: reuses the checkpointed [[docShingles]] frame; df is one
    * map-side-combined count on the shingle key, the probe is the same
    * equi-join every dedup op here makes — both sides shuffle on the
    * shingle, never doc×doc. Ratio is exact floor-millionths; shingle-free
    * docs (<K tokens) report -1, not a 0/0.
    */
  private val gramNovelty = Q(
    "text_gram_novelty",
    (s, dir) => {
      val ex = docShingles(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("g"))
      val dfs = ex.groupBy("g").agg(count(lit(1)).as("df"))
      val agg = ex.join(dfs, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      Tables(s, dir, "documents").select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty_micro", expr(
          "CASE WHEN n_grams = 0 THEN -1L " +
            "ELSE n_novel * 1000000 DIV n_grams END"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $sqlShingleCte,
    ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
    dfs AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
    ag AS (SELECT ex.doc_id AS doc_id, COUNT(*) AS n_grams,
        SUM(CASE WHEN dfs.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
      FROM ex JOIN dfs USING (g) GROUP BY doc_id)
    SELECT d0.doc_id, COALESCE(n_grams, 0) AS n_grams,
      COALESCE(n_novel, 0) AS n_novel,
      CASE WHEN COALESCE(n_grams, 0) = 0 THEN -1
           ELSE (COALESCE(n_novel, 0) * 1000000) // n_grams END
        AS novelty_micro
    FROM documents d0 LEFT JOIN ag ON d0.doc_id = ag.doc_id
    ORDER BY d0.doc_id"""))

  // ---------------------------------------------------- dedup_containment
  /** Asymmetric CONTAINMENT pairs — `C(a⊂b) = |Sa∩Sb| / |Sa|` over the
    * same shingle sets the jaccard suite uses. Jaccard misses the
    * sub-document case on purpose (a page quoted whole inside a longer
    * page has low jaccard but containment ≈ 1); crawl pipelines run both
    * (Broder's original resemblance/containment pair). Emits BOTH
    * orientations (src_id, dst_id) with floor-millionths containment
    * ≥ [[CONT_MICRO]].
    *
    * Scale and exactness: see [[containmentPairs]] — the count-based
    * df-capped postings shape of [[jaccardPairs]], arrays touched only
    * in the V>0 bracket-verify branch. The all-pairs oracle proves
    * candidate recall is exact at every test SF (V = 0).
    */
  val CONT_MICRO = 900000L

  /** Containment pairs over a (doc_id, sh, nsh) shingle frame: both
    * orientations (src_id, dst_id, containment_micro) with
    * floor-millionths `|Ssrc∩Sdst| / |Ssrc| ≥ tauMicro`.
    *
    * Scale: as [[jaccardPairs]], a table of at most
    * [[ShinglePairs.DRIVER_POSTINGS]] (2^22) postings ends on the driver
    * in 2 jobs (the same collect of (doc_id, sh, nsh) rows), with the
    * answer as a LocalRelation of the distributed plan's rows and
    * schema; at sf1 5.4 s against the plan's 58 s. Past the bound, past
    * [[ShinglePairs.DRIVER_ANSWER_ROWS]] (2^20) answer rows, or for a
    * frame the driver cannot reproduce, the distributed plan below
    * runs: 11 jobs at test scale.
    *
    * Same COUNT-based shape as [[jaccardPairs]] (an earlier array-verify
    * form joined both full shingle arrays to every candidate pair —
    * 4× slower at sf0.1): the df-capped postings self-join yields each
    * pair's exact intersection count over kept shingles, both
    * orientations explode from that ONE count (a fwd/rev union would
    * re-run the candidate lineage per branch), and arrays are touched
    * only in the V>0 verify branch. With V distinct dropped viral
    * shingles, the true intersection is ≤ inter+V and ≤ min(na,nb), so
    * a pair whose best-case orientation `inter_high/min(na,nb)` misses
    * τ is rejected exactly; survivors verify on the full arrays. V=0 at
    * every test SF ⇒ the verify branch receives zero rows, and the
    * all-pairs oracle proves candidate recall. Same documented
    * boilerplate-only recall edge as [[jaccardPairs]].
    */
  def containmentPairs(shingleTable: DataFrame, tauMicro: Long,
      dfCap: Int = DEFAULT_DF_CAP): DataFrame =
    containmentPairs(shingleTable, tauMicro, dfCap,
      ShinglePairs.DRIVER_POSTINGS)

  /** `driverPostings` is DedupSpec's seam for forcing either path. */
  private[graft] def containmentPairs(shingleTable: DataFrame,
      tauMicro: Long, dfCap: Int, driverPostings: Long): DataFrame = {
    require(dfCap >= 2,
      s"dfCap must be >= 2 to ever pair documents, got $dfCap")
    def orientations(pairs: DataFrame): DataFrame = pairs
      .select(explode(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          expr("inter * 1000000 DIV na").as("containment_micro")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          expr("inter * 1000000 DIV nb").as("containment_micro"))))
        .as("o"))
      .select(col("o.src_id"), col("o.dst_id"), col("o.containment_micro"))
      .filter(col("containment_micro") >= tauMicro)
    def answer(bracketed: DataFrame): DataFrame = {
      val certain = orientations(bracketed.filter(col("n_viral") === 0L))
      val uncertain = bracketed.filter(col("n_viral") > 0L)
        .withColumn("inter_high",
          least(col("inter") + col("n_viral"), least(col("na"), col("nb"))))
        .filter(expr(s"inter_high * 1000000 DIV least(na, nb) >= $tauMicro"))
        .select("a_id", "b_id")
      val verified = orientations(uncertain
        .join(shingleTable.select(col("doc_id").as("a_id"),
          col("sh").as("sha"), col("nsh").as("na")), "a_id")
        .join(shingleTable.select(col("doc_id").as("b_id"),
          col("sh").as("shb"), col("nsh").as("nb")), "b_id")
        .withColumn("inter",
          size(array_intersect(col("sha"), col("shb"))).cast("long")))
      certain.unionByName(verified)
    }
    lazy val plan = bracketedPairs(shingleTable, Some(dfCap))
    pairsOnDriver(shingleTable, driverPostings,
      graft.PlanSchemas.of(Seq("containment", shingleTable.schema),
        answer(plan).schema))(
      ShinglePairs.containment(_, dfCap, tauMicro,
        answerRows(driverPostings)))
      .getOrElse(answer(graft.Checkpoint.of(plan)))
  }

  private val containment = Q(
    "dedup_containment",
    (s, dir) =>
      containmentPairs(docShingles(s, dir), CONT_MICRO)
        .orderBy("src_id", "dst_id"),
    Some(s"""WITH $sqlShingleCte
    SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
      (len(list_intersect(a.sh, b.sh)) * 1000000 // len(a.sh))::BIGINT
        AS containment_micro
    FROM s a, s b
    WHERE a.doc_id <> b.doc_id AND len(a.sh) >= 1
      AND len(list_intersect(a.sh, b.sh)) * 1000000 // len(a.sh)
        >= $CONT_MICRO
    ORDER BY src_id, dst_id"""))

  // ------------------------------------------------------ dedup_keep_best
  /** Quality-priority canonical selection — the KEEP rule a production
    * dedup actually applies. [[clusters]] answers "which docs are
    * together"; this answers "which one survives": per near-dup cluster
    * keep the member with the MOST tokens (C4/RefinedWeb keep-longest —
    * near-dup clusters are truncations and excerpts of one source, the
    * longest member is the least-clipped copy), doc_id ascending as the
    * deterministic tie-break. Singletons keep themselves.
    *
    * Scale: reuses the verified-pair + connected-components machinery
    * (thin (id, label) longs per round); the keep decision adds one
    * token-count projection (codegen [[TextOps.tokens]], map-only) and a
    * row_number window keyed by cluster_id over thin (cluster_id,
    * n_tokens, doc_id) rows — near-dup clusters are small (star-shaped
    * template families), so no skewed window partition. The oracle
    * recomputes the closure from ground-truth exact-jaccard pairs, so a
    * green row proves pair recall, the component fixpoint, AND the
    * argmax rule in one gate.
    */
  private val keepBest = Q(
    "dedup_keep_best",
    (s, dir) => {
      val pairs = minhashPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val labels = connectedComponents(pairs)
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(labels.select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"),
          col("n_tokens"))
        .withColumn("keep", row_number().over(w) === 1)
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sqlShingleCte,
    p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a, s b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= $TAU),
    e AS (SELECT a_id AS u, b_id AS v FROM p
      UNION SELECT b_id, a_id FROM p),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
    cmin AS (SELECT u AS doc_id, MIN(v) AS m FROM reach GROUP BY u),
    tk AS (SELECT d2.doc_id,
        COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) AS cluster_id,
        len(list_filter(string_split(d2.text,' '), w -> w <> ''))::BIGINT
          AS n_tokens
      FROM documents d2 LEFT JOIN cmin c ON d2.doc_id = c.doc_id)
    SELECT doc_id, cluster_id, n_tokens,
      (row_number() OVER (PARTITION BY cluster_id
        ORDER BY n_tokens DESC, doc_id) = 1) AS keep
    FROM tk ORDER BY doc_id"""))

  // -------------------------------------------------------- dedup_weights
  /** SOFT dedup — downweight duplicates instead of dropping them: every
    * member of an n-doc near-dup cluster trains at weight 1/n (floor
    * millionths), so each piece of CONTENT contributes one unit of
    * training mass regardless of how many times it was crawled. The
    * softer alternative pipelines reach for when hard dedup costs too
    * much tail diversity (repeated-content downweighting; the
    * sample_quality_weighted machinery consumes these as priors).
    *
    * Scale: same verified-pair + connected-components machinery as
    * [[clusters]]/[[keepBest]]; the weight adds one map-side-combined
    * count on cluster_id and a broadcast-able join back. Weights are
    * exact integer millionths — Σ weight over a cluster recovers ~10⁶
    * (up to floor), auditable in-plan.
    */
  private val weights = Q(
    "dedup_weights",
    (s, dir) => {
      val pairs = minhashPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val labels = connectedComponents(pairs)
      val assigned = Tables(s, dir, "documents").select(col("doc_id"))
        .join(labels.select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
      val sizes = assigned.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      assigned.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          expr("1000000 DIV cluster_size").as("weight_micro"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sqlShingleCte,
    p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a, s b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= $TAU),
    e AS (SELECT a_id AS u, b_id AS v FROM p
      UNION SELECT b_id, a_id FROM p),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
    cmin AS (SELECT u AS doc_id, MIN(v) AS m FROM reach GROUP BY u),
    asg AS (SELECT d2.doc_id,
        COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) AS cluster_id
      FROM documents d2 LEFT JOIN cmin c ON d2.doc_id = c.doc_id),
    sz AS (SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
      FROM asg GROUP BY cluster_id)
    SELECT doc_id, asg.cluster_id, cluster_size,
      (1000000 // cluster_size)::BIGINT AS weight_micro
    FROM asg JOIN sz ON asg.cluster_id = sz.cluster_id
    ORDER BY doc_id"""))

  // --------------------------------------------- persisted-state twins
  /** The cluster-consumer family against the PERSISTED dedup state
    * ([[DedupState]]): each `*_persisted` twin reads the stored
    * (pairs, labels) artifact instead of re-deriving shingles → bucket
    * join → verify → components from raw text per invocation — the
    * production read path (state is built once per corpus snapshot at
    * ingest; policies are cheap joins over the thin tables). Results
    * are identical to the derive-in-query twins by construction, so
    * each is gated by the SAME oracle verbatim (the
    * graph_*_persisted precedent). The state is built once per corpus
    * fingerprint ([[graft.Artifacts.cached]]).
    */
  private val clustersPersisted = Q(
    "dedup_clusters_persisted",
    (s, dir) =>
      DedupState.readLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") =!= col("cluster_id")).as("is_dup"))
        .orderBy("doc_id"),
    clusters.oracle)

  /** The INCREMENTAL ingest path under the driver's hash gate: labels
    * from build-on-base + append-slice ([[DedupState
    * .readLabelsIncremental]] — base/slice split = dedup_cross's
    * NEW_SOURCES) must equal the full derive-in-query clustering, so
    * the SAME dedup_clusters oracle gates the whole append machinery
    * (bucket-history candidates, per-candidate base re-shingle, pair
    * append, label recompute) end-to-end.
    */
  private val clustersIncremental = Q(
    "dedup_clusters_incremental",
    (s, dir) =>
      DedupState.readLabelsIncremental(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") =!= col("cluster_id")).as("is_dup"))
        .orderBy("doc_id"),
    clusters.oracle)

  /** COMPACTION under the driver's hash gate: labels from
    * build → append(half A) → [[DedupState.compactDedupState]] →
    * append(half B) must equal the full derive-in-query clustering —
    * the second append reads the FOLDED buckets, so a green row proves
    * the fold preserved a live, appendable artifact (candidate
    * history, pair set, label recompute) end-to-end, not just frozen
    * answers (CompactSpec's per-artifact invariance is the unit tier;
    * this is the driver-gated tier, the takedown-gating precedent).
    */
  private val clustersCompacted = Q(
    "dedup_clusters_compacted",
    (s, dir) =>
      DedupState.readLabelsCompacted(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") =!= col("cluster_id")).as("is_dup"))
        .orderBy("doc_id"),
    clusters.oracle)

  /** The TAKEDOWN path under the driver's hash gate: labels from
    * build-on-full + [[DedupState.removeDocs]] of the NEW_SOURCES docs
    * must equal a from-scratch clustering of the remaining corpus —
    * the oracle re-derives exactly that (same shingle/jaccard/closure
    * chain over the filtered documents), so a green row proves the
    * bucket/incident-pair drop AND the affected-component relabel
    * (component splits included) end-to-end.
    */
  private val clustersTakedown = Q(
    "dedup_clusters_takedown",
    (s, dir) =>
      DedupState.readLabelsTakedown(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") =!= col("cluster_id")).as("is_dup"))
        .orderBy("doc_id"),
    Some {
      val keep =
        s"source NOT IN (${NEW_SOURCES.map(x => s"'$x'").mkString(",")})"
      s"""WITH RECURSIVE dkeep AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE $keep),
      d AS (SELECT doc_id,
          list_filter(string_split(text,' '), t -> t <> '') w
        FROM dkeep),
      s AS (SELECT doc_id,
          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in range(1, greatest(len(w)-1, 1))]) sh
        FROM d),
      p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a, s b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= $TAU),
      e AS (SELECT a_id AS u, b_id AS v FROM p
        UNION SELECT b_id, a_id FROM p),
      reach(u, v) AS (
        SELECT u, v FROM e
        UNION
        SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
      cmin AS (SELECT u AS doc_id, MIN(v) AS m FROM reach GROUP BY u)
      SELECT d2.doc_id AS doc_id,
        COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) AS cluster_id,
        COALESCE(LEAST(c.m, d2.doc_id), d2.doc_id) <> d2.doc_id AS is_dup
      FROM dkeep d2 LEFT JOIN cmin c ON d2.doc_id = c.doc_id
      ORDER BY d2.doc_id"""
    })

  private val keepBestPersisted = Q(
    "dedup_keep_best_persisted",
    (s, dir) => {
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(DedupState.readLabels(s, dir)
          .select(col("doc_id"), col("cluster_id")), "doc_id")
        .withColumn("keep", row_number().over(w) === 1)
        .select("doc_id", "cluster_id", "n_tokens", "keep")
        .orderBy("doc_id")
    },
    keepBest.oracle)

  private val weightsPersisted = Q(
    "dedup_weights_persisted",
    (s, dir) =>
      DedupState.readLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          expr("1000000 DIV cluster_size").as("weight_micro"))
        .orderBy("doc_id"),
    weights.oracle)

  private val splitDedupPersisted = Q(
    "sample_split_dedup_persisted",
    (s, dir) => {
      val reps = Tables(s, dir, "documents")
        .select(col("doc_id").as("cluster_id"),
          graft.text.Sampling.splitLabel(col("text")).as("split"))
      DedupState.readLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"))
        .join(reps, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id")
    },
    splitDedup.oracle)

  private val lexsemPersisted = Q(
    "dedup_lexsem_persisted",
    (s, dir) => {
      val e = Tables.vectors(s, dir)
      val cos = graft.functions.CosineSim.cosineSim(col("va"), col("vb"))
      DedupState.readPairs(s, dir)
        .join(e.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(col("jaccard"), 6).as("jaccard"),
          round(cos, 6).as("cosine"),
          (cos >= lit(LEXSEM_TAU - 5e-7)).as("semantic_ok"))
        .orderBy("a_id", "b_id")
    },
    lexsem.oracle)

  val all: Seq[Q] =
    Seq(exact, ngramJaccard, minhashLsh, winnowDedup, simhash, embedding,
      embeddingBudget,
      embeddingLsh, embeddingLshRecall, clusters, substringDedup, cross,
      crossBloom, urlDedup,
      splitDedup, dedupRecall, recallCurve, gramNovelty, containment, keepBest, weights,
      lexsem, substringApply, clustersPersisted, clustersIncremental,
      clustersCompacted, clustersTakedown, keepBestPersisted,
      weightsPersisted,
      splitDedupPersisted, lexsemPersisted)
}
