package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Text-analysis suite over the `documents` table — SURVEY.md §2.6.
  *
  * All operators are single-pass Dataset transforms built from codegen'd
  * `functions._` (no UDFs): at 100 TB each is a scan + (at most) one
  * hash-aggregate exchange, and column pruning reaches the parquet scan.
  *
  * Determinism: every ratio is `round(x, 6)` with the identical expression
  * in the DuckDB oracle; token arithmetic is integer-exact.
  */
object TextOps {

  /** Whitespace tokenizer shared by §2.4/§2.6 — mirrors DuckDB
    * `list_filter(string_split(text,' '), t -> t <> '')`, as the codegen'd
    * [[graft.functions.Tokens]] kernel (the composed
    * `filter(split(...))` is an interpreted HOF that re-splits per
    * evaluation).
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.Shim.column(
      graft.functions.Tokens(
        org.apache.spark.sql.graft.Shim.expression(text)))

  /** Count of tokens ∈ `words` — codegen'd single pass; mirrors DuckDB
    * `len(list_filter(string_split(text,' '), t -> t IN (...)))`.
    */
  def tokenMatchCount(text: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.Shim.column(
      graft.functions.TokenMatchCount(
        org.apache.spark.sql.graft.Shim.expression(text), words))

  /** Unicode normalization (NFC; NFKC when `compat`) via the codegen'd
    * [[graft.functions.UnicodeNormalize]] kernel — the cleanup stage
    * that feeds [[tokens]] / [[normalizedMd5]] on crawled input. NFC
    * mirrors DuckDB `nfc_normalize`.
    */
  def unicodeNormalize(text: Column, compat: Boolean = false): Column =
    org.apache.spark.sql.graft.Shim.column(
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.graft.Shim.expression(text), compat))

  /** Normalized-content md5 (lower, trim, collapse runs of spaces) —
    * the shared fingerprint of text_fingerprint / dedup_exact /
    * pipeline_prepare; mirrors DuckDB
    * `md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))`.
    */
  def normalizedMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), " +", " "))

  /** Shared by text_stats and the pipeline quality gate (keep the oracle
    * IN-lists derived from this, never re-typed).
    */
  val stopwords: Seq[String] = Seq("the", "a")

  /** SQL literal list for oracle mirrors: `'the','a'` (quote-escaped). */
  val stopwordsSql: String =
    stopwords.map(s => "'" + s.replace("'", "''") + "'").mkString(",")

  // ------------------------------------------------------------ text_stats
  private val stats = Q(
    "text_stats",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = tokens(col("text"))
      val nTok = size(toks)
      val nonSpace = length(regexp_replace(col("text"), " ", ""))
      d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        nTok.cast("long").as("n_tokens"),
        round(nonSpace.cast("double") / nTok, 6).as("avg_token_len"),
        round(length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
          .cast("double") / length(col("text")), 6).as("punct_ratio"),
        round(tokenMatchCount(col("text"), stopwords)
          .cast("double") / nTok, 6).as("stopword_ratio"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      length(text) AS len_chars,
      len(list_filter(string_split(text,' '), t -> t <> '')) AS n_tokens,
      round(length(replace(text,' ',''))*1.0
        / len(list_filter(string_split(text,' '), t -> t <> '')), 6)
        AS avg_token_len,
      round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))*1.0
        / length(text), 6) AS punct_ratio,
      round(len(list_filter(string_split(text,' '), t -> t IN ($stopwordsSql)))
        *1.0 / len(list_filter(string_split(text,' '), t -> t <> '')), 6)
        AS stopword_ratio
    FROM documents ORDER BY doc_id"""))

  // ----------------------------------------------------------- text_langid
  /** Deterministic marker-token scorer. The synthetic corpus shares one
    * vocabulary across langs with per-lang frequency skew, so the operator
    * is a fixed marker lexicon + argmax (alphabetical tie-break) — the
    * oracle runs the identical integer-count rule; accuracy vs the `lang`
    * label is a spec-level metric, not the correctness gate.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "big", "customer"),
    "en" -> Seq("order", "window", "table"),
    "es" -> Seq("agg", "value", "slow"),
    "fr" -> Seq("scan", "data", "query"),
    "zh" -> Seq("join", "small", "the"))

  private val langid = Q(
    "text_langid",
    (s, dir) => langidScored(s, dir).orderBy("doc_id"),
    Some(s"""WITH scored AS (
        SELECT doc_id, lang,
        $sqlLangidCounts
        FROM documents)
      SELECT doc_id, lang,
        CASE $sqlLangidCases END AS predicted,
        $sqlLangidScoreCols
      FROM scored ORDER BY doc_id"""))

  /** The language prediction (doc_id, lang, predicted, per-lang scores)
    * — shared by text_langid and text_langid_eval (one detector
    * definition, two consumers).
    */
  private def langidScored(s: SparkSession, dir: String): DataFrame = {
      val scored = markers.foldLeft(Tables(s, dir, "documents")) {
        case (df, (lang, ms)) =>
          df.withColumn(s"score_$lang",
            tokenMatchCount(col("text"), ms).cast("long"))
      }
      val best = greatest(markers.map { case (l, _) => col(s"score_$l") }: _*)
      // first alphabetical lang reaching the max count (markers is sorted,
      // foldRight nests when(de).otherwise(when(en)...) → de-first precedence)
      val pred = markers.foldRight(lit(null).cast("string")) {
        case ((lang, _), rest) =>
          when(col(s"score_$lang") === best, lit(lang)).otherwise(rest)
      }
      scored.select(Seq(col("doc_id"), col("lang"), pred.as("predicted")) ++
          markers.map { case (l, _) => col(s"score_$l") }: _*)
  }

  private lazy val sqlLangidCounts: String = markers.map { case (l, ms) =>
    val set = ms.map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split(text,' '), t -> t IN ($set))) AS score_$l"
  }.mkString(",\n        ")
  private lazy val sqlLangidScoreCols: String =
    markers.map { case (l, _) => s"score_$l" }.mkString(", ")
  private lazy val sqlLangidCases: String = markers.map { case (l, _) =>
    s"WHEN score_$l = greatest($sqlLangidScoreCols) THEN '$l'"
  }.mkString(" ")

  // ----------------------------------------------------- text_langid_eval
  /** LANGUAGE-ID EVALUATION against the corpus's ground-truth `lang`
    * column — the detector-audit protocol (the dedup_recall /
    * text_classify_prf shape, applied to [[langid]]): the full
    * confusion matrix (truth × prediction) with each cell's share of
    * its truth row in exact integer millionths `n·10⁶ DIV n_true` —
    * the per-language recall lives on the diagonal, every systematic
    * confusion (which language the detector mistakes for which) on
    * the off-diagonals.
    *
    * Scale: the prediction pass is the langid scan (codegen token-
    * match kernels, no joins); the confusion aggregate is ≤|langs|²
    * map-side-combined keys; the truth totals re-aggregate those tiny
    * keys. The shared prediction frame is CHECKPOINTED (two consumers
    * — the cell counts and the truth totals).
    */
  private val langidEval = Q(
    "text_langid_eval",
    (s, dir) => {
      val p = langidScored(s, dir).select("lang", "predicted")
        .transform(graft.Checkpoint.of)
      val conf = p.groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
      val nt = p.groupBy("lang").agg(count(lit(1)).as("n_true"))
      conf.join(nt, "lang")
        .select(col("lang"), col("predicted"), col("n"), col("n_true"),
          expr("n * 1000000 DIV n_true").cast("long")
            .as("share_of_true_m6"))
        .orderBy("lang", "predicted")
    },
    Some(s"""WITH scored AS (
        SELECT doc_id, lang,
        $sqlLangidCounts
        FROM documents),
      pred AS MATERIALIZED (
        SELECT lang, CASE $sqlLangidCases END AS predicted
        FROM scored),
      conf AS (
        SELECT lang, predicted, COUNT(*)::BIGINT AS n
        FROM pred GROUP BY 1, 2),
      nt AS (
        SELECT lang, COUNT(*)::BIGINT AS n_true FROM pred GROUP BY 1)
      SELECT lang, predicted, n, n_true,
        (n * 1000000 // n_true)::BIGINT AS share_of_true_m6
      FROM conf JOIN nt USING (lang)
      ORDER BY lang, predicted"""))

  // ------------------------------------------------------ text_fingerprint
  /** Normalized-content fingerprint + duplicate-cluster size. At scale this
    * is one hash-agg exchange on a 32-char key; the md5 is computed in the
    * scan stage (codegen).
    */
  private val fingerprint = Q(
    "text_fingerprint",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), normalizedMd5(col("text")).as("fingerprint"))
      val sizes = d.groupBy("fingerprint")
        .agg(count(lit(1)).as("cluster_size"), min("doc_id").as("keeper_id"))
      d.join(sizes, "fingerprint")
        .select("doc_id", "fingerprint", "cluster_size", "keeper_id")
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
        AS fingerprint FROM documents),
    s AS (SELECT fingerprint, COUNT(*) AS cluster_size,
        MIN(doc_id) AS keeper_id FROM f GROUP BY fingerprint)
    SELECT doc_id, f.fingerprint, cluster_size, keeper_id
    FROM f JOIN s ON f.fingerprint = s.fingerprint ORDER BY doc_id"""))

  // ---------------------------------------------------------- text_tokens
  /** Corpus term frequency, top 30. BPE-ish regex tokenization
    * (`[a-z]+|[0-9]+|punct`) — explode + hash-agg with map-side combine;
    * the top-k is a TakeOrderedAndProject, no full sort at scale.
    */
  private val topTokens = Q(
    "text_tokens",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(expr(
          "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term"))
        .limit(30),
    Some("""SELECT term, COUNT(*) AS freq FROM (
      SELECT unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        AS term FROM documents)
    GROUP BY term ORDER BY freq DESC, term LIMIT 30"""))

  // --------------------------------------------------------- text_winnow
  /** Winnowed rolling-hash fingerprints (k=3-gram hashes, window w=4):
    * any two documents sharing ≥ w+k-1 = 6 consecutive tokens share a
    * fingerprint, at ~2/(w+1) storage density — the local-fingerprint
    * complement to `text_fingerprint`'s whole-document hash. Map-only
    * kernel per doc; the oracle mirrors the window-min over the same
    * 60-bit md5-prefix gram hashes.
    */
  private val winnowed = Q(
    "text_winnow",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(
          org.apache.spark.sql.graft.Shim.column(
            graft.functions.Winnow(
              org.apache.spark.sql.graft.Shim.expression(col("text")),
              3, 4))).as("fp"))
        .orderBy("doc_id", "fp"),
    Some("""WITH d AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    g0 AS (
      SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i
      FROM d),
    g AS (
      SELECT doc_id, i,
        ('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' ||
          w[i+3]), 1, 15))::BIGINT AS h
      FROM g0),
    m AS (
      SELECT doc_id, i,
        MIN(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
        COUNT(*) OVER (PARTITION BY doc_id) AS ng
      FROM g)
    SELECT DISTINCT doc_id, fp FROM m WHERE i >= least(3, ng - 1)
    ORDER BY doc_id, fp"""))

  // ----------------------------------------------------------- text_stem
  /** Suffix-stripping stemmer (Porter step-1 lite: plural `sses/ies/s`
    * rules, then `ing/ed` with minimum-stem-length guards) — the
    * vocabulary-normalization stage a retrieval/TF-IDF index runs so
    * "query/queries/queried" share one posting. Output = the corpus
    * top-30 stems with total occurrences and the number of distinct
    * surface forms each stem absorbed (the vocabulary-compression
    * report that justifies the stage).
    *
    * Both engines state the IDENTICAL first-match CASE chain over the
    * exploded token stream (codegen'd builtins — endsWith/substring,
    * no HOF, no kernel needed); counts are integers, the top-30 is
    * (n_total desc, stem) — fully tie-broken. Scale: one tokenize
    * scan; the stem aggregate is the only exchange (two-phase for the
    * distinct-forms count), top-30 plans as TakeOrderedAndProject.
    */
  private val STEM_K = 30

  /** First-match suffix rules; shared by the query and any index
    * pipeline that wants stemmed terms.
    */
  def stem(t: Column): Column = {
    val s1 = when(t.endsWith("sses"), t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("ies"), t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("ss"), t)
      .when(t.endsWith("s") && length(t) > 1,
        t.substr(lit(1), length(t) - 1))
      .otherwise(t)
    when(s1.endsWith("ing") && length(s1) >= 6,
        s1.substr(lit(1), length(s1) - 3))
      .when(s1.endsWith("ed") && length(s1) >= 5,
        s1.substr(lit(1), length(s1) - 2))
      .otherwise(s1)
  }

  private val stemQ = Q(
    "text_stem",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("t"))
        .select(stem(col("t")).as("stem"), col("t"))
        .groupBy("stem")
        .agg(count(lit(1)).as("n_total"),
          countDistinct(col("t")).as("n_forms"))
        .orderBy(col("n_total").desc, col("stem"))
        .limit(STEM_K),
    Some(s"""WITH tok AS (
      SELECT unnest(list_filter(string_split(text,' '), t -> t <> '')) AS t
      FROM documents),
    s1 AS (SELECT t, CASE
        WHEN t LIKE '%sses' THEN substr(t, 1, length(t) - 2)
        WHEN t LIKE '%ies' THEN substr(t, 1, length(t) - 2)
        WHEN t LIKE '%ss' THEN t
        WHEN t LIKE '%s' AND length(t) > 1 THEN substr(t, 1, length(t) - 1)
        ELSE t END AS s FROM tok),
    st AS (SELECT t, CASE
        WHEN s LIKE '%ing' AND length(s) >= 6 THEN substr(s, 1, length(s) - 3)
        WHEN s LIKE '%ed' AND length(s) >= 5 THEN substr(s, 1, length(s) - 2)
        ELSE s END AS stem FROM s1)
    SELECT stem, COUNT(*)::BIGINT AS n_total,
      COUNT(DISTINCT t)::BIGINT AS n_forms
    FROM st GROUP BY stem
    ORDER BY n_total DESC, stem LIMIT $STEM_K"""))

  // ----------------------------------------------------- text_repetition
  /** Gopher-style repetition signals (Rae et al., "Scaling Language
    * Models", §A1.1 repetition filters): vocabulary richness (distinct /
    * total tokens) and the token fraction covered by the most frequent
    * 2-/3-gram. Everything is a per-document integer count via the
    * codegen'd kernels — zero shuffle before the output sort, bit-exact
    * ratios (`round(x,6)` mirrored).
    */
  private val repetition = Q(
    "text_repetition",
    (s, dir) => {
      def uniq1 = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")), 1))
      def maxGram(k: Int) = org.apache.spark.sql.graft.Shim.column(
        graft.functions.MaxShingleCount(
          org.apache.spark.sql.graft.Shim.expression(col("text")), k))
      val nTok = size(tokens(col("text")))
      Tables(s, dir, "documents")
        .filter(nTok > 0)
        .select(col("doc_id"),
          nTok.cast("long").as("n_tokens"),
          round(size(uniq1) * 1.0 / nTok, 6).as("uniq_token_frac"),
          round(maxGram(2) * 2.0 / nTok, 6).as("top2_frac"),
          round(maxGram(3) * 3.0 / nTok, 6).as("top3_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    g2 AS (SELECT doc_id, MAX(c) AS m2 FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
            for i in range(1, greatest(len(w), 1))]) AS g
          FROM d) GROUP BY doc_id, g) GROUP BY doc_id),
    g3 AS (SELECT doc_id, MAX(c) AS m3 FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in range(1, greatest(len(w)-1, 1))]) AS g
          FROM d) GROUP BY doc_id, g) GROUP BY doc_id)
    SELECT d.doc_id, len(w) AS n_tokens,
      round(len(list_distinct(w)) * 1.0 / len(w), 6) AS uniq_token_frac,
      round(COALESCE(m2, 0) * 2.0 / len(w), 6) AS top2_frac,
      round(COALESCE(m3, 0) * 3.0 / len(w), 6) AS top3_frac
    FROM d LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
    WHERE len(w) > 0 ORDER BY doc_id"""))

  // ----------------------------------------------------------- text_tfidf
  /** Top-5 characteristic terms per document by TF-IDF with a RAW
    * (log-free) idf: score = tf · N / df, computed as one exact integer
    * product divided once in IEEE double — bit-identical across engines,
    * which `log(N/df)` is not guaranteed to be (libm vs JVM ulp drift is
    * exactly the kind of cross-engine hazard the oracle gate exists to
    * catch). Raw idf preserves the per-document ranking property that
    * matters for keyword extraction; the log form only re-compresses the
    * scale.
    *
    * Scale: tf = one map-side-combined (doc_id, term) aggregate; df = a
    * thin |vocab|-row term aggregate joined back on the term key (NOT
    * broadcast — web-scale vocabularies outgrow broadcast range, and the
    * tf side is already term-keyed so AQE can plan the join off one
    * exchange); top-k per doc is a bounded window.
    */
  private val TFIDF_K = 5

  private val tfidf = Q(
    "text_tfidf",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val n = d.agg(count(lit(1)).as("n_docs"))
      val terms = d.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      val tf = terms.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val df = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val score = (col("tf") * col("n_docs")).cast("double") / col("df")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(score.desc, col("term"))
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TFIDF_K)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(score, 6).as("score"), col("rank"))
        .orderBy("doc_id", "rank")
    },
    Some(s"""WITH t AS (
      SELECT doc_id, unnest(list_filter(string_split(text,' '),
        x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT doc_id, term, tf, df,
        round((tf * n_docs) * 1.0 / df, 6) AS score,
        row_number() OVER (PARTITION BY doc_id
          ORDER BY (tf * n_docs) * 1.0 / df DESC, term) AS rank
      FROM tf JOIN df USING (term) CROSS JOIN n)
    WHERE rank <= $TFIDF_K ORDER BY doc_id, rank"""))

  // --------------------------------------------------------- text_quality
  /** Gopher-style composite quality FILTER (Rae et al. §A1.1): the named
    * per-document rules a pretraining pipeline actually gates on, each
    * exposed as its own boolean plus the combined keep flag — downstream
    * can re-weight rules without recomputing signals. Thresholds are
    * corpus-tuned so every discriminating rule actually splits this data
    * (len/stop/uniq/rep fail 2–10% each); word-length bounds are kept at
    * the published [3,10] for surface parity even though this corpus
    * never trips them.
    *
    * Everything is per-document integer counting via the codegen kernels
    * (Tokens/TokenMatchCount/WordShingles/MaxShingleCount) — zero
    * shuffle before the output sort. Ratio comparisons are a single IEEE
    * division of exact integers on both engines, so the boundary
    * semantics are bit-identical.
    */
  private val MIN_TOKENS = 20
  private val MAX_TOKENS = 1000
  private val MIN_UNIQ = 0.32
  private val MAX_TOP2 = 0.2

  /** The 5 Gopher-style rules over `col("text")`, in the fixed order
    * (len, wordlen, stop, uniq, rep2) — shared by text_quality and
    * sample_quality_weighted so the score definitions can't drift.
    */
  private[text] def qualityRules: Seq[Column] = {
    def uniq1 = org.apache.spark.sql.graft.Shim.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Shim.expression(col("text")), 1))
    def maxGram(k: Int) = org.apache.spark.sql.graft.Shim.column(
      graft.functions.MaxShingleCount(
        org.apache.spark.sql.graft.Shim.expression(col("text")), k))
    val nTok = size(tokens(col("text")))
    val nonSpace = length(regexp_replace(col("text"), " ", ""))
    Seq(
      nTok.between(MIN_TOKENS, MAX_TOKENS),
      (nonSpace.cast("double") / nTok).between(3.0, 10.0),
      tokenMatchCount(col("text"), stopwords) >= 1,
      size(uniq1) * 1.0 / nTok >= MIN_UNIQ,
      maxGram(2) * 2.0 / nTok <= MAX_TOP2)
  }

  /** The quality-rules CTE body shared by the two mirrors: per doc with
    * len(w) > 0, the 5 booleans (NULL-free).
    */
  private[text] val qualityRulesSql: String = s"""qd AS (
      SELECT doc_id, text, lang,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    qg2 AS (SELECT doc_id, MAX(c) AS m2 FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
            for i in range(1, greatest(len(w), 1))]) AS g
          FROM qd) GROUP BY doc_id, g) GROUP BY doc_id),
    qr AS (SELECT qd.doc_id, qd.lang, qd.text, len(w) AS n_tokens,
        len(w) BETWEEN $MIN_TOKENS AND $MAX_TOKENS AS r_len,
        length(replace(text,' ','')) * 1.0 / len(w) BETWEEN 3.0 AND 10.0
          AS r_wordlen,
        len(list_filter(w, t -> t IN ($stopwordsSql))) >= 1 AS r_stop,
        len(list_distinct(w)) * 1.0 / len(w) >= $MIN_UNIQ AS r_uniq,
        COALESCE(m2, 0) * 2.0 / len(w) <= $MAX_TOP2 AS r_rep2
      FROM qd LEFT JOIN qg2 USING (doc_id) WHERE len(w) > 0)"""

  private val quality = Q(
    "text_quality",
    (s, dir) => {
      val nTok = size(tokens(col("text")))
      val Seq(rLen, rWordlen, rStop, rUniq, rRep2) = qualityRules
      val rules = qualityRules
      Tables(s, dir, "documents")
        .filter(nTok > 0)
        .select(col("doc_id"), nTok.cast("long").as("n_tokens"),
          rLen.as("r_len"), rWordlen.as("r_wordlen"), rStop.as("r_stop"),
          rUniq.as("r_uniq"), rRep2.as("r_rep2"),
          (lit(rules.size) - rules.map(_.cast("int")).reduce(_ + _))
            .cast("long").as("n_failed"),
          rules.reduce(_ && _).as("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (
      SELECT doc_id, text,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    g2 AS (SELECT doc_id, MAX(c) AS m2 FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
            for i in range(1, greatest(len(w), 1))]) AS g
          FROM d) GROUP BY doc_id, g) GROUP BY doc_id),
    r AS (SELECT d.doc_id, len(w) AS n_tokens,
        len(w) BETWEEN $MIN_TOKENS AND $MAX_TOKENS AS r_len,
        length(replace(text,' ','')) * 1.0 / len(w) BETWEEN 3.0 AND 10.0
          AS r_wordlen,
        len(list_filter(w, t -> t IN ($stopwordsSql))) >= 1 AS r_stop,
        len(list_distinct(w)) * 1.0 / len(w) >= $MIN_UNIQ AS r_uniq,
        COALESCE(m2, 0) * 2.0 / len(w) <= $MAX_TOP2 AS r_rep2
      FROM d LEFT JOIN g2 USING (doc_id) WHERE len(w) > 0)
    SELECT doc_id, n_tokens, r_len, r_wordlen, r_stop, r_uniq, r_rep2,
      (5 - (r_len::INT + r_wordlen::INT + r_stop::INT + r_uniq::INT
        + r_rep2::INT))::BIGINT AS n_failed,
      r_len AND r_wordlen AND r_stop AND r_uniq AND r_rep2 AS keep
    FROM r ORDER BY doc_id"""))

  // ----------------------------------------------------------- text_chunk
  private val CHUNK = 32 // tokens per chunk (context-length slicing)

  /** Split every document into ≤ CHUNK-token pieces — the context-length
    * chunking stage of a training pipeline. Per-document, embarrassingly
    * parallel (no shuffle before the output sort); emits a fingerprint per
    * chunk so downstream exact-dedup can run at chunk granularity.
    */
  private val chunk = Q(
    "text_chunk",
    (s, dir) => {
      val toks = tokens(col("text"))
      val nChunks = ceil(size(toks).cast("double") / CHUNK).cast("int")
      // guarded: sequence(0, -1) would step DOWN (same trap as shingles),
      // emitting phantom chunks for zero-token documents
      val chunks = when(nChunks > 0,
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * CHUNK + 1, lit(CHUNK)), " ")))
        .otherwise(typedLit(Seq.empty[String]))
      Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(tokens(col("chunk"))).cast("long").as("n_chunk_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH d AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    c AS (
      SELECT doc_id, i - 1 AS chunk_id,
        array_to_string(w[(i-1)*$CHUNK+1 : i*$CHUNK], ' ') AS chunk
      FROM d, range(1, 100000) r(i)
      WHERE i <= ceil(len(w) * 1.0 / $CHUNK))
    SELECT doc_id, chunk_id,
      len(list_filter(string_split(chunk,' '), t -> t <> ''))
        AS n_chunk_tokens,
      md5(chunk) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_id"""))

  // ---------------------------------------------------------- corpus_stats
  /** Per-(lang, source) corpus composition dashboard — the numbers a
    * mixing/curriculum decision reads first: doc and token volume,
    * character volume, and distinct normalized fingerprints (so
    * `n_docs - distinct_fps` = exact-dup mass per cell). One
    * map-side-combined aggregate over the corpus; the distinct count
    * plans as Spark's two-phase partial-distinct aggregate, never a
    * driver-side collect.
    */
  private val corpusStats = Q(
    "corpus_stats",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"), col("source"),
          size(tokens(col("text"))).cast("long").as("ntok"),
          col("n_chars"), normalizedMd5(col("text")).as("fp"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          countDistinct(col("fp")).as("distinct_fps"))
        .orderBy("lang", "source")
    },
    Some("""SELECT lang, source, COUNT(*) AS n_docs,
      SUM(len(list_filter(string_split(text,' '), t -> t <> '')))::BIGINT
        AS total_tokens,
      SUM(n_chars)::BIGINT AS total_chars,
      COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')))
        AS distinct_fps
    FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  // --------------------------------------------------------- text_lm_score
  /** Corpus-trained bigram-LM fluency score — the statistical
    * language-model filter stage (the CCNet/KenLM recipe: score every
    * document under a small LM, gate or bucket on the score) with the
    * corpus itself as training data: per doc, the mean MLE bigram
    * probability `avg over positions of p(w2|w1) = c(w1 w2) / c(w1·)`
    * where both counts come from the whole corpus and `c(w1·)` is the
    * CONTEXT count (bigrams starting with w1), so Σ_w2 p(w2|w1) = 1
    * exactly. Repetitive template-like docs score high, odd
    * token sequences score low.
    *
    * Cross-engine exactness without logs (ln() ulp drift is why this is
    * a probability mean, not log-perplexity) and without float rounding
    * (round(x,6) itself drifts on near-ties — the kmeans_train lesson):
    * each term is the exact INTEGER `c2·10⁶ DIV c1` (floor millionths),
    * the per-doc sum stays integral and order-independent, and the
    * final mean is ONE IEEE division by `n·10⁶` — integer arithmetic
    * end-to-end up to the last operation.
    *
    * Scale shape: ONE checkpointed thin gram stream (doc_id + two
    * 8-byte hashes per position — the ~60 B gram strings never leave
    * the map side), two map-side-combined count aggregates over it
    * (vocab- and vocab²-bounded), two hash joins back, one per-doc
    * aggregate. No windows, no self-joins.
    */
  private val lmScore = Q(
    "text_lm_score",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val gramArr = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")), 2,
          distinct = false))
      def h(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val grams = d
        .select(col("doc_id"), explode(gramArr).as("g"))
        .select(col("doc_id"), h(substring_index(col("g"), " ", 1)).as("h1"),
          h(col("g")).as("h2"))
        .transform(graft.Checkpoint.of)
      val ctx = grams.groupBy("h1").agg(count(lit(1)).as("c1"))
      val big = grams.groupBy("h2").agg(count(lit(1)).as("c2"))
      val scored = grams.join(big, "h2").join(ctx, "h1")
        .withColumn("term", expr("c2 * 1000000 DIV c1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum("term").cast("double") /
            (count(lit(1)) * lit(1000000.0))).as("lm_score"))
      d.select("doc_id")
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("lm_score"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    grams AS (
      SELECT doc_id,
        ('0x' || substr(md5(u.s.a), 1, 15))::BIGINT AS h1,
        ('0x' || substr(md5(u.s.g), 1, 15))::BIGINT AS h2
      FROM toks, UNNEST([struct_pack(a := w[i], g := w[i] || ' ' || w[i+1])
        for i in range(1, greatest(len(w), 1))]) u(s)),
    ctx AS (SELECT h1, COUNT(*) AS c1 FROM grams GROUP BY h1),
    big AS (SELECT h2, COUNT(*) AS c2 FROM grams GROUP BY h2),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
        CAST(SUM((c2 * 1000000) // c1)::BIGINT AS DOUBLE)
          / (COUNT(*) * 1000000.0) AS lm_score
      FROM grams JOIN big USING (h2) JOIN ctx USING (h1)
      GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.lm_score
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id"""))

  // --------------------------------------------------------- text_lm_heldout
  /** HELD-OUT bigram-LM evaluation per source — the honest protocol for
    * [[lmScore]] (which trains and scores on the same corpus, the
    * in-sample fluency gate): train the MLE bigram counts ONLY on the
    * 80% content-hash `train` split ([[Sampling.splitLabel]] — the
    * text_classify_nb protocol), score the held-out `test` docs, and
    * report per SOURCE the held-out mean probability plus the
    * OOV-bigram rate (test bigrams never seen in training — the
    * generalization-vs-memorization card a pipeline reads before
    * trusting the LM filter on tomorrow's crawl; a source whose
    * held-out score collapses is one the train split doesn't cover).
    *
    * Exactness: the seen-bigram terms are [[lmScore]]'s exact integers
    * (`c2·10⁶ DIV c1`, unseen = 0 by MLE), the OOV rate is integer
    * floor-millionths, and the mean is ONE IEEE division. Scale: the
    * SAME checkpointed thin gram stream feeds the two train-count
    * aggregates (vocab-bounded) and the test probe; two hash joins
    * back; the report aggregate map-side-combines onto |sources| keys.
    */
  private val lmHeldout = Q(
    "text_lm_heldout",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Sampling.splitLabel(col("text")).as("split"), col("text"))
      val gramArr = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")), 2,
          distinct = false))
      def h(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val grams = d
        .select(col("source"), col("split"), explode(gramArr).as("g"))
        .select(col("source"), col("split"),
          h(substring_index(col("g"), " ", 1)).as("h1"), h(col("g")).as("h2"))
        .transform(graft.Checkpoint.of) // train counts + test probe
      val ctx = grams.filter(col("split") === "train")
        .groupBy("h1").agg(count(lit(1)).as("c1"))
      val big = grams.filter(col("split") === "train")
        .groupBy("h2").agg(count(lit(1)).as("c2"))
      grams.filter(col("split") === "test")
        .join(big, Seq("h2"), "left")
        .join(ctx, Seq("h1"), "left")
        .withColumn("term",
          coalesce(expr("c2 * 1000000 DIV c1"), lit(0L)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_oov"),
          sum(col("term")).as("t"))
        .select(col("source"), col("n_bigrams"), col("n_oov"),
          expr("n_oov * 1000000 DIV n_bigrams").as("oov_m6"),
          (col("t").cast("double") /
            (col("n_bigrams") * lit(1000000.0))).as("lm_score"))
        .orderBy("source")
    },
    Some("""WITH docs AS (
      SELECT doc_id, source,
        CASE
          WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 4))::INT < 52429
            THEN 'train'
          WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 4))::INT < 58982
            THEN 'val'
          ELSE 'test'
        END AS split,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    grams AS MATERIALIZED (
      SELECT source, split,
        ('0x' || substr(md5(u.s.a), 1, 15))::BIGINT AS h1,
        ('0x' || substr(md5(u.s.g), 1, 15))::BIGINT AS h2
      FROM docs, UNNEST([struct_pack(a := w[i], g := w[i] || ' ' || w[i+1])
        for i in range(1, greatest(len(w), 1))]) u(s)),
    ctx AS (SELECT h1, COUNT(*) AS c1 FROM grams
      WHERE split = 'train' GROUP BY h1),
    big AS (SELECT h2, COUNT(*) AS c2 FROM grams
      WHERE split = 'train' GROUP BY h2),
    probe AS (
      SELECT g.source, COUNT(*)::BIGINT AS n_bigrams,
        SUM(CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        SUM(COALESCE((b.c2 * 1000000) // c.c1, 0))::BIGINT AS t
      FROM grams g
      LEFT JOIN big b USING (h2)
      LEFT JOIN ctx c USING (h1)
      WHERE g.split = 'test'
      GROUP BY g.source)
    SELECT source, n_bigrams, n_oov,
      (n_oov * 1000000 // n_bigrams)::BIGINT AS oov_m6,
      CAST(t AS DOUBLE) / (n_bigrams * 1000000.0) AS lm_score
    FROM probe ORDER BY source"""))

  // ------------------------------------------------------------- text_oov
  /** Vocabulary-coverage / OOV-rate QA — the tokenizer-coverage check a
    * pipeline runs before committing to a vocab: build the top-V corpus
    * vocabulary (by frequency, ties alphabetical), then score every
    * document's out-of-vocabulary token rate against it. High-OOV docs
    * are encoding noise, boilerplate in the wrong script, or domains
    * the tokenizer will fragment.
    *
    * Exactness: counts are integers; `oov_rate` is ONE IEEE division
    * of exact integers (bit-identical both engines). Scale shape: token
    * counts aggregate map-side-combined (vocab-bounded exchange); the
    * V-row vocab broadcasts back onto the gram stream; the per-doc agg
    * is the only corpus-keyed exchange. No windows, no driver collect.
    */
  private val VOCAB_V = 8

  private val oov = Q(
    "text_oov",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val grams = d.select(col("doc_id"), explode(tokens(col("text")))
        .as("tok"))
      val vocab = grams.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(VOCAB_V)
        .select(col("tok"), lit(1L).as("in_v"))
      val per = grams.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), count(col("in_v")).as("n_known"))
      d.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_tokens") - col("n_known"), lit(0L)).as("n_oov"),
          ((col("n_tokens") - col("n_known")).cast("double") /
            col("n_tokens")).as("oov_rate"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      SELECT doc_id, u.t AS tok
      FROM documents,
        UNNEST(list_filter(string_split(text,' '), t -> t <> '')) u(t)),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT $VOCAB_V)),
    per AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens, COUNT(v.tok) AS n_known
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id)
    SELECT d.doc_id,
      COALESCE(p.n_tokens, 0) AS n_tokens,
      COALESCE(p.n_tokens - p.n_known, 0) AS n_oov,
      CAST(p.n_tokens - p.n_known AS DOUBLE) / p.n_tokens AS oov_rate
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id"""))

  // --------------------------------------------------------- text_ngram_lm
  /** Bigram-LM model EXPORT — the trained artifact whose application is
    * [[lmScore]]: the top-300 corpus bigrams (by count, ties
    * alphabetical) with their context count, bigram count, and MLE
    * conditional probability in exact floor-millionths
    * (`c2·10⁶ DIV c1` — all-integer output, nothing to drift). The
    * model a pipeline ships to score OTHER corpora with the same rule.
    *
    * Scale: bigram counts aggregate map-side-combined (exchange is
    * vocab²-bounded distinct grams, not corpus positions); context
    * counts re-aggregate the COUNTED table (vocab²→vocab rows, not a
    * second corpus pass); top-300 plans as TakeOrdered, never a global
    * sort of the corpus.
    */
  private val LM_TOP = 300

  private val ngramLm = Q(
    "text_ngram_lm",
    (s, dir) => {
      val gramArr = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")), 2,
          distinct = false))
      val big = Tables(s, dir, "documents")
        .select(explode(gramArr).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c2"))
      val ctx = big
        .groupBy(substring_index(col("gram"), " ", 1).as("w1"))
        .agg(sum("c2").as("c1"))
      big.withColumn("w1", substring_index(col("gram"), " ", 1))
        .join(ctx, "w1")
        .select(col("gram"), col("c1"), col("c2"),
          expr("c2 * 1000000 DIV c1").as("p_micro"))
        .orderBy(col("c2").desc, col("gram")).limit(LM_TOP)
    },
    Some(s"""WITH toks AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    grams AS (
      SELECT u.g AS gram
      FROM toks, UNNEST([w[i] || ' ' || w[i+1]
        for i in range(1, greatest(len(w), 1))]) u(g)),
    big AS (SELECT gram, COUNT(*) AS c2 FROM grams GROUP BY gram),
    ctx AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c2)::BIGINT AS c1
      FROM big GROUP BY 1)
    SELECT gram, c1, c2, (c2 * 1000000) // c1 AS p_micro
    FROM big JOIN ctx ON string_split(big.gram, ' ')[1] = ctx.w1
    ORDER BY c2 DESC, gram LIMIT $LM_TOP"""))

  // ------------------------------------------------------- text_pii_scrub
  /** PII scrubbing — email/IP/phone redaction with per-doc counts, the
    * stage Dolma/RefinedWeb run before anything else touches text. Per
    * row this is ONE [[graft.functions.PiiScrub]] codegen call (each
    * pattern scans once, counting while replacing — not a chain of
    * builtin regexp_replace + regexp_count consumers each re-scanning
    * after CollapseProject inlining); zero shuffle, the map-only
    * quality-kernel posture.
    *
    * The synthetic corpus contains no digits at all, so the query
    * INJECTS deterministic PII forms from (doc_id, text) — identically
    * CASE-constructed in both engines — before scrubbing: plus-tagged
    * unique emails, parenthesized / dotted / +CC-spaced phones,
    * bracketed and bare IPs, plus near-miss forms (a@b, 1.2.3,
    * 12.34.56, 1234) that must survive unscrubbed. The patterns are the
    * [[graft.functions.TextKernels.EMAIL_RE]]/IP_RE/PHONE_RE constants,
    * interpolated verbatim into the mirror and restricted to the regex
    * subset java.util.regex and RE2 execute identically — the gate
    * hashes the scrubbed TEXT, not just the counts, so any semantic
    * divergence between the engines' regex dialects would fail the row.
    */
  /** The deterministic PII injection over (doc_id, text) — shared by the
    * batch query and StreamingSpec's stream feed, so the two can never
    * drift apart. See the text_pii_scrub docstring for the forms.
    */
  def piiInjected(docs: DataFrame): DataFrame = {
    val injected = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact john.doe+spam"),
          col("doc_id").cast("string"),
          lit("@mail.example-host.org or (555) 123-4567 now")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" server 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (expr("doc_id DIV 7") % 256).cast("string"),
          lit(" gw [172.16.254.1] peer 555.867.5309 dialed" +
            " +1 650 253 0000")))
      .otherwise(concat(col("text"),
        lit(" clean: ver 1.2.3 build 1234 mailto a@b nope 12.34.56 end")))
    docs.select(col("doc_id"), injected.as("text"))
  }

  /** The ONE-kernel scrub projection over (doc_id, text) — shared by the
    * batch query and [[graft.streaming.Streaming.piiScrubSink]] (stateless,
    * so any micro-batch slicing equals the batch rows exactly).
    */
  def piiScrubFlags(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), org.apache.spark.sql.graft.Shim.column(
      graft.functions.PiiScrub(org.apache.spark.sql.graft.Shim
        .expression(col("text")))).as("p"))
    .select(col("doc_id"),
      col("p.scrubbed").as("scrubbed"),
      col("p.n_emails").as("n_emails"),
      col("p.n_ips").as("n_ips"),
      col("p.n_phones").as("n_phones"))

  private val piiScrub = Q(
    "text_pii_scrub",
    (s, dir) =>
      piiScrubFlags(piiInjected(Tables(s, dir, "documents")))
        .orderBy("doc_id"),
    Some {
      val e = graft.functions.TextKernels.EMAIL_RE
      val i = graft.functions.TextKernels.IP_RE
      val ph = graft.functions.TextKernels.PHONE_RE
      s"""WITH p AS (
      SELECT doc_id,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN text || ' contact john.doe+spam' || doc_id::VARCHAR
            || '@mail.example-host.org or (555) 123-4567 now'
          WHEN 1 THEN text || ' server 10.' || (doc_id % 256)::VARCHAR
            || '.0.' || ((doc_id // 7) % 256)::VARCHAR
            || ' gw [172.16.254.1] peer 555.867.5309 dialed +1 650 253 0000'
          ELSE text || ' clean: ver 1.2.3 build 1234 mailto a@b nope 12.34.56 end'
        END AS t
      FROM documents),
    s1 AS (
      SELECT doc_id,
        regexp_replace(t, '$e', '<EMAIL>', 'g') AS t1,
        len(regexp_extract_all(t, '$e'))::BIGINT AS n_emails
      FROM p),
    s2 AS (
      SELECT doc_id, n_emails,
        regexp_replace(t1, '$i', '<IP>', 'g') AS t2,
        len(regexp_extract_all(t1, '$i'))::BIGINT AS n_ips
      FROM s1)
    SELECT doc_id,
      regexp_replace(t2, '$ph', '<PHONE>', 'g') AS scrubbed,
      n_emails, n_ips,
      len(regexp_extract_all(t2, '$ph'))::BIGINT AS n_phones
    FROM s2 ORDER BY doc_id"""})

  // -------------------------------------------------------- text_ppl_bucket
  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al., LREC 2020): split
    * the corpus into head/middle/tail terciles by LM fluency — CCNet
    * keeps the head, inspects the middle, drops the tail. Score = the
    * integer micro-unit bigram-LM fluency (`Σ(c2·10⁶ DIV c1) DIV n`,
    * text_lm_score's sum before its one IEEE division; −1 for docs with
    * no bigram so they land deterministically in the tail in both
    * engines — no NULL-ordering divergence). Bucket 1 = head (most
    * fluent), 3 = tail.
    *
    * The interesting part is EXACT ntile(3) WITHOUT a global window.
    * The naive form shuffles the whole corpus into one partition (the
    * 100 TB scale-killer); instead the global position decomposes as
    *   pos = (#rows with smaller score) + (rank by doc_id within the
    *         doc's own score)
    * where the first term is a cumulative sum over the SCORE HISTOGRAM
    * (micro-unit scores are integers in [−1, 10⁶], so the histogram is
    * value-bounded — its single-partition window is over ≤10⁶ thin
    * rows regardless of corpus size) and the second is a window
    * PARTITIONED by score (scale-safe). Bucket boundaries are the
    * standard ntile splits (first n mod 3 buckets one larger). The
    * DuckDB mirror is the naive `ntile(3) OVER (ORDER BY score,
    * doc_id)` — different plan, identical rows, hash-gated.
    */
  private val pplBucket = Q(
    "text_ppl_bucket",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val gramArr = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")), 2,
          distinct = false))
      def h(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val grams = d
        .select(col("doc_id"), explode(gramArr).as("g"))
        .select(col("doc_id"), h(substring_index(col("g"), " ", 1)).as("h1"),
          h(col("g")).as("h2"))
        .transform(graft.Checkpoint.of)
      val ctx = grams.groupBy("h1").agg(count(lit(1)).as("c1"))
      val big = grams.groupBy("h2").agg(count(lit(1)).as("c2"))
      val scored = d.select("doc_id")
        .join(grams.join(big, "h2").join(ctx, "h1")
          .withColumn("term", expr("c2 * 1000000 DIV c1"))
          .groupBy("doc_id")
          .agg(expr("sum(term) DIV count(1)").as("sm")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("sm"), lit(-1L)).as("score_micro"))
        .transform(graft.Checkpoint.of)
      // value-bounded histogram: #rows ranked ahead (FLUENCY DESC —
      // bucket 1 = CCNet's head) of each distinct score
      val W = org.apache.spark.sql.expressions.Window
      val ahead = scored.groupBy("score_micro")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("ahead",
          coalesce(sum("cnt").over(W.orderBy(col("score_micro").desc)
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select("score_micro", "ahead")
      val withinScore = W.partitionBy("score_micro").orderBy("doc_id")
      val n1 = scored.agg(count(lit(1)).as("n"))
      scored
        .join(ahead, "score_micro")
        .withColumn("pos", col("ahead") + row_number().over(withinScore))
        .crossJoin(broadcast(n1))
        // ntile(3) boundaries: first (n mod 3) buckets are one larger
        .withColumn("b1",
          expr("n DIV 3 + CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END"))
        .withColumn("b2", col("b1") +
          expr("n DIV 3 + CASE WHEN n % 3 >= 2 THEN 1 ELSE 0 END"))
        .select(col("doc_id"), col("score_micro"),
          when(col("pos") <= col("b1"), lit(1L))
            .when(col("pos") <= col("b2"), lit(2L))
            .otherwise(lit(3L)).as("bucket"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    grams AS (
      SELECT doc_id,
        ('0x' || substr(md5(u.s.a), 1, 15))::BIGINT AS h1,
        ('0x' || substr(md5(u.s.g), 1, 15))::BIGINT AS h2
      FROM toks, UNNEST([struct_pack(a := w[i], g := w[i] || ' ' || w[i+1])
        for i in range(1, greatest(len(w), 1))]) u(s)),
    ctx AS (SELECT h1, COUNT(*) AS c1 FROM grams GROUP BY h1),
    big AS (SELECT h2, COUNT(*) AS c2 FROM grams GROUP BY h2),
    sm AS (
      SELECT doc_id, SUM((c2 * 1000000) // c1) // COUNT(*) AS sm
      FROM grams JOIN big USING (h2) JOIN ctx USING (h1)
      GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id, COALESCE(sm.sm, -1)::BIGINT AS score_micro
      FROM documents d LEFT JOIN sm ON d.doc_id = sm.doc_id)
    SELECT doc_id, score_micro,
      ntile(3) OVER (ORDER BY score_micro DESC, doc_id)::BIGINT AS bucket
    FROM scored ORDER BY doc_id"""))

  // ------------------------------------------------------ text_line_dedup
  /** Tokens per "line" — the fixed-width unit standing in for the
    * newline-delimited paragraphs of a real crawl (this corpus has no
    * newlines; CCNet/Dolma dedup at line/paragraph granularity).
    */
  private val LINE = 16

  /** LINE-level dedup across the whole corpus (CCNet §3.1, Wenzek et al.
    * 2020: drop every repeated line, keep only its first occurrence;
    * RefinedWeb/Dolma run the same pass) — the sub-document complement
    * of dedup_exact (whole docs) and dedup_substring (positional runs):
    * boilerplate lines repeated across pages vanish while the documents
    * survive. A line is kept iff its (doc_id, line_id) is the corpus-wide
    * minimum occurrence of its hash — singletons trivially are.
    *
    * Scale shape: lines explode map-side (thin rows), the occurrence
    * table is ONE hash-agg on the 32-char line hash, and the keep
    * decision is an equi-join back on that hash — both sides shuffle on
    * the same key, never doc×doc. The exploded line table is
    * checkpointed once (two consumers — the agg and the probe side;
    * otherwise the scan+split lineage re-runs per consumer). Reassembly
    * is a per-doc sort of collected (line_id, line) structs — the one
    * interpreted HOF (`transform`) runs post-aggregation on n_docs rows,
    * not in the per-line hot path. first-occurrence key packs as
    * doc_id·10⁶+line_id (exact: line_id < 10⁶ at any plausible doc
    * length; both engines compare the same BIGINT).
    */
  private val lineDedup = Q(
    "text_line_dedup",
    (s, dir) => {
      val toks = tokens(col("text"))
      val nLines = ceil(size(toks).cast("double") / LINE).cast("int")
      val lines = when(nLines > 0,
        transform(sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * LINE + 1, lit(LINE)), " ")))
        .otherwise(typedLit(Seq.empty[String]))
      val l = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(lines).as(Seq("line_id", "line")))
        .select(col("doc_id"), col("line_id").cast("long").as("line_id"),
          col("line"), md5(col("line")).as("h"),
          (col("doc_id") * 1000000 + col("line_id")).as("occ_key"))
        .transform(graft.Checkpoint.of)
      val firsts = l.groupBy("h").agg(min(col("occ_key")).as("first_key"))
      l.join(firsts, "h")
        .withColumn("keep", col("occ_key") === col("first_key"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("keep").cast("long")).as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(
                when(col("keep"), struct(col("line_id"), col("line"))))),
              x => x.getField("line")), " ").as("kept_text"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    l AS (
      SELECT doc_id, (i - 1)::BIGINT AS line_id,
        array_to_string(w[(i-1)*$LINE+1 : i*$LINE], ' ') AS line
      FROM d, range(1, 100000) r(i)
      WHERE i <= ceil(len(w) * 1.0 / $LINE)),
    h AS (SELECT *, md5(line) AS h,
        doc_id * 1000000 + line_id AS occ_key FROM l),
    g AS (SELECT h, min(occ_key) AS first_key FROM h GROUP BY h)
    SELECT doc_id, COUNT(*)::BIGINT AS n_lines,
      SUM((occ_key = first_key)::INT)::BIGINT AS n_kept,
      COALESCE(string_agg(CASE WHEN occ_key = first_key THEN line END,
        ' ' ORDER BY line_id), '') AS kept_text
    FROM h JOIN g USING (h)
    GROUP BY doc_id ORDER BY doc_id"""))

  // ------------------------------------------------------ text_html_strip
  /** HTML boilerplate stripping — the extraction stage every web-crawl
    * pipeline runs before any text op sees a document (trafilatura /
    * resiliparse territory; here the deterministic core: script/style
    * block removal, tag stripping, entity unescape, whitespace
    * collapse). The corpus is plain text, so the query derives an
    * HTML-wrapped spelling of each document IDENTICALLY in both engines
    * (the dedup_url recipe) with the adversarial forms a real page has:
    * a script body holding entities and quotes, a style block, attribute
    * soup, self-closing tags, and pre-escaped entities in content.
    *
    * Map-only: per-doc regex chains (codegen'd `regexp_replace`, Java
    * and RE2 agree on these character-class-only patterns), zero
    * shuffle before the output sort. Entity unescape runs &amp; LAST so
    * double-escaped text un-escapes one level, like a real parser.
    * n_tags counts tag tokens on the wrapped input (`<[^>]*>`), the QA
    * number a pipeline logs per page.
    */
  private val htmlStrip = Q(
    "text_html_strip",
    (s, dir) => {
      val html = concat(
        lit("<html><head><title>doc &amp; "), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\"> p { margin: 0 } </style>" +
          "<script>var x = \"1 &lt; 2\";</script></head><body>" +
          "<h1 class=\"t\">Doc &quot;"), col("doc_id").cast("string"),
        lit("&quot;</h1><p id=\"m\">"), col("text"),
        lit("</p><br/><div>&gt; footer &lt;</div></body></html>"))
      val noScript = regexp_replace(
        regexp_replace(html, "<script[^>]*>[^<]*</script>", " "),
        "<style[^>]*>[^<]*</style>", " ")
      val noTags = regexp_replace(noScript, "<[^>]*>", " ")
      val unescaped = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(noTags, "&lt;", "<"), "&gt;", ">"),
        "&quot;", "\""), "&amp;", "&")
      val clean = trim(regexp_replace(unescaped, " +", " "))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(html, lit("<[^>]*>"), lit(0)))
            .cast("long").as("n_tags"),
          clean.as("clean_text"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
      SELECT doc_id,
        '<html><head><title>doc &amp; ' || doc_id::VARCHAR ||
        '</title><style type="text/css"> p { margin: 0 } </style>' ||
        '<script>var x = "1 &lt; 2";</script></head><body>' ||
        '<h1 class="t">Doc &quot;' || doc_id::VARCHAR ||
        '&quot;</h1><p id="m">' || text ||
        '</p><br/><div>&gt; footer &lt;</div></body></html>' AS html
      FROM documents),
    st AS (SELECT doc_id, html,
        regexp_replace(regexp_replace(html,
          '<script[^>]*>[^<]*</script>', ' ', 'g'),
          '<style[^>]*>[^<]*</style>', ' ', 'g') AS h1 FROM w),
    nt AS (SELECT doc_id, html,
        regexp_replace(h1, '<[^>]*>', ' ', 'g') AS h2 FROM st),
    un AS (SELECT doc_id, html,
        replace(replace(replace(replace(h2,
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&') AS h3
      FROM nt)
    SELECT doc_id,
      len(regexp_extract_all(html, '<[^>]*>'))::BIGINT AS n_tags,
      trim(regexp_replace(h3, ' +', ' ', 'g')) AS clean_text
    FROM un ORDER BY doc_id"""))

  // ------------------------------------------------------ text_normalize
  /** Unicode normalization stage (the ftfy/CCNet cleanup every crawled
    * corpus runs BEFORE tokenize/fingerprint/dedup — dedup_exact's md5
    * and the Tokens kernel assume its output): NFC composition +
    * zero-width/control stripping + case-fold + whitespace collapse.
    * The corpus is clean ASCII, so the query derives a DIRTY spelling of
    * each document identically in both engines (the text_html_strip
    * recipe) with the adversarial forms crawled text actually has: a
    * BOM, a decomposed accent (`E`+U+0301), zero-width space/joiner
    * splices, a control byte inside a word, a second combining mark
    * (`A`+U+030A), and upper-cased body text.
    *
    * Stage order (mirrored in the oracle): strip zero-width → strip
    * controls → NFC (the codegen [[graft.functions.UnicodeNormalize]]
    * kernel vs DuckDB `nfc_normalize` — the normalized TEXT itself is
    * under the hash gate) → lower (Unicode simple case-fold, É→é
    * identical in both engines) → collapse/trim spaces. Zero-width
    * strip runs FIRST so a joiner can't block composition; control
    * strip removes (not spaces) so a split word heals, like ftfy.
    *
    * Map-only: per-doc regex chains + one kernel call, zero shuffle
    * before the output sort; at 100 TB this is a pure scan stage that
    * pipelines into whatever consumes it.
    */
  private val ZW_RE = "[\u200b\u200c\u200d\ufeff]"
  private val CTL_RE = "[\u0001-\u0008\u000b\u000c\u000e-\u001f\u007f]"

  private val normalize = Q(
    "text_normalize",
    (s, dir) => {
      val dirty = concat(
        lit("\ufeffCAFE\u0301 \u200bdu \u200cMONDE "),
        upper(col("text")),
        lit(" BEL\u0007L \u200dA\u030a"))
      val noZw = regexp_replace(dirty, ZW_RE, "")
      val noCtl = regexp_replace(noZw, CTL_RE, "")
      val norm = lower(unicodeNormalize(noCtl))
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          size(regexp_extract_all(dirty, lit(ZW_RE), lit(0)))
            .cast("long").as("n_zero_width"),
          size(regexp_extract_all(dirty, lit(CTL_RE), lit(0)))
            .cast("long").as("n_controls"),
          trim(regexp_replace(norm, " +", " ")).as("norm_text"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
      SELECT doc_id,
        chr(65279) || 'CAFE' || chr(769) || ' ' || chr(8203) || 'du ' ||
        chr(8204) || 'MONDE ' || upper(text) ||
        ' BEL' || chr(7) || 'L ' || chr(8205) || 'A' || chr(778) AS dirty,
        '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']'
          AS zw_re,
        '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) || chr(14) ||
          '-' || chr(31) || chr(127) || ']' AS ctl_re
      FROM documents),
    st AS (SELECT doc_id, dirty, zw_re, ctl_re,
        regexp_replace(regexp_replace(dirty, zw_re, '', 'g'),
          ctl_re, '', 'g') AS stripped
      FROM w)
    SELECT doc_id,
      len(regexp_extract_all(dirty, zw_re))::BIGINT AS n_zero_width,
      len(regexp_extract_all(dirty, ctl_re))::BIGINT AS n_controls,
      trim(regexp_replace(lower(nfc_normalize(stripped)), ' +', ' ', 'g'))
        AS norm_text
    FROM st ORDER BY doc_id"""))

  // ------------------------------------------------------- text_rank_bm25
  private val BM25_TERMS = Seq("table", "query", "window", "merge")
  private val BM25_K = 50

  /** BM25 ranking (Robertson & Walker '94) at the published constants
    * k1=1.2, b=0.75, restated as EXACT integer arithmetic so both
    * engines agree bit-for-bit (the text_lm_score argument — no ln(),
    * no float accumulation): with rational k1=6/5, b=3/4 the per-term
    * score idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) multiplies out to
    *   idf_micro · 22·avgdl·tf DIV (10·avgdl·tf + 3·avgdl + 9·dl)
    * where idf_micro = (2(N−df)+1)·10⁶ DIV (2df+1) is the classic
    * (N−df+0.5)/(df+0.5) idf in millionths and avgdl = Σdl DIV N. The
    * tf-idf twin is text_search_ranked; BM25 adds the saturation and
    * length normalization every production retrieval stack actually
    * uses. Integer headroom: idf_micro ≤ 2N·10⁶, so the widest product
    * fits BIGINT up to ~10⁸ docs per corpus; past that drop idf to
    * thousandths or promote the contrib expression to DECIMAL(38,0) —
    * a one-line scale change.
    *
    * Shape: one tokenize scan; tf = hash-agg on (doc, term) AFTER an
    * `isin` filter to the query terms (the explode emits nothing else);
    * df (≤|terms| rows) and the (N, avgdl) scalar row broadcast; the
    * only corpus-keyed exchange is the dl join on doc_id. Top-k is
    * TakeOrderedAndProject, never a global sort.
    */
  /** BM25 integer scores for `terms` over the corpus — (doc_id,
    * n_terms_matched, score) for every matching doc, unranked. Shared by
    * text_rank_bm25 and hybrid_search_rrf.
    */
  private[graft] def bm25Scores(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    val d = Tables(s, dir, "documents")
    val dl = d.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    val n = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) DIV count(1)").as("avgdl"))
    val tf = d.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n))
      .withColumn("contrib", expr(
        "((((n_docs - df) * 2 + 1) * 1000000 DIV (2 * df + 1)) " +
          "* 22 * avgdl * tf) " +
          "DIV (10 * avgdl * tf + 3 * avgdl + 9 * dl)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum("contrib").as("score"))
  }

  private val bm25 = Q(
    "text_rank_bm25",
    (s, dir) =>
      bm25Scores(s, dir, BM25_TERMS)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(BM25_K)
        .select(col("doc_id"), col("n_terms_matched"), col("score")),
    Some(s"""WITH ${sqlBm25ScoreCte(BM25_TERMS)}
    SELECT doc_id, n_terms_matched, score FROM bm
    ORDER BY score DESC, doc_id LIMIT $BM25_K"""))

  /** DuckDB CTE chain mirroring [[bm25Scores]] exactly, ending in
    * `bm(doc_id, n_terms_matched, score)`. */
  private[graft] def sqlBm25ScoreCte(terms: Seq[String]): String =
    s"""d AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM d),
    n AS (SELECT COUNT(*)::BIGINT AS n_docs,
      (SUM(dl) // COUNT(*))::BIGINT AS avgdl FROM dl),
    t AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM t
      WHERE term IN (${terms.map("'" + _ + "'").mkString(",")})
      GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
    sc AS (SELECT doc_id,
        ((((n_docs - df) * 2 + 1) * 1000000 // (2 * df + 1))
          * 22 * avgdl * tf)
          // (10 * avgdl * tf + 3 * avgdl + 9 * dl) AS contrib
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n),
    bm AS (SELECT doc_id, COUNT(*)::BIGINT AS n_terms_matched,
      SUM(contrib)::BIGINT AS score
    FROM sc GROUP BY doc_id)"""

  // ----------------------------------------------------- hybrid_search_rrf
  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. '09 —
    * the fusion every production RAG stack runs): the BM25 leg
    * ([[bm25Scores]], same terms as text_rank_bm25) and a vector leg
    * (exact cosine against one query embedding) each produce a top-50
    * rank list; fused score = Σ 10⁶ DIV (60 + rank) over the legs a doc
    * appears in (integer RRF in millionths, k=60 the published
    * constant), final top-20 by fused score with doc_id tie-break.
    * Docs found by only one leg keep a NULL rank on the other — the
    * honest provenance column.
    *
    * Shape: each leg is its own bounded top-k (the global row_number
    * windows here run over leg-sized frames, ≤ corpus matches); the
    * fusion is a full outer join of two ≤50-row lists — driver-free and
    * broadcastable. At 100 TB the legs swap in the persisted index
    * paths (text_search_ranked's DPP index, knn_ivf_persisted) and the
    * fusion shape is unchanged.
    */
  private val RRF_K = 60
  private val HYBRID_LEG_K = 50
  private val HYBRID_K = 20
  private val HYBRID_QVEC = 0L

  private val hybrid = Q(
    "hybrid_search_rrf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.CosineSim.cosineSim
      val tw = Window.orderBy(col("score").desc, col("doc_id"))
      val textRanks = bm25Scores(s, dir, BM25_TERMS)
        .withColumn("text_rank", row_number().over(tw).cast("long"))
        .filter(col("text_rank") <= HYBRID_LEG_K)
        .select(col("doc_id"), col("text_rank"))
      val e = Tables.vectors(s, dir)
      val qv = e.filter(col("vec_id") === HYBRID_QVEC)
        .select(col("v").as("qv"))
      val cos = cosineSim(col("qv"), col("v"))
      val vw = Window.orderBy(cos.desc, col("vec_id"))
      val vecRanks = e.crossJoin(broadcast(qv))
        .withColumn("vec_rank", row_number().over(vw).cast("long"))
        .filter(col("vec_rank") <= HYBRID_LEG_K)
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      val fw = Window.orderBy(col("rrf_micro").desc, col("doc_id"))
      textRanks.join(vecRanks, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr(s"1000000 DIV ($RRF_K + text_rank)"), lit(0L)) +
            coalesce(expr(s"1000000 DIV ($RRF_K + vec_rank)"), lit(0L)))
        .withColumn("rank", row_number().over(fw).cast("long"))
        .filter(col("rank") <= HYBRID_K)
        .select("rank", "doc_id", "text_rank", "vec_rank", "rrf_micro")
        .orderBy("rank")
    },
    Some(s"""WITH ${sqlBm25ScoreCte(BM25_TERMS)},
    trk AS (SELECT doc_id, text_rank FROM (
        SELECT doc_id,
          row_number() OVER (ORDER BY score DESC, doc_id) AS text_rank
        FROM bm)
      WHERE text_rank <= $HYBRID_LEG_K),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    qv AS (SELECT v AS qv FROM e WHERE vec_id = $HYBRID_QVEC),
    vrk AS (SELECT doc_id, vec_rank FROM (
        SELECT e.vec_id AS doc_id,
          row_number() OVER (
            ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id)
            AS vec_rank
        FROM e CROSS JOIN qv)
      WHERE vec_rank <= $HYBRID_LEG_K),
    fused AS (SELECT COALESCE(trk.doc_id, vrk.doc_id) AS doc_id,
        text_rank, vec_rank,
        COALESCE(1000000 // ($RRF_K + text_rank), 0)
          + COALESCE(1000000 // ($RRF_K + vec_rank), 0) AS rrf_micro
      FROM trk FULL JOIN vrk ON trk.doc_id = vrk.doc_id)
    SELECT rank, doc_id, text_rank, vec_rank, rrf_micro FROM (
      SELECT doc_id, text_rank, vec_rank, rrf_micro,
        row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
      FROM fused)
    WHERE rank <= $HYBRID_K ORDER BY rank"""))

  // --------------------------------------------------------- text_badwords
  /** Blocklist screening — the lexicon-hit filter every crawl pipeline
    * runs (C4's badwords list, Gopher's obscenity gate). [[BADWORDS]] is
    * a 2-entry stand-in lexicon (this corpus has no real profanity —
    * same convention as [[stopwords]]); the operator shape is the real
    * one: per-doc hit counting via the codegen [[tokenMatchCount]]
    * kernel (ONE pass over the text, the blocklist a hashed reference
    * object — a production 10³-word list changes the constant, not the
    * plan), flag = hit rate ≥ 5% stated in exact integer arithmetic
    * (`n_flagged · 20 ≥ n_tokens`, no float threshold to drift).
    *
    * Scale: map-only projection, zero exchange before the output sort;
    * the blocklist never joins — it compiles into the kernel.
    */
  val BADWORDS: Seq[String] = Seq("slow", "big")

  private val badwordsSqlList: String =
    BADWORDS.map(w => "'" + w.replace("'", "''") + "'").mkString(",")

  private val badwords = Q(
    "text_badwords",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          tokenMatchCount(col("text"), BADWORDS).cast("long")
            .as("n_flagged"))
        .withColumn("flagged",
          col("n_tokens") > 0 && col("n_flagged") * 20 >= col("n_tokens"))
        .orderBy("doc_id"),
    Some(s"""WITH tk AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '), w -> w <> ''))::BIGINT
          AS n_tokens,
        len(list_filter(string_split(text,' '),
          w -> w IN ($badwordsSqlList)))::BIGINT AS n_flagged
      FROM documents)
    SELECT doc_id, n_tokens, n_flagged,
      (n_tokens > 0 AND n_flagged * 20 >= n_tokens) AS flagged
    FROM tk ORDER BY doc_id"""))

  // -------------------------------------------------------- text_keywords
  /** Per-SOURCE distinctive terms — "what characterizes this slice":
    * for each source, the tokens whose occurrence mass concentrates in
    * it (`score = tf_source·10⁶ DIV tf_corpus`, the integer-exact
    * lift/purity ratio — log-free, so no transcendental drift), top
    * [[KEYWORDS_K]] per source. The quick corpus-composition dashboard
    * next to corpus_stats: a source whose keywords are navigation chrome
    * is boilerplate; one whose keywords are another's is a re-crawl.
    *
    * Scale: token counts aggregate map-side-combined on (source, tok)
    * then tok (vocab-bounded exchanges, never corpus-keyed); the
    * per-source top-k goes through row_number with rank-filter
    * pushdown — WindowGroupLimit cuts each partition to k rows per
    * source BEFORE the window shuffle, so the window carries
    * O(|sources|·k), not the vocabulary.
    */
  private val KEYWORDS_K = 3

  private val keywords = Q(
    "text_keywords",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      val bySrc = toks.groupBy("source", "tok")
        .agg(count(lit(1)).as("tf_source"))
      val corpus = bySrc.groupBy("tok")
        .agg(sum("tf_source").as("tf_corpus"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("score_micro").desc, col("tok"))
      bySrc.join(corpus, "tok")
        .withColumn("score_micro",
          expr("tf_source * 1000000 DIV tf_corpus"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= KEYWORDS_K)
        .select(col("source"), col("tok"), col("tf_source"),
          col("tf_corpus"), col("score_micro"), col("rk"))
        .orderBy("source", "rk")
    },
    Some(s"""WITH toks AS (
      SELECT source, u.t AS tok
      FROM documents,
        UNNEST(list_filter(string_split(text,' '), t -> t <> '')) u(t)),
    bs AS (SELECT source, tok, COUNT(*)::BIGINT AS tf_source
      FROM toks GROUP BY source, tok),
    c AS (SELECT tok, SUM(tf_source)::BIGINT AS tf_corpus
      FROM bs GROUP BY tok),
    sc AS (SELECT source, tok, tf_source, tf_corpus,
        (tf_source * 1000000 // tf_corpus)::BIGINT AS score_micro
      FROM bs JOIN c USING (tok))
    SELECT source, tok, tf_source, tf_corpus, score_micro, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY source
        ORDER BY score_micro DESC, tok) AS rk FROM sc)
    WHERE rk <= $KEYWORDS_K ORDER BY source, rk"""))

  // ---------------------------------------------------------- text_entropy
  /** Per-document token (unigram) Shannon entropy — the information-
    * density quality signal (RedPajama-V2 `rps_doc_unigram_entropy`):
    * boilerplate, keyword-stuffed and template pages sit far below
    * natural prose, so a low-entropy flag is a standard curation gate
    * alongside [[quality]]'s length/ratio rules and [[repetition]]'s
    * duplicate-gram fractions (which catch VERBATIM repeats; entropy
    * also catches low-diversity text that never repeats a whole gram).
    *
    * `H = log2 N − (Σ_w c_w·log2 c_w)/N` over per-doc token counts
    * `c_w`, computed in the repo's fixed-point 2⁻²⁰ log2
    * ([[Sampling.ilog2m20]] — deterministic integer arithmetic, no
    * transcendental ln, identical both engines; max 0.086-bit smooth
    * bias is irrelevant for a thresholded quality signal). The floor
    * division puts `entropy_m20` in [0, ilog2(N)] exactly:
    * `Σ c·ilog2(c) ≤ N·ilog2(N)` by monotonicity, with equality at a
    * single repeated token → entropy 0.
    *
    * Scale: explode → two map-side-combined hash aggregates on
    * (doc_id, tok) then doc_id — the tfidf shape, no windows, no joins;
    * per-doc sums stay < 2⁶³ for any document that fits in memory
    * (c·ilog2m20(c) ≤ N·63·2²⁰).
    */
  private val entropy = Q(
    "text_entropy",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val counts = d
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
      counts
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(expr(s"c * ${Sampling.ilog2m20("c")}")).as("clc"))
        .withColumn("entropy_m20",
          expr(s"${Sampling.ilog2m20("n_tokens")} - clc DIV n_tokens"))
        .withColumn("is_low_entropy", col("entropy_m20") < 2097152L)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("entropy_m20"), col("is_low_entropy"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      SELECT doc_id, u.t AS tok
      FROM documents,
        UNNEST(list_filter(string_split(text,' '), t -> t <> '')) u(t)),
    cnt AS (
      SELECT doc_id, tok, COUNT(*)::BIGINT AS c
      FROM toks GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id, SUM(c)::BIGINT AS n_tokens,
        COUNT(*)::BIGINT AS n_distinct,
        SUM(c * ${Sampling.dIlog2m20("c")})::BIGINT AS clc
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
      (${Sampling.dIlog2m20("n_tokens")} - clc // n_tokens)::BIGINT
        AS entropy_m20,
      (${Sampling.dIlog2m20("n_tokens")} - clc // n_tokens) < 2097152
        AS is_low_entropy
    FROM agg ORDER BY doc_id"""))

  // ---------------------------------------------------- text_source_drift
  /** Per-source token-DISTRIBUTION drift vs the reference source — the
    * Jensen–Shannon divergence monitor a mixture pipeline runs per
    * ingest batch ("has src7's crawl shifted away from the corpus I
    * tuned the weights on?"), complementing [[emb_drift]]'s embedding
    * -space check with a symbol-space one. Tokens hash into
    * [[DRIFT_B]] buckets (the [[Sampling.dsir]] hashed-feature model,
    * 60-bit md5 prefix mod B), each source's bucket distribution is
    * compared to `src0`'s:
    * `JSD(P,Q) = ½Σ p·log2(2p̅/(p̅+q̅)) + ½Σ q·log2(2q̅/(p̅+q̅))`
    * over floor shares `p = c·2²⁰ DIV N` with add-one smoothing ONLY
    * inside the log (raw multiplier keeps absent-bucket terms exactly
    * 0); logs are the fixed-point [[Sampling.ilog2m20]] — all-integer,
    * identical both engines, and `src0` vs itself is EXACTLY 0 (every
    * log ratio cancels), a built-in self-check row. `greatest(·,0)`
    * before the final floor division keeps Spark's truncating `DIV`
    * and DuckDB's flooring `//` on the same (non-negative) domain.
    *
    * Scale: one corpus pass → map-side-combined (source, bucket)
    * counts, CHECKPOINTED (≤|sources|·B thin rows feed totals, the
    * share table, and the bucket×source grid — without the barrier the
    * scan+explode lineage runs 3×); everything after is broadcast-grid
    * arithmetic on ≤5k rows. Shares overflow-safe to c < 2⁴³ tokens
    * per (source, bucket) — the ilog2m20 shift-split note.
    */
  /** Shared by the batch query AND [[graft.streaming.Streaming.driftSink]]
    * — the sink's bit-equality contract with the batch query holds only
    * while both hash into the same bucket count against the same
    * reference source, so there is exactly ONE definition of each.
    */
  private[graft] val DRIFT_B = 256
  private[graft] val DRIFT_REF = "src0"

  /** Hashed token-bucket counts per source — (source, b, c) from a
    * (source, text) frame; the [[sourceDrift]] model stage, reused by
    * [[graft.streaming.Streaming.driftSink]] whose state table is
    * exactly these rows accumulated across micro-batches.
    */
  def sourceBucketCounts(docs: DataFrame, buckets: Int = DRIFT_B): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"),
        (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
          % buckets).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))

  /** Fixed-point Jensen–Shannon divergence of every source's bucket
    * distribution vs `ref`'s, from a (source, b, c) counts frame —
    * see [[sourceDrift]] for the arithmetic. `cnt` is consumed by
    * THREE sub-plans (totals, shares, the bucket×source grid): pass a
    * materialized frame (Checkpoint.of / localCheckpoint) or the
    * upstream lineage runs three times.
    */
  def sourceJsd(cnt: DataFrame, ref: String = DRIFT_REF): DataFrame = {
    val il = Sampling.ilog2m20 _
    val totals = cnt.groupBy("source").agg(sum("c").as("n_tokens"))
    val shares = cnt.join(broadcast(totals), "source")
      .select(col("source"), col("b"),
        expr("c * 1048576 DIV n_tokens").as("sh"))
    val refSh = shares.filter(col("source") === ref)
      .select(col("b"), col("sh").as("pa"))
    val grid = cnt.select("b").distinct()
      .crossJoin(cnt.select("source").distinct())
    grid
      .join(shares, Seq("source", "b"), "left")
      .join(broadcast(refSh), Seq("b"), "left")
      .select(col("source"),
        coalesce(col("pa"), lit(0L)).as("pa"),
        coalesce(col("sh"), lit(0L)).as("qa"))
      .withColumn("contrib",
        expr(s"pa * (${il("(pa + 1) * 2")} - ${il("pa + qa + 2")})" +
          s" + qa * (${il("(qa + 1) * 2")} - ${il("pa + qa + 2")})"))
      .groupBy("source").agg(sum("contrib").as("sc"))
      .join(broadcast(totals), "source")
      .select(col("source"), col("n_tokens"),
        expr("greatest(sc, 0) DIV 2097152").as("jsd_m20"))
      .orderBy("source")
  }

  private val sourceDrift = Q(
    "text_source_drift",
    (s, dir) =>
      sourceJsd(
        sourceBucketCounts(Tables(s, dir, "documents"))
          .transform(graft.Checkpoint.of)),
    Some(s"""WITH cnt AS MATERIALIZED (
      SELECT source,
        (('0x' || substr(md5(u.t), 1, 15))::BIGINT % $DRIFT_B) AS b,
        COUNT(*)::BIGINT AS c
      FROM documents,
        UNNEST(list_filter(string_split(text,' '), t -> t <> '')) u(t)
      GROUP BY 1, 2),
    totals AS (SELECT source, SUM(c)::BIGINT AS n_tokens
      FROM cnt GROUP BY source),
    shares AS (
      SELECT source, b, c * 1048576 // n_tokens AS sh
      FROM cnt JOIN totals USING (source)),
    ref AS (SELECT b, sh AS pa FROM shares WHERE source = 'src0'),
    grid AS (
      SELECT s.source, bb.b,
        COALESCE(ref.pa, 0) AS pa, COALESCE(sh.sh, 0) AS qa
      FROM (SELECT DISTINCT b FROM cnt) bb
      CROSS JOIN (SELECT DISTINCT source FROM cnt) s
      LEFT JOIN shares sh ON sh.source = s.source AND sh.b = bb.b
      LEFT JOIN ref ON ref.b = bb.b),
    agg AS (
      SELECT source,
        SUM(pa * (${Sampling.dIlog2m20("(pa + 1) * 2")}
            - ${Sampling.dIlog2m20("pa + qa + 2")})
          + qa * (${Sampling.dIlog2m20("(qa + 1) * 2")}
            - ${Sampling.dIlog2m20("pa + qa + 2")}))::BIGINT AS sc
      FROM grid GROUP BY source)
    SELECT source, n_tokens,
      (greatest(sc, 0) // 2097152)::BIGINT AS jsd_m20
    FROM agg JOIN totals USING (source) ORDER BY source"""))

  // -------------------------------------------------------- text_sentences
  /** SENTENCE-level readability stats — the words-per-sentence half of
    * the Gopher rules ([[quality]] covers the token-level half): split
    * on terminal punctuation, count words per non-empty sentence, emit
    * per-doc sentence count / exact milli mean words-per-sentence /
    * longest sentence, and the readability flag (mean ∈ [3, 90] words —
    * Gopher's bounds; fragments sit below, run-on machine text above).
    *
    * Shape: explode sentences map-side (no interpreted per-doc HOF over
    * the sentence array — the repo kernel rule), per-sentence word
    * count through the codegen [[tokens]] kernel, ONE map-side-combined
    * doc aggregate. Mean is `total·1000 DIV n` — integer floor,
    * identical both engines.
    */
  private val sentences = Q(
    "text_sentences",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"),
          explode(split(col("text"), "[.!?]")).as("sent"))
        .filter(trim(col("sent")) =!= "")
        .select(col("doc_id"),
          size(tokens(col("sent"))).cast("long").as("wc"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sentences"),
          sum("wc").as("n_words"),
          max("wc").as("max_words"))
        .withColumn("mean_wps_milli", expr("n_words * 1000 DIV n_sentences"))
        .withColumn("is_readable",
          col("mean_wps_milli").between(3000L, 90000L))
        .select(col("doc_id"), col("n_sentences"), col("n_words"),
          col("max_words"), col("mean_wps_milli"), col("is_readable"))
        .orderBy("doc_id")
    },
    Some("""WITH sent AS (
      SELECT doc_id,
        len(list_filter(string_split(u.s, ' '), t -> t <> ''))::BIGINT
          AS wc
      FROM documents,
        UNNEST(regexp_split_to_array(text, '[.!?]')) u(s)
      WHERE trim(u.s) <> ''),
    agg AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_sentences,
        SUM(wc)::BIGINT AS n_words, MAX(wc)::BIGINT AS max_words
      FROM sent GROUP BY doc_id)
    SELECT doc_id, n_sentences, n_words, max_words,
      (n_words * 1000 // n_sentences)::BIGINT AS mean_wps_milli,
      (n_words * 1000 // n_sentences) BETWEEN 3000 AND 90000
        AS is_readable
    FROM agg ORDER BY doc_id"""))

  // ----------------------------------------------------- text_collocations
  /** PMI COLLOCATION mining — the corpus-statistics pass behind phrase
    * vocabularies (word2phrase, tokenizer merge seeding, multi-word
    * entity lexicons): rank adjacent word pairs by pointwise mutual
    * information `PMI = log2(p(ab) / (p(a)·p(b)))`, computed as the
    * linear combination `ilog2(c_ab) + 2·ilog2(N) − ilog2(B) −
    * ilog2(c_a) − ilog2(c_b)` in the fixed-point 2⁻²⁰ log2 — no product
    * ever materializes (`c_ab·N²` would overflow at corpus scale; the
    * sum-of-logs form never exceeds ~66·2²⁰ per term), no transcendental
    * ln. Pairs below [[COLLOC_MIN]] occurrences are dropped first (the
    * standard PMI low-count guard — hapax pairs otherwise own the top of
    * the ranking), then global top-[[COLLOC_K]] by (pmi, pair).
    *
    * Scale: unigram and bigram counts are two map-side-combined gram
    * aggregates (the tfidf shape); the unigram table joins back on the
    * bigram's two words (vocab-keyed equi-joins); top-k is TakeOrdered —
    * no windows, nothing corpus²-shaped.
    */
  private val COLLOC_MIN = 5L
  private val COLLOC_K = 20

  private val collocations = Q(
    "text_collocations",
    (s, dir) => {
      import Sampling.ilog2m20
      val d = Tables(s, dir, "documents")
      val uni = d.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .transform(graft.Checkpoint.of) // totals + two join legs read it
      val bigramArr = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")), 2,
          distinct = false))
      val biAll = d.select(explode(bigramArr).as("ab"))
        .groupBy("ab").agg(count(lit(1)).as("c_ab"))
        .transform(graft.Checkpoint.of) // total + filtered legs read it
      val bi = biAll.filter(col("c_ab") >= COLLOC_MIN)
      val totals = uni.agg(sum("c").as("n_uni"))
        .crossJoin(biAll.agg(sum("c_ab").as("n_bi")))
      bi.withColumn("w1", split(col("ab"), " ").getItem(0))
        .withColumn("w2", split(col("ab"), " ").getItem(1))
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(broadcast(totals))
        .withColumn("pmi_m20",
          expr(s"${ilog2m20("c_ab")} + 2 * ${ilog2m20("n_uni")}" +
            s" - ${ilog2m20("n_bi")} - ${ilog2m20("c_a")}" +
            s" - ${ilog2m20("c_b")}"))
        .select(col("ab"), col("c_ab"), col("c_a"), col("c_b"),
          col("pmi_m20"))
        .orderBy(col("pmi_m20").desc, col("ab"))
        .limit(COLLOC_K)
        .orderBy(col("pmi_m20").desc, col("ab"))
    },
    Some({
      import Sampling.dIlog2m20
      s"""WITH toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') w
      FROM documents),
    uni AS MATERIALIZED (
      SELECT u.t AS w, COUNT(*)::BIGINT AS c
      FROM toks, UNNEST(w) u(t) GROUP BY u.t),
    big AS MATERIALIZED (
      SELECT u.g AS ab, COUNT(*)::BIGINT AS c_ab
      FROM toks, UNNEST([w[i] || ' ' || w[i+1]
        for i in range(1, greatest(len(w), 1))]) u(g)
      GROUP BY u.g),
    tot AS (SELECT (SELECT SUM(c)::BIGINT FROM uni) AS n_uni,
      (SELECT SUM(c_ab)::BIGINT FROM big) AS n_bi),
    sc AS (
      SELECT b.ab, b.c_ab, ua.c AS c_a, ub.c AS c_b,
        ${dIlog2m20("b.c_ab")} + 2 * ${dIlog2m20("t.n_uni")}
          - ${dIlog2m20("t.n_bi")} - ${dIlog2m20("ua.c")}
          - ${dIlog2m20("ub.c")} AS pmi_m20
      FROM big b
      JOIN uni ua ON ua.w = string_split(b.ab, ' ')[1]
      JOIN uni ub ON ub.w = string_split(b.ab, ' ')[2]
      CROSS JOIN tot t
      WHERE b.c_ab >= $COLLOC_MIN)
    SELECT ab, c_ab, c_a, c_b, pmi_m20
    FROM sc ORDER BY pmi_m20 DESC, ab LIMIT $COLLOC_K"""
    }))

  // ---------------------------------------------------- text_len_histogram
  /** Power-of-two SEQUENCE-LENGTH histogram — the distribution that
    * configures [[Packing.packSequences]]'s max_len and the trainer's
    * context budget (what fraction of documents/tokens land in
    * [2^b, 2^(b+1))): bucket = ⌊log2 n_tokens⌋ via the exact
    * `length(bin(n)) − 1` identity (no float log), per bucket the doc
    * count, token mass, and exact-integer corpus shares in millionths.
    * One map-side token count (codegen kernel) + one ≤64-key aggregate;
    * the share denominators re-aggregate those keys and broadcast back.
    */
  private val lenHistogram = Q(
    "text_len_histogram",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(size(tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket", expr("length(bin(n)) - 1").cast("long"))
      val h = d.groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      val tot = h.agg(sum("n_docs").as("td"), sum("n_tokens").as("tt"))
      h.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          expr("n_docs * 1000000 DIV td").as("doc_share_micro"),
          expr("n_tokens * 1000000 DIV tt").as("token_share_micro"))
        .orderBy("bucket")
    },
    Some("""WITH n AS (
      SELECT len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT
        AS n
      FROM documents),
    h AS (
      SELECT (length(bin(n)) - 1)::BIGINT AS bucket,
        COUNT(*)::BIGINT AS n_docs, SUM(n)::BIGINT AS n_tokens
      FROM n WHERE n > 0 GROUP BY 1),
    tot AS (SELECT SUM(n_docs)::BIGINT AS td, SUM(n_tokens)::BIGINT AS tt
      FROM h)
    SELECT bucket, n_docs, n_tokens,
      (n_docs * 1000000 // td)::BIGINT AS doc_share_micro,
      (n_tokens * 1000000 // tt)::BIGINT AS token_share_micro
    FROM h, tot ORDER BY bucket"""))

  // ------------------------------------------------------ text_readability
  /** Automated Readability Index per document — the grade-level quality
    * signal next to [[sentences]]' words-per-sentence flag (Senter &
    * Smith 1967: `ARI = 4.71·chars/words + 0.5·words/sentences −
    * 21.43`), entirely in integer MILLI units so both engines floor
    * identically: `4710·chars DIV words + 500·words DIV sentences −
    * 21430`. The grade bucket ceils the milli score and clamps to
    * [1, 14] (the published ARI grade table's range). Characters count
    * token characters (whitespace excluded by construction — the same
    * token definition every other text operator shares).
    *
    * Shape: two map-side explode→aggregate passes over the pruned
    * (doc_id, text) scan — token chars/words and sentence counts —
    * joined on the doc key; no windows, no corpus-level state.
    */
  private val readability = Q(
    "text_readability",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val words = d
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("tok"))).cast("long").as("n_chars"))
      val sents = d
        .select(col("doc_id"),
          explode(split(col("text"), "[.!?]")).as("sent"))
        .filter(trim(col("sent")) =!= "")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sentences"))
      words.join(sents, "doc_id")
        .filter(col("n_words") > 0 && col("n_sentences") > 0)
        .withColumn("ari_milli",
          expr("4710 * n_chars DIV n_words" +
            " + 500 * n_words DIV n_sentences - 21430"))
        .withColumn("grade",
          greatest(lit(1L), least(lit(14L),
            expr("(greatest(ari_milli, 0) + 999) DIV 1000"))))
        .select("doc_id", "n_chars", "n_words", "n_sentences",
          "ari_milli", "grade")
        .orderBy("doc_id")
    },
    Some("""WITH words AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_words,
        SUM(length(tok))::BIGINT AS n_chars
      FROM (SELECT doc_id, u.tok
        FROM documents,
          UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
            u(tok))
      GROUP BY doc_id),
    sents AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_sentences
      FROM (SELECT doc_id, u.s
        FROM documents,
          UNNEST(regexp_split_to_array(text, '[.!?]')) u(s)
        WHERE trim(u.s) <> '')
      GROUP BY doc_id),
    ari AS (
      SELECT doc_id, n_chars, n_words, n_sentences,
        (4710 * n_chars // n_words
          + 500 * n_words // n_sentences - 21430)::BIGINT AS ari_milli
      FROM words JOIN sents USING (doc_id)
      WHERE n_words > 0 AND n_sentences > 0)
    SELECT doc_id, n_chars, n_words, n_sentences, ari_milli,
      greatest(1, least(14,
        (greatest(ari_milli, 0) + 999) // 1000))::BIGINT AS grade
    FROM ari ORDER BY doc_id"""))

  // ------------------------------------------------------------ text_zipf
  /** ZIPF-LAW FIT over the corpus vocabulary — the sanity check every
    * crawled corpus runs (natural language follows `freq ∝ rank^(−s)`
    * with s ≈ 1; template/machine text bends the curve): least-squares
    * slope of ilog2(freq) against ilog2(rank) over the top
    * [[ZIPF_R]] terms, in the repo's fixed-point 2⁻²⁰ log2 — no
    * transcendental ln, no float regression. The slope closed form
    * `(n·Σxy − Σx·Σy) DIV (n·Σx² − (Σx)²)` runs in DECIMAL(38,0) /
    * HUGEINT (Σxy ≈ R·(30·2²⁰)² needs >64 bits after the ·10⁶ lift);
    * the numerator is negative by construction and both engines
    * truncate integer division toward zero identically.
    *
    * Scale: the vocabulary count is one map-side-combined gram
    * aggregate; the top-R cut is TakeOrdered (never a global rank
    * window over the vocabulary); the regression runs on R rows.
    */
  private val ZIPF_R = 200

  private val zipf = Q(
    "text_zipf",
    (s, dir) => {
      import Sampling.ilog2m20
      val topR = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(ZIPF_R)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val xy = topR
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("w"))).cast("long"))
        .select(expr(ilog2m20("rk")).cast(dec38).as("x"),
          expr(ilog2m20("c")).cast(dec38).as("y"))
      xy.agg(count(lit(1)).cast(dec38).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").cast("long").as("n_terms"),
          expr("CAST((n * sxy - sx * sy) * 1000000" +
            " DIV (n * sxx - sx * sx) AS LONG)").as("slope_m6"))
    },
    Some(s"""WITH uni AS (
      SELECT u.tok AS w FROM documents,
        UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
          u(tok)),
    cnt AS (SELECT w, COUNT(*)::BIGINT AS c FROM uni GROUP BY w
      ORDER BY c DESC, w LIMIT $ZIPF_R),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, w)::BIGINT AS rk, c
      FROM cnt),
    xy AS (
      SELECT ${Sampling.dIlog2m20("rk")}::HUGEINT AS x,
        ${Sampling.dIlog2m20("c")}::HUGEINT AS y
      FROM ranked),
    s AS (
      SELECT COUNT(*)::HUGEINT AS n, SUM(x) AS sx, SUM(y) AS sy,
        SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM xy)
    SELECT n::BIGINT AS n_terms,
      ((n * sxy - sx * sy) * 1000000
        // (n * sxx - sx * sx))::BIGINT AS slope_m6
    FROM s"""))

  val all: Seq[Q] = Seq(stats, langid, fingerprint, winnowed, topTokens,
    repetition, quality, tfidf, chunk, corpusStats, lmScore, lmHeldout, oov, ngramLm,
    piiScrub, pplBucket, lineDedup, htmlStrip, normalize, stemQ, bm25,
    hybrid, badwords, keywords, entropy, sentences, collocations,
    lenHistogram, sourceDrift, readability, zipf, langidEval)
}
