package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.dedup.Dedup

/** End-to-end corpus preparation — the composed flow a training-data
  * pipeline actually runs, as one declarative plan Catalyst optimizes
  * whole: quality filter → exact dedup → near-dup removal → split.
  *
  * Stage order matters and the oracle enforces it: near-dup pairs are
  * computed on the QUALITY-FILTERED, exact-deduped corpus (not the raw
  * one), and two near-dup policies ship:
  *
  *  - `pipeline_prepare` drops the higher doc_id of every verified PAIR
  *    — local, one extra anti-join, but in a chained-dup family
  *    (a~c, b~c, a≁b) it keeps BOTH a and b even though they belong to
  *    one duplication family.
  *  - `pipeline_prepare_clustered` rolls pairs up to connected
  *    components first ([[graft.dedup.Dedup.connectedComponents]]) and
  *    keeps exactly ONE doc per component (the min id) — the
  *    keep-one-per-cluster rule production dedup actually applies. Its
  *    oracle recomputes the component closure with a recursive CTE, so
  *    a green row proves the pair recall AND the fixpoint INSIDE the
  *    composed pipeline.
  */
object Pipelines {

  private val MIN_TOKENS = 20
  private val MAX_STOPWORD_RATIO = 0.12

  /** Stages 1–2 (+ the shingle table for stage 3): quality filter,
    * exact dedup, checkpointed shingles — shared by both policies.
    *
    * Checkpoints: `deduped` is consumed twice (shingle stage + final
    * anti-join) and truncating lineage stops downstream plans
    * re-inlining filter+md5; the shingle table is checkpointed BEFORE
    * explode or CollapseProject would inline the whole shingle-array
    * expression into the post-explode projection and re-evaluate it
    * once per exploded row (≈500× per doc) on both join sides.
    */
  private def dedupedStage(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextOps.tokens(col("text")))
    val swRatio = TextOps.tokenMatchCount(col("text"), TextOps.stopwords)
      .cast("double") / nTok
    val quality = Tables(s, dir, "documents")
      .filter(nTok >= MIN_TOKENS && swRatio <= MAX_STOPWORD_RATIO)
    // each fp keeps its min doc_id through ONE exchange: an aggregate
    // joined back would evaluate the filter and md5 on both sides
    quality.select(col("doc_id"), col("lang"), col("text"),
        TextOps.normalizedMd5(col("text")).as("fp"))
      .filter(col("fp").isNotNull)
      .withColumn("keeper",
        min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "lang", "text")
      .transform(graft.Checkpoint.of)
  }

  /** [[stages]] for perfbench's corpus_prepare workload, whose traced
    * spans time each stage, without widening its visibility for
    * production callers.
    */
  private[graft] def stagesForProbe(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = stages(s, dir)

  private def stages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val deduped = dedupedStage(s, dir)
    val sh = deduped
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .transform(graft.Checkpoint.of)
    (deduped, sh)
  }

  /** Stage 4: deterministic split + per-(lang, split) summary. */
  private def summarize(clean: DataFrame): DataFrame =
    clean
      .groupBy(col("lang"), Sampling.splitLabel(col("text")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy("lang", "split")

  /** Stages 1–2 as CTEs, ending in `deduped(doc_id, lang, text, w)` and
    * the 3-shingle table `sh(doc_id, s)` — shared oracle prefix.
    */
  private val sqlStages = s"""toks AS (
      SELECT doc_id, lang, text,
        list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    quality AS (
      SELECT doc_id, lang, text, w FROM toks
      WHERE len(w) >= $MIN_TOKENS
        AND len(list_filter(w, t -> t IN (${TextOps.stopwordsSql})))
          * 1.0 / len(w) <= $MAX_STOPWORD_RATIO),
    fp AS (
      SELECT doc_id, lang, text, w,
        md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS f
      FROM quality),
    deduped AS (
      SELECT doc_id, lang, text, w FROM fp
      WHERE doc_id = (SELECT MIN(doc_id) FROM fp f2 WHERE f2.f = fp.f)),
    sh AS (
      SELECT doc_id,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          for i in range(1, greatest(len(w)-1, 1))]) s
      FROM deduped),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.s, b.s)) * 1.0 /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= ${Dedup.TAU})"""

  /** Split + summary over `clean(doc_id, lang, text, ...)`. */
  private val sqlSummarize = """SELECT lang,
      CASE
        WHEN ('0x' || substr(md5(coalesce(text,'')), 1, 4))::INT < 52429
          THEN 'train'
        WHEN ('0x' || substr(md5(coalesce(text,'')), 1, 4))::INT < 58982
          THEN 'val'
        ELSE 'test'
      END AS split,
      COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM clean GROUP BY 1, 2 ORDER BY lang, split"""

  private val prepare = Q(
    "pipeline_prepare",
    (s, dir) => {
      val (deduped, sh) = stages(s, dir)
      // 3. near-dup removal: drop the higher doc_id of each jaccard pair
      val drops = Dedup.jaccardPairs(sh, Dedup.TAU)
        .select(col("b_id").as("doc_id")).distinct()
      summarize(deduped.join(drops, Seq("doc_id"), "left_anti"))
    },
    Some(s"""WITH $sqlStages,
    clean AS (
      SELECT * FROM deduped
      WHERE doc_id NOT IN (SELECT b_id FROM pairs))
    $sqlSummarize"""))

  private val prepareClustered = Q(
    "pipeline_prepare_clustered",
    (s, dir) => {
      val (deduped, sh) = stages(s, dir)
      // 3. near-dup removal, keep-one-per-CLUSTER: roll verified pairs up
      // to connected components and drop every doc whose component holds
      // a lower id — the thin (id,label) min-propagation from
      // dedup_clusters, running on pipeline-stage output
      val pairs = Dedup.jaccardPairs(sh, Dedup.TAU)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val drops = Dedup.connectedComponents(pairs)
        .filter(col("label") < col("id"))
        .select(col("id").as("doc_id"))
      summarize(deduped.join(drops, Seq("doc_id"), "left_anti"))
    },
    Some(s"""WITH RECURSIVE $sqlStages,
    e AS (SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
    cmin AS (SELECT u AS doc_id, MIN(v) AS m FROM reach GROUP BY u),
    clean AS (
      SELECT * FROM deduped d
      WHERE NOT EXISTS (SELECT 1 FROM cmin c
        WHERE c.doc_id = d.doc_id AND c.m < d.doc_id))
    $sqlSummarize"""))

  // --------------------------------------- persisted-drops twin
  /** The clustered near-dup DROP SET as a persisted artifact: the
    * pipeline's expensive stage-3 work (shingle self-join → verify →
    * connected components) runs once per corpus snapshot and stores
    * only the thin (doc_id) drop list; the `_persisted` twin re-runs
    * the cheap map+agg stages 1–2 and anti-joins the stored drops.
    * NOTE the pipeline's pair graph is computed on the quality-filtered,
    * exact-deduped corpus — a DIFFERENT pair set than the raw-corpus
    * [[graft.dedup.DedupState]] artifact (components may chain through
    * quality-rejected docs there), so this stage keeps its own stored
    * state rather than re-pointing at the raw one. Same oracle gates
    * both twins verbatim (deterministic pipeline, built once per corpus
    * fingerprint by [[graft.Artifacts.cached]]).
    */
  def buildClusteredDrops(s: SparkSession, dir: String,
      path: String): Unit = {
    val (_, sh) = stages(s, dir)
    val pairs = Dedup.jaccardPairs(sh, Dedup.TAU)
      .select(col("a_id").as("u"), col("b_id").as("v"))
    Dedup.connectedComponents(pairs)
      .filter(col("label") < col("id"))
      .select(col("id").as("doc_id"))
      .write.mode("overwrite").parquet(path)
  }

  /** The stored clustered drop list (doc_id). */
  def readClusteredDrops(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, graft.Artifacts.cached("pipelinedrops", s, dir)(
      buildClusteredDrops(s, dir, _)))

  private val prepareClusteredPersisted = Q(
    "pipeline_prepare_clustered_persisted",
    (s, dir) =>
      summarize(dedupedStage(s, dir)
        .join(readClusteredDrops(s, dir), Seq("doc_id"), "left_anti")),
    prepareClustered.oracle)

  val all: Seq[Q] = Seq(prepare, prepareClustered, prepareClusteredPersisted)
}
