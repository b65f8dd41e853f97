package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The dedup STATE as a PERSISTED artifact — verified near-dup pairs +
  * connected-component cluster labels, built ONCE per corpus snapshot
  * and read by every keep/weight/split consumer; APPENDED per incoming
  * slice (the production ingest loop).
  *
  * This is the production shape of the whole cluster-consumer family:
  * at 100 TB the expensive work — shingling the corpus, the banded
  * MinHash bucket self-join, exact-jaccard verification, and the
  * O(log d) component loop — happens once per ingest, and what survives
  * is three THIN tables (~1/1000th of the corpus bytes):
  *
  *   - `path/pairs`   = (a_id, b_id, jaccard) — the verified ≥τ pair
  *     list ([[Dedup.minhashPairs]]'s rows, raw doubles), PARTITIONED
  *     BY the ingesting slice's `ingest_id` (0 = base build) so a
  *     replayed append overwrites itself.
  *   - `path/labels`  = (doc_id, cluster_id, cluster_size) — full
  *     corpus coverage (singletons cluster to themselves, size 1),
  *     cluster id = component-min doc_id.
  *   - `path/buckets` = (doc_id, band, bh) MinHash band buckets — the
  *     append-side candidate state (the [[MinhashIndex]] layout), so
  *     an incoming slice pairs against ALL history without re-reading
  *     base text except for the few candidate docs the verify touches;
  *     `ingest_id`-partitioned like pairs.
  *
  * Every downstream policy — hard keep-min ([[Dedup]] `dedup_clusters`),
  * keep-longest (`dedup_keep_best`), soft weights (`dedup_weights`),
  * leakage-safe splits (`sample_split_dedup`), semantic gating
  * (`dedup_lexsem`) — is a cheap join/window over the thin tables; the
  * `*_persisted` query twins in [[Dedup]] read them instead of
  * re-deriving pairs from raw text per invocation. Results are identical
  * to the derive-in-query twins by construction (same pipeline, and
  * doubles round-trip parquet bit-exactly), so each twin is gated by the
  * SAME DuckDB oracle verbatim — the
  * [[graft.sim.Knn.buildKnnGraphIndex]] precedent.
  *
  * Each corpus artifact is built once per corpus fingerprint
  * through [[graft.Artifacts.cached]]: Verify and every Bench rep reuse
  * one build, and a corpus rewritten under its dir is rebuilt. A changed
  * pair pipeline still needs a fresh JVM to show up here.
  */
object DedupState {

  /** Verified-pair candidates from a banded bucket self-join — the
    * [[Dedup.minhashPairs]] candidate stage over any bucket frame.
    */
  private def selfCandidates(buckets: DataFrame): DataFrame =
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

  /** Recompute `path/labels` from the stored pairs over `docIds`
    * (full coverage — singletons label themselves, size 1).
    */
  private def writeLabels(s: SparkSession, docIds: DataFrame,
      path: String): Unit = {
    val pairs = s.read.parquet(s"$path/pairs")
    val labels = Dedup.connectedComponents(
      pairs.select(col("a_id").as("u"), col("b_id").as("v")))
    val assigned = docIds.select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val sizes = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .write.mode("overwrite").parquet(s"$path/labels")
  }

  /** Build the artifact at `path` from (doc_id, text) rows, overwriting
    * any prior state there. The label pass runs
    * [[Dedup.connectedComponents]] over the pairs READ BACK from
    * storage — CC's iterative joins consume plain parquet attributes,
    * never the live shingle/bucket lineage. Buckets and pairs land in
    * `ingest_id=0` partitions; [[appendDedupState]] slices take ids
    * > 0 (the [[graft.sim.Knn.appendIvfIndex]] layout, so a replayed
    * append dynamically overwrites itself instead of duplicating rows).
    */
  def buildDedupStateFrom(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    val ds = Dedup.shingleTable(docs)
    val buckets = graft.Checkpoint.of(Dedup.bandBucketsFromShingles(ds))
    buckets.withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/buckets")
    Dedup.verifyJaccard(selfCandidates(buckets), ds, Dedup.TAU)
      .withColumn("ingest_id", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/pairs")
    writeLabels(s, docs.select("doc_id"), path)
  }

  /** Dir-based build over the driver's `documents` table. */
  def buildDedupState(s: SparkSession, dir: String, path: String): Unit =
    buildDedupStateFrom(
      Tables(s, dir, "documents").select("doc_id", "text"), path)

  /** Count of docs the last append's label pass actually relabeled —
    * spec hook proving the relabel is affected-components-only.
    */
  private[graft] var lastRelabelDocs: Long = -1L

  /** Relabel ONLY the components an append's new pairs touched — the
    * full-history CC recompute [[writeLabels]] runs at build time is
    * replaced by a bounded pass at append time:
    *
    *   1. the clusters containing a new-pair endpoint are the only
    *      ones whose labels can change (old pairs never cross old
    *      cluster boundaries — clusters are closed under the stored
    *      pair set), so affected docs = members of touched clusters ∪
    *      the slice's docs;
    *   2. the CC fixpoint runs over the stored pairs RESTRICTED to
    *      affected docs (both endpoints of every such pair are
    *      affected, by the same closure argument) — the iterative
    *      rounds never see unaffected history;
    *   3. unaffected label rows are carried over byte-identically
    *      (their cluster membership and size cannot have changed).
    *
    * Equals [[writeLabels]]'s full recompute bit-exactly
    * (DedupStateSpec pins it) at slice-collision-mass CC cost; the
    * only history-sized work left is one thin columnar scan of the
    * pair/label tables to cut the subgraph.
    */
  private def relabelAffected(s: SparkSession, path: String,
      newDocIds: DataFrame, newPairs: DataFrame): Unit = {
    val old = graft.Checkpoint.of(s.read.parquet(s"$path/labels")
      .select("doc_id", "cluster_id", "cluster_size"))
    val endIds = newPairs.select(col("a_id").as("doc_id"))
      .unionByName(newPairs.select(col("b_id").as("doc_id"))).distinct()
    val affClusters = old.join(endIds, "doc_id")
      .select("cluster_id").distinct()
    val affDocs = graft.Checkpoint.of(
      old.join(affClusters, "cluster_id").select("doc_id")
        .unionByName(newDocIds.select("doc_id")).distinct())
    lastRelabelDocs = affDocs.count()
    val sub = s.read.parquet(s"$path/pairs")
      .select(col("a_id").as("u"), col("b_id").as("v"))
      .join(affDocs.withColumnRenamed("doc_id", "u"), Seq("u"),
        "left_semi")
    val labels = Dedup.connectedComponents(sub)
    val assigned = affDocs
      .join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val sizes = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    old.join(affDocs, Seq("doc_id"), "left_anti")
      .unionByName(assigned.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size"))
      .write.mode("overwrite").parquet(s"$path/labels")
  }

  /** Append an incoming SLICE to an existing artifact — the production
    * ingest loop. `ingestId` must be > 0 (0 = the base build) and
    * unique per slice (the streaming batchId contract): the slice's
    * buckets and pairs land in their own `ingest_id` partitions via
    * DYNAMIC overwrite, so a crash-retry with the same id replaces
    * itself instead of duplicating rows, and the label pass re-derives
    * the same fixpoint — replaying an append is a byte-level no-op
    * (DedupStateSpec pins it). doc_ids must be globally unique across
    * slices; the append FAILS FAST (one thin semi-join against the
    * stored buckets, the slice's own partition excluded so replays
    * pass) if a slice id was already ingested under a different
    * `ingestId` — silent duplicate identities corrupt pair counts and
    * labels (the r10 "identity must be declared and checked" lesson).
    *
    *   1. the slice's band buckets join the STORED bucket history
    *      (slice×base) and themselves (slice×slice) — candidate volume
    *      is collision-mass-proportional, never slice×corpus;
    *   2. exact-jaccard verify re-shingles ONLY the candidate base
    *      docs (a thin id semi-join against `baseDocs` — candidates
    *      are a vanishing corpus fraction, so base text is touched
    *      per-candidate, never per-slice);
    *   3. the verified pairs and the slice's buckets land in the
    *      slice's partitions; labels are refreshed by
    *      [[relabelAffected]] — CC rounds over the touched components
    *      only, never full history.
    *
    * The result is IDENTICAL to a from-scratch build over base∪slice
    * (same candidate union, same verify arithmetic, same CC fixpoint —
    * DedupStateSpec proves bit-equality), so every `*_persisted`
    * consumer keeps its oracle after every append.
    */
  def appendDedupState(s: SparkSession, path: String, baseDocs: DataFrame,
      newDocs: DataFrame, ingestId: Long = 1L): Unit = {
    require(ingestId > 0,
      s"ingestId must be > 0 (0 = base build), got $ingestId")
    val priorIds = s.read.parquet(s"$path/buckets")
      .filter(col("ingest_id") =!= ingestId)
      .select("doc_id")
    val clash = newDocs.select("doc_id").distinct()
      .join(priorIds, Seq("doc_id"), "left_semi").limit(1).count()
    require(clash == 0,
      "appendDedupState: slice doc_ids overlap an already-ingested " +
        "slice under a different ingestId — identities must be " +
        "globally unique (replay the SAME ingestId to retry a slice)")
    val dsNew = Dedup.shingleTable(newDocs)
    val bNew = graft.Checkpoint.of(Dedup.bandBucketsFromShingles(dsNew))
    val bBase = s.read.parquet(s"$path/buckets")
      .filter(col("ingest_id") =!= ingestId)
    val cross = bNew.as("x").join(bBase.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val cand = graft.Checkpoint.of(
      cross.unionByName(selfCandidates(bNew)).distinct())
    val candIds = cand.select(col("a_id").as("doc_id"))
      .unionByName(cand.select(col("b_id").as("doc_id"))).distinct()
    val dsBase = Dedup.shingleTable(
      baseDocs.select("doc_id", "text").join(candIds, "doc_id"))
    val dsAll = dsNew.unionByName(dsBase)
    val newPairs = graft.Checkpoint.of(
      Dedup.verifyJaccard(cand, dsAll, Dedup.TAU))
    newPairs.withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_id").parquet(s"$path/pairs")
    bNew.withColumn("ingest_id", lit(ingestId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_id").parquet(s"$path/buckets")
    relabelAffected(s, path, newDocs.select("doc_id"), newPairs)
  }

  /** Count of docs the last [[removeDocs]] relabel pass touched —
    * spec hook proving deletes relabel only affected components.
    */
  private[graft] var lastRemoveRelabelDocs: Long = -1L

  /** TAKEDOWN: remove documents from the artifact — the retraction
    * path a real ingest loop needs (DMCA/robots re-reads) that
    * append-only state can't express. Semantics are exactly
    * "as if never ingested": delete(x) ∘ build(A) ≡ build(A∖x) on
    * buckets, pairs, and labels (DedupStateSpec pins it bit-exactly on
    * content columns; `ingest_id` bookkeeping may differ):
    *
    *   1. the docs' bucket rows and INCIDENT pairs are dropped — two
    *      thin anti-join rewrites that preserve the `ingest_id`
    *      partition layout (the tables are ~1/1000th of corpus bytes;
    *      emptied partitions simply disappear from the rewrite);
    *   2. labels: removing a doc can SPLIT its component (cut vertex),
    *      so the components that contained a removed doc re-run CC
    *      over their REMAINING members and pairs — the
    *      [[relabelAffected]] bound applied to deletes; every other
    *      label row carries over byte-identically.
    *
    * A removed doc_id may be re-ingested later (the identity guard
    * checks the CURRENT bucket state). Removing an unknown id is a
    * no-op for state and labels.
    */
  def removeDocs(s: SparkSession, path: String, docIds: DataFrame): Unit = {
    val ids = graft.Checkpoint.of(docIds.select("doc_id").distinct())
    val bKeep = graft.Checkpoint.of(s.read.parquet(s"$path/buckets")
      .join(ids, Seq("doc_id"), "left_anti"))
    bKeep.select("doc_id", "band", "bh", "ingest_id")
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/buckets")
    val pKeep = graft.Checkpoint.of(s.read.parquet(s"$path/pairs")
      .join(ids.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
      .join(ids.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti"))
    pKeep.select("a_id", "b_id", "jaccard", "ingest_id")
      .write.mode("overwrite").partitionBy("ingest_id")
      .parquet(s"$path/pairs")

    val old = graft.Checkpoint.of(s.read.parquet(s"$path/labels")
      .select("doc_id", "cluster_id", "cluster_size"))
    val affClusters = old.join(ids, "doc_id")
      .select("cluster_id").distinct()
    // remaining members of the touched components — CC re-runs over
    // them only (their internal pairs survive the incident-pair drop
    // with both endpoints remaining, so the semi-join on one endpoint
    // is closure-safe)
    val remaining = graft.Checkpoint.of(
      old.join(affClusters, "cluster_id").select("doc_id")
        .join(ids, Seq("doc_id"), "left_anti"))
    lastRemoveRelabelDocs = remaining.count()
    val sub = pKeep.select(col("a_id").as("u"), col("b_id").as("v"))
      .join(remaining.withColumnRenamed("doc_id", "u"), Seq("u"),
        "left_semi")
    val labels = Dedup.connectedComponents(sub)
    val assigned = remaining
      .join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val sizes = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    old.join(affClusters, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id", "cluster_size")
      .unionByName(assigned.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size"))
      .write.mode("overwrite").parquet(s"$path/labels")
  }

  /** Labels produced by the INCREMENTAL path over the driver corpus:
    * build on the base sources, then [[appendDedupState]] the
    * [[Dedup.NEW_SOURCES]] slice — the production ingest split
    * `dedup_cross` uses. By the append-equals-rebuild contract
    * (DedupStateSpec proves it bit-exactly) the result is the full
    * build's label table, so the derive-in-query `dedup_clusters`
    * oracle gates the WHOLE incremental path end-to-end at the driver.
    * Built once per corpus fingerprint ([[graft.Artifacts.cached]]).
    */
  def readLabelsIncremental(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.Artifacts.cached("dedupstate-incr", s, dir) {
      path =>
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val isNew = col("source").isin(Dedup.NEW_SOURCES: _*)
        buildDedupStateFrom(
          docs.filter(!isNew).select("doc_id", "text"), path)
        appendDedupState(s, path,
          docs.filter(!isNew).select("doc_id", "text"),
          docs.filter(isNew).select("doc_id", "text"))
    } + "/labels")

  /** Labels produced by the COMPACTED lifecycle over the driver corpus:
    * build on the base sources, append HALF the NEW_SOURCES slice,
    * [[compactDedupState]] (folds the appended ingest partitions into
    * base), then append the OTHER half — so the second append's
    * candidate generation reads the FOLDED buckets and the final labels
    * prove compaction preserved a live, appendable artifact, not just
    * frozen answers. By append-equals-rebuild + fold result-invariance
    * the result is the full corpus clustering, so the derive-in-query
    * `dedup_clusters` oracle gates build→append→compact→append
    * end-to-end. Built once per corpus fingerprint.
    */
  def readLabelsCompacted(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.Artifacts.cached("dedupstate-compact", s, dir) {
      path =>
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val isNew = col("source").isin(Dedup.NEW_SOURCES: _*)
        val base = docs.filter(!isNew).select("doc_id", "text")
        val halfA = docs.filter(isNew && col("doc_id") % 2 === 0)
          .select("doc_id", "text")
        val halfB = docs.filter(isNew && col("doc_id") % 2 === 1)
          .select("doc_id", "text")
        buildDedupStateFrom(base, path)
        appendDedupState(s, path, base, halfA, 1L)
        compactDedupState(s, path)
        appendDedupState(s, path, base.unionByName(halfA), halfB, 2L)
    } + "/labels")

  /** Labels produced by the TAKEDOWN path over the driver corpus:
    * build on the FULL corpus, then [[removeDocs]] the
    * [[Dedup.NEW_SOURCES]] docs — the retraction mirror of
    * [[readLabelsIncremental]]. By the delete-equals-rebuild contract
    * (DedupStateSpec proves it bit-exactly) the result is the
    * remaining corpus's clustering, so a remaining-corpus oracle gates
    * the WHOLE takedown machinery (bucket/incident-pair drop +
    * affected-component relabel, splits included) end-to-end. Built
    * once per corpus fingerprint.
    */
  def readLabelsTakedown(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.Artifacts.cached("dedupstate-takedown", s, dir) {
      path =>
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        buildDedupStateFrom(docs.select("doc_id", "text"), path)
        removeDocs(s, path,
          docs.filter(col("source").isin(Dedup.NEW_SOURCES: _*))
            .select("doc_id"))
    } + "/labels")

  private def cached(s: SparkSession, dir: String): String =
    graft.Artifacts.cached("dedupstate", s, dir)(buildDedupState(s, dir, _))

  /** The stored verified pair list (a_id, b_id, jaccard) — the
    * ingest_id bookkeeping partition column stays internal.
    */
  def readPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(cached(s, dir) + "/pairs")
      .select("a_id", "b_id", "jaccard")

  /** The stored full-coverage label table
    * (doc_id, cluster_id, cluster_size).
    */
  def readLabels(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(cached(s, dir) + "/labels")

  /** Maintenance: fold appended ingest slices into the base partitions
    * of both ingest-partitioned tables (buckets, pairs) —
    * [[graft.sources.Sources.foldIngestPartitions]]; labels are
    * unpartitioned and untouched, every consumer's answers unchanged.
    */
  def compactDedupState(s: SparkSession, path: String): (Int, Int) = {
    val (bb, ba) = graft.sources.Sources
      .foldIngestPartitions(s, s"$path/buckets")
    val (pb, pa) = graft.sources.Sources
      .foldIngestPartitions(s, s"$path/pairs")
    (bb + pb, ba + pa)
  }
}
