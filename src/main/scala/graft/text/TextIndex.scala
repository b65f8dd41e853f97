package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Persisted full-text inverted index — the text-retrieval twin of the
  * persisted IVF index (`graft.sim.Knn.buildIvfIndex`): a build-once /
  * query-many postings table on shared storage, laid out so a keyword
  * query READS only its terms' share of the index.
  *
  * Layout: `path/postings` = (term, doc_id, tf) PARTITIONED BY `pb`,
  * the term's hash bucket (md5-derived, engine-mirrorable). A query
  * broadcasts its (pb, term) pairs; because `pb` is a partition column
  * joined through a broadcast, Spark's dynamic partition pruning turns
  * the term set into a directory filter — a q-term query scans at most
  * q/[[PBUCKETS]] of the postings from storage (TextIndexSpec asserts
  * `dynamicpruning` reaches the scan). At 100 TB the postings table is
  * the corpus-sized artifact; per-query reads must not be.
  */
object TextIndex {

  /** Partition fan-out of the postings table. 32 keeps test directories
    * small; a production index sizes this to (index bytes / target
    * partition bytes) — the layout and pruning are fan-out-independent.
    */
  val PBUCKETS = 32L

  /** Engine-mirrorable term bucket in [0, PBUCKETS). */
  def termBucket(t: Column): Column =
    conv(substring(md5(t), 1, 4), 16, 10).cast("long") % PBUCKETS

  /** Build the index at `path` from (doc_id, text) rows: tokenize,
    * count per-doc term frequencies, write postings partitioned by the
    * term bucket, plus `path/terms` — the vocabulary-sized (term, pb)
    * dictionary the query side filters (a scan with a selective
    * predicate is what lets Spark plan the term set as a dynamic
    * partition filter; a literal local relation is not considered
    * selective and plans a full postings read). Overwrites any prior
    * index at `path`.
    */
  def buildTextIndex(docs: DataFrame, path: String,
      splits: Int = 32): Unit = {
    // positions (0-based token offsets, sorted) ride the SAME postings
    // table as a separate column: tf-only queries never select it, so
    // parquet column pruning keeps their reads unchanged (ReadSchema
    // excludes `positions` — TextIndexSpec asserts it), while the
    // phrase query answers adjacency from the index alone
    val postings = docs
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p0").cast("long"))).as("positions"))
      .withColumn("pb", termBucket(col("term")))
    // range-split + sort on (pb, term): each pb= directory gets files
    // covering DISJOINT term ranges with term-ordered row groups, so the
    // query side's pushed In(term, ...) filter skips whole files/row
    // groups off the parquet footer stats — pruning WITHIN the bucket
    // that DPP selected (TextIndexSpec measures the bytes-read drop).
    // `splits` bounds file count locally; a production build sizes it to
    // (postings bytes / target file bytes).
    postings.repartitionByRange(splits, col("pb"), col("term"))
      .sortWithinPartitions("pb", "term")
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$path/postings")
    // dictionary carries each term's document frequency — a corpus
    // constant, so ranked retrieval never re-derives it at query time
    postings.groupBy("term", "pb").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/terms")
  }

  /** AND-of-terms retrieval against a persisted index: docs containing
    * EVERY query term, with the summed term frequency as the score.
    * The filtered dictionary ships as one broadcast; dynamic partition
    * pruning restricts the postings scan to the terms' buckets
    * (TextIndexSpec asserts it reaches the scan).
    */
  def queryTextIndex(s: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    require(distinctTerms.nonEmpty, "query needs at least one term")
    val t = Tables.parquet(s, s"$path/terms")
      .filter(col("term").isin(distinctTerms: _*))
    // partition directory names infer as int — re-cast to long. The
    // literal isin on term is REDUNDANT with the dictionary join for
    // correctness but not for I/O: it reaches the scan as a pushed
    // In(term, ...) parquet filter, and against the term-range-sorted
    // build the footer stats skip every file/row group whose range
    // excludes the query terms — intra-bucket pruning on top of DPP's
    // bucket pruning.
    val postings = Tables.parquet(s, s"$path/postings")
      .filter(col("term").isin(distinctTerms: _*))
      .withColumn("pb", col("pb").cast("long"))
    alive(s, path,
        postings.join(
          broadcast(t.withColumn("pb", col("pb").cast("long"))),
          Seq("pb", "term")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_matched"), sum("tf").as("total_tf"))
      .filter(col("n_terms_matched") === distinctTerms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Ranked OR-of-terms retrieval: docs matching ANY query term, scored
    * by `Σ tf·10⁶ DIV df` over the matched terms — floor millionths of
    * tf/df, so rarer terms weigh more: the log-free, INTEGER-exact
    * analog of tf-idf ranking (ln() ulp drift is why there is no log
    * here — the text_lm_score argument). Top `k` by (score desc,
    * doc_id). Same DPP-pruned postings read as [[queryTextIndex]]; df
    * comes from the dictionary, so scoring adds zero extra passes.
    */
  def queryTextIndexRanked(s: SparkSession, path: String,
      terms: Seq[String], k: Int): DataFrame = {
    val distinctTerms = terms.distinct
    require(distinctTerms.nonEmpty, "query needs at least one term")
    require(k > 0, s"k must be positive, got $k")
    val t = Tables.parquet(s, s"$path/terms")
      .filter(col("term").isin(distinctTerms: _*))
    // same pushed In(term, ...) as queryTextIndex: footer-stat pruning
    // inside the DPP-selected buckets
    val postings = Tables.parquet(s, s"$path/postings")
      .filter(col("term").isin(distinctTerms: _*))
      .withColumn("pb", col("pb").cast("long"))
    alive(s, path,
        postings.join(
          broadcast(t.withColumn("pb", col("pb").cast("long"))),
          Seq("pb", "term")))
      .withColumn("contrib", expr("tf * 1000000 DIV df"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum("contrib").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_terms_matched"), col("score"))
  }

  /** Streaming ingest — the `foreachBatch` sink appending each
    * micro-batch's (doc_id, text) postings to the index at `path`: the
    * incremental-maintenance twin of [[buildTextIndex]], shaped like
    * [[graft.streaming.Streaming.minhashDedupSink]] (plain parquet
    * state, unbounded history with zero executor-memory state).
    * Replay-idempotent the same way that sink is: postings carry the
    * writing batch's id as a NESTED partition level under `pb`, and the
    * write dynamically overwrites only its own (pb, batch_id)
    * partitions — a micro-batch replayed after a crash between the
    * write and the checkpoint commit rewrites its partitions instead of
    * appending duplicate (doc_id, term) rows (which would push
    * n_terms_matched past the AND filter and double-count df). DPP on
    * `pb` is unaffected: the pruning key stays the leading partition
    * level. The dictionary (df + the DPP driver) is a CORPUS-GLOBAL
    * artifact, so it is not touched per batch — run
    * [[finalizeTextIndex]] after (or periodically during) ingest;
    * queries need a finalized dictionary (dictionary-ONLY: batches
    * store their own sorted positions, so phrase queries need no
    * positionsFrom corpus pass). Assumes doc_ids are unique
    * across batches (re-ingesting a doc double-counts its df), and
    * accretes one file set per batch — [[graft.sources.Sources
    * .compactParquet]] per leaf directory is the maintenance pass.
    */
  def textIndexSink(path: String): (DataFrame, Long) => Unit = {
    // The sink writes a two-level (pb, batch_id) layout; buildTextIndex
    // writes single-level (pb). Streaming into a build-populated path
    // would produce a mixed-depth postings directory spark.read.parquet
    // cannot infer — fail the FIRST batch with a clear message instead
    // of poisoning the index for every later reader.
    @volatile var layoutChecked = false
    (batch: DataFrame, batchId: Long) => {
      if (!layoutChecked) {
        val p = new org.apache.hadoop.fs.Path(s"$path/postings")
        val fs = p.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) {
          val singleLevel = fs.listStatus(p)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("pb="))
            .exists(d => fs.listStatus(d.getPath)
              .exists(c => c.isFile && c.getPath.getName.endsWith(".parquet")))
          require(!singleLevel,
            s"$path/postings holds buildTextIndex's single-level pb= layout; " +
              "the streaming sink writes (pb=, batch_id=) and Spark cannot " +
              "read a mixed-depth directory — stream into a fresh index path " +
              "(rebuild with buildTextIndex if you need to merge corpora)")
        }
        layoutChecked = true
      }
      // positions ride along per batch (buildTextIndex's exact agg —
      // the batch HAS the text, so storing sorted offsets now is one
      // collect_list, while recovering them later costs a whole corpus
      // re-tokenize): a sink-built index answers phrase queries with no
      // positionsFrom backfill, and finalize stays dictionary-only
      batch
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("p0").cast("long")))
            .as("positions"))
        .withColumn("pb", termBucket(col("term")))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb", "batch_id")
        .parquet(s"$path/postings")
    }
  }

  /** The tombstone set at `path/deleted`, if any takedowns happened. */
  private def deletedDocs(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/deleted")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(Tables.parquet(s, p.toString)) else None
  }

  /** Drop tombstoned docs from a postings-derived frame — one thin
    * broadcast anti-join, a no-op when no takedowns happened.
    */
  private def alive(s: SparkSession, path: String,
      df: DataFrame): DataFrame =
    deletedDocs(s, path).fold(df)(d =>
      df.join(broadcast(d.select("doc_id")), Seq("doc_id"), "left_anti"))

  /** (Re)build the term dictionary from the accumulated postings —
    * after streaming ingest, after a takedown, or whenever df staleness
    * matters. One vocab-bounded aggregate over the (live, tombstones
    * excluded) postings.
    *
    * `positionsFrom`: hand the corpus back in to (re)compute the
    * `positions` column — the recovery path for an index whose
    * postings lack or predate stored positions (the sink now stores
    * them per batch, so streamed indexes do NOT need this): one corpus
    * tokenize pass joined onto the stored (doc_id, term) rows,
    * preserving the partition layout, after which the index answers
    * [[queryTextIndexPhrase]] exactly like a
    * [[buildTextIndex]] one (TextIndexSpec pins it). Fails fast if the
    * frame does not cover every LIVE ingested doc (a silent miss would
    * just drop the doc from phrase results); tombstoned docs are
    * excluded from the coverage contract — their text may legitimately
    * be gone (that is what the takedown was for), so a backfill after
    * [[removeDocs]] needs only the remaining corpus, and the rewrite
    * drops their postings rows physically (the [[compactTextIndex]]
    * anti-join, folded in for free). Idempotent — an existing
    * positions column is recomputed, not duplicated.
    */
  def finalizeTextIndex(s: SparkSession, path: String,
      positionsFrom: Option[DataFrame] = None): Unit = {
    positionsFrom.foreach { docs =>
      val cur = graft.Checkpoint.of(alive(s, path,
        Tables.parquet(s, s"$path/postings").drop("positions")))
      val parts = Seq("pb") ++
        (if (cur.columns.contains("batch_id")) Seq("batch_id") else Nil)
      val pos = docs
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "term")))
        .groupBy("doc_id", "term")
        .agg(sort_array(collect_list(col("p0").cast("long")))
          .as("positions"))
      require(cur.join(pos, Seq("doc_id", "term"), "left_anti")
          .limit(1).count() == 0,
        "positionsFrom must cover every live ingested (doc_id, term) " +
          "— a partial corpus would silently drop docs from phrase " +
          "results (tombstoned docs are exempt)")
      cur.join(pos, Seq("doc_id", "term"), "left")
        .write.mode("overwrite").partitionBy(parts: _*)
        .parquet(s"$path/postings")
    }
    alive(s, path, Tables.parquet(s, s"$path/postings")
        .withColumn("pb", col("pb").cast("long")))
      .groupBy("term", "pb").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/terms")
  }

  /** TAKEDOWN: remove documents from the index — the Lucene
    * tombstone-then-compact recipe, sized for a corpus-scale postings
    * table where a physical rewrite per takedown would re-shuffle the
    * whole artifact: the ids land in a thin `path/deleted` set every
    * query anti-joins (a broadcast against takedown-sized data), and
    * the dictionary is refinalized so df stops counting the removed
    * docs. Query results equal a fresh build over the remaining corpus
    * from that point on (TextIndexSpec pins AND/ranked/phrase_pos);
    * [[compactTextIndex]] makes the removal physical. Idempotent —
    * re-removing a doc is a no-op.
    */
  def removeDocs(s: SparkSession, path: String, docIds: DataFrame): Unit = {
    val merged = graft.Checkpoint.of(
      deletedDocs(s, path)
        .fold(docIds.select("doc_id"))(d =>
          d.select("doc_id").unionByName(docIds.select("doc_id")))
        .distinct())
    merged.write.mode("overwrite").parquet(s"$path/deleted")
    finalizeTextIndex(s, path)
  }

  /** Apply accumulated tombstones physically: rewrite the postings
    * minus deleted docs (restoring [[buildTextIndex]]'s term-range
    * file split inside each partition, so footer-stat pruning survives
    * compaction) and clear the tombstone set. The maintenance pass a
    * production index runs off the ingest path; query results are
    * unchanged (TextIndexSpec pins it).
    */
  def compactTextIndex(s: SparkSession, path: String,
      splits: Int = 32): Unit = {
    val del = deletedDocs(s, path).getOrElse(return)
    val cur = Tables.parquet(s, s"$path/postings")
    val parts = Seq("pb") ++
      (if (cur.columns.contains("batch_id")) Seq("batch_id") else Nil)
    val keep = graft.Checkpoint.of(
      cur.join(broadcast(del.select("doc_id")), Seq("doc_id"),
        "left_anti"))
    keep.repartitionByRange(splits, col("pb"), col("term"))
      .sortWithinPartitions("pb", "term")
      .write.mode("overwrite").partitionBy(parts: _*)
      .parquet(s"$path/postings")
    val p = new org.apache.hadoop.fs.Path(s"$path/deleted")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private[graft] def cachedIndex(s: SparkSession, dir: String): String =
    graft.Artifacts.cached("text", s, dir)(buildTextIndex(
      Tables(s, dir, "documents").select("doc_id", "text"), _))

  /** Fixed benchmark query — two mid-frequency corpus terms. */
  private[graft] val QUERY_TERMS = Seq("table", "query")

  /** Fixed ranked-retrieval query and cutoff. */
  private[graft] val RANKED_TERMS = Seq("table", "query", "window", "merge")
  private[graft] val RANKED_K = 50

  private val searchRanked = Q(
    "text_search_ranked",
    (s, dir) => {
      val idx = cachedIndex(s, dir)
      queryTextIndexRanked(s, idx, RANKED_TERMS, RANKED_K)
    },
    Some(s"""WITH p AS (
      SELECT doc_id, u.t AS term
      FROM documents,
        UNNEST(list_filter(string_split(text,' '), t -> t <> '')) u(t)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
      FROM p GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, COUNT(*) AS n_terms_matched,
      SUM((tf * 1000000) // df)::BIGINT AS score
    FROM tf JOIN df USING (term)
    WHERE term IN (${RANKED_TERMS.map("'" + _ + "'").mkString(",")})
    GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $RANKED_K"""))

  private val search = Q(
    "text_search",
    (s, dir) => {
      val idx = cachedIndex(s, dir)
      queryTextIndex(s, idx, QUERY_TERMS).orderBy("doc_id")
    },
    Some(s"""WITH p AS (
      SELECT doc_id, u.t AS term
      FROM documents,
        UNNEST(list_filter(string_split(text,' '), t -> t <> '')) u(t)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
      FROM p GROUP BY doc_id, term)
    SELECT doc_id, SUM(tf)::BIGINT AS total_tf
    FROM tf WHERE term IN (${QUERY_TERMS.map("'" + _ + "'").mkString(",")})
    GROUP BY doc_id HAVING COUNT(*) = ${QUERY_TERMS.distinct.size}
    ORDER BY doc_id"""))

  // ---------------------------------------------------- text_search_phrase
  private[graft] val PHRASE = Seq("value", "table")

  /** Exact PHRASE search over the persisted index — the candidates-then-
    * verify recipe every positions-free inverted index runs (Lucene
    * without term positions; the index stays (term, doc_id, tf)):
    * candidate docs come from the AND-of-terms index read (the same
    * DPP-pruned postings scan as [[search]] — a phrase can only occur
    * where every word occurs), then ONLY those docs are re-read for the
    * adjacency verify, counting exact phrase occurrences via the
    * non-distinct bigram kernel (overlap-correct where substring
    * counting is not). Output (doc_id, n_hits ≥ 1).
    *
    * Scale: the index read touches ≤ |phrase|/32 of the postings; the
    * verify scan's join key is the thin candidate id set (AQE
    * broadcast-sizes it — phrase candidates are a vanishing corpus
    * fraction); the oracle computes the phrase count by direct full
    * scan, so a green row proves candidates+verify ≡ the direct scan.
    */
  private val searchPhrase = Q(
    "text_search_phrase",
    (s, dir) => {
      val idx = cachedIndex(s, dir)
      val cand = queryTextIndex(s, idx, PHRASE).select("doc_id")
      val bigrams = org.apache.spark.sql.graft.Shim.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.graft.Shim.expression(col("text")),
          2, distinct = false))
      Tables(s, dir, "documents")
        .join(cand, "doc_id")
        .select(col("doc_id"), explode(bigrams).as("g"))
        .filter(col("g") === PHRASE.mkString(" "))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (
      SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') w
      FROM documents),
    g AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        for i in range(1, greatest(len(w), 1))]) AS g
      FROM d)
    SELECT doc_id, COUNT(*)::BIGINT AS n_hits
    FROM g WHERE g = '${PHRASE.mkString(" ")}'
    GROUP BY doc_id ORDER BY doc_id"""))

  // ------------------------------------------------ text_search_phrase_pos
  /** Exact phrase search from the POSITIONS-BEARING index alone — zero
    * corpus re-read (the Lucene-with-positions recipe, vs
    * [[searchPhrase]]'s candidates-then-verify): each phrase term's
    * postings explode their stored position arrays shifted by the
    * term's offset in the phrase (`p − i`), and a |phrase|-way
    * equi-join on (doc_id, shifted position) leaves exactly the phrase
    * occurrences — overlap-correct by construction, same count as the
    * non-distinct bigram verify. One DPP-pruned postings read (the
    * [[search]] scan), no documents-table access (spec-asserted).
    *
    * Scale: at 100 TB the verify re-read of candidate docs is the
    * phrase query's dominant cost once candidates stop being tiny
    * (common-word phrases); the positional index answers from
    * ≤ |phrase|/[[PBUCKETS]] of the postings regardless. The positions
    * column adds ~tf longs per posting row — the standard positional-
    * index size tradeoff. [[textIndexSink]]-built indexes store each
    * batch's positions at ingest (the batch has the text in hand), so
    * a streamed index answers this query after the dictionary-only
    * [[finalizeTextIndex]] — no corpus backfill pass.
    */
  def queryTextIndexPhrase(s: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val distinctTerms = phrase.distinct
    val t = Tables.parquet(s, s"$path/terms")
      .filter(col("term").isin(distinctTerms: _*))
    val postings = alive(s, path, Tables.parquet(s, s"$path/postings")
      .filter(col("term").isin(distinctTerms: _*))
      .withColumn("pb", col("pb").cast("long"))
      .join(broadcast(t.withColumn("pb", col("pb").cast("long"))),
        Seq("pb", "term")))
    val streams = phrase.zipWithIndex.map { case (term, i) =>
      postings.filter(col("term") === term)
        .select(col("doc_id"), explode(col("positions")).as("p"))
        .select(col("doc_id"), (col("p") - lit(i.toLong)).as("p0"))
    }
    streams.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  private val searchPhrasePos = Q(
    "text_search_phrase_pos",
    (s, dir) =>
      queryTextIndexPhrase(s, cachedIndex(s, dir), PHRASE)
        .orderBy("doc_id"),
    searchPhrase.oracle)

  val all: Seq[Q] = Seq(search, searchRanked, searchPhrase, searchPhrasePos)
}
