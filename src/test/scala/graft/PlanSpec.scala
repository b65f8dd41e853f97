package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions — SURVEY.md §6: pushdown, pruning, broadcast
  * choices, and no accidental cross products. These are the properties
  * that decide whether a query survives a 100× scale-up.
  */
class PlanSpec extends SparkSpec {

  private def df(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)
  private def physical(name: String): String =
    df(name).queryExecution.executedPlan.toString

  test("q02 pushes predicates and prunes columns at the parquet scan") {
    val plan = physical("q02_filter_project")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate filter should reach the scan")
    assert(!plan.contains("l_tax"), "unprojected column must be pruned")
  }

  test("q06 selective scan keeps whole-stage codegen") {
    val d = df("q06_selective_agg")
    d.collect() // finalize the AQE plan so codegen stages are visible
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*("), "codegen'd stages print as *(n)")
    assert(plan.contains("PushedFilters:"))
  }

  test("q04 small-dim joins broadcast (no shuffle join)") {
    val plan = physical("q04_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q03 broadcasts the filtered customer dim") {
    assert(physical("q03_join_agg").contains("BroadcastHashJoin"))
  }

  test("asof join is shuffle+window, never a pair join") {
    val plan = physical("asof_join")
    assert(plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("range join runs as an equi hash/merge join, not a cross product") {
    val plan = physical("range_join")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("cosine_sim stays inside whole-stage codegen") {
    val d = df("knn_bruteforce")
    d.collect() // finalize the AQE plan so codegen stages are visible
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*("), "expected codegen'd stages in the plan")
    assert(plan.contains("cosine_sim"))
  }

  /** Queries where a nested-loop join is the DESIGN (broadcast of a tiny
    * side against an un-equi-joinable predicate), not an accident.
    */
  private val intendedNestedLoop = Set(
    "knn_bruteforce",   // broadcast query set vs corpus (no equi key exists)
    "knn_radius",       // same broadcast query set, τ filter in the scan
    "mm_caption_recall", // broadcast NQ-caption query set vs corpus scan
    "knn_ivf",          // broadcast 16-centroid codebook
    "knn_ivf_quantized", // same broadcast codebook argmax as knn_ivf
    "knn_ivf_persisted", // same broadcast codebook (train + probe)
    "knn_join",         // same broadcast codebook (corpus-wide probes)
    "knn_recall",       // composes knn_bruteforce + knn_ivf (both above)
    "knn_pq",           // broadcast sub-codebooks + broadcast query LUTs
    "knn_ivfpq_persisted", // same broadcast codebooks/LUTs, read from
                           // storage (un-checkpointed so DPP survives)
    "kmeans_train",     // same broadcast codebook argmax (Lloyd iterations)
    "kmeans_assign",    // same broadcast codebook argmax
    "q18_corr_scalar",  // broadcast 1-row aggregate threshold
    "q42_inactive_rich", // broadcast 1-row (sum_pos, n_pos) scalar
    "sample_stratified", // broadcast 1-row min-source-count aggregate
    "text_tfidf",       // broadcast 1-row corpus-count aggregate
    "dedup_ngram_jaccard", // broadcast 1-row viral-shingle count (dfCap)
    "dedup_containment",   // same broadcast 1-row viral-shingle count
    "pipeline_prepare",    // same, via the shared jaccardPairs
    "corpus_mix",          // broadcast 1-row binding-lang (am, wm) entry
    "emb_standardize",     // broadcast 1-row collapsed moment table
    "emb_covariance",      // d-row x d-row (i <= j) pair lookup table
    "emb_pca_power",       // broadcast 1-row max-|component| normalizer
    "emb_pca_project",     // same broadcast normalizer via powerIterate
    "emb_spectrum",        // broadcast d-row iterate + 1-row quotient pair
    "knn_pq_distortion",   // broadcast 1-row sub-codebook arrays (encode)
    "knn_ivf_balance",     // broadcast codebook argmax (the assign kernel)
    "knn_ivf_residuals",   // same broadcast codebook assign + residual kernels
    "text_ppl_bucket",     // broadcast 1-row corpus-count aggregate
    "text_rank_bm25",      // broadcast 1-row (N, avgdl) corpus scalars
    "hybrid_search_rrf",   // same BM25 scalars + broadcast 1-row query vec
    "sample_temperature",  // broadcast 1-row total / sum-of-weights scalars
    "sample_budget",       // same broadcast scalars + budget arithmetic
    "dedup_recall",        // broadcast 1-row n_truth/n_found/n_correct
    "dedup_recall_curve",  // same 1-row counter broadcasts, τ-grid form
    "mm_embed_recall",     // same 1-row counter broadcast composition
    "decontam_embedding",  // broadcast benchmark vectors vs corpus scan
    "knn_hamming",         // broadcast query sigs vs corpus (bruteforce shape)
    "knn_mips",            // broadcast query set vs corpus (bruteforce shape)
    "knn_hard_negatives",  // broadcast anchors vs corpus, label-≠ predicate
    "sample_dsir",         // broadcast 1-row (np, nq) model-total scalars
    "sample_kcenter",      // broadcast <=k-row chosen frame vs corpus
    "corpus_overlap",      // |sources|-row grid (a < b) pair table
    "text_classify_centroid", // broadcast L-row class table (scoring grid)
    "text_classify_nb",    // L×range(B) model grid + broadcast 1-row total
    "emb_matryoshka",      // broadcast query set vs corpus (bruteforce shape)
    "emb_pca2",            // broadcast 1-row normalizer/projection scalars
    "sketch_kmv_intersect", // sketch-sized (≤k-row) inequality pair grids
    "text_collocations",   // broadcast 1-row (n_uni, n_bi) total scalars
    "emb_quantize_recall", // broadcast query set vs corpus (bruteforce shape)
    "text_len_histogram",  // broadcast 1-row (td, tt) total scalars
    "text_source_drift",   // <=B-row bucket x |sources|-row grid
    "emb_knn_classify",    // broadcast query set vs corpus (bruteforce shape)
    "knn_triplets",        // broadcast anchor set vs corpus (bruteforce shape)
    "emb_mmr_select",      // broadcast query set vs corpus (bruteforce shape)
    "knn_recall_curve",    // composes knn_bruteforce + knn_ivf (both above)
    "q58_important_stock", // broadcast 1-row total, inequality probe
    "dq_rules",            // 1-row × 1-row referential-count cross joins
    "dedup_embedding_budget", // 1-row × 1-row budget-card count joins
    "dedup_embedding_lsh_recall", // 1-row × 1-row recall-card count joins
    "mm_embed_budget",     // 1-row × 1-row budget-card count joins
    "mm_phash_budget")     // 1-row × 1-row budget-card count joins

  test("embedding dedup is a blocked equi-join, not a pair scan") {
    for (name <- Seq("dedup_embedding", "dedup_embedding_lsh")) {
      val plan = physical(name)
      assert(!plan.contains("CartesianProduct"), name)
      assert(!plan.contains("BroadcastNestedLoopJoin"), name)
    }
  }

  test("no query plans an accidental cross product") {
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val plan = physical(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!intendedNestedLoop(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unintended BroadcastNestedLoopJoin")
    }
  }

  test("q51/q52 push their selective predicates to the scans") {
    // q51: the part-only half of each disjunct filters the broadcast
    // dim at ITS scan; q52: the returnflag filter sits on the fact scan
    val p51 = physical("q51_disjunctive_parts")
    assert(p51.contains("BroadcastHashJoin"), "part dim must broadcast")
    assert(p51.contains("p_brand"), "brand predicate must reach the plan")
    val p52 = physical("q52_returned_customers")
    assert(p52.contains("PushedFilters: [IsNotNull(l_returnflag), " +
      "EqualTo(l_returnflag,R)]") ||
      p52.contains("EqualTo(l_returnflag,R)"),
      "returnflag must be pushed to the lineitem scan")
    assert(p52.contains("TakeOrderedAndProject"),
      "top-20 must never be a full sort")
  }

  test("recall-audit rankings are partial top-K (WindowGroupLimit), " +
      "never a corpus-sized per-query sort") {
    // the knn_* rows rank through graft.sim.Ann's shared top-k and
    // survivor cut
    for (name <- Seq("emb_matryoshka", "emb_quantize_recall",
        "sample_interleave", "knn_triplets", "emb_knn_classify",
        "knn_bruteforce", "knn_lsh", "knn_ivf", "knn_ivf_quantized",
        "knn_pq", "knn_ivfpq")) {
      val d = df(name)
      d.collect() // finalize the AQE plan
      val plan = d.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name must pre-reduce each ranking to K rows per partition")
    }
  }

  test("round-10 plans: argmin window bounded, top-k partial, " +
      "semi join planned") {
    // q55: the per-part argmin (rank()=1) must be WindowGroupLimit-
    // bounded — never a full per-part sort of the pair table
    val d55 = df("q55_min_cost_supplier")
    d55.collect()
    assert(d55.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"),
      "q55 argmin must pre-reduce each part's candidates")
    // q60 / graph_linkpred: global top-k plans as TakeOrdered, not a
    // full sort
    for (name <- Seq("q60_large_orders", "graph_linkpred")) {
      val d = df(name)
      d.collect()
      assert(d.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
        s"$name top-k must never be a full sort")
    }
    // q56: the EXISTS collapses to a left semi join (never an
    // aggregate over matched multiplicities)
    val d56 = df("q56_late_priority_orders")
    d56.collect()
    assert(d56.queryExecution.executedPlan.toString
      .toLowerCase.contains("leftsemi"),
      "q56 existence test must plan as a semi join")
  }

  test("q34/q35 window pipelines run on ONE hash exchange") {
    // both stack multiple windows + an aggregate on the same keys: the
    // plan must exchange once and re-sort in place, never re-shuffle
    for (name <- Seq("q34_resample_ohlc", "q35_anomaly_zscore")) {
      val plan = physical(name)
      val nHash = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nHash == 1, s"$name should hash-exchange once, got $nHash")
    }
  }

  test("asof variants all plan through the native AsofJoinExec") {
    for (name <- Seq("asof_join_native", "asof_join_tolerance",
        "asof_join_forward", "asof_join_nearest")) {
      val plan = physical(name)
      assert(plan.contains("AsofJoin"), s"$name must use AsofJoinExec")
      assert(!plan.contains("Window"),
        s"$name must not fall back to the union+window composition")
    }
  }

  test("text_repetition is scan + kernels + sort: no join, no aggregate") {
    val plan = physical("text_repetition")
    assert(plan.contains("max_shingle_count"), "kernel must be in-plan")
    assert(!plan.contains("Join"), "per-doc signals need no join")
    assert(!plan.contains("HashAggregate"),
      "per-doc signals need no aggregation exchange")
  }

  test("LSH signatures use the single hyperplane_buckets kernel") {
    // knn_lsh keeps the kernel in its final plan; dedup_embedding_lsh
    // checkpoints the signature table, so assert on that stage directly
    assert(physical("knn_lsh").contains("hyperplane_buckets"))
    import org.apache.spark.sql.functions.col
    val bank = sim.Hyperplanes.bank(4, 4, 64, 7)
    val sigPlan = Tables(spark, sfDir, "embeddings")
      .select(sim.Hyperplanes.buckets(bank,
        col("embedding").cast("array<double>")).as("bs"))
      .queryExecution.executedPlan.toString
    assert(sigPlan.contains("hyperplane_buckets"))
  }

  test("IVF assignment uses the nearest_centroid kernel, no window") {
    val plan = physical("knn_ivf")
    assert(plan.contains("nearest_centroid"))
  }

  test("IVF probe selection is map-side: top-k kernel explodes with no " +
      "corpus exchange") {
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val cents = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"),
        col("embedding").cast("array<double>").as("cv"))
      .localCheckpoint()
    val probes = sim.Knn.probe(e, cents, 8)
    probes.collect() // finalize the AQE plan
    val plan = probes.queryExecution.executedPlan.toString
    assert(plan.contains("nearest_centroids"), "kernel must be in-plan")
    // the only allowed exchange is the SinglePartition collect_list of
    // the 16-row codebook; the corpus-sized query side must reach the
    // probe explode without shuffling (the window formulation put
    // n·nlist wide rows through `Exchange hashpartitioning(query_id)`)
    assert(!plan.contains("Exchange hashpartitioning"),
      "probe selection must not shuffle the query set")
  }

  test("minhash signature stage is map-only: kernel present, no exchange") {
    import org.apache.spark.sql.functions.col
    val sigPlan = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        dedup.Dedup.shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), org.apache.spark.sql.graft.Shim.column(
        graft.functions.MinhashBands(
          org.apache.spark.sql.graft.Shim.expression(col("sh")), 64, 16))
        .as("bs"))
      .queryExecution.executedPlan.toString
    assert(sigPlan.contains("minhash_bands"))
    assert(!sigPlan.contains("Exchange"),
      "the 64-perm signature must not shuffle anything")
  }
}
