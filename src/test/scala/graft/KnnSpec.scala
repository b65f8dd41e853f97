package graft

import java.nio.file.Files

/** ANN variants vs the exact baseline: recall@5 on the deterministic
  * corpus. Everything (data, hyperplanes, centroids) is fixed, so the
  * observed recall is a constant; the assertions sit safely below it.
  */
class KnnSpec extends SparkSpec {

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exact = pairs("knn_bruteforce")

  test("brute force returns k neighbors per query") {
    assert(exact.size == 50) // 10 queries × k=5
  }

  test("LSH recall vs brute force") {
    val lsh = pairs("knn_lsh")
    val recall = (lsh & exact).size.toDouble / exact.size
    info(s"knn_lsh recall@5 = $recall")
    assert(recall >= 0.8) // observed 0.96 with 1-bit multiprobe
  }

  test("IVF recall vs brute force") {
    val ivf = pairs("knn_ivf")
    val recall = (ivf & exact).size.toDouble / exact.size
    info(s"knn_ivf recall@5 = $recall")
    // nprobe/nlist = 8/16 scans ~50% of this isotropic corpus; a random
    // half-scan would expect recall 0.5 — the trained codebook must beat
    // it by a clear margin. (The old first-16-ids codebook scored 0.94
    // here only because the test queries vec_id<10 WERE centroids, so
    // each query always probed its own neighborhood — a leak, not
    // quantizer quality.)
    assert(recall >= 0.75)
  }

  test("int8-quantized IVF scoring keeps recall within 0.02 of float") {
    val ivf = pairs("knn_ivf")
    val quant = pairs("knn_ivf_quantized")
    val rFloat = (ivf & exact).size.toDouble / exact.size
    val rQuant = (quant & exact).size.toDouble / exact.size
    info(s"knn_ivf recall@5 = $rFloat, quantized = $rQuant")
    // same codebook/probes; the int8 probe scan + top-50 float re-rank
    // must not cost recall (quantization noise << top-5/top-50 gap)
    assert(rQuant >= rFloat - 0.02)
  }

  test("PQ ADC candidates carry real signal (recall >> random subset)") {
    val pq = pairs("knn_pq")
    val recall = (pq & exact).size.toDouble / exact.size
    info(s"knn_pq recall@5 = $recall")
    // Deterministic constant: observed 0.42 at RERANK=50 on this
    // isotropic corpus (see the honesty note in Pq.scala — a random
    // 50-of-499 candidate set scores ~0.10; clustered corpora do far
    // better). The bound sits safely under the observed value but 3×
    // above the random baseline.
    assert(recall >= 0.30)
  }

  test("graph beam search: recall@5 >= IVF at the same candidate budget") {
    val nq = graft.sim.Knn.NQ
    val nlist = graft.sim.Knn.nlistFor(
      graft.Tables(spark, sfDir, "embeddings").count())
    val beam = pairs("knn_graph_search")
    val rBeam = (beam & exact).size.toDouble / exact.size
    val visPerQ = graft.sim.Knn.graphSearchParts(spark, sfDir)
      ._2.count().toDouble / nq
    // the smallest nprobe whose measured candidate mass covers the
    // walk's scored-candidate budget — the fair IVF yardstick; the cap
    // is NLIST (probing every list = the whole corpus as candidates)
    var p = 1
    var (ivfTop, cand) = graft.sim.Knn.ivfSearchAt(spark, sfDir, p)
    while (cand.toDouble / nq < visPerQ && p < nlist) {
      p += 1
      val r = graft.sim.Knn.ivfSearchAt(spark, sfDir, p)
      ivfTop = r._1
      cand = r._2
    }
    val ivfPairs = ivfTop.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rIvf = (ivfPairs & exact).size.toDouble / exact.size
    info(s"beam recall@5 = $rBeam (visited/query = $visPerQ); " +
      s"ivf@nprobe=$p recall@5 = $rIvf (cand/query = ${cand.toDouble / nq})")
    assert(cand.toDouble / nq >= visPerQ,
      "comparison must give IVF at least the walk's candidate budget")
    assert(rBeam >= rIvf,
      "the graph walk must match IVF recall at equal candidate budget")
  }

  test("refineKnnGraph rewrites stored edges to the NN-Descent round; " +
      "the beam walk over the refined graph holds or improves recall") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-refine").toFile
    try {
      val path = tmp.getAbsolutePath + "/g"
      val e = Tables(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      graft.sim.Knn.buildKnnGraphIndexFrom(e, path)
      def edgeRows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank", "cosine").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).sorted.toSeq
      // materialize the expectation BEFORE the in-place rewrite
      val want = edgeRows(graft.sim.Knn.nnDescentFrom(
        spark.read.parquet(path + "/edges")
          .select("query_id", "neighbor_id"), e))
      graft.sim.Knn.refineKnnGraph(spark, path)
      val got = edgeRows(spark.read.parquet(path + "/edges"))
      assert(got == want,
        "refined stored edges must equal one NN-Descent round over " +
          "the pre-refine edges")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val (res, _) = graft.sim.Knn.graphSearchAt(spark, path, q,
        graft.sim.Knn.BEAM_SEEDS, graft.sim.Knn.BEAM_W,
        graft.sim.Knn.BEAM_HOPS)
      val refPairs = res.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rRef = (refPairs & exact).size.toDouble / exact.size
      val rRaw = (pairs("knn_graph_search") & exact).size.toDouble /
        exact.size
      info(s"beam recall over refined graph = $rRef (raw graph: $rRaw)")
      assert(rRef >= rRaw,
        "NN-Descent-refined edges must not cost the walk recall")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }

  test("knn_ivf_persisted equals knn_ivf and prunes list partitions " +
      "dynamically") {
    val d = SparkEntry.queries("knn_ivf_persisted")(spark, sfDir)
    val got = d.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = SparkEntry.queries("knn_ivf")(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want, "persisted index must answer exactly like knn_ivf")
    // past the driver bound, the probe set must reach the list scan as a
    // DYNAMIC partition filter: a query batch reads nprobe/nlist of the
    // index from disk, not all of it
    val e = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val q = e.filter("vec_id < 10").selectExpr("vec_id as query_id", "v as qv")
    val fallback = graft.sim.Knn.queryIvfIndexWith(spark,
      graft.sim.Knn.cachedIndex(spark, sfDir), q, 5, graft.sim.Knn.NPROBE,
      graft.sim.IndexQuery.PLAN)
    assert(fallback.collect().toSeq == d.collect().toSeq)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "probe join must dynamically prune cent_id partitions at the scan")
  }

  test("persisted IVF index builds once per corpus; queries reuse it") {
    SparkEntry.queries("knn_ivf_persisted")(spark, sfDir).collect()
    val afterFirst = Artifacts.builds("ivf")
    assert(afterFirst >= 1, "first query must have built the index")
    val again = SparkEntry.queries("knn_ivf_persisted")(spark, sfDir)
      .collect()
    assert(Artifacts.builds("ivf") == afterFirst,
      "second query must NOT rebuild the index")
    assert(again.nonEmpty)
  }

  test("persisted kNN graph: answers equal the derive-per-query twins, " +
      "builds once, queries reuse it") {
    for ((p, t) <- Seq("graph_triangles_persisted" -> "graph_triangles",
        "graph_linkpred_persisted" -> "graph_linkpred",
        "graph_components_persisted" -> "graph_components",
        "graph_pagerank_persisted" -> "graph_pagerank")) {
      val got = SparkEntry.queries(p)(spark, sfDir).collect().toSeq
      val want = SparkEntry.queries(t)(spark, sfDir).collect().toSeq
      assert(got == want, s"$p must answer exactly like $t")
    }
    val afterFirst = Artifacts.builds("knngraph3")
    assert(afterFirst >= 1, "first query must have built the graph")
    SparkEntry.queries("graph_triangles_persisted")(spark, sfDir).collect()
    assert(Artifacts.builds("knngraph3") == afterFirst,
      "subsequent queries must NOT rebuild the stored edge list")
  }

  test("buildIvfIndex/queryIvfIndex API: build to a caller path, " +
      "overwrite on rebuild, query matches knn_ivf") {
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dir = Files.createTempDirectory("graft-ivf-api").toFile
    try {
      val path = dir.getAbsolutePath + "/idx"
      graft.sim.Knn.buildIvfIndex(e, path)
      // rebuild OVERWRITES in place: same single lists/cents layout, no
      // accumulated copies (the r4 temp-dir-per-invocation leak)
      graft.sim.Knn.buildIvfIndex(e, path)
      assert(new java.io.File(path).listFiles().map(_.getName).toSet ==
        Set("lists", "cents"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val got = graft.sim.Knn.queryIvfIndex(spark, path, q)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val want = SparkEntry.queries("knn_ivf")(spark, sfDir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == want)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("knn_join covers the whole corpus with partial top-k pushdown") {
    val d = SparkEntry.queries("knn_join")(spark, sfDir)
    val rows = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables(spark, sfDir, "embeddings").count()
    // every vector gets a neighbor list, ranks are 1..k with no gaps
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.size == n, "one neighbor list per corpus vector")
    byQuery.values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length))
      assert(g.forall(r => r._2 != r._1), "no self neighbors")
    }
    // the per-query top-k must be the partial-aggregatable TopEdges
    // ObjectHashAggregate (map-side reduction to groups·k BEFORE the
    // exchange), and NOTHING may sort the n·nprobe/nlist candidate
    // stream — the window form's sort spilled 79 GB at the sf3 sweep
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("topedges") &&
      plan.contains("ObjectHashAggregate"),
      "TopEdges must run as a partial ObjectHashAggregate")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window "),
      "the candidate top-k must be an aggregate, not a window sort")
  }

  test("knn_radius == a driver-side exact range scan; consistent with " +
      "the top-k baseline") {
    val vecs = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (q, qv) <- vecs.toSeq if q < 10
      (x, xv) <- vecs.toSeq if x != q
      c = cosine(qv, xv) if c >= 0.3
    } yield (q, x)).toSet
    val got = SparkEntry.queries("knn_radius")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSet == expected)
    got.foreach { case (_, _, c) => assert(c >= 0.3 - 5e-7 && c <= 1.0) }
    // every top-k hit at cosine ≥ τ must also be a radius hit
    val topk = SparkEntry.queries("knn_bruteforce")(spark, sfDir)
      .collect().filter(_.getDouble(3) >= 0.3 + 1e-6)
      .map(r => (r.getLong(0), r.getLong(1)))
    topk.foreach(p => assert(expected(p), s"top-k pair $p missing"))
  }

  test("graph_triangles == a driver-side brute force over knn_join edges") {
    val edges = SparkEntry.queries("knn_join")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        (math.min(a, b), math.max(a, b))
      }.toSet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val tri = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    // each triangle a<b<c counted once: edge (u,v) with u<v, closer w>v
    for ((u, v) <- edges; w <- nbrs(u) & nbrs(v) if w > v) {
      tri(u) += 1; tri(v) += 1; tri(w) += 1
    }
    val got = SparkEntry.queries("graph_triangles")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == Tables(spark, sfDir, "embeddings").count())
    got.foreach { case (id, degree, t) =>
      assert(degree == nbrs(id).size.toLong, s"degree mismatch at $id")
      assert(t == tri(id), s"triangle count mismatch at $id")
    }
    assert(got.map(_._3).sum > 0, "the kNN graph must close some triangles")
  }

  test("emb_drift: slice moments recombine to the emb_stats corpus mean") {
    val stats = SparkEntry.queries("emb_stats")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(4)))
      .toMap
    val newDocs = Tables(spark, sfDir, "documents")
      .filter(org.apache.spark.sql.functions.col("source")
        .isin("src0", "src1")).count()
    val rows = SparkEntry.queries("emb_drift")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (dim, nb, nn, mb, mn, drift) =>
      val (n, mean) = stats(dim)
      assert(nb + nn == n, s"dim $dim slice counts must partition n")
      assert(nn == newDocs, s"dim $dim new-slice count")
      assert(drift == mn - mb, s"dim $dim drift must be the subtraction")
      // recombined mean: same exact integer sums, so only the final
      // float combine differs from emb_stats' single division
      assert(math.abs((mb * nb + mn * nn) / n - mean) < 1e-9,
        s"dim $dim slice means must recombine to the corpus mean")
    }
  }

  test("emb_stats: valid per-dimension moments over the full corpus") {
    val n = Tables(spark, sfDir, "embeddings").count()
    val rows = SparkEntry.queries("emb_stats")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 64 && rows.forall(_._2 == n))
    rows.foreach { case (d, _, mn, mx, mean, variance) =>
      assert(mn <= mx, s"dim $d")
      // mean of 6-dp-rounded components sits within the raw range,
      // padded by the rounding quantum
      assert(mean >= mn - 5e-7 && mean <= mx + 5e-7, s"dim $d mean")
      assert(variance >= 0.0, s"dim $d variance")
      assert(variance <= (mx - mn) * (mx - mn), s"dim $d variance bound")
    }
  }

  test("emb_standardize: z summaries consistent with the corpus moments") {
    val d = SparkEntry.queries("emb_standardize")(spark, sfDir)
    val rows = d
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3)))
    // one kernel pass per row: codegen subexpression elimination must
    // collapse the three struct-field reads to a single summary call
    // (the composed HOF form this replaced ran three interpreted O(d)
    // transforms per row after CollapseProject inlining)
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      d.queryExecution.executedPlan)
    val calls = "ZScore\\.summary".r.findAllIn(gen).length
    assert(calls == 1,
      s"expected exactly one generated ZScore.summary call, got $calls")
    assert(rows.length ==
      Tables(spark, sfDir, "embeddings").count())
    rows.foreach { case (id, zMin, zMax, out) =>
      assert(zMin <= zMax, s"vec $id")
      assert(out >= 0 && out <= 64, s"vec $id outliers")
    }
    // standardized components must straddle zero corpus-wide, and >3
    // sigma outliers must be rare on this roughly-uniform data
    assert(rows.exists(_._2 < 0) && rows.exists(_._3 > 0))
    assert(rows.map(_._4).sum < rows.length,
      "more than one >3-sigma component per vector on average")
  }

  test("emb_project: JL distance preservation and a balanced sign matrix") {
    val rows = SparkEntry.queries("emb_project")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val n = Tables(spark, sfDir, "embeddings").count()
    assert(rows.length == n * graft.sim.Quantize.PROJ_K)
    val proj = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._4).toVector).toMap
    val orig = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toMap
    def d2(a: Vector[Double], b: Vector[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // E[||y_a - y_b||^2] = ||x_a - x_b||^2 under the 1/sqrt(k) scale;
    // at k=16 the ratio concentrates loosely — require most sampled
    // pairs within [1/3, 3] and the mean ratio near 1
    val ids = orig.keys.toSeq.sorted.take(60)
    val ratios = for (Seq(a, b) <- ids.sliding(2).toSeq) yield
      d2(proj(a), proj(b)) / d2(orig(a), orig(b))
    assert(ratios.count(r => r > 1.0 / 3 && r < 3.0) >= ratios.size * 8 / 10,
      s"too many distorted pairs: ${ratios.sortBy(identity).mkString(",")}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.6 && mean < 1.5, s"mean distance ratio $mean")
    // the md5-derived sign matrix must be roughly balanced
    val plus = SparkEntry.queries("emb_project")(spark, sfDir)
      .sparkSession.range(1, 65).selectExpr("id i")
      .crossJoin(spark.range(1, graft.sim.Quantize.PROJ_K + 1)
        .selectExpr("id j"))
      .selectExpr("1 - 2*(cast(conv(substring(md5(concat(j,'_',i)),1,1)," +
        "16,10) as bigint) % 2) s")
      .filter("s = 1").count()
    assert(plus > 400 && plus < 624, s"sign matrix unbalanced: $plus/1024")
  }

  test("appendIvfIndex: frozen-codebook ingest equals assigning the " +
      "union to the base codebook; appends are associative") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val a = e.filter(col("vec_id") < 300)
    val b1 = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b2 = e.filter(col("vec_id") >= 400)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append")
      .toString
    val (p1, p2) = (s"$dir/sliced", s"$dir/oneshot")
    graft.sim.Knn.buildIvfIndex(a, p1)
    graft.sim.Knn.appendIvfIndex(spark, p1, b1, 1L)
    graft.sim.Knn.appendIvfIndex(spark, p1, b2, 2L)
    // crash-retry replay of a slice under its own ingestId is a no-op
    // (dynamic overwrite of the same partitions), not a duplication
    graft.sim.Knn.appendIvfIndex(spark, p1, b2, 2L)
    graft.sim.Knn.buildIvfIndex(a, p2)
    graft.sim.Knn.appendIvfIndex(spark, p2, b1.union(b2), 1L)
    def listsOf(p: String) = spark.read.parquet(s"$p/lists")
      .select(col("vec_id"), col("cent_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // slice-at-a-time == one-shot append (associativity) == the direct
    // formulation: every vector assigned to the FROZEN base codebook
    val direct = graft.sim.Knn
      .assign(e, graft.sim.Knn.codebook(a))
      .select("vec_id", "cent_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(listsOf(p1) == direct && listsOf(p2) == direct)
    // set-equality can't see duplicates — the replayed slice must not
    // have doubled its inverted-list ROWS
    assert(spark.read.parquet(s"$p1/lists").count() == e.count(),
      "replayed append duplicated inverted-list rows")
    // queries see the appended vectors with no API change
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val res = graft.sim.Knn.queryIvfIndex(spark, p1, q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(res.exists(_._2 >= 300),
      "appended vectors must surface as neighbors")
    // identity guard: an already-ingested slice under a DIFFERENT
    // ingest id fails fast (silent duplicates would double neighbors)
    val err = intercept[IllegalArgumentException] {
      graft.sim.Knn.appendIvfIndex(spark, p1, b2, 9L)
    }
    assert(err.getMessage.contains("ingestId"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(dir))
  }

  test("removeFromIvfIndex: takedown equals assigning the remaining " +
      "corpus to the frozen codebook; partition-pruned rewrite") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val gone = e.filter(col("vec_id") % 6 === 1).select("vec_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-del")
      .toString
    try {
      graft.sim.Knn.buildIvfIndex(e, dir)
      graft.sim.Knn.removeFromIvfIndex(spark, dir, gone)
      def listsOf() = spark.read.parquet(s"$dir/lists")
        .select(col("vec_id"), col("cent_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = graft.sim.Knn
        .assign(e.join(gone, Seq("vec_id"), "left_anti"),
          spark.read.parquet(s"$dir/cents"))
        .select("vec_id", "cent_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(listsOf() == direct,
        "takedown lists must equal the remaining corpus assigned to " +
          "the frozen codebook")
      // queries stop seeing the removed vectors, with no API change
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val res = graft.sim.Knn.queryIvfIndex(spark, dir, q)
        .collect().map(_.getLong(1)).toSet
      assert(!res.exists(_ % 6 == 1),
        "removed vectors must stop surfacing as neighbors")
      // idempotent: removing already-gone ids changes nothing
      graft.sim.Knn.removeFromIvfIndex(spark, dir, gone)
      assert(listsOf() == direct)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("requireFreshIds: a store emptied by takedown holds no prior " +
      "identities; a live one still rejects a re-used id") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty")
      .toString
    try {
      graft.sim.Knn.buildIvfIndex(e, dir)
      graft.sim.Knn.removeFromIvfIndex(spark, dir, e.select("vec_id"))
      // every partition directory is gone: the store reads as empty
      assert(spark.read.schema(graft.sim.Knn.ListsSchema)
        .parquet(s"$dir/lists").count() == 0)
      graft.sim.Knn.requireFreshIds(spark, s"$dir/lists", e, 1L, "spec")
      val slice = e.filter(col("vec_id") < 100)
      graft.sim.Knn.appendIvfIndex(spark, dir, slice, 1L)
      val q = slice.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      assert(graft.sim.Knn.queryIvfIndex(spark, dir, q).collect()
        .forall(_.getLong(1) < 100), "only the re-ingested slice answers")
      val err = intercept[IllegalArgumentException] {
        graft.sim.Knn.requireFreshIds(spark, s"$dir/lists", slice, 2L,
          "spec")
      }
      assert(err.getMessage.contains("ingestId"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("reindexOnDrift: below-threshold slice is a byte no-op; " +
      "above-threshold rebuild equals a fresh build on the union") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val held = e.filter(col("vec_id") % 4 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-reidx")
      .toString
    def files(p: String) = {
      def walk(f: java.io.File): Seq[(String, Long, Long)] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty).toSeq
        kids.filter(_.isFile).filterNot(_.getName.startsWith("."))
          .map(k => (k.getPath, k.length, k.lastModified)) ++
          kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(p)).toSet
    }
    try {
      graft.sim.Knn.buildIvfIndex(base, s"$dir/idx")
      // a held-out sample of the SAME distribution: tiny mean drift
      val before = files(s"$dir/idx")
      assert(!graft.sim.Knn.reindexOnDrift(spark, s"$dir/idx", held, 0.2),
        "same-distribution slice must not trigger a rebuild")
      assert(files(s"$dir/idx") == before,
        "a below-threshold decision must be a byte no-op")
      // the same vectors displaced by +0.5 per coordinate: mean-vector
      // drift = 0.5*sqrt(64) = 4.0, far above tau
      val shifted = held
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), x => x + lit(0.5)).as("v"))
      assert(graft.sim.Knn.reindexOnDrift(spark, s"$dir/idx", shifted, 0.2),
        "displaced slice must trigger the rebuild")
      graft.sim.Knn.buildIvfIndex(
        base.unionByName(shifted), s"$dir/fresh")
      def lists(p: String) = spark.read.parquet(s"$p/lists")
        .select(col("vec_id"), col("cent_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def cents(p: String) = spark.read.parquet(s"$p/cents")
        .collect().map(_.toString).toSet
      assert(cents(s"$dir/idx") == cents(s"$dir/fresh"),
        "rebuilt codebook must equal a fresh train on the union")
      assert(lists(s"$dir/idx") == lists(s"$dir/fresh"),
        "rebuilt lists must equal a fresh build on the union")
      // identity guard: an overlapping slice fails fast
      intercept[IllegalArgumentException] {
        graft.sim.Knn.reindexOnDrift(spark, s"$dir/idx",
          base.limit(3), 0.2)
      }
      // empty slice: trivially below threshold
      assert(!graft.sim.Knn.reindexOnDrift(spark, s"$dir/idx",
        e.limit(0), 0.2))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("emb_covariance: diagonal equals emb_stats variance exactly; " +
      "off-diagonals obey Cauchy-Schwarz") {
    val cov = SparkEntry.queries("emb_covariance")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
      .toMap
    assert(cov.size == 64 * 65 / 2)
    val varOf = SparkEntry.queries("emb_stats")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(5))).toMap
    for (i <- 1L to 64L)
      assert(cov((i, i)) == varOf(i),
        s"cov($i,$i) must BIT-equal emb_stats variance (same exact " +
          "integer numerator, same one IEEE division)")
    for (((i, j), c) <- cov if i != j)
      assert(math.abs(c) <= math.sqrt(varOf(i) * varOf(j)) + 1e-12,
        s"|cov($i,$j)| violates Cauchy-Schwarz")
  }

  test("emb_pca_power: max-norm iterate is normalized, tracks an " +
      "independent double-precision model of the same 3 rounds, and " +
      "climbs the Rayleigh quotient") {
    val got = SparkEntry.queries("emb_pca_power")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == 64 && got.map(_._1) == (1L to 64L))
    assert(got.map(x => math.abs(x._2)).max == 1000000L,
      "max-norm renormalization must pin the largest |component| at 1e6")
    // independent model: double covariance + 50 L2-normalized power rounds
    val vs = Tables(spark, sfDir, "embeddings")
      .selectExpr("transform(cast(embedding as array<double>), " +
        "x -> round(x, 6)) as v")
      .collect().map(_.getSeq[Double](0).toArray)
    val n = vs.length
    val d = 64
    val mean = Array.tabulate(d)(i => vs.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      vs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n)
    // the same 3 fixed rounds in double (the pagerank-spec pattern: an
    // independent implementation of the SAME fixed-round algorithm —
    // power iteration doesn't CONVERGE in 3 rounds on an isotropic
    // corpus, so the eigenvector itself is not the reference)
    var ref = Array.fill(d)(1.0)
    for (_ <- 1 to 3) {
      val r = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * ref(j)).sum)
      val mx = r.map(math.abs).max
      ref = r.map(_ / mx)
    }
    val v = got.map(_._2.toDouble).toArray
    def cosOf(a: Array[Double], b: Array[Double]): Double =
      (0 until d).map(i => a(i) * b(i)).sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val cos = cosOf(v, ref)
    assert(cos > 0.999,
      s"integer iterate must track the double-model iterate (cos=$cos)")
    // power iteration increases the Rayleigh quotient every round
    def rayleigh(a: Array[Double]): Double =
      (0 until d).map(i => (0 until d).map(j =>
        a(i) * cov(i)(j) * a(j)).sum).sum / a.map(x => x * x).sum
    assert(rayleigh(v) > rayleigh(Array.fill(d)(1.0)),
      "iterate must climb the Rayleigh quotient vs v0")
  }

  test("graph_pagerank == an independent integer PageRank over the " +
      "knn_join edge list") {
    val got = SparkEntry.queries("graph_pagerank")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = SparkEntry.queries("knn_join")(spark, sfDir)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = Tables(spark, sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        pr(u) / deg(u)
      }.sum).toMap
      pr = nodes.map(v =>
        v -> (150000L + (850L * in.getOrElse(v, 0L)) / 1000L)).toMap
    }
    assert(got == nodes.map(v => (v, pr(v))))
    // dense-region representatives must separate from the base score
    assert(got.map(_._2).max > 150000L && got.map(_._2).distinct.size > 10)
  }

  test("cosine_sim rejects mismatched vector lengths") {
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0D, 2.0D), array(1.0D))")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("lengths differ")))
  }

  test("cosine_sim SQL function evaluates correctly") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) c1,
                cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) c2,
                cosine_sim(array(cast(1.0 AS FLOAT)), array(cast(1.0 AS FLOAT))) c3
      """).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }
}
