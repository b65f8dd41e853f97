package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.sim.Knn

/** Incremental kNN-graph maintenance ([[graft.sim.Knn.appendKnnGraph]])
  * — the one persisted artifact that was build-only until round 13.
  * Contract: with the codebook FROZEN at build time, build(base) +
  * append(slice) must hold EXACTLY the edges of a from-scratch
  * [[Knn.knnGraphFrom]] over the union corpus against that codebook
  * (new-node edges AND the reverse-probe refresh of affected existing
  * nodes), and a replayed slice must be a byte-level no-op.
  */
class KnnGraphAppendSpec extends SparkSpec {

  private def emb() = Tables(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("appendKnnGraph: build(base) + append(slice) equals the " +
      "frozen-codebook graph over the union, bit-exactly; replay is " +
      "a no-op") {
    val e = emb()
    val isSlice = col("vec_id") % 4 === 3
    val base = e.filter(!isSlice)
    val slice = e.filter(isSlice)
    val dir = java.nio.file.Files.createTempDirectory("graft-kg-incr")
    try {
      val path = dir.toString
      Knn.buildKnnGraphIndexFrom(base, path)
      val cents = spark.read.parquet(s"$path/cents")
      // reference: from-scratch graph over the union with the SAME
      // frozen (base-trained) codebook
      val want = Knn.knnGraphFrom(e, cents).collect().toSet

      Knn.appendKnnGraph(spark, path, slice, 1L)
      def edges() = spark.read.parquet(s"$path/edges").collect().toSet
      val got = edges()
      assert(got == want,
        "appended edge list must equal the frozen-codebook rebuild")

      // replay: same slice, same ingest id — every table unchanged
      def counts() = Seq("lists", "probes", "edges")
        .map(t => t -> spark.read.parquet(s"$path/$t").count()).toMap
      val before = counts()
      Knn.appendKnnGraph(spark, path, slice, 1L)
      assert(counts() == before,
        "a replayed slice must not change any table's row count")
      assert(edges() == want, "a replayed slice must not change edges")

      // identity guard: re-appending the same vectors under a
      // DIFFERENT ingest id must fail fast, not silently duplicate
      // list rows (which would corrupt every affected top-k)
      val err = intercept[IllegalArgumentException] {
        Knn.appendKnnGraph(spark, path, slice, 2L)
      }
      assert(err.getMessage.contains("ingestId"))
      assert(edges() == want, "a rejected append must not change edges")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("appendKnnGraph: two successive slices equal one union append " +
      "(associative ingest), and unaffected queries keep their rows") {
    val e = emb()
    val m = col("vec_id") % 5
    val base = e.filter(m < 3)
    val s1 = e.filter(m === 3)
    val s2 = e.filter(m === 4)
    val two = java.nio.file.Files.createTempDirectory("graft-kg-two")
    val one = java.nio.file.Files.createTempDirectory("graft-kg-one")
    try {
      Knn.buildKnnGraphIndexFrom(base, two.toString)
      Knn.appendKnnGraph(spark, two.toString, s1, 1L)
      Knn.appendKnnGraph(spark, two.toString, s2, 2L)
      Knn.buildKnnGraphIndexFrom(base, one.toString)
      Knn.appendKnnGraph(spark, one.toString, s1.unionByName(s2), 1L)
      def edges(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/edges").collect().toSet
      assert(edges(two) == edges(one),
        "slice-at-a-time ingest must equal the one-shot union append")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(two.toFile); rm(one.toFile)
    }
  }

  test("removeFromKnnGraph: takedown equals the frozen-codebook graph " +
      "over the remaining corpus, bit-exactly") {
    val e = emb()
    val gone = e.filter(col("vec_id") % 6 === 1)
    val keep = e.join(gone.select("vec_id"), Seq("vec_id"), "left_anti")
    val dir = java.nio.file.Files.createTempDirectory("graft-kg-del")
    try {
      val path = dir.toString
      Knn.buildKnnGraphIndexFrom(e, path)
      val cents = spark.read.parquet(s"$path/cents")
      val want = Knn.knnGraphFrom(keep, cents).collect().toSet
      Knn.removeFromKnnGraph(spark, path, gone.select("vec_id"))
      def edges() = spark.read.parquet(s"$path/edges").collect().toSet
      assert(edges() == want,
        "takedown edge list must equal the frozen-codebook rebuild " +
          "over the remaining corpus")
      // idempotent: removing already-gone ids changes nothing
      Knn.removeFromKnnGraph(spark, path, gone.select("vec_id"))
      assert(edges() == want)
      // append after takedown keeps the union contract (a removed id
      // re-ingested is just a new vector)
      Knn.appendKnnGraph(spark, path, gone, 7L)
      assert(edges() == Knn.knnGraphFrom(e, cents).collect().toSet,
        "re-ingesting removed vectors must restore the full graph")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("refine x maintenance ordering: maintain-then-refine is the " +
      "supported order (refined = NN-Descent over the appended graph); " +
      "append/remove AFTER refine fail fast and leave edges untouched; " +
      "the gated session-cache path refuses refine") {
    val e = emb()
    val isSlice = col("vec_id") % 4 === 3
    val base = e.filter(!isSlice)
    val slice = e.filter(isSlice)
    val dir = java.nio.file.Files.createTempDirectory("graft-kg-reford")
    try {
      val path = dir.toString
      Knn.buildKnnGraphIndexFrom(base, path)
      // supported order: maintenance FIRST, refine LAST — the refined
      // artifact is exactly NN-Descent over the frozen-codebook union
      // graph the append produced
      Knn.appendKnnGraph(spark, path, slice, 1L)
      val want = Knn.nnDescentFrom(
        spark.read.parquet(s"$path/edges")
          .select("query_id", "neighbor_id"), e)
        .collect().toSet
      assert(!Knn.isRefinedKnnGraph(spark, path))
      Knn.refineKnnGraph(spark, path)
      assert(Knn.isRefinedKnnGraph(spark, path))
      def edges() = spark.read.parquet(s"$path/edges").collect().toSet
      assert(edges() == want,
        "refine-after-append must equal NN-Descent over the appended " +
          "frozen-codebook graph")
      // forbidden order: the merge invariant ("stored top-k covers
      // every union winner outside the slice") no longer holds on
      // NN-Descent edges, so maintenance must fail fast, not merge
      val before = edges()
      val freshSlice = slice.withColumn("vec_id",
        col("vec_id") + lit(1000000L))
      val e1 = intercept[IllegalArgumentException] {
        Knn.appendKnnGraph(spark, path, freshSlice, 2L)
      }
      assert(e1.getMessage.contains("refineKnnGraph"))
      val e2 = intercept[IllegalArgumentException] {
        Knn.removeFromKnnGraph(spark, path, slice.select("vec_id"))
      }
      assert(e2.getMessage.contains("refineKnnGraph"))
      assert(edges() == before,
        "rejected maintenance must not change the refined edges")
      // the gated session cache must never be refined in place: every
      // graph_*_persisted oracle re-derives the frozen-codebook edges
      val gated = Knn.cachedGraph(spark, sfDir)
      val e3 = intercept[IllegalArgumentException] {
        Knn.refineKnnGraph(spark, gated)
      }
      assert(e3.getMessage.contains("session cache"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("graph_nndescent: one refinement round strictly improves " +
      "recall@k vs brute force and keeps the edge-list contract") {
    val vecs = emb().collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos6(a: Array[Double], b: Array[Double]): BigDecimal = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    // brute-force top-k ground truth under the shared order contract
    val truth = vecs.map { case (u, uv) =>
      u -> vecs.filter(_._1 != u)
        .map { case (x, xv) => (x, cos6(uv, xv)) }
        .sortBy { case (x, c) => (-c, x) }
        .take(3).map(_._1).toSet
    }.toMap
    def recallOf(edges: Set[(Long, Long)]): Double = {
      val byQ = edges.groupBy(_._1)
      val hits = truth.map { case (u, t) =>
        byQ.getOrElse(u, Set.empty).count(e => t(e._2))
      }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val before = Knn.readKnnGraph(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = SparkEntry.queries("graph_nndescent")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (rb, ra) = (recallOf(before), recallOf(after))
    assert(ra > rb,
      s"one NN-Descent round must strictly improve recall@k " +
        s"(before $rb, after $ra)")
    assert(after != before, "the refinement must change edges")
    // contract: still exactly JOIN_K (or fewer) ranked edges per node,
    // full coverage
    val perQ = after.groupBy(_._1).values.map(_.size)
    assert(perQ.max <= 3 && after.map(_._1) == truth.keySet)
  }

  test("graph_components_incremental: gated query runs, covers every " +
      "vector, and reuses the session-cached artifact") {
    val out = SparkEntry.queries("graph_components_incremental")(
      spark, sfDir).collect()
    assert(out.length == emb().count(),
      "component report must cover the full corpus")
    val builds = Artifacts.builds("knngraph-incr")
    assert(builds >= 1, "first query must have built the artifact")
    SparkEntry.queries("graph_components_incremental")(spark, sfDir)
      .collect()
    assert(Artifacts.builds("knngraph-incr") == builds,
      "second invocation must reuse the cached incremental artifact")
  }
}
