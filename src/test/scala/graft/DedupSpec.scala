package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

/** Cross-checks between the dedup pipelines (the SQL-expressible ones are
  * additionally oracle-gated by the driver).
  */
class DedupSpec extends SparkSpec {

  private def pairSet(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exactJaccard = pairSet("dedup_ngram_jaccard")

  test("planted near-duplicates exist in the corpus") {
    assert(exactJaccard.nonEmpty)
  }

  test("minhash LSH has full recall vs exact jaccard at this scale") {
    assert(pairSet("dedup_minhash_lsh") == exactJaccard)
  }

  test("simhash recovers most jaccard near-dups at hamming<=3") {
    val sim = pairSet("dedup_simhash")
    val recall = (sim & exactJaccard).size.toDouble / exactJaccard.size
    info(s"simhash recall = $recall, extra pairs = ${(sim -- exactJaccard).size}")
    assert(recall >= 0.5)
    // precision sanity: hamming-close pairs shouldn't explode
    assert(sim.size <= exactJaccard.size * 3)
  }

  test("embedding LSH dedup has full recall vs the blocked exact join") {
    val exact = pairSet("dedup_embedding")
    assert(exact.nonEmpty)
    assert(pairSet("dedup_embedding_lsh") == exact)
  }

  /** The corpus's (doc_id, sh, nsh) shingle table, materialized. */
  private lazy val corpusShingles = {
    import org.apache.spark.sql.functions._
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        dedup.Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .localCheckpoint()
  }

  /** A shingle-pair kernel on both paths, forced through its
    * `driverPostings` seam: Long.MaxValue admits every table the driver
    * reproduces, -1 admits none. Identical schema and rows; returns the
    * rows.
    */
  private def bothPairPaths(kernel: Long => DataFrame): Seq[String] = {
    val onDriver = kernel(Long.MaxValue)
    val planned = kernel(-1L)
    assert(isLocal(onDriver), "a reproducible table takes the driver path")
    assert(!isLocal(planned))
    assert(onDriver.schema == planned.schema)
    val rows = sortedRows(planned)
    assert(sortedRows(onDriver) == rows)
    rows
  }

  test("df-capped jaccard bounds candidates with recall unchanged at TAU") {
    val shingleTable = corpusShingles
    def pairs(cap: Option[Int]) = {
      bothPairPaths(
        dedup.Dedup.jaccardPairs(shingleTable, dedup.Dedup.TAU, cap, _))
      dedup.Dedup.jaccardPairs(shingleTable, dedup.Dedup.TAU, cap)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val uncapped = pairs(None)
    assert(uncapped == exactJaccard, "fixture matches the gated query")
    assert(pairs(Some(dedup.Dedup.DEFAULT_DF_CAP)) == uncapped,
      "the shipped default cap loses nothing vs the uncapped plan")
    assert(pairs(Some(50)) == uncapped,
      "cap=50 keeps every TAU pair on this corpus (recall unchanged)")
    // a cap BELOW the max df forces the viral-bracket verify branch
    // (n_viral > 0): the full-array verify must recover the exact pairs
    assert(pairs(Some(5)) == uncapped,
      "tight cap: bracket + verify still yields the exact TAU pairs")
    // candidate mass shrinks monotonically as the cap tightens
    val candLoose = dedup.Dedup.jaccardCandidates(shingleTable, 50).count()
    val candTight = dedup.Dedup.jaccardCandidates(shingleTable, 5).count()
    info(s"candidates: cap=50 → $candLoose, cap=5 → $candTight")
    assert(candTight <= candLoose)
    assert(candLoose >= uncapped.size.toLong,
      "candidates must cover every verified pair")
  }

  test("exact dedup marks nothing in a duplicate-free corpus") {
    val d = SparkEntry.queries("dedup_exact")(spark, sfDir)
    assert(d.filter("is_dup").count() == 0)
  }

  test("connected components match a driver-side union-find fixpoint") {
    import org.apache.spark.sql.functions._
    // brute-force union-find over the collected TAU pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exactJaccard.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (exactJaccard.flatMap(p => Seq(p._1, p._2)))
      .map(id => id -> find(id)).toMap
    val got = SparkEntry.queries("dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge endpoint lands on the union-find root
    want.foreach { case (id, root) => assert(got(id) == root) }
    // everything else is a singleton cluster of itself
    got.foreach { case (id, cid) =>
      if (!want.contains(id)) assert(cid == id)
    }
    // chains converge: a synthetic 1-2-3-4-5 path collapses to min=1
    val chain = spark.createDataFrame(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 6L)))
      .toDF("u", "v").repartition(4)
    val labels = dedup.Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(labels(_) == 1L))
    assert(labels(6L) == 6L && labels(7L) == 6L)
  }

  test("substringSpans finds cross-doc runs, within-doc repeats, and " +
      "merges overlapping grams into maximal spans") {
    import org.apache.spark.sql.functions._
    def ws(p: String, from: Int, to: Int) =
      (from to to).map(i => s"$p$i").mkString(" ")
    val run = ws("x", 1, 6) // the 6-token shared run
    val docs = spark.createDataFrame(Seq(
        // docs 1,2 share exactly one 6-token run, at positions 11 and 6
        (1L, ws("a", 1, 10) + " " + run + " " + ws("b", 1, 4)),
        (2L, ws("c", 1, 5) + " " + run + " " + ws("d", 1, 8)),
        // doc 3 repeats a 6-token run WITHIN itself, separated by one
        // token: two maximal spans of 6, no merge (gap of 1 at pos 7)
        (3L, ws("e", 1, 6) + " gap1 " + ws("e", 1, 6)),
        // doc 4 has no duplicated run
        (4L, ws("f", 1, 12)),
        // docs 5,6 are identical 12-token docs: 7 overlapping duplicated
        // grams merge into ONE maximal 12-token span
        (5L, ws("g", 1, 12)),
        (6L, ws("g", 1, 12))))
      .toDF("doc_id", "text")
    val got = dedup.Dedup.substringSpans(docs, 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) == ((1L, 6L)) && got(2L) == ((1L, 6L)),
      "one 6-token span each for the shared run")
    assert(got(3L) == ((2L, 12L)),
      "within-doc repeat: two spans, not merged across the 1-token gap")
    assert(!got.contains(4L), "no duplicated run -> no row")
    assert(got(5L) == ((1L, 12L)) && got(6L) == ((1L, 12L)),
      "overlapping grams coalesce into one maximal span")
  }

  test("dedup_cross flags only new-vs-base near-dups, never " +
      "new-vs-new, and reports the min base match") {
    import org.apache.spark.sql.functions._
    val body = (1 to 30).map(i => s"qqw$i").mkString(" ")
    val other = (31 to 60).map(i => s"qqw$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cross").toString
    // src0/src1 are the NEW slice, src9 is base. Docs 1,2 (new) and
    // 10,11 (base) share one text; doc 3 (new) matches nothing in base
    // even though it duplicates NEW doc 1 — must stay un-flagged.
    spark.createDataFrame(Seq(
        (1L, body, "en", "src0", 1L),
        (2L, body, "en", "src1", 1L),
        (3L, body, "en", "src0", 1L),
        (4L, other, "en", "src1", 1L),
        (10L, body, "en", "src9", 1L),
        (11L, body, "en", "src9", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("dedup_cross")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), "one row per NEW doc only")
    assert(got(1L) == ((true, Some(10L))), "min base id wins")
    assert(got(2L) == ((true, Some(10L))))
    assert(got(3L) == ((true, Some(10L))),
      "new-new dup also matching base is flagged via base")
    assert(got(4L) == ((false, None)), "no base match -> not flagged")
  }

  test("containment covers every planted near-dup both ways; a strict " +
      "sub-document flags ONE-way even at jaccard far below TAU") {
    val cont = SparkEntry.queries("dedup_containment")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // containment ≥ jaccard, so J ≥ 0.9 pairs must flag BOTH ways;
    // lower-J near-dups (TAU=0.6) may legitimately fall under 0.9
    val strong = SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir)
      .collect().filter(_.getDouble(2) >= 0.9)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(strong.nonEmpty)
    for ((a, b) <- strong) {
      assert(cont.contains((a, b)) && cont.contains((b, a)),
        s"J>=0.9 near-dup ($a,$b) must flag in both orientations")
    }
    cont.values.foreach(v =>
      assert(v >= dedup.Dedup.CONT_MICRO && v <= 1000000L))
    // constructed asymmetric case: doc 1 is a strict prefix of doc 2,
    // whose long unique tail pushes jaccard well below TAU — exactly
    // the sub-document overlap jaccard-based dedup cannot see
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame(Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon zeta " +
          (1 to 40).map(i => s"tail$i").mkString(" ")),
        (3L, "unrelated tokens sharing nothing with either document")))
      .toDF("doc_id", "text")
    val st = docs.select(col("doc_id"),
        dedup.Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val rows = dedup.Dedup.containmentPairs(st, dedup.Dedup.CONT_MICRO)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 2L, 1000000L)),
      "prefix doc contained fully in the long doc, never the reverse, " +
        "and the unrelated doc pairs with nothing")
    bothPairPaths(dedup.Dedup.containmentPairs(st, dedup.Dedup.CONT_MICRO,
      dedup.Dedup.DEFAULT_DF_CAP, _))
    // the corpus on both paths; cap 5 leaves shingles over the cap (V >
    // 0) and sends bracketed pairs through the full-array verify
    val all = Seq(dedup.Dedup.DEFAULT_DF_CAP, 50, 5).map(cap =>
      bothPairPaths(dedup.Dedup.containmentPairs(corpusShingles,
        dedup.Dedup.CONT_MICRO, cap, _)))
    assert(all.head.size == cont.size, "the default cap is the query's")
  }

  // ---- shingle pairs: the driver path vs the distributed plan
  /** A (doc_id, sh, nsh) frame; `nsh` defaults to size(sh). */
  private def shingleFrame(rows: Seq[Row], id: DataType = LongType,
      nullable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val sch = StructType(Seq(StructField("doc_id", id, nullable),
      StructField("sh", ArrayType(StringType, nullable), nullable)) ++
      (if (rows.exists(_.length == 3))
        Seq(StructField("nsh", IntegerType, nullable)) else Nil))
    val df = spark.createDataFrame(rows.asJava, sch).repartition(3)
    if (sch.length == 3) df else df.withColumn("nsh", size(col("sh")))
  }

  private def jaccardBoth(t: DataFrame, cap: Option[Int]): Seq[String] =
    bothPairPaths(dedup.Dedup.jaccardPairs(t, dedup.Dedup.TAU, cap, _))

  private def containmentBoth(t: DataFrame, cap: Int): Seq[String] =
    bothPairPaths(dedup.Dedup.containmentPairs(t, dedup.Dedup.CONT_MICRO,
      cap, _))

  test("shingle pairs: the driver path and the distributed plan return " +
      "identical rows and schema on ties, empty sets and ids past 2^31") {
    def set(xs: String*) = xs.toSeq
    // jaccard 3/5 = TAU exactly; containment 9/10 = CONT_MICRO exactly
    val ties = shingleFrame(Seq(
      Row(1L, set("a", "b", "c", "d")),
      Row(2L, set("a", "b", "c", "e")),
      Row(3L, (0 until 10).map(i => s"t$i")),
      Row(4L, (0 until 9).map(i => s"t$i") :+ "u"),
      Row(5L, set()),
      Row(6L, set("a")),
      Row(7L, set())))
    val tj = jaccardBoth(ties, None)
    assert(tj.contains(Row(1L, 2L, 0.6).toString), "the tie at TAU is kept")
    assert(jaccardBoth(ties, Some(1000)) == tj)
    val tc = containmentBoth(ties, 1000)
    assert(tc.contains(Row(3L, 4L, 900000L).toString) &&
      tc.contains(Row(4L, 3L, 900000L).toString),
      "the tie at CONT_MICRO is kept both ways")
    // a shingle over cap 2 (df 3): bracketed pairs verify on full sets
    assert(jaccardBoth(ties, Some(2)).contains(Row(1L, 2L, 0.6).toString))
    assert(containmentBoth(ties, 2).contains(Row(3L, 4L, 900000L).toString))
    // random tables over a small alphabet: many shared shingles, some
    // over every small cap, ids spread past 2^31, empty sets included
    val rnd = new scala.util.Random(17)
    (1 to 3).foreach { _ =>
      val docs = rnd.shuffle((0 until 30).map(_ * 4L)).take(24).map { i =>
        val id = if (rnd.nextBoolean()) i else (1L << 33) + i
        Row(id, rnd.shuffle((0 until 12).map(x => s"w$x"))
          .take(rnd.nextInt(7)))
      }
      val t = shingleFrame(docs)
      jaccardBoth(t, None)
      jaccardBoth(t, Some(2))
      containmentBoth(t, 1000)
      containmentBoth(t, 3)
    }
  }

  test("shingle pairs fall back to the distributed plan for a table past " +
      "the bound or one the driver cannot reproduce; at the bound the " +
      "driver path runs 2 jobs") {
    val dups = (1L to 6L).map(i => Row(i, Seq("x", s"y$i")))
    val plain = shingleFrame(dups)
    // 12 postings: the bound admits 12, not 11
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val local = Checkpoint.of(plain)
    Shim.waitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val atBound = try {
      val df = dedup.Dedup.jaccardPairs(local, 0.3, Some(1000), 15L)
      Shim.waitListeners(spark)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(isLocal(atBound))
    assert(jobs.get == 2, s"driver path ran ${jobs.get} jobs")
    assert(!isLocal(dedup.Dedup.jaccardPairs(local, 0.3, Some(1000), 11L)))
    // 15 answer rows at tau 1/3 (30 for containment at 0.5): past a bound
    // of 12 the answer, not the table, sends it to the plan
    assert(atBound.count() == 15)
    assert(!isLocal(dedup.Dedup.jaccardPairs(local, 0.3, Some(1000), 12L)))
    assert(!isLocal(dedup.Dedup.containmentPairs(local, 500000L, 1000, 12L)))
    assert(isLocal(dedup.Dedup.containmentPairs(local, 500000L, 1000, 30L)))
    def planned(t: DataFrame): Unit = {
      val j = dedup.Dedup.jaccardPairs(t, 0.3, Some(1000), Long.MaxValue)
      val c = dedup.Dedup.containmentPairs(t, 500000L, 1000, Long.MaxValue)
      assert(!isLocal(j) && !isLocal(c))
      j.collect(); c.collect()
    }
    val x = Seq("x", "z")
    planned(shingleFrame(dups.map(r => Row(r.getLong(0).toInt, r(1))),
      IntegerType))                                          // int doc_id
    planned(shingleFrame(dups :+ Row(1L, x)))                 // duplicate id
    planned(shingleFrame(dups :+ Row(null, x), nullable = true))  // null id
    planned(shingleFrame(dups :+ Row(9L, null), nullable = true)) // null sh
    planned(shingleFrame(dups.map(r => Row(r(0), r(1), 2)) :+
      Row(9L, x, null), nullable = true))                     // null nsh
    planned(shingleFrame(dups :+ Row(9L, Seq("x", null)),
      nullable = true))                                       // null entry
    planned(shingleFrame(dups :+ Row(9L, Seq("x", "x"))))     // repeated
    planned(shingleFrame(dups.map(r => Row(r(0), r(1), 2)) :+
      Row(9L, x, 3)))                                         // nsh ≠ size
  }

  test("keep_best keeps exactly one member per cluster — the longest, " +
      "doc_id tie-broken — and agrees with dedup_clusters' assignment") {
    val kb = SparkEntry.queries("dedup_keep_best")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(kb.length == kb.map(_._1).distinct.length)
    kb.groupBy(_._2).foreach { case (cid, rows) =>
      val keeps = rows.filter(_._4)
      assert(keeps.length == 1, s"cluster $cid must keep exactly one")
      val best = rows.minBy(t => (-t._3, t._1))
      assert(keeps.head._1 == best._1,
        s"cluster $cid keeper must be the longest member (min-id ties)")
    }
    assert(kb.exists(t => !t._4), "planted dup clusters must drop members")
    val cl = SparkEntry.queries("dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    kb.foreach { case (id, cid, _, _) =>
      assert(cl(id) == cid, s"doc $id cluster differs from dedup_clusters")
    }
  }

  test("soft-dedup weights: floor millionths of 1/cluster_size, sizes " +
      "agree with dedup_clusters, cluster mass recovers ~1e6") {
    val rows = SparkEntry.queries("dedup_weights")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clSizes = SparkEntry.queries("dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(1)).groupBy(identity)
      .map { case (c, xs) => c -> xs.length.toLong }
    rows.foreach { case (id, cid, size, w) =>
      assert(size == clSizes(cid), s"doc $id cluster size mismatch")
      assert(w == 1000000L / size, s"doc $id weight not floor(1e6/n)")
    }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val mass = members.map(_._4).sum
      val n = members.length
      assert(n.toLong == members.head._3)
      assert(mass <= 1000000L && mass > 1000000L - n,
        s"cluster $cid mass $mass outside (1e6-n, 1e6]")
    }
    assert(rows.exists(_._3 > 1), "planted dup clusters must downweight")
  }

  test("simhash drops token-less docs instead of pairing them at zero") {
    import org.apache.spark.sql.functions._
    // the oracle's unnest produces no tok rows for empty docs, so they
    // vanish there; the Spark side must drop them too, not sign them 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_simhash").toString
    spark.createDataFrame(Seq(
        (1L, ""), (2L, "   "),
        (3L, "the exact same sentence of text"),
        (4L, "the exact same sentence of text")))
      .toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("dedup_simhash")(spark, tmp)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 4L)),
      "only the identical non-empty docs may pair; empty docs never")
  }

  test("dedup_cross_bloom == the no-bloom exact join on the real corpus; " +
      "constructed exact cross-dups are found, whitespace-normalized") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // real corpus: the bloom-prefiltered plan must be bit-equal to the
    // plain exact cross join (no false negatives; verify kills the fps)
    val got = rows(SparkEntry.queries("dedup_cross_bloom")(spark, sfDir))
    val f = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source").isin("src0", "src1").as("is_new"),
        graft.text.TextOps.normalizedMd5(col("text")).as("fp"))
    val direct = rows(f.filter(col("is_new")).as("n")
      .join(f.filter(!col("is_new")).as("b"),
        col("n.fp") === col("b.fp"), "left")
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("dup_of"))
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"))
      .orderBy("doc_id"))
    assert(got == direct)
    // constructed slices: exact dup (one with whitespace noise — the
    // normalization contract), and a non-dup that must pass through
    val tmp = java.nio.file.Files.createTempDirectory("graft_xbloom")
      .toString
    spark.createDataFrame(Seq(
        (1L, "shared sentence one", "src5"),
        (2L, "another base doc", "src6"),
        (3L, "  shared   sentence one ", "src0"),
        (4L, "totally new content", "src1"),
        (5L, "another base doc", "src0")))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val small = rows(SparkEntry.queries("dedup_cross_bloom")(spark, tmp))
    assert(small == Seq((3L, true, 1L), (4L, false, -1L), (5L, true, 2L)))
  }

  test("canonicalUrl: adversarial forms normalize per the step contract") {
    def c(u: String): String = graft.functions.TextKernels
      .canonicalUrl(org.apache.spark.unsafe.types.UTF8String.fromString(u))
      .toString
    // scheme+host case-fold, www strip, default-port strip, trailing
    // slashes, fragment drop, query sort — all equivalent spellings
    assert(Seq(
      "https://cdn.x.example.com/a/b?b=2&a=1",
      "HTTPS://WWW.Cdn.X.Example.COM:443/a/b/?b=2&a=1#frag",
      "https://cdn.x.example.com/a/b///?b=2&a=1")
      .map(c).distinct == Seq("https://cdn.x.example.com/a/b?a=1&b=2"))
    assert(c("http://Host.org:80/p") == "http://host.org/p")
    // a NON-default port is meaningful and must survive
    assert(c("http://host.org:443/p") == "http://host.org:443/p")
    assert(c("https://host.org:80/p") == "https://host.org:80/p")
    assert(c("https://host.org:8443/p") == "https://host.org:8443/p")
    // path-less / query-only / empty-query shapes
    assert(c("https://h.org") == "https://h.org")
    assert(c("https://h.org/") == "https://h.org")
    assert(c("https://h.org?z=1&a=2") == "https://h.org?a=2&z=1")
    assert(c("https://h.org/p?") == "https://h.org/p")
    assert(c("https://h.org#only-frag") == "https://h.org")
    // case is preserved where it matters: path and query values
    assert(c("https://h.org/CaseSensitive?Key=Val") ==
      "https://h.org/CaseSensitive?Key=Val")
    // no scheme -> opaque passthrough (fragment still stripped)
    assert(c("not a url") == "not a url")
    assert(c("relative/path#f") == "relative/path")
    // www is an authority prefix, not a path substring
    assert(c("https://h.org/www.keep") == "https://h.org/www.keep")
  }

  test("dedup_url: each 4-spelling group collapses to 2 canonical " +
      "groups of 2, keeper = min doc_id") {
    val rows = SparkEntry.queries("dedup_url")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables(spark, sfDir, "documents").count()
    assert(rows.map(_._3).sum == nDocs, "every doc lands in one group")
    // full groups (all 4 spellings present) have exactly 2 docs each:
    // {plain, cased+slash} and {www+port+reversed-query, frag+query}
    val full = rows.filter(_._3 == 2)
    assert(full.length >= (nDocs / 4 - 1) * 2,
      s"expected ~${nDocs / 4 * 2} two-doc canonical groups")
    full.foreach { case (url, keep, _) =>
      assert(url == url.toLowerCase.replace(":443", "")
        .replace("www.", ""), s"non-canonical url survived: $url")
      assert(keep % 4 == 0 || keep % 4 == 2,
        s"keeper must be the group's min doc_id spelling: $keep")
    }
    // with/without-query variants must NOT merge
    assert(full.count(_._1.contains("?a=1&b=2")) == full.length / 2)
  }

  test("substringScrub removes non-first duplicated runs, keeps the " +
      "global first occurrence, coalesces overlapping spans") {
    import spark.implicits._
    val docs = Seq(
      // doc 1 carries the run first — kept verbatim
      (1L, "u1 u2 d1 d2 d3 d4 d5 d6 u3 u4"),
      // doc 2 repeats the 6-token run mid-doc — run removed
      (2L, "v1 v2 v3 d1 d2 d3 d4 d5 d6 v4"),
      // doc 3: the run TWICE in one doc → overlapping covered spans
      // coalesce; both occurrences are non-first (doc 1 owns the min
      // key), so both vanish
      (3L, "d1 d2 d3 d4 d5 d6 w1 d1 d2 d3 d4 d5 d6"),
      // doc 4: unique text, untouched
      (4L, "x1 x2 x3 x4 x5 x6 x7"),
      // doc 5: NOTHING but a non-first duplicated run — scrubs to the
      // empty string but must still report (totality)
      (5L, "d1 d2 d3 d4 d5 d6")
    ).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.substringScrub(docs, 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, 10L, "u1 u2 d1 d2 d3 d4 d5 d6 u3 u4")))
    assert(out(2L) == ((10L, 4L, "v1 v2 v3 v4")))
    assert(out(3L) == ((13L, 1L, "w1")))
    assert(out(4L) == ((7L, 7L, "x1 x2 x3 x4 x5 x6 x7")))
    assert(out(5L) == ((6L, 0L, "")),
      "a fully-duplicated doc must report with an empty scrubbed text")
  }

  test("substringScrub fails fast when doc_id exceeds the packed-key " +
      "bound instead of silently wrapping the argmin key") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g"),
      (1L << 43, "a b c d e f g")).toDF("doc_id", "text")
    val err = intercept[Exception] {
      graft.dedup.Dedup.substringScrub(docs, 6).collect()
    }
    assert(err.getMessage != null &&
      (err.getMessage.contains("2^43") ||
        Option(err.getCause).exists(_.getMessage.contains("2^43"))),
      s"expected the packed-key bound error, got: ${err.getMessage}")
  }

  test("substringScrub accepts doc_ids past 2^31 (the sf1 replica " +
      "stride) now that the pack is 43/20") {
    import spark.implicits._
    val docs = Seq(
      (5000000000L, "a b c d e f g a b c d e f g"),
      (5000000001L, "h i j k l m n")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.substringScrub(docs, 6).collect()
    assert(out.length == 2)
  }

  // ---- connectedComponents: the driver path vs the distributed loop
  private def edgeFrame(edges: Seq[(Any, Any)],
      t: DataType = LongType): DataFrame = {
    val nullable = edges.exists(e => e._1 == null || e._2 == null)
    spark.createDataFrame(edges.map(e => Row(e._1, e._2)).asJava,
      StructType(Seq("u", "v").map(StructField(_, t, nullable))))
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Min-label relaxation to a fixpoint over the non-null edges; null ids
    * report one (null, null) row, as the Spark loop does.
    */
  private def refRows(edges: Seq[(Any, Any)]): Seq[String] = {
    def id(x: Any) = x.asInstanceOf[Number].longValue
    val ends = edges.flatMap(e => Seq(e._1, e._2))
    val pairs = edges.collect {
      case (u, v) if u != null && v != null => (id(u), id(v)) }
    var label = ends.filter(_ != null).map(x => id(x) -> id(x)).toMap
    var changed = true
    while (changed) {
      val next = pairs.foldLeft(label) { case (l, (u, v)) =>
        val m = math.min(l(u), l(v))
        l.updated(u, m).updated(v, m)
      }
      changed = next != label
      label = next
    }
    (label.toSeq.map { case (i, l) => Row(i, l).toString } ++
      (if (ends.contains(null)) Seq(Row(null, null).toString) else Nil))
      .sorted
  }

  /** Both paths over the same edges: identical schema and rows, equal to
    * the reference. The bound argument forces the path: Long.MaxValue
    * admits every long frame to the driver, -1 admits none.
    */
  private def bothPaths(edges: Seq[(Any, Any)],
      t: DataType = LongType): Unit = {
    val e = edgeFrame(edges, t).repartition(3)
    val onDriver = dedup.Dedup.connectedComponents(e, 25, Long.MaxValue)
    val loop = dedup.Dedup.connectedComponents(e, 25, -1L)
    assert(isLocal(onDriver) == (t == LongType),
      "long ids take the driver path, others the loop")
    assert(!isLocal(loop))
    assert(onDriver.schema == loop.schema)
    assert(loop.schema.forall(_.dataType == t), "id type kept")
    val rows = sortedRows(loop)
    assert(sortedRows(onDriver) == rows)
    assert(rows == refRows(edges))
  }

  test("connectedComponents: the driver path and the distributed loop " +
      "return identical rows and schema") {
    import org.scalacheck.{Gen, Prop}
    val edge = Gen.zip(Gen.choose(-20L, 20L), Gen.choose(-20L, 20L))
    val graphs = Gen.choose(0, 40).flatMap(Gen.listOfN(_, edge))
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(graphs) { g => bothPaths(g); true })
    assert(res.passed, res.status.toString)
    // two chains of 250 edges, min id at one end and at the other, in
    // shuffled row order with mixed orientation
    val chains = (0 until 250).flatMap { i =>
      val (a, b) = (i.toLong, i + 1L)
      Seq(if (i % 2 == 0) (a, b) else (b, a), (2000L - a, 2000L - b))
    }
    bothPaths(new scala.util.Random(7).shuffle(chains))
    // a star whose center is not its min
    bothPaths((0L to 120L).filter(_ != 50L).map(leaf => (50L, leaf)))
    // duplicate and reversed edges, self-loops
    bothPaths(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L),
      (5L, 5L), (5L, 4L)))
    // negative ids and ids at both ends of the long range
    bothPaths(Seq((-5L, Long.MaxValue), (Long.MaxValue - 1, 7L),
      (Long.MinValue, -5L), (Long.MaxValue, Long.MaxValue - 1),
      (-1L, -2L)))
    // null endpoints join nothing
    bothPaths(Seq((null, 3L), (null, null), (4L, null), (3L, 9L)))
    bothPaths(Seq.empty)
    bothPaths(Seq((3, 1), (1, 2), (7, 6), (-4, 6)), IntegerType)
  }

  test("connectedComponents bound edge: bound rows take the driver path " +
      "in <= 2 jobs, bound + 1 rows the loop with one edge evaluation") {
    val bound = 64
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(bound + 1)(
      (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
    def materialized(n: Int) =
      Checkpoint.of(edgeFrame(raw.take(n)).repartition(4))
    val atBound = materialized(bound)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Shim.waitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val onDriver = try {
      val df = dedup.Dedup.connectedComponents(atBound, 25, bound)
      df.collect()
      Shim.waitListeners(spark)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(isLocal(onDriver))
    assert(jobs.get <= 2, s"driver path ran ${jobs.get} jobs")
    assert(sortedRows(onDriver) ==
      sortedRows(dedup.Dedup.connectedComponents(atBound, 25, -1L)))
    // one row over the bound: the loop, and the edge lineage runs once
    val evals = spark.sparkContext.longAccumulator
    val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val over = materialized(bound + 1)
    val loop = dedup.Dedup.connectedComponents(
      over.select(tick(col("u")).as("u"), col("v")), 25, bound)
    assert(!isLocal(loop))
    val rows = sortedRows(loop)
    assert(evals.value == bound + 1,
      s"edge lineage evaluated ${evals.value} rows for ${bound + 1}")
    assert(rows == sortedRows(
      dedup.Dedup.connectedComponents(over, 25, Long.MaxValue)))
    assert(rows == refRows(raw))
  }
}
