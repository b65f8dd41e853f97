package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.functions.{NearestCentroid, NearestCentroids, TokenMatchCount, Tokens, WordShingles}

/** The codegen kernels must be drop-in equal to the composed (HOF) forms
  * they replaced — checked here on adversarial inputs (multi-space runs,
  * leading/trailing spaces, empty/only-space strings, multibyte UTF-8)
  * and on the real corpus.
  */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  private val nasty = Seq(
    "plain words here",
    "  leading and   multiple   spaces  ",
    "", "   ", "single",
    "unicode héllo wörld 东京 рядом mixed",
    "a a a repeated a a",
    "tab\tis not a separator",
    "trailing space ")

  test("Tokens kernel == filter(split) composition") {
    val df = nasty.toDF("text")
    val kernel = df.select(Shim.column(Tokens(Shim.expression(col("text"))))
      .as("t")).collect().map(_.getSeq[String](0))
    val composed = df.select(
      filter(split(col("text"), " "), t => t =!= lit("")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(kernel.toSeq == composed.toSeq)
  }

  test("TokenMatchCount kernel == size(filter(isInCollection))") {
    val words = Seq("a", "the", "东京")
    val df = nasty.toDF("text")
    val kernel = df.select(Shim.column(
      TokenMatchCount(Shim.expression(col("text")), words)).as("c"))
      .collect().map(_.getInt(0))
    val composed = df.select(size(filter(
      filter(split(col("text"), " "), t => t =!= lit("")),
      t => t.isInCollection(words))).as("c"))
      .collect().map(_.getInt(0))
    assert(kernel.toSeq == composed.toSeq)
  }

  test("UnicodeNormalize kernel: NFC composes, NFKC also folds " +
      "compatibility forms, ASCII passes through, idempotent") {
    import graft.functions.UnicodeNormalize
    def run(s: String, compat: Boolean): String =
      Seq(s).toDF("t").select(Shim.column(
        UnicodeNormalize(Shim.expression(col("t")), compat)).as("n"))
        .collect().head.getString(0)
    // canonical composition: decomposed accents compose under both forms
    assert(run("CAFE\u0301", compat = false) == "CAF\u00c9")
    assert(run("A\u030a", compat = false) == "\u00c5")
    assert(run("CAFE\u0301", compat = true) == "CAF\u00c9")
    // compatibility folds are NFKC-only: NFC must leave them alone
    assert(run("\ufb01le", compat = false) == "\ufb01le",
      "NFC keeps the fi ligature")
    assert(run("\ufb01le", compat = true) == "file",
      "NFKC folds the fi ligature")
    assert(run("\uff21\uff22", compat = false) == "\uff21\uff22")
    assert(run("\uff21\uff22", compat = true) == "AB", "NFKC fullwidth")
    // ASCII fast path and idempotence
    val ascii = "plain ascii text 123"
    assert(run(ascii, compat = false) == ascii)
    assert(run(ascii, compat = true) == ascii)
    assert(run(run("CAFE\u0301 \ufb01", compat = true), compat = true) ==
      run("CAFE\u0301 \ufb01", compat = true))
    // empty and already-normalized non-ASCII pass through unchanged
    assert(run("", compat = false) == "")
    assert(run("caf\u00e9", compat = false) == "caf\u00e9")
  }

  test("SqDistLong kernel == aggregate(zip_with) composition, exact on " +
      "negatives and zero-length") {
    import graft.functions.SqDistLong
    val df = Seq(
      (Seq(1000000L, -2000000L, 0L), Seq(-1000000L, 2000000L, 7L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1000000000L, 0L), Seq(0L, -3L)))
      .toDF("a", "b")
    val kernel = df.select(Shim.column(SqDistLong(
      Shim.expression(col("a")), Shim.expression(col("b")))).as("d"))
      .collect().map(_.getLong(0))
    val composed = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), _ + _).as("d"))
      .collect().map(_.getLong(0))
    assert(kernel.toSeq == composed.toSeq)
  }

  test("WordShingles kernel == transform+array_join+array_distinct") {
    for (k <- Seq(1, 2, 3, 5)) {
      val df = nasty.toDF("text")
      val kernel = df.select(Shim.column(
        WordShingles(Shim.expression(col("text")), k)).as("s"))
        .collect().map(_.getSeq[String](0))
      val toks = filter(split(col("text"), " "), t => t =!= lit(""))
      val grams = transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " "))
      val composed = df.select(
        when(size(toks) >= k, array_distinct(grams))
          .otherwise(typedLit(Seq.empty[String])).as("s"))
        .collect().map(_.getSeq[String](0))
      assert(kernel.toSeq == composed.toSeq, s"k=$k")
    }
  }

  test("kernels agree with composed forms on the real corpus") {
    val d = Tables(spark, sfDir, "documents")
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    val mismatches = d.select(
      Shim.column(Tokens(Shim.expression(col("text")))).as("kt"),
      toks.as("ct"),
      Shim.column(WordShingles(Shim.expression(col("text")), 3)).as("ks"),
      when(size(toks) >= 3, array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => array_join(slice(toks, i, lit(3)), " "))))
        .otherwise(typedLit(Seq.empty[String])).as("cs"))
      .filter(col("kt") =!= col("ct") || col("ks") =!= col("cs"))
      .count()
    assert(mismatches == 0)
  }

  test("NearestCentroid: zero-norm vector picks the first centroid " +
      "(NaN ranks first, like both engines' DESC orderings)") {
    import spark.implicits._
    val e = Seq((100L, Seq(0.0, 0.0)), (101L, Seq(1.0, 0.0)))
      .toDF("vec_id", "v")
    val cents = Seq((5L, Seq(0.0, 1.0)), (7L, Seq(1.0, 0.0)))
      .toDF("cent_id", "cv")
    val got = sim.Knn.assign(e, cents).select("vec_id", "cent_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(100L) == 5L, "all-NaN cosines → lowest cent_id")
    assert(got(101L) == 7L, "regular argmax unaffected")
  }

  test("NearestCentroids top-k kernel == window rk<=k over the codebook") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val centArr = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cs"))
    val cos = graft.functions.CosineSim.cosineSim(col("v"), col("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(cos.desc, col("cent_id"))
    // k below, at, and above the codebook size — rank ORDER must match,
    // not just the probe set
    for (k <- Seq(1, 8, 16, 20)) {
      val kernel = e.crossJoin(broadcast(centArr))
        .select(col("vec_id"), Shim.column(NearestCentroids(
          Shim.expression(col("v")), Shim.expression(col("cs")), k))
          .as("top"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val window = e.crossJoin(broadcast(cents))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select("vec_id", "cent_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .groupBy(_._1)
        .map { case (id, rows) =>
          id -> rows.sortBy(_._3).map(_._2).toSeq }
      assert(kernel == window, s"k=$k")
    }
  }

  test("NearestCentroids: NaN cosine (zero-norm side) ranks first, " +
      "array scan order breaks ties — like both engines' DESC orderings") {
    val e = Seq((100L, Seq(1.0, 0.0)), (101L, Seq(0.0, 0.0)))
      .toDF("vec_id", "v")
    val cents = Seq((5L, Seq(0.0, 1.0)), (7L, Seq(0.0, 0.0)),
      (9L, Seq(1.0, 0.0))).toDF("cent_id", "cv")
    val centArr = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cs"))
    val got = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), Shim.column(NearestCentroids(
        Shim.expression(col("v")), Shim.expression(col("cs")), 3)).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(100L) == Seq(7L, 9L, 5L),
      "zero-norm CENTROID (NaN) first, then cosine desc")
    assert(got(101L) == Seq(5L, 7L, 9L),
      "zero-norm VECTOR: all NaN -> cent_id ascending")
  }

  test("PiiScrub kernel == staged builtin regexp chain; adversarial " +
      "forms pin the expected scrub") {
    import graft.functions.TextKernels.{EMAIL_RE, IP_RE, PHONE_RE}
    val cases = Seq(
      "mail bob.smith+tag@mail.example-host.org please",
      "dotted 555.123.4567 and (555) 123-4567 and +1 650 253 0000",
      "bracketed [172.16.254.1] bare 10.0.0.7 syntactic 256.999.1.1",
      "unicode öne@two.com büro user.name@host.org done",
      "near miss a@b 1.2.3 12.34.56 1234 v1.2.3 end",
      "digits 1234567890 run",
      "", "   ", "no pii at all")
    val df = cases.toDF("text")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val kernel = rows(df
      .select(Shim.column(graft.functions.PiiScrub(
        Shim.expression(col("text")))).as("p"))
      .select(col("p.scrubbed"), col("p.n_emails"), col("p.n_ips"),
        col("p.n_phones")))
    // the builtin java-regex chain, staged exactly like the kernel:
    // emails counted on raw text, IPs on email-scrubbed, phones on
    // email+IP-scrubbed
    val t1 = regexp_replace(col("text"), lit(EMAIL_RE), lit("<EMAIL>"))
    val t2 = regexp_replace(t1, lit(IP_RE), lit("<IP>"))
    val composed = rows(df.select(
      regexp_replace(t2, lit(PHONE_RE), lit("<PHONE>")),
      regexp_count(col("text"), lit(EMAIL_RE)).cast("long"),
      regexp_count(t1, lit(IP_RE)).cast("long"),
      regexp_count(t2, lit(PHONE_RE)).cast("long")))
    assert(kernel == composed)
    assert(kernel(0) == (("mail <EMAIL> please", 1L, 0L, 0L)))
    assert(kernel(1) ==
      (("dotted <PHONE> and <PHONE> and <PHONE>", 0L, 0L, 3L)))
    // bracketed IPs hit via \b; the pattern is syntactic (no octet
    // range check), like every first-pass scrubber
    assert(kernel(2) ==
      (("bracketed [<IP>] bare <IP> syntactic <IP>", 0L, 3L, 0L)))
    // ASCII classes: the unicode-adjacent ASCII tail is what scrubs —
    // identical in java.util.regex and RE2, which is the point
    assert(kernel(3) == (("unicode ö<EMAIL> büro <EMAIL> done", 2L, 0L, 0L)))
    assert(kernel(4) ==
      (("near miss a@b 1.2.3 12.34.56 1234 v1.2.3 end", 0L, 0L, 0L)))
    assert(kernel(5) == (("digits <PHONE> run", 0L, 0L, 1L)))
    assert(kernel.drop(6).map(_._1) == Seq("", "   ", "no pii at all"))
  }

  test("ZScoreSummary kernel == transform + array_min/array_max/filter " +
      "composition (incl. a zero-variance dimension)") {
    // real corpus moments + a constructed frame exercising variance=0
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(500)
    val synth = Seq(
      (9001L, Seq(1.5, -2.0, 1.5)),
      (9002L, Seq(0.0, 7.25, 1.5)),
      (9003L, Seq(-4.0, 0.5, 1.5))).toDF("vec_id", "v")
    for (df <- Seq(e, synth)) {
      val d = df.select(size(col("v"))).head().getInt(0)
      val ms = df
        .select(posexplode(col("v")).as(Seq("d0", "x")))
        .groupBy((col("d0") + 1).cast("long").as("dim_idx"))
        .agg(avg("x").as("mean"), var_pop("x").as("variance"))
        .agg(array_sort(collect_list(struct(col("dim_idx"), col("mean"),
          col("variance")))).as("ms"))
      val base = df.crossJoin(broadcast(ms))
      val kernel = base
        .select(col("vec_id"), Shim.column(graft.functions.ZScoreSummary(
          Shim.expression(col("v")), Shim.expression(col("ms")), 3.0))
          .as("zs"))
        .select(col("vec_id"), col("zs.z_min"), col("zs.z_max"),
          col("zs.n_outliers"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSeq.sorted
      val z = transform(col("v"), (x, i) => {
        val m = element_at(col("ms"), (i + 1).cast("int"))
        when(m.getField("variance") === 0.0, lit(0.0))
          .otherwise((x - m.getField("mean")) /
            sqrt(m.getField("variance")))
      })
      val composed = base
        .select(col("vec_id"), z.as("z"))
        .select(col("vec_id"),
          array_min(col("z")), array_max(col("z")),
          size(filter(col("z"), zz => abs(zz) > 3.0)).cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSeq.sorted
      assert(kernel == composed, s"dim-$d frame")
    }
  }

  test("NearestCentroid kernel == window argmax over the codebook") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val kernel = sim.Knn.assign(e, cents)
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cos = graft.functions.CosineSim.cosineSim(col("v"), col("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(cos.desc, col("cent_id"))
    val window = e.crossJoin(broadcast(cents))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kernel == window)
  }

  test("NearestCentroid: codegen path == the shared scan " +
      "NearestCentroid.nearest, which the interpreted path calls") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val (ids, cvs) = (cents.map(_._1), cents.map(_._2))
    val viaSql = sim.Knn.assign(e, e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("v").as("cv")))
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(viaSql == vecs.map { case (id, v) =>
      id -> NearestCentroid.nearest(v.toArray, ids, cvs) }.toMap)
    // interpreted eval on a zero vector (NaN first) and an exact tie
    // (ids 3 and 7 at equal cosine: the lower id wins)
    val cs = Literal.create(
      Seq(Row(3L, Seq(1.0, 0.0)), Row(7L, Seq(0.0, 1.0))),
      ArrayType(StructType(Seq(StructField("cent_id", LongType, false),
        StructField("cv", ArrayType(DoubleType, false), false))), false))
    for ((v, want) <- Seq(Seq(0.0, 0.0) -> 3L, Seq(1.0, 1.0) -> 3L,
        Seq(0.1, 2.0) -> 7L)) {
      val interpreted = NearestCentroid(
        Literal.create(v, ArrayType(DoubleType, false)), cs).eval()
      assert(interpreted == want)
      assert(NearestCentroid.nearest(v.toArray, Array(3L, 7L),
        Array(Array(1.0, 0.0), Array(0.0, 1.0))) == want)
    }
  }

  test("NearestCentroids, CosineSim, DotProduct, VecSub: interpreted " +
      "eval == codegen by raw double bits on random, zero-norm and tied " +
      "vectors") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import graft.functions.{CosineSim, DotProduct, VecSub}
    def raw(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    val rnd = new scala.util.Random(7)
    val dim = 64
    val base = Seq.fill(12)(Array.fill(dim)(rnd.nextGaussian()))
    // a zero vector (every cosine NaN), a duplicate of a random one (exact
    // ties) and a scaled copy (cosine ties, dot products apart)
    val vecs = base ++ Seq(Array.fill(dim)(0.0), base(3).clone,
      base(5).map(_ * 4.0))
    val dt = ArrayType(DoubleType, containsNull = false)
    val ft = ArrayType(FloatType, containsNull = false)
    /** Interpreted eval and the generated projection of `e` over one row. */
    def both(e: Expression, row: InternalRow): (Any, InternalRow) =
      (e.eval(row), GenerateUnsafeProjection.generate(Seq(e))(row))
    for (a <- vecs; b <- vecs) {
      val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b))
      val (l, r) = (BoundReference(0, dt, true), BoundReference(1, dt, true))
      for (e <- Seq(CosineSim(l, r), DotProduct(l, r))) {
        val (interp, gen) = both(e, row)
        assert(raw(interp.asInstanceOf[Double]) == raw(gen.getDouble(0)),
          s"${e.prettyName}")
      }
      val (interp, gen) = both(VecSub(l, r), row)
      assert(interp.asInstanceOf[ArrayData].toDoubleArray().map(raw).toSeq ==
        gen.getArray(0).toDoubleArray().map(raw).toSeq, "vec_sub")
    }
    // float inputs widen the same way on both paths
    for (a <- vecs.take(4); b <- vecs.takeRight(4)) {
      val row = InternalRow(
        UnsafeArrayData.fromPrimitiveArray(a.map(_.toFloat)),
        UnsafeArrayData.fromPrimitiveArray(b))
      val (l, r) = (BoundReference(0, ft, true), BoundReference(1, dt, true))
      for (e <- Seq(CosineSim(l, r), DotProduct(l, r))) {
        val (interp, gen) = both(e, row)
        assert(raw(interp.asInstanceOf[Double]) == raw(gen.getDouble(0)))
      }
      val (interp, gen) = both(VecSub(l, r), row)
      assert(interp.asInstanceOf[ArrayData].toDoubleArray().map(raw).toSeq ==
        gen.getArray(0).toDoubleArray().map(raw).toSeq)
    }
    // top-k over a codebook holding the zero vector and the ties, ids
    // ascending as array_sort leaves them
    val ids = vecs.indices.map(i => 10L * i + 3).toArray
    val cs = new GenericArrayData(ids.indices.map(j =>
      InternalRow(ids(j), UnsafeArrayData.fromPrimitiveArray(vecs(j)))))
    val csType = ArrayType(StructType(Seq(
      StructField("cent_id", LongType, false), StructField("cv", dt, false))),
      containsNull = false)
    for (v <- vecs; k <- Seq(1, 3, vecs.size, vecs.size + 2)) {
      val e = NearestCentroids(BoundReference(0, dt, true),
        BoundReference(1, csType, true), k)
      val (interp, gen) = both(e,
        InternalRow(UnsafeArrayData.fromPrimitiveArray(v), cs))
      val want = NearestCentroids.nearest(v, ids, vecs.toArray, k).toSeq
      assert(interp.asInstanceOf[ArrayData].toLongArray().toSeq == want)
      assert(gen.getArray(0).toLongArray().toSeq == want)
    }
  }

  test("TriProducts kernel == nested transform upper-triangle composition") {
    // adversarial: negatives, zeros, a 1-element vector, an empty vector,
    // magnitudes at the micro-unit ceiling
    val vecs: Seq[Seq[Long]] = Seq(
      Seq(1L, -2L, 3L),
      Seq(0L, 0L),
      Seq(7L),
      Seq.empty[Long],
      Seq(10000000L, -10000000L, 9999999L, 1L),
      (1L to 64L).map(k => (k * 31 - 997) * 1000L))
    val df = vecs.toDF("ms")
    val kernel = df.select(Shim.column(graft.functions.TriProducts(
      Shim.expression(col("ms")))).as("t"))
      .collect().map(_.getSeq[Long](0))
    val composed = df.select(
      when(size(col("ms")) > 0,
        flatten(transform(sequence(lit(1), size(col("ms"))), i =>
          transform(sequence(i, size(col("ms"))), j =>
            element_at(col("ms"), i) * element_at(col("ms"), j)))))
        .otherwise(typedLit(Seq.empty[Long])).as("t"))
      .collect().map(_.getSeq[Long](0))
    assert(kernel.toSeq == composed.toSeq)
    // real corpus, exact row-major order on the full 64-dim triangle
    val e = Tables(spark, sfDir, "embeddings").limit(50)
      .select(transform(col("embedding").cast("array<double>"),
        x => (round(x, 6).cast("decimal(38,6)") * lit(1000000))
          .cast("long")).as("ms"))
    val k2 = e.select(Shim.column(graft.functions.TriProducts(
      Shim.expression(col("ms")))).as("t"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val c2 = e.select(flatten(transform(sequence(lit(1), size(col("ms"))),
        i => transform(sequence(i, size(col("ms"))), j =>
          element_at(col("ms"), i) * element_at(col("ms"), j)))).as("t"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(k2.toSeq == c2.toSeq)
  }

  test("PerceptualHash kernel == per-byte Scala reference, and codegen " +
    "path agrees with interpreted eval") {
    def reference(bytes: Array[Byte], bins: Int): Long = {
      val n = bytes.length
      if (n == 0) 0L
      else {
        val byBin = bytes.indices.groupBy(i => (i.toLong * bins / n).toInt)
        val total = bytes.map(b => (b & 0xFF).toLong).sum
        (0 until bins).map { b =>
          val seg = byBin.getOrElse(b, Seq.empty)
          val sb = seg.map(i => (bytes(i) & 0xFF).toLong).sum
          if (sb * n > total * seg.size) 1L << b else 0L
        }.sum
      }
    }
    val payloads: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      Array[Byte](0),
      Array[Byte](-1, 0, 127, -128),          // full signed-byte range
      "plain words here".getBytes("UTF-8"),
      "unicode héllo wörld 东京".getBytes("UTF-8"),
      Array.fill[Byte](7)(42),                 // shorter than bins: empty segments
      Array.tabulate[Byte](4096)(i => (i % 251).toByte))
    for (bins <- Seq(1, 8, 60); p <- payloads)
      assert(graft.functions.PerceptualHash.hash(p, bins) ===
        reference(p, bins), s"bins=$bins len=${p.length}")
    // codegen vs the same kernel on the real corpus through the SQL engine
    val df = Tables(spark, sfDir, "documents").limit(100)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val viaSql = df.select(col("doc_id"), Shim.column(
        graft.functions.PerceptualHash(
          Shim.expression(col("payload")), 60)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = df.collect().map(r => r.getLong(0) ->
      graft.functions.PerceptualHash.hash(r.getAs[Array[Byte]](1), 60)).toMap
    assert(viaSql === direct)
  }

  test("ByteSum kernel == per-byte Scala reference; codegen path agrees " +
      "on the real corpus") {
    val payloads: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      Array[Byte](0),
      Array[Byte](-1, 0, 127, -128),          // full signed-byte range
      "plain words here".getBytes("UTF-8"),
      Array.tabulate[Byte](4096)(i => (i % 251).toByte))
    for (p <- payloads)
      assert(graft.functions.BinKernels.byteSum(p) ===
        p.map(b => (b & 0xFF).toLong).sum, s"len=${p.length}")
    val df = Tables(spark, sfDir, "documents").limit(100)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val viaSql = df.select(col("doc_id"), Shim.column(
        graft.functions.ByteSum(
          Shim.expression(col("payload")))).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = df.collect().map(r => r.getLong(0) ->
      graft.functions.BinKernels.byteSum(r.getAs[Array[Byte]](1))).toMap
    assert(viaSql === direct)
  }

  test("SignBits kernel == aggregate(sequence) composition, incl. bit 63 " +
      "and zero/negative-zero edges") {
    // adversarial vectors: exact zeros (not a set bit), -0.0 (IEEE: not
    // > 0), a sign in the top bit position (1L << 63 = Long.MinValue),
    // all-negative, empty, and >64 dims (extra components ignored)
    val vecs: Seq[Seq[Double]] = Seq(
      Seq.fill(64)(1.0),
      Seq.fill(64)(-1.0),
      Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0),
      Seq.tabulate(64)(i => if (i == 63) 0.5 else -0.5),
      Seq(0.0, -0.0, 1e-30, -1e-30),  // float-representable magnitudes:
      // the float-vs-double assertion below would otherwise diverge on
      // subnormal underflow (1e-300.toFloat == 0.0f), which is a property
      // of the cast, not of the kernel
      Seq.empty[Double],
      Seq.tabulate(70)(i => 1.0))
    val df = vecs.map(Tuple1(_)).toDF("v")
    val kernel = df.select(Shim.column(
      graft.functions.SignBits(Shim.expression(col("v")))).as("s"))
      .collect().map(_.getLong(0))
    val composed = df.select(expr(
      "aggregate(zip_with(" +
        "slice(concat(v, array_repeat(cast(0.0 as double), 64)), 1, 64), " +
        "sequence(0, 63), " +
        "(x, i) -> IF(x > 0d, shiftleft(cast(1 as bigint), i), " +
        "cast(0 as bigint))), " +
        "cast(0 as bigint), (acc, b) -> acc + b)").as("s"))
      .collect().map(_.getLong(0))
    assert(kernel.toSeq == composed.toSeq)
    // float input widens to double: same bits as the double vector
    val fdf = vecs.map(v => Tuple1(v.map(_.toFloat))).toDF("v")
    val fk = fdf.select(Shim.column(
      graft.functions.SignBits(Shim.expression(col("v")))).as("s"))
      .collect().map(_.getLong(0))
    assert(fk.toSeq == kernel.toSeq)
    // the all-positive 64-dim vector exercises bit 63 = Long.MinValue
    assert(kernel(0) == -1L)
  }

  test("PhashSubsetKeys kernel == the composed shift/mask key form, " +
      "and g-subset blocking finds the exact same verified pair set") {
    val rnd = new scala.util.Random(7)
    // 60-bit hashes incl. adversarial all-zero / all-one-band patterns
    val hashes = (Seq(0L, (1L << 60) - 1, 0x0F0F0F0F0F0F0F0L) ++
      Seq.fill(200)(rnd.nextLong() & ((1L << 60) - 1)))
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val df = hashes.toDF("media_id", "phash")
    val (bands, width) = (12, 5)
    for (g <- Seq(1, 2, 3, 4)) {
      val subsets = (0 until bands).combinations(g).toSeq
      val kernel = df.select(col("media_id"), Shim.column(
          graft.functions.PhashSubsetKeys(Shim.expression(col("phash")),
            bands, width, g)).as("ks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val composed = hashes.map { case (id, h) =>
        id -> subsets.zipWithIndex.map { case (ss, si) =>
          ss.zipWithIndex.map { case (b, i) =>
            ((h >> (b * width)) & ((1L << width) - 1)) << (i * width)
          }.reduce(_ | _) | (si.toLong << (g * width))
        }
      }.toMap
      assert(kernel == composed, s"g=$g key mismatch")
    }
    // end-to-end: every g yields the SAME verified pair set (exact
    // recall by generalized pigeonhole at hamMax = bands - g)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (g <- Seq(1, 2, 4)) {
      val hamMax = bands - g
      val want = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes
        if ia < ib && ham(ha, hb) <= hamMax
      } yield (ia, ib)).toSet
      val got = graft.multimodal.Multimodal.perceptualPairs(
        df, bands, hamMax).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"g=$g (hamMax=$hamMax) pair-set mismatch")
    }
  }
}
