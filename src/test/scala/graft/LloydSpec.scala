package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.sim.{Knn, Lloyd, Pq}

/** The seeded Lloyd trainer ([[Lloyd.codebook]]) trains bounded frames
  * on the driver and larger ones in the distributed loop, for the IVF
  * codebook ([[Knn.codebook]], one subspace) and the PQ sub-codebooks
  * ([[Pq.subCodebooks]], four). The two paths must give the same
  * codebook bit for bit: every IVF/PQ oracle gate, persisted index and
  * recall card rests on it. The bound argument forces the path:
  * Long.MaxValue admits every frame to the driver, -1 admits none.
  */
class LloydSpec extends SparkSpec {

  private val dim = 64

  /** The IVF and PQ trainers, as [[Knn.codebook]] and
    * [[Pq.subCodebooks]] call them, with the bound exposed.
    */
  private val ivf: (DataFrame, Long) => DataFrame =
    Lloyd.codebook(_, Knn.nlistFor, dim, 1, _)
  private val pq: (DataFrame, Long) => DataFrame =
    Lloyd.codebook(_, _ => 16, dim, 4, _)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Rows as strings with every double as its raw bits. */
  private def bits(df: DataFrame): Seq[String] = {
    def show(x: Any): String = x match {
      case d: Double => java.lang.Long.toHexString(
        java.lang.Double.doubleToRawLongBits(d))
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case null => "null"
      case o => o.toString
    }
    df.collect().map(_.toSeq.map(show).mkString("|")).sorted.toSeq
  }

  private def vectors(rows: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava,
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType, containsNull = false),
          nullable = false)))).repartition(3)

  /** The embeddings of the test-data scale factor `sf`, a sibling of
    * `sfDir`.
    */
  private def embeddings(sf: String): DataFrame =
    Tables(spark, s"${new java.io.File(sfDir).getParent}/$sf", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Both paths of one trainer over `e`: the driver path is local, the
    * loop is not, and they agree on schema and raw bits. Returns the
    * driver's rows.
    */
  private def bothPaths(train: (DataFrame, Long) => DataFrame,
      e: DataFrame): Seq[String] = {
    val onDriver = train(e, Long.MaxValue)
    val loop = train(e, -1L)
    assert(isLocal(onDriver), "bounded frame trains on the driver")
    assert(!isLocal(loop))
    assert(onDriver.schema == loop.schema)
    val rows = bits(onDriver)
    assert(rows == bits(loop))
    rows
  }

  private def both(e: DataFrame): (Seq[String], Seq[String]) =
    (bothPaths(ivf, e), bothPaths(pq, e))

  test("driver trainer and Spark loop: identical codebooks on the " +
      "embedding corpora and IVF residuals") {
    val e = embeddings("sf0.01")
    val (cents, subs) = both(e)
    assert(cents.size == 16 && subs.size == 4 * 16)
    // the consumers train exactly these codebooks
    assert(bits(Knn.codebook(e)) == cents)
    assert(bits(Pq.subCodebooks(e)) == subs)
    // the 4,200-row synthetic corpus: the first adaptive rung, nlist 17
    val syn = spark.range(4200).toDF("vec_id")
      .withColumn("v", array((0 until dim).map(i =>
        sin(col("vec_id") * lit(0.7) + lit(i * 1.3))): _*))
    assert(Knn.nlistFor(4200) == 17)
    val (synCents, _) = both(syn)
    assert(synCents.size > 11 && synCents.size <= 17)
    // IVF residuals (x − its centroid) as PQ input, as buildIvfPqIndex
    // trains them
    val cb = Knn.codebook(e)
    val res = Knn.assign(e, cb).join(broadcast(cb), "cent_id")
      .select(col("vec_id"), col("cent_id"), Shim.column(
        graft.functions.VecSub(Shim.expression(col("v")),
          Shim.expression(col("cv")))).as("v"))
    bothPaths(pq, res)
  }

  test("driver trainer and Spark loop: dead centroids, zero vectors " +
      "and exact cosine ties") {
    val rnd = new scala.util.Random(5)
    def gauss = Seq.fill(dim)(rnd.nextGaussian())
    // 30 distinct vectors, each under 6 ids: duplicate seeds tie exactly,
    // the lower cent_id takes every member and the others die
    val base = Seq.fill(30)(gauss)
    val dups = (0 until 180).map(i => (i.toLong * 7 + 3, base(i % 30)))
    val (cents, subs) = both(vectors(dups))
    assert(cents.size < 16 && subs.size < 4 * 16, "some seeds die")
    // zero vectors: every cosine is NaN, and NaN ranks first
    val zero = Seq.fill(dim)(0.0)
    both(vectors((0 until 120).map(i =>
      (i.toLong, if (i % 17 == 0) zero else gauss))))
    // a zero seed (n ≤ 16: every vector seeds) takes every vector
    val (tiny, _) = both(vectors((0 until 12).map(i =>
      (i.toLong, if (i == 5) zero else gauss))))
    assert(tiny.size == 1)
    // sparse 0/1 vectors: many vectors sit at exactly equal cosines to
    // two or more centroids, so cent_id order breaks the tie
    both(vectors((0 until 300).map { i =>
      val on = Seq.fill(3)(rnd.nextInt(8)).toSet
      (i.toLong * 11, Seq.tabulate(dim)(d => if (on(d % 8)) 1.0 else 0.0))
    }))
    // an empty frame trains an empty codebook on both paths
    val (none, noSubs) = both(vectors(Nil))
    assert(none.isEmpty && noSubs.isEmpty)
  }

  test("frames the driver cannot reproduce take the loop") {
    val rnd = new scala.util.Random(9)
    val rows = (0 until 40).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    // a duplicate id
    val dup = vectors(rows :+ rows.head)
    assert(!isLocal(ivf(dup, Long.MaxValue)))
    // a null component: the loop sums it as null
    val withNull = spark.createDataFrame(
      (rows.map { case (id, v) => Row(id, v) } :+
        Row(99L, Seq.fill(dim - 1)(0.5) :+ null)).asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)))))
    assert(!isLocal(ivf(withNull, Long.MaxValue)))
    assert(!isLocal(pq(withNull, Long.MaxValue)))
  }

  test("the loop seeds every subspace from the same first k rows: a " +
      "null vec_id seeds PQ as it seeds IVF") {
    // a null id orders first, so it is a seed; such a frame always takes
    // the loop. Each PQ sub-codebook is the one-subspace trainer over its
    // slice, codes ranking its cent_ids.
    val rnd = new scala.util.Random(11)
    val rows = (Row(null, Seq.fill(dim)(rnd.nextGaussian())) +:
      (0 until 60).map(i =>
        Row(i.toLong * 3 + 1, Seq.fill(dim)(rnd.nextGaussian())))).asJava
    val e = spark.createDataFrame(rows, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false),
        nullable = false)))).repartition(3)
    val subs = pq(e, Long.MaxValue)
    assert(!isLocal(subs))
    for (m <- 0 until 4) {
      val one = Lloyd.codebook(
        e.select(col("vec_id"), slice(col("v"), m * 16 + 1, 16).as("v")),
        _ => 16, 16, 1, -1L)
      val ranked = one.select(lit(m).as("m"), row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("cent_id"))
        .cast("long").as("code"), col("cv"))
      assert(bits(subs.filter(col("m") === m)) == bits(ranked),
        s"subspace $m")
    }
  }

  test("bound edge: a frame at the bound trains on the driver in <= 2 " +
      "jobs, one row more takes the loop, both give the same codebook") {
    val n = 100
    val bound = n.toLong * dim
    val rnd = new scala.util.Random(3)
    val rows = (0 until n + 1).map(i =>
      (i.toLong * 13, Seq.fill(dim)(rnd.nextGaussian())))
    val atBound = Checkpoint.of(vectors(rows.take(n)))
    val over = Checkpoint.of(vectors(rows))
    def jobsOf(train: => DataFrame): (DataFrame, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(ev: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      Shim.waitListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = train
        df.collect()
        Shim.waitListeners(spark)
        (df, jobs.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    for (trainer <- Seq(ivf, pq)) {
      val (onDriver, jobs) = jobsOf(trainer(atBound, bound))
      assert(isLocal(onDriver))
      assert(jobs <= 2, s"driver training ran $jobs jobs")
      assert(bits(onDriver) == bits(trainer(atBound, -1L)))
      val loop = trainer(over, bound)
      assert(!isLocal(loop))
      assert(bits(loop) == bits(trainer(over, Long.MaxValue)))
      // a derived training frame's lineage runs once on either path
      for (frame <- Seq(atBound, over)) {
        val evals = spark.sparkContext.longAccumulator
        val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
        trainer(frame.select(tick(col("vec_id")).as("vec_id"), col("v")),
          bound).collect()
        assert(evals.value == frame.count(),
          s"training lineage evaluated ${evals.value} rows")
      }
    }
  }
}
