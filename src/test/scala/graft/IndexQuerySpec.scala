package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.sim.{IndexQuery, Knn, Pq}

/** Persisted-index queries ([[Knn.queryIvfIndex]], [[Pq.queryIvfPqIndex]])
  * answer bounded batches on the driver ([[IndexQuery]]) and everything
  * else with the distributed plan. Both paths must give the same rows, in
  * the same order, bit for bit, under the same schema. The `bound` seam
  * forces the path: `unbounded` admits every reproducible batch to the
  * driver, [[IndexQuery.PLAN]] none.
  */
class IndexQuerySpec extends SparkSpec {

  private val unbounded = IndexQuery.Bound(Int.MaxValue, Long.MaxValue)

  private def emb(): DataFrame = Tables(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def queries(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("query_id"), col("v").as("qv"))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Rows in answer order, every double as its raw bits. */
  private def bits(df: DataFrame): Seq[String] = df.collect().map(r =>
    Seq(r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(
        r.getDouble(3)))).mkString("|")).toSeq

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-iq").toFile
    try body(dir.getAbsolutePath) finally rm(dir)
  }

  private def ivf(path: String, q: DataFrame, bound: IndexQuery.Bound,
      k: Int = 5): DataFrame =
    Knn.queryIvfIndexWith(spark, path, q, k, Knn.NPROBE, bound)

  private def pq(path: String, q: DataFrame, bound: IndexQuery.Bound,
      k: Int = 5): DataFrame =
    Pq.queryIvfPqIndexWith(spark, path, q, emb(), k, Knn.NPROBE, 50, bound)

  /** The driver path answers `q` locally, the plan does not, and the two
    * agree on schema and on every row in order. Returns the rows.
    */
  private def bothPaths(query: IndexQuery.Bound => DataFrame,
      what: String): Seq[String] = {
    val onDriver = query(unbounded)
    val plan = query(IndexQuery.PLAN)
    assert(isLocal(onDriver), s"$what: the driver path must answer")
    assert(!isLocal(plan), s"$what: the seam must force the plan")
    assert(onDriver.schema == plan.schema, s"$what: schema")
    val got = bits(onDriver)
    assert(got == bits(plan), s"$what: rows")
    got
  }

  /** The batch takes the plan under unbounded driver limits. */
  private def fallsBack(query: IndexQuery.Bound => DataFrame,
      what: String): Unit = {
    val d = query(unbounded)
    assert(!isLocal(d), s"$what must take the plan")
  }

  private def indexes(e: DataFrame, dir: String): (String, String) = {
    Knn.buildIvfIndex(e, s"$dir/ivf")
    Pq.buildIvfPqIndex(e, s"$dir/pq")
    (s"$dir/ivf", s"$dir/pq")
  }

  test("both paths agree: own ids indexed, zero-norm query, ties, " +
      "k past the candidates, empty batch") {
    withDir { dir =>
      val e = emb()
      // duplicated vectors under fresh ids: every cosine against them
      // ties with the original's, so vec_id decides the rank
      val dup = e.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("v"))
      val (ivfPath, pqPath) = indexes(e.unionByName(dup), dir)
      val zero = spark.range(1).select(lit(-1L).as("query_id"),
        array((0 until 64).map(_ => lit(0.0)): _*).as("qv"))
      val own = queries(e.filter(col("vec_id") < 10))
      val ties = queries(e.filter(col("vec_id").isin(7L, 14L, 21L)))
      for ((name, q) <- Seq("own ids" -> own, "zero-norm" -> zero,
          "ties" -> ties)) {
        val rows = bothPaths(ivf(ivfPath, q, _), s"ivf $name")
        assert(rows.nonEmpty)
        bothPaths(pq(pqPath, q, _), s"pq $name")
      }
      // the zero-norm query scores NaN everywhere: NaN ranks first, ties
      // by vec_id
      val nan = bits(ivf(ivfPath, zero, unbounded)).map(_.split('|'))
      assert(nan.map(_(2).toLong) == (1L to 5L))
      assert(nan.map(_(1).toLong) == nan.map(_(1).toLong).sorted)
      // a duplicate ties with its original: lower id first
      val tied = bits(ivf(ivfPath, ties, unbounded)).map(_.split('|'))
      assert(tied.exists(r => r(1).toLong >= 100000L))
      val big = bothPaths(ivf(ivfPath, own, _, k = 100000), "ivf k")
      assert(big.size > 10 * 5, "k past the candidates returns them all")
      bothPaths(pq(pqPath, own, _, k = 100000), "pq k")
      val none = queries(e.filter(col("vec_id") < 0))
      assert(bothPaths(ivf(ivfPath, none, _), "ivf empty").isEmpty)
      assert(bothPaths(pq(pqPath, none, _), "pq empty").isEmpty)
    }
  }

  test("both paths agree over appended slices and an emptied cell") {
    withDir { dir =>
      val e = emb()
      val (ivfPath, pqPath) = indexes(e.filter(col("vec_id") < 300), dir)
      for ((lo, id) <- Seq(300L -> 1L, 400L -> 2L)) {
        val slice = e.filter(col("vec_id") >= lo && col("vec_id") < lo + 100)
        Knn.appendIvfIndex(spark, ivfPath, slice, id)
        Pq.appendIvfPqIndex(spark, pqPath, slice, id)
      }
      val q = queries(e.filter(col("vec_id") % 50 === 3))
      val appended = bothPaths(ivf(ivfPath, q, _), "ivf appended")
      assert(appended.exists(_.split('|')(1).toLong >= 300L),
        "appended vectors must surface")
      bothPaths(pq(pqPath, q, _), "pq appended")
      // take down every vector of the cell the first query is assigned
      // to: its directory goes, and its probes find nothing there
      val lists = spark.read.schema(Knn.ListsSchema)
        .parquet(s"$ivfPath/lists")
      val cell = lists.filter(col("vec_id") === 3L).select("cent_id")
        .head().getLong(0)
      val gone = lists.filter(col("cent_id") === cell).select("vec_id")
      val goneCodes = spark.read.schema(Pq.CodesSchema)
        .parquet(s"$pqPath/codes")
        .filter(col("cent_id") === cell).select("vec_id")
      Knn.removeFromIvfIndex(spark, ivfPath, gone)
      Pq.removeFromIvfPqIndex(spark, pqPath, goneCodes)
      assert(!new java.io.File(s"$ivfPath/lists/cent_id=$cell").exists(),
        "the emptied cell's directory must go")
      bothPaths(ivf(ivfPath, q, _), "ivf emptied cell")
      bothPaths(pq(pqPath, q, _), "pq emptied cell")
    }
  }

  test("a takedown that empties a cell removes its directory from lists " +
      "and codes; answers equal an index that never held the cell") {
    withDir { dir =>
      val e = emb()
      val (ivfPath, pqPath) = indexes(e, s"$dir/a")
      val lists = spark.read.schema(Knn.ListsSchema)
        .parquet(s"$ivfPath/lists")
      val cell = lists.filter(col("vec_id") === 3L).select("cent_id")
        .head().getLong(0)
      val ids = lists.filter(col("cent_id") === cell).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val gone = col("vec_id").isin(ids: _*)
      Knn.removeFromIvfIndex(spark, ivfPath, e.filter(gone))
      Pq.removeFromIvfPqIndex(spark, pqPath, e.filter(gone))
      for (table <- Seq(s"$ivfPath/lists", s"$pqPath/codes"))
        assert(!new java.io.File(s"$table/cent_id=$cell").exists(),
          s"$table: the emptied cell's directory must go")
      // the reference holds the rest under the same frozen codebooks,
      // ingested after a full takedown: it never held the cell's vectors
      val (refIvf, refPq) = indexes(e, s"$dir/ref")
      Knn.removeFromIvfIndex(spark, refIvf, e)
      Knn.appendIvfIndex(spark, refIvf, e.filter(!gone), 1L)
      Pq.removeFromIvfPqIndex(spark, refPq, e)
      Pq.appendIvfPqIndex(spark, refPq, e.filter(!gone), 1L)
      val q = queries(e.filter(col("vec_id") % 50 === 3))
      assert(bothPaths(ivf(ivfPath, q, _), "ivf") ==
        bothPaths(ivf(refIvf, q, _), "ivf reference"))
      assert(bothPaths(pq(pqPath, q, _), "pq") ==
        bothPaths(pq(refPq, q, _), "pq reference"))
    }
  }

  test("held codebooks: 2 (IVF) and 3 (IVF-PQ) jobs a call, and a " +
      "rebuilt codebook is read afresh") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Shim
    def jobs(f: => DataFrame): (Seq[String], Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(ev: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      Shim.waitListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        val rows = bits(f)
        Shim.waitListeners(spark)
        (rows, n.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    withDir { dir =>
      val e = emb()
      val (ivfPath, pqPath) = indexes(e, dir)
      val q = queries(e.filter(col("vec_id") < 8))
      jobs(Knn.queryIvfIndex(spark, ivfPath, q))
      jobs(Pq.queryIvfPqIndex(spark, pqPath, q, e))
      assert(jobs(Knn.queryIvfIndex(spark, ivfPath, q))._2 == 2)
      assert(jobs(Pq.queryIvfPqIndex(spark, pqPath, q, e))._2 == 3)
      // a rebuild over another corpus writes new codebook files in place
      indexes(e.filter(col("vec_id") >= 100), dir)
      bothPaths(ivf(ivfPath, q, _), "ivf rebuilt")
      bothPaths(pq(pqPath, q, _), "pq rebuilt")
    }
  }

  test("the driver path reads only the probed cent_id cells") {
    withDir { dir =>
      val e = emb()
      val (ivfPath, pqPath) = indexes(e, dir)
      val q = queries(e.filter(col("vec_id").isin(5L, 17L)))
      val wantIvf = bits(ivf(ivfPath, q, IndexQuery.PLAN))
      val wantPq = bits(pq(pqPath, q, IndexQuery.PLAN))
      val cents = spark.read.schema(Knn.CentsSchema)
        .parquet(s"$ivfPath/cents")
      val probed = Knn.probe(q, cents, Knn.NPROBE).select("cent_id")
        .distinct().collect().map(_.getLong(0)).toSet
      // overwrite every parquet file of the other cells with garbage: a
      // read of any of them fails the query
      for (table <- Seq(s"$ivfPath/lists", s"$pqPath/codes")) {
        val cells = new java.io.File(table).listFiles()
          .filter(_.getName.startsWith("cent_id="))
        assert(cells.exists(c => !probed(c.getName.stripPrefix("cent_id=")
          .toLong)), "the batch must leave some cell unprobed")
        for (c <- cells if !probed(c.getName.stripPrefix("cent_id=").toLong);
            f <- Files.walk(c.toPath).toArray.map(_.asInstanceOf[
              java.nio.file.Path]) if f.toString.endsWith(".parquet"))
          Files.write(f, "not parquet".getBytes)
      }
      val gotIvf = ivf(ivfPath, q, unbounded)
      val gotPq = pq(pqPath, q, unbounded)
      assert(isLocal(gotIvf) && isLocal(gotPq))
      assert(bits(gotIvf) == wantIvf && bits(gotPq) == wantPq)
    }
  }

  test("frames the driver can't reproduce and batches past the bounds " +
      "take the plan") {
    withDir { dir =>
      val e = emb()
      val (ivfPath, pqPath) = indexes(e, dir)
      val q = queries(e.filter(col("vec_id") < 3))
      val nullId = q.withColumn("query_id",
        when(col("query_id") === 1L, lit(null).cast("long"))
          .otherwise(col("query_id")))
      val dupId = q.unionByName(q.filter(col("query_id") === 1L))
      val nullQv = q.withColumn("qv",
        when(col("query_id") === 1L, lit(null).cast("array<double>"))
          .otherwise(col("qv")))
      for ((name, bad) <- Seq("null query_id" -> nullId,
          "duplicate query_id" -> dupId, "null qv" -> nullQv)) {
        fallsBack(ivf(ivfPath, bad, _), s"ivf $name")
        fallsBack(pq(pqPath, bad, _), s"pq $name")
        assert(bits(ivf(ivfPath, bad, unbounded)) ==
          bits(ivf(ivfPath, bad, IndexQuery.PLAN)))
      }
      // a vector of another length: the plan raises the kernel's error
      val short = q.withColumn("qv", slice(col("qv"), 1, 32))
      for (query <- Seq[IndexQuery.Bound => DataFrame](
          ivf(ivfPath, short, _), pq(pqPath, short, _))) {
        fallsBack(query, "short vector")
        val err = intercept[Exception](query(unbounded).collect())
        assert(String.valueOf(err.getMessage).contains("lengths differ") ||
          String.valueOf(err.getCause).contains("lengths differ"))
      }
      // past the query bound, and past the byte bound
      val small = IndexQuery.Bound(2, Long.MaxValue)
      val thin = IndexQuery.Bound(Int.MaxValue, 1L)
      for (b <- Seq(small, thin)) {
        val d = ivf(ivfPath, q, b)
        assert(!isLocal(d) && bits(d) == bits(ivf(ivfPath, q, unbounded)))
        val p = pq(pqPath, q, b)
        assert(!isLocal(p) && bits(p) == bits(pq(pqPath, q, unbounded)))
      }
      // at the bounds the driver answers
      assert(isLocal(ivf(ivfPath, q, IndexQuery.Bound(3, Long.MaxValue))))
      // the defaults: a batch past DRIVER_QUERIES takes the plan
      val many = spark.range(IndexQuery.DRIVER_QUERIES + 1L)
        .select(col("id").as("query_id"))
        .crossJoin(q.select("qv").limit(1))
      assert(!isLocal(Knn.queryIvfIndex(spark, ivfPath, many)))
      assert(isLocal(Knn.queryIvfIndex(spark, ivfPath, q)))
      assert(isLocal(Pq.queryIvfPqIndex(spark, pqPath, q, e)))
    }
  }
}
