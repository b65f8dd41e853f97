package graft.sim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.functions.NearestCentroid

/** The one seeded Lloyd trainer behind every codebook in the library:
  * the IVF coarse quantizer ([[Knn.codebook]], one subspace) and the PQ
  * sub-codebooks ([[Pq.subCodebooks]], M subspaces), in Spark and in
  * its DuckDB mirror ([[sqlTrain]]). Seeds are the k lowest-(md5 key,
  * vec_id) training vectors, sliced into the subspaces; each of [[ITER]]
  * rounds assigns every vector to its argmax-cosine centroid (ties to
  * the lower cent_id) and replaces each centroid by its members' exact
  * DECIMAL(38,6) sum of round(x, 6) components, cast to double and
  * divided by the member count. A centroid no vector picks dies. The
  * sums are exact and order-independent, so both engines walk
  * bit-identical centroids through every round.
  *
  * In Spark every round is a broadcast, an aggregate and a checkpoint,
  * about 0.5 s of job launches whatever the data size. A bounded
  * training set instead ends on the driver ([[codebook]]):
  *   - the frame is checkpointed and counted in one job, so a derived
  *     training lineage runs once on either path;
  *   - [[collect]] ships it in ONE more job, carrying each vector, its
  *     md5 seed key and every component's round(x, 6) as a
  *     DECIMAL(38,6) that Spark computes itself, so the rounding is
  *     Spark's by construction;
  *   - [[train]] runs the rounds: assignment is
  *     [[NearestCentroid.nearest]] (the interpreted kernel's own scan),
  *     sums are exact long sums of the unscaled decimals, and each mean
  *     is Spark's decimal→double Cast over the count.
  * The result is bit-identical to the loop's (LloydSpec pins rows by
  * raw double bits, and the schema).
  *
  * The bound is [[DRIVER_COMPONENTS]] training components (n·dim).
  * Anything the driver cannot reproduce exactly takes the loop instead:
  * a non-long id, a duplicate id, a null id, vector or component, a
  * vector of another length, or a sum past the long range.
  */
private[graft] object Lloyd {

  /** The largest training set, in components n·dim, that trains on the
    * driver: 2^21 doubles (16 MB; 32,768 64-dim vectors), plus as many
    * unscaled longs. At the bound the IVF assignment costs
    * ITER·n·nlist·dim = 2·32,768·128·64 ≈ 5·10^8 multiply-adds, about a
    * second on one core, where the distributed loop pays ~0.5 s of job
    * launches per round at any size. GenData sf1 (20,000 vectors) sits
    * below it; sf3 (60,000) keeps the loop.
    */
  private[graft] val DRIVER_COMPONENTS = 1L << 21

  /** Lloyd rounds after seeding, on both paths and in the SQL mirror. */
  private[graft] val ITER = 2

  /** The md5 seed key both engines order the seed sample by. */
  private def seedKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** A vector component as the centroid sums add it. */
  private def rounded(x: Column): Column =
    round(x, 6).cast(DecimalType(38, 6))

  /** The trained codebook over `e` (`vec_id` long, `v` of `dim`
    * doubles): `k(n)` seeds for n training rows, in `subspaces`
    * equal-width slices of `v` (one subspace is the whole `v`).
    *   - One subspace returns (cent_id, cv), cent_id nullable iff `v`
    *     is: the IVF codebook.
    *   - More return (m, code, cv), code the 1-based rank of the
    *     surviving cent_id within subspace m: the PQ sub-codebooks.
    * At most `driverComponents` training components (n·dim) train on
    * the driver in 2 jobs and return a LocalRelation; larger frames, and
    * frames the driver can't reproduce, run the distributed loop over
    * the same materialized frame. Both give the same rows and schema.
    * `driverComponents` is LloydSpec's seam for forcing either path.
    */
  private[graft] def codebook(e: DataFrame, k: Long => Int, dim: Int,
      subspaces: Int,
      driverComponents: Long = DRIVER_COMPONENTS): DataFrame = {
    val (cp, n) =
      graft.Checkpoint.ofCounted(e.select(col("vec_id"), col("v")))
    val seeds = k(n)
    collect(cp, n, dim, driverComponents)
      .flatMap(train(_, seeds, subspaces))
      .map { subs =>
        val (keys, rows) =
          if (subspaces == 1) {
            val (ids, cvs) = subs.head
            (Seq(StructField("cent_id", LongType, cp.schema("v").nullable)),
              ids.indices.map(j => Row(ids(j), cvs(j).toSeq)))
          } else
            (Seq(StructField("m", IntegerType, nullable = false),
              StructField("code", LongType, nullable = false)),
              subs.zipWithIndex.flatMap { case ((ids, cvs), m) =>
                ids.indices.map(j => Row(m, j + 1L, cvs(j).toSeq))
              })
        // the loop's schema: every mean is a nullable decimal-sum
        // quotient in a non-null array
        cp.sparkSession.createDataFrame(rows.asJava, StructType(keys :+
          StructField("cv", ArrayType(DoubleType, containsNull = true),
            nullable = false)))
      }
      .getOrElse(loop(cp, seeds, dim, subspaces))
  }

  /** The distributed loop of [[codebook]]: one chain keyed by (m,
    * cent_id) for every subspace, checkpointed per round so downstream
    * plans see plain attributes, not ITER nested lineages. The frame
    * explodes once to (vec_id, m, sv) rows; each round is one broadcast
    * of the per-m sorted centroid arrays, one map-side argmax (the
    * codegen'd [[NearestCentroid]] kernel, no corpus shuffle) and one
    * exchange of ≤ k·subspaces centroid sums. Seeds are the first k
    * training rows by (md5 key, vec_id), sliced.
    */
  private def loop(cp: DataFrame, k: Int, dim: Int,
      subspaces: Int): DataFrame = {
    val w = dim / subspaces
    def sliced(df: DataFrame, id: String, sv: String): DataFrame =
      df.select(col("vec_id").as(id), explode(array((0 until subspaces)
          .map(m => struct(lit(m).as("m"), (if (subspaces == 1) col("v")
            else slice(col("v"), m * w + 1, w)).as("sv"))): _*)).as("x"))
        .select(col(id), col("x.m").as("m"), col("x.sv").as(sv))
    val rows = sliced(cp, "vec_id", "sv")
    val seeds = sliced(cp.withColumn("hk", seedKey(col("vec_id")))
        .orderBy("hk", "vec_id").limit(k), "cent_id", "cv")
      .transform(graft.Checkpoint.of)
    val sums = (0 until w).map(i =>
      sum(rounded(element_at(col("sv"), i + 1))).as(s"s$i"))
    val trained = (1 to ITER).foldLeft(seeds) { (cents, _) =>
      val cs = cents.groupBy("m").agg(
        array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cs"))
      rows.join(broadcast(cs), "m")
        .withColumn("cent_id", Shim.column(NearestCentroid(
          Shim.expression(col("sv")), Shim.expression(col("cs")))))
        .groupBy("m", "cent_id")
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("m"), col("cent_id"), array((0 until w).map(i =>
          col(s"s$i").cast("double") / col("n")): _*).as("cv"))
        .transform(graft.Checkpoint.of)
    }
    if (subspaces == 1) trained.select("cent_id", "cv")
    else trained
      .withColumn("code", row_number().over(
        Window.partitionBy("m").orderBy("cent_id")).cast("long"))
      .select("m", "code", "cv")
      .transform(graft.Checkpoint.of)
  }

  /** A training set on the driver: row i is vector `v(i)` with id
    * `ids(i)`, seed key `hk(i)` and the unscaled DECIMAL(38,6) values
    * of its rounded components `r(i)`.
    */
  private final case class Training(ids: Array[Long], hk: Array[Long],
      v: Array[Array[Double]], r: Array[Array[Long]])

  /** The materialized training frame `cp` of `n` rows on the driver, in
    * one job, when n·dim ≤ `bound` and every row is reproducible there;
    * None sends [[codebook]] to the loop.
    */
  private def collect(cp: DataFrame, n: Long, dim: Int,
      bound: Long): Option[Training] = {
    val typed = cp.schema("vec_id").dataType == LongType &&
      (cp.schema("v").dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
    if (!typed || bound < 0 || n > bound / dim) return None
    val parts = cp.select(col("vec_id"), col("v"), seedKey(col("vec_id")),
        transform(col("v"), rounded(_)))
      .queryExecution.toRdd.mapPartitions { rows =>
        val ids = Array.newBuilder[Long]
        val hk = Array.newBuilder[Long]
        val vs = Array.newBuilder[Array[Double]]
        val rs = Array.newBuilder[Array[Long]]
        var ok = true
        while (ok && rows.hasNext) {
          val row = rows.next()
          ok = !(0 until 4).exists(row.isNullAt) && {
            val va = row.getArray(1)
            val ra = row.getArray(3)
            val r = new Array[Long](dim)
            va.numElements() == dim && (0 until dim).forall { i =>
              !va.isNullAt(i) && !ra.isNullAt(i) && {
                val u = ra.getDecimal(i, 38, 6).toJavaBigDecimal
                  .setScale(6).unscaledValue
                r(i) = u.longValue
                u.bitLength < 64
              }
            } && {
              ids += row.getLong(0)
              hk += row.getLong(2)
              vs += va.toDoubleArray()
              rs += r
              true
            }
          }
        }
        Iterator.single(
          if (ok) Some(Training(ids.result(), hk.result(), vs.result(),
            rs.result()))
          else None)
      }.collect()
    if (parts.exists(_.isEmpty)) return None
    val t = Training(parts.flatMap(_.get.ids), parts.flatMap(_.get.hk),
      parts.flatMap(_.get.v), parts.flatMap(_.get.r))
    val sorted = t.ids.sorted
    if ((1 until sorted.length).exists(i => sorted(i) == sorted(i - 1)))
      None
    else Some(t)
  }

  /** [[ITER]] rounds over `t` from its `k` seeds, in each of
    * `subspaces` equal-width slices of the vectors (the same seed rows in
    * every slice). Per slice: the surviving centroid ids, ascending, and
    * their means. None when an exact sum leaves the long range (the loop
    * then sums it in DECIMAL(38,6)).
    */
  private def train(t: Training, k: Int,
      subspaces: Int): Option[Seq[(Array[Long], Array[Array[Double]])]] = {
    val n = t.ids.length
    val w = if (n == 0) 0 else t.v(0).length / subspaces
    val seeds = t.ids.indices.sortBy(i => (t.hk(i), t.ids(i))).take(k)
      .sortBy(t.ids(_)).toArray
    def mean(sum: Long, count: Long): Double =
      Cast(Literal(Decimal(sum, 38, 6), DecimalType(38, 6)), DoubleType)
        .eval().asInstanceOf[Double] / count.toDouble
    try Some((0 until subspaces).map { m =>
      val sv =
        if (subspaces == 1) t.v
        else t.v.map(java.util.Arrays.copyOfRange(_, m * w, (m + 1) * w))
      var ids = seeds.map(t.ids)
      var cents = seeds.map(sv)
      (1 to ITER).foreach { _ =>
        // per centroid: w exact component sums, then the member count
        val acc = scala.collection.mutable.LongMap.empty[Array[Long]]
        var i = 0
        while (i < n) {
          val a = acc.getOrElseUpdate(NearestCentroid.nearest(sv(i), ids,
            cents), new Array[Long](w + 1))
          val r = t.r(i)
          var j = 0
          while (j < w) {
            a(j) = Math.addExact(a(j), r(m * w + j))
            j += 1
          }
          a(w) += 1
          i += 1
        }
        ids = acc.keys.toArray.sorted
        cents = ids.map { c =>
          val a = acc(c)
          Array.tabulate(w)(j => mean(a(j), a(w)))
        }
      }
      (ids, cents)
    }) catch { case _: ArithmeticException => None }
  }

  /** One round in SQL over the source CTE `src` (vec_id, `x`), `w`
    * components wide: CTE `a` assigns each row to its argmax-cosine
    * centroid of `prev` (ties to the lower cent_id), CTE `c` holds the
    * members' exact means.
    */
  private def sqlRound(src: String, x: String, w: Int, prev: String,
      a: String, c: String): String = {
    val means = (1 to w).map(i =>
      s"CAST(SUM(CAST(round($x[$i],6) AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*)")
      .mkString("[", ",\n          ", "]")
    s"""$a AS (SELECT vec_id, $x, cent_id FROM (
        SELECT e.vec_id, e.$x, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.$x, c.cv) DESC, c.cent_id)
            AS rk
        FROM $src e, $prev c) WHERE rk = 1),
    $c AS (SELECT cent_id, $means AS cv FROM $a GROUP BY cent_id)"""
  }

  /** The trainer of one (sub)space in SQL over the source CTE `src`
    * (vec_id, `x`), `w` components wide: the seeds are its rows lowest
    * by (md5 key, vec_id), as many as the `limit` clause keeps, then
    * [[ITER]] rounds. The CTEs are `${p}c0$s`, `${p}a1$s`, `${p}c1$s`, …
    * ending at [[sqlCents]]`(p, s)`, which consumers read.
    */
  private[graft] def sqlTrain(src: String, x: String, w: Int, limit: String,
      p: String = "", s: String = ""): String = {
    def c(i: Int) = s"${p}c$i$s"
    (s"""${c(0)} AS (SELECT vec_id AS cent_id, $x AS cv FROM $src
      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
        vec_id
      $limit)""" +: (1 to ITER).map(i =>
      sqlRound(src, x, w, c(i - 1), s"${p}a$i$s", c(i))))
      .mkString(",\n    ")
  }

  /** The CTE holding [[sqlTrain]]`(…, p, s)`'s trained (cent_id, cv). */
  private[graft] def sqlCents(p: String = "", s: String = ""): String =
    s"${p}c$ITER$s"
}
