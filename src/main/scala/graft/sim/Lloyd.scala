package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.NearestCentroid

/** The driver half of the seeded Lloyd trainers ([[Knn.codebook]] and
  * [[Pq.subCodebooks]]). Both train the same way: seeds are the k
  * lowest-(md5 key, vec_id) training vectors; each round assigns every
  * vector to its argmax-cosine centroid and replaces each centroid by
  * its members' exact DECIMAL(38,6) sum of round(x, 6) components,
  * cast to double and divided by the member count. A centroid no vector
  * picks dies.
  *
  * In Spark every round is a broadcast, an aggregate and a checkpoint,
  * about 0.5 s of job launches whatever the data size. A bounded
  * training set instead ends on the driver:
  *   - [[materialize]] checkpoints and counts the frame in one job, so
  *     a derived training lineage runs once on either path;
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

  /** The md5 seed key both engines order the seed sample by. */
  private[sim] def seedKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** A vector component as the centroid sums add it. */
  private[sim] def rounded(x: Column): Column =
    round(x, 6).cast(DecimalType(38, 6))

  /** A training set on the driver: row i is vector `v(i)` with id
    * `ids(i)`, seed key `hk(i)` and the unscaled DECIMAL(38,6) values
    * of its rounded components `r(i)`.
    */
  private[sim] final case class Training(ids: Array[Long], hk: Array[Long],
      v: Array[Array[Double]], r: Array[Array[Long]])

  /** The training frame's (vec_id, v), materialized once and counted in
    * the same job ([[graft.Checkpoint.ofCounted]]).
    */
  private[sim] def materialize(e: DataFrame): (DataFrame, Long) =
    graft.Checkpoint.ofCounted(e.select(col("vec_id"), col("v")))

  /** The materialized training frame `cp` of `n` rows on the driver, in
    * one job, when n·dim ≤ `bound` and every row is reproducible there;
    * None sends the caller to its loop.
    */
  private[sim] def collect(cp: DataFrame, n: Long, dim: Int,
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

  /** `iters` Lloyd rounds over `t` from its `k` seeds, in each of
    * `subspaces` equal-width slices of the vectors (the same seed rows in
    * every slice). Per slice: the surviving centroid ids, ascending, and
    * their means. None when an exact sum leaves the long range (the loop
    * then sums it in DECIMAL(38,6)).
    */
  private[sim] def train(t: Training, k: Int, subspaces: Int,
      iters: Int): Option[Seq[(Array[Long], Array[Array[Double]])]] = {
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
      (1 to iters).foreach { _ =>
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

  /** The loops' `cv` column: every mean is a nullable decimal-sum
    * quotient in a non-null array.
    */
  private[sim] val cvField = StructField("cv",
    ArrayType(DoubleType, containsNull = true), nullable = false)
}
