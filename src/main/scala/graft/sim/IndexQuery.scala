package graft.sim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, GenericInternalRow, In, Literal, Round, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CosineSim, DotProduct, NearestCentroids, VecSub}

/** The driver half of the persisted-index queries ([[Knn.queryIvfIndex]]
  * and [[Pq.queryIvfPqIndex]]). A small query batch against a stored
  * index is a few thousand rows of work, but the distributed plan spends
  * 10–21 jobs on it: codebook `collect_list` aggregates, broadcasts, the
  * DPP subquery and window exchanges. A bounded batch instead ends on the
  * driver:
  *   - [[queries]] collects the batch in one job;
  *   - the frozen codebooks are collected (one job each, kept between
  *     calls while their files are unchanged: [[frozenRows]]) and every
  *     query's `nprobe` cells picked by [[NearestCentroids.nearest]], the
  *     scan the probe kernel itself runs;
  *   - the probed cells' file sizes come from the relation's own pruned
  *     file listing ([[probedBytes]], no job); past the bound the plan
  *     runs;
  *   - only the probed cells' rows are read, through a static `cent_id IN
  *     (…)` partition filter (one job), and for IVF-PQ the ≤ rerank·|Q|
  *     survivors' vectors (one more);
  *   - scoring uses the library's own expressions, evaluated
  *     ([[CosineSim]], [[DotProduct]], [[VecSub]], Spark's [[Round]]);
  *     ranking is Spark's order: score DESC with NaN first and −0.0 ==
  *     0.0 ([[SQLOrderingUtil.compareDoubles]]), ties by vec_id, the
  *     query's own id excluded — the plan's [[Ann.topK]] and
  *     [[Ann.rerank]].
  * The answer is a LocalRelation with the distributed plan's rows, row
  * order and schema (IndexQuerySpec pins both paths by raw double bits).
  *
  * Anything the driver cannot reproduce exactly takes the plan: a null
  * or duplicate query_id, a null query vector, a vector of another
  * length, a non-long id, an empty or ambiguous codebook, a null list
  * vector or code, a code outside its sub-codebook.
  */
private[graft] object IndexQuery {

  /** Driver-path bounds: at most `queries` query rows, and at most
    * `bytes` of parquet under the probed cells. A negative value sends
    * every call to the plan.
    */
  final case class Bound(queries: Int, bytes: Long)

  /** The largest query batch answered on the driver: 2048. Timed through
    * the seam on local[4] over random 64-dim indexes of 20,000, 100,000
    * and 160,000 vectors (nlist 79, 391, 625), the driver path beat the
    * plan at every batch size from 8 to 8192 queries (IVF 0.94 vs 1.56 s
    * at 8 queries on 20,000 vectors, 4.3 vs 24.8 s at 8192; IVF-PQ 1.35
    * vs 2.19 s and 3.2 vs 16.2 s). The driver scores on one thread while
    * the plan scales out with the cluster, so the bound stays a factor 4
    * below the largest batch measured.
    */
  val DRIVER_QUERIES = 2048

  /** Probed-cell parquet read on the driver for an IVF query: 64 MB. Both
    * paths read the same probed files; the driver path was never slower
    * in the timings above, up to the whole 85 MB lists table of the
    * 160,000-vector index (9.3 vs 12.8 s at 8192 queries), and within
    * 5% at its worst point (48 MB probed by 64 queries: 3.96 vs 4.18 s).
    * The collected rows are UnsafeRows of ~0.5 KB a stored vector, so
    * the bound holds the driver's share to about 64 MB of heap.
    */
  val DRIVER_LIST_BYTES: Long = 64L << 20

  /** Probed-cell parquet read on the driver for an IVF-PQ query: 4 MB of
    * the thin codes table (~36 B a vector in parquet, ~56 B as an
    * UnsafeRow, so about 110,000 code rows), below the largest codes read
    * timed above — the whole 5.8 MB table of the 160,000-vector index —
    * where the driver path won at every batch size.
    */
  val DRIVER_CODE_BYTES: Long = 4L << 20

  val IVF = Bound(DRIVER_QUERIES, DRIVER_LIST_BYTES)
  val IVF_PQ = Bound(DRIVER_QUERIES, DRIVER_CODE_BYTES)

  /** The seam value that forces the distributed plan. */
  val PLAN = Bound(-1, -1L)

  /** A query batch on the driver, in collect order. */
  final case class Queries(ids: Array[Long], v: Array[Array[Double]])

  private def isDoubles(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def field(df: DataFrame, name: String): Option[DataType] =
    df.schema.find(_.name == name).map(_.dataType)

  /** The (query_id, qv) batch of `q` on the driver in ONE job, when it
    * holds at most `bound` rows, query_id is a non-null unique long and
    * qv a non-null array<double>. Each task stops at bound + 1 rows, so
    * a large batch costs one partial scan before the plan runs.
    */
  private[sim] def queries(q: DataFrame, bound: Int): Option[Queries] = {
    if (bound < 0 || !field(q, "query_id").contains(LongType) ||
        !field(q, "qv").exists(isDoubles)) return None
    val parts = q.select(col("query_id"), col("qv")).queryExecution.toRdd
      .mapPartitions { rows =>
        val ids = Array.newBuilder[Long]
        val vs = Array.newBuilder[Array[Double]]
        var n = 0
        var ok = true
        while (ok && rows.hasNext) {
          val r = rows.next()
          ok = n < bound && !r.isNullAt(0) && !r.isNullAt(1)
          if (ok) {
            ids += r.getLong(0)
            vs += r.getArray(1).toDoubleArray()
            n += 1
          }
        }
        Iterator.single(if (ok) Some((ids.result(), vs.result())) else None)
      }.collect()
    if (parts.exists(_.isEmpty)) return None
    val ids = parts.flatMap(_.get._1)
    if (ids.length > bound || ids.distinct.length != ids.length) None
    else Some(Queries(ids, parts.flatMap(_.get._2)))
  }

  /** `df`'s rows on the driver as UnsafeRows, in one job. */
  private[sim] def rows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** A codebook's (id, vector) rows in id order — the order `array_sort`
    * gives the kernels' struct arrays. None when empty, or when an id is
    * null or repeats, or a vector is null.
    */
  private[sim] def book(rs: Array[InternalRow], id: Int,
      v: Int): Option[(Array[Long], Array[Array[Double]])] =
    if (rs.isEmpty || rs.exists(r => r.isNullAt(id) || r.isNullAt(v))) None
    else {
      val sorted = rs.sortBy(_.getLong(id))
      val ids = sorted.map(_.getLong(id))
      if ((1 until ids.length).exists(i => ids(i) == ids(i - 1))) None
      else Some((ids, sorted.map(_.getArray(v).toDoubleArray())))
    }

  /** A plain file-source table's root path and the (path, size, mtime)
    * of every file it reads under `partitionFilters`, from its relation's
    * own listing: no Spark job. None for any other frame.
    */
  private def listing(table: DataFrame, partitionFilters: Seq[Expression])
      : Option[(String, Seq[(String, Long, Long)])] =
    table.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation =>
      (r.location.rootPaths.mkString(","),
        r.location.listFiles(partitionFilters, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted)
    }

  /** Parquet bytes under the given `cent_id` cells of a file-source
    * table, from the pruned file listing; unbounded for any other frame.
    */
  private[sim] def probedBytes(table: DataFrame, cells: Seq[Long]): Long =
    listing(table, Seq(In(AttributeReference("cent_id", LongType)(),
      cells.map(Literal(_))))).fold(Long.MaxValue)(_._2.map(_._2).sum)

  /** The largest codebook table kept on the driver between calls. */
  private val FROZEN_BYTES = 4L << 20

  private val frozen = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(String, Long, Long)], Array[InternalRow])]

  /** A codebook table's rows, collected once per set of files. Codebooks
    * are frozen across appends and a rebuild writes new files, so the
    * listing (path, size, mtime of each file, no job) identifies the
    * content; an unchanged codebook costs no job. One entry per table
    * directory, and none for tables over [[FROZEN_BYTES]].
    */
  private[sim] def frozenRows(table: DataFrame): Array[InternalRow] =
    listing(table, Nil) match {
      case Some((dir, files)) if files.map(_._2).sum <= FROZEN_BYTES =>
        frozen.get(dir).collect { case (`files`, rs) => rs }.getOrElse {
          val rs = rows(table)
          frozen(dir) = (files, rs)
          rs
        }
      case _ => rows(table)
    }

  /** A library kernel over two arrays, by its interpreted eval. */
  private final class Kernel(make: (Expression, Expression) => Expression,
      left: DataType, right: DataType) {
    private val e = make(BoundReference(0, left, nullable = true),
      BoundReference(1, right, nullable = true))
    private val row = new GenericInternalRow(2)
    def apply(a: ArrayData, b: ArrayData): Any = {
      row.update(0, a)
      row.update(1, b)
      e.eval(row)
    }
  }

  /** Spark's `round(x, 6)`, evaluated. */
  private final class Round6 {
    private val e = Round(BoundReference(0, DoubleType, nullable = true),
      Literal(6))
    private val row = new GenericInternalRow(1)
    def apply(x: Double): Any = {
      row.update(0, x)
      e.eval(row)
    }
  }

  private def arr(v: Array[Double]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(v)

  /** The first `n` offers in Spark's (score DESC, id ASC) order, kept in
    * a sorted buffer; an offer equal to a kept one goes after it.
    */
  private final class Top(n: Int) {
    val score = new Array[Double](math.max(n, 0))
    val id = new Array[Long](math.max(n, 0))
    var size = 0
    private def before(s: Double, i: Long, j: Int): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(s, score(j))
      c > 0 || (c == 0 && i < id(j))
    }
    def offer(s: Double, i: Long): Unit =
      if (n > 0 && (size < n || before(s, i, size - 1))) {
        var p = 0
        while (p < size && !before(s, i, p)) p += 1
        var q = math.min(size, n - 1)
        while (q > p) { score(q) = score(q - 1); id(q) = id(q - 1); q -= 1 }
        score(p) = s
        id(p) = i
        if (size < n) size += 1
      }
  }

  private val noRows = Array.empty[InternalRow]

  /** Rows of a code or list table grouped by cell; null vec_ids dropped
    * (they never pass the plan's `query_id <> vec_id`).
    */
  private def byCell(rs: Array[InternalRow]): Map[Long, Array[InternalRow]] =
    rs.filterNot(_.isNullAt(1)).groupBy(_.getLong(0))

  /** The answer frame: (query_id, neighbor_id, rank, cosine) rows in
    * (query_id, rank) order under the plan's schema.
    */
  private def answer(s: SparkSession, qs: Queries, top: Array[Top],
      schema: StructType): DataFrame = {
    val round = new Round6
    val out = qs.ids.indices.sortBy(qs.ids(_)).flatMap { i =>
      val t = top(i)
      (0 until t.size).map(r =>
        Row(qs.ids(i), t.id(r), r + 1L, round(t.score(r))))
    }
    s.createDataFrame(out.asJava, schema)
  }

  /** The frozen codebook and every query's probed cells, or None when the
    * probe kernel would fail or see another codebook.
    */
  private def probes(qs: Queries, cents: DataFrame,
      nprobe: Int): Option[(Array[Long], Array[Array[Double]],
        Array[Array[Long]])] =
    book(frozenRows(cents), 0, 1).flatMap { case (ids, cvs) =>
      val dim = qs.v(0).length
      if ((cvs ++ qs.v).exists(_.length != dim)) None
      else Some((ids, cvs,
        qs.v.map(NearestCentroids.nearest(_, ids, cvs, nprobe))))
    }

  /** [[Knn.queryIvfIndex]] on the driver: None sends the call to the
    * plan. `schema` is the plan's, forced only when the driver answers.
    */
  private[sim] def ivf(q: DataFrame, cents: DataFrame, lists: DataFrame,
      k: Int, nprobe: Int, bound: Bound,
      schema: => StructType): Option[DataFrame] = {
    if (nprobe < 1) return None
    val qs = queries(q, bound.queries).getOrElse(return None)
    val s = q.sparkSession
    if (qs.ids.isEmpty) return Some(answer(s, qs, Array.empty, schema))
    val (_, _, probed) = probes(qs, cents, nprobe).getOrElse(return None)
    val cells = probed.flatten.distinct.sorted.toSeq
    if (probedBytes(lists, cells) > bound.bytes) return None
    val cand = byCell(rows(lists.filter(col("cent_id").isin(cells: _*))
      .select("cent_id", "vec_id", "v")))
    val dim = qs.v(0).length
    if (cand.valuesIterator.flatten.exists(r =>
        r.isNullAt(2) || r.getArray(2).numElements() != dim)) return None
    val cos = new Kernel(CosineSim(_, _), q.schema("qv").dataType,
      lists.schema("v").dataType)
    val top = qs.ids.indices.map { i =>
      val t = new Top(k)
      val qv = arr(qs.v(i))
      for (c <- probed(i); r <- cand.getOrElse(c, noRows)) {
        val id = r.getLong(1)
        if (id != qs.ids(i))
          t.offer(cos(qv, r.getArray(2)).asInstanceOf[Double], id)
      }
      t
    }.toArray
    Some(answer(s, qs, top, schema))
  }

  /** [[Pq.queryIvfPqIndex]] on the driver, for `m` subspaces of `sd`
    * dims: None sends the call to the plan.
    */
  private[sim] def ivfPq(q: DataFrame, cents: DataFrame, subcents: DataFrame,
      codes: DataFrame, vectors: DataFrame, k: Int, nprobe: Int,
      rerank: Int, m: Int, sd: Int, bound: Bound,
      schema: => StructType): Option[DataFrame] = {
    val vType = field(vectors, "v")
    if (nprobe < 1 || !field(vectors, "vec_id").contains(LongType) ||
        !vType.exists(isDoubles)) return None
    val qs = queries(q, bound.queries).getOrElse(return None)
    val s = q.sparkSession
    if (qs.ids.isEmpty) return Some(answer(s, qs, Array.empty, schema))
    val (cids, cvs, probed) = probes(qs, cents, nprobe)
      .getOrElse(return None)
    val dim = qs.v(0).length
    if (dim != m * sd) return None
    // per subspace, the codes in the order the LUT arrays hold them
    val subRows = frozenRows(subcents)
    val books = (0 until m).map(j =>
      book(subRows.filter(r => !r.isNullAt(0) && r.getInt(0) == j), 1, 2))
    if (books.exists(_.forall(_._2.exists(_.length != sd)))) return None
    val subs = books.map(_.get._2)
    val cells = probed.flatten.distinct.sorted.toSeq
    if (probedBytes(codes, cells) > bound.bytes) return None
    val cand = byCell(rows(codes.filter(col("cent_id").isin(cells: _*))
      .select(col("cent_id") +: col("vec_id") +:
        (0 until m).map(j => col(s"k$j")): _*)))
    // element_at(lut, k) must hit: 1 ≤ k ≤ the sub-codebook's size
    if (cand.valuesIterator.flatten.exists(r => (0 until m).exists { j =>
        r.isNullAt(2 + j) || r.getLong(2 + j) < 1 ||
          r.getLong(2 + j) > subs(j).length })) return None

    val cvType = cents.schema("cv").dataType
    val subType = subcents.schema("cv").dataType
    val resType = ArrayType(DoubleType, containsNull = false)
    val qvType = q.schema("qv").dataType
    val sub = new Kernel(VecSub(_, _), qvType, cvType)
    val dot = new Kernel(DotProduct(_, _), resType, subType)
    val cellAt = cids.indices.map(j => cids(j) -> arr(cvs(j))).toMap
    val subArr = subs.map(_.map(arr))
    val survivors = qs.ids.indices.map { i =>
      val t = new Top(rerank)
      val qv = arr(qs.v(i))
      for (c <- probed(i)) {
        val res = sub(qv, cellAt(c)).asInstanceOf[ArrayData].toDoubleArray()
        // one LUT per subspace: the residual slice against every code
        val lut = (0 until m).map { j =>
          val sl = arr(java.util.Arrays.copyOfRange(res, j * sd, (j + 1) * sd))
          subArr(j).map(dot(sl, _).asInstanceOf[Double])
        }
        for (r <- cand.getOrElse(c, noRows)) {
          val id = r.getLong(1)
          if (id != qs.ids(i)) {
            // the plan's left-to-right sum of the M look-ups
            var score = lut(0)(r.getLong(2).toInt - 1)
            var j = 1
            while (j < m) {
              score += lut(j)(r.getLong(2 + j).toInt - 1)
              j += 1
            }
            t.offer(score, id)
          }
        }
      }
      t.id.take(t.size)
    }
    val ids = survivors.flatten.distinct
    val vecs =
      if (ids.isEmpty) Map.empty[Long, Array[InternalRow]]
      else rows(vectors.filter(col("vec_id").isin(ids: _*))
        .select("vec_id", "v")).filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
    if (vecs.valuesIterator.flatten.exists(r =>
        r.isNullAt(1) || r.getArray(1).numElements() != dim)) return None
    val cos = new Kernel(CosineSim(_, _), qvType, vType.get)
    val top = qs.ids.indices.map { i =>
      val t = new Top(k)
      val qv = arr(qs.v(i))
      for (id <- survivors(i); r <- vecs.getOrElse(id, noRows))
        t.offer(cos(qv, r.getArray(1)).asInstanceOf[Double], id)
      t
    }.toArray
    Some(answer(s, qs, top, schema))
  }
}
