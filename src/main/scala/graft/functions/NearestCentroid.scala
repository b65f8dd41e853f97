package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `nearest_centroid(v, cents)` — argmax-cosine centroid id in one
  * codegen'd pass. `cents` is an `array<struct<cent_id:long,
  * cv:array<double>>>` column (the broadcast 1-row codebook), scanned in
  * array order with strict `>`, so a cent_id-ASCENDING (array_sort'ed)
  * input reproduces ordering by (cosine DESC, cent_id ASC) — the same
  * tie-break as the DuckDB row_number mirror.
  *
  * Replaces the `aggregate()` HOF fold ([[graft.sim.Knn.assign]]'s
  * previous body): HOFs are CodegenFallback, so every row paid an
  * interpreted 2·nlist-step fold with per-step struct allocation. This
  * kernel also hoists the query norm out of the centroid loop — the same
  * sequential fold value [[CosineSim]] computes per pair, so every cosine
  * (and the chosen id) is bit-identical to the composed form.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (v, ArrayType(StructType(Array(idF, cvF)), _))
        if isVec(v) && idF.dataType == LongType && isVec(cvF.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<struct<long," +
        s"array<double>>>), got ${l.simpleString} and ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = b.asInstanceOf[ArrayData]
    val k = cents.numElements()
    val ids = new Array[Long](k)
    val cvs = new Array[Array[Double]](k)
    var j = 0
    while (j < k) {
      val st = cents.getStruct(j, 2)
      ids(j) = st.getLong(0)
      cvs(j) = st.getArray(1).toDoubleArray()
      j += 1
    }
    NearestCentroid.nearest(a.asInstanceOf[ArrayData].toDoubleArray(),
      ids, cvs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val vv = ctx.freshName("vv")
      val na = ctx.freshName("na")
      val best = ctx.freshName("best")
      val bestId = ctx.freshName("bestId")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val st = ctx.freshName("st")
      val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val cos = ctx.freshName("cos")
      val nanChosen = ctx.freshName("nanChosen")
      s"""
        int $dim = $a.numElements();
        double[] $vv = new double[$dim];
        double $na = 0.0;
        for (int $i = 0; $i < $dim; $i++) {
          $vv[$i] = $a.getDouble($i);
          $na += $vv[$i] * $vv[$i];
        }
        double $best = -2.0;
        long $bestId = Long.MAX_VALUE;
        boolean $nanChosen = false;
        int $k = $b.numElements();
        if ($k == 0) {
          throw new IllegalArgumentException("$prettyName: empty codebook");
        }
        for (int $j = 0; $j < $k; $j++) {
          org.apache.spark.sql.catalyst.InternalRow $st =
            $b.getStruct($j, 2);
          org.apache.spark.sql.catalyst.util.ArrayData $cv =
            $st.getArray(1);
          if ($cv.numElements() != $dim) {
            throw new IllegalArgumentException(
              "$prettyName: vector lengths differ (" + $dim + " vs " +
                $cv.numElements() + ")");
          }
          double $dot = 0.0, $nb = 0.0;
          for (int $i = 0; $i < $dim; $i++) {
            double $c = $cv.getDouble($i);
            $dot += $vv[$i] * $c;
            $nb += $c * $c;
          }
          double $cos = $dot /
            (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
          // NaN (zero-norm side) ranks FIRST in both engines' DESC
          // orderings: first NaN entry wins, mirroring the window form
          if (Double.isNaN($cos)) {
            if (!$nanChosen) { $bestId = $st.getLong(0); $nanChosen = true; }
          } else if (!$nanChosen && $cos > $best) {
            $best = $cos;
            $bestId = $st.getLong(0);
          }
        }
        ${ev.value} = $bestId;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  /** The argmax-cosine scan itself, over plain arrays: `cents(j)` is the
    * vector of centroid `ids(j)`, scanned in array order with strict `>`
    * and the NaN-first rule. The interpreted kernel and the driver-side
    * Lloyd trainer ([[graft.sim.Lloyd]]) both call it, so they cannot
    * drift; the generated code is the same loop, and KernelSpec pins it
    * against this function. Returns `Long.MaxValue` when no cosine beats
    * the −2 floor, as the generated code does.
    */
  def nearest(v: Array[Double], ids: Array[Long],
      cents: Array[Array[Double]]): Long = {
    val dim = v.length
    var na = 0.0
    var i = 0
    while (i < dim) {
      na += v(i) * v(i)
      i += 1
    }
    var best = -2.0
    var bestId = Long.MaxValue
    var nanChosen = false
    var j = 0
    val k = cents.length
    if (k == 0) throw new IllegalArgumentException(
      "nearest_centroid: empty codebook")
    while (j < k) {
      val cv = cents(j)
      if (cv.length != dim) throw new IllegalArgumentException(
        s"nearest_centroid: vector lengths differ ($dim vs ${cv.length})")
      var dot = 0.0
      var nb = 0.0
      i = 0
      while (i < dim) {
        val c = cv(i)
        dot += v(i) * c
        nb += c * c
        i += 1
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      // a zero-norm side makes cos NaN; both engines' DESC orderings
      // rank NaN first, so the lowest-cent_id NaN entry must win —
      // plain `cos > best` would silently skip it
      if (cos.isNaN) {
        if (!nanChosen) { bestId = ids(j); nanChosen = true }
      } else if (!nanChosen && cos > best) {
        best = cos
        bestId = ids(j)
      }
      j += 1
    }
    bestId
  }
}

/** `nearest_centroids(v, cents, k)` — the k nearest centroid ids by
  * (cosine DESC, cent_id ASC), as one codegen'd pass returning
  * `array<long>` in rank order. The top-k generalization of
  * [[NearestCentroid]] (same hoisted-norm sequential cosine fold, same
  * NaN-ranks-first rule, same cent_id-ascending scan for tie stability),
  * so `explode(nearest_centroids(v, cs, k))` reproduces EXACTLY the rows
  * of `row_number() OVER (PARTITION BY id ORDER BY cos DESC, cent_id)
  * <= k` — without the window's full-corpus exchange. IVF probe
  * selection over a corpus-sized query set (knn_join) shuffled n·nlist
  * rows each carrying the query vector through that window; this kernel
  * makes probe selection zero-exchange (KernelSpec pins the equality).
  *
  * Insertion keeps a k-slot buffer ordered by key DESC (NaN mapped to
  * +Inf); a candidate inserts AFTER equal keys, so array scan order
  * (cent_id ASC) is the tie-break, matching both engines' orderings.
  */
case class NearestCentroids(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1, s"nearest_centroids: k must be >= 1, got $k")

  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (v, ArrayType(StructType(Array(idF, cvF)), _))
        if isVec(v) && idF.dataType == LongType && isVec(cvF.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<struct<long," +
        s"array<double>>>), got ${l.simpleString} and ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = b.asInstanceOf[ArrayData]
    val n = cents.numElements()
    val ids = new Array[Long](n)
    val cvs = new Array[Array[Double]](n)
    var j = 0
    while (j < n) {
      val st = cents.getStruct(j, 2)
      ids(j) = st.getLong(0)
      cvs(j) = st.getArray(1).toDoubleArray()
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      NearestCentroids.nearest(a.asInstanceOf[ArrayData].toDoubleArray(),
        ids, cvs, k))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val vv = ctx.freshName("vv")
      val na = ctx.freshName("na")
      val keys = ctx.freshName("keys")
      val ids = ctx.freshName("ids")
      val size = ctx.freshName("size")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val st = ctx.freshName("st")
      val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val cos = ctx.freshName("cos")
      val key = ctx.freshName("key")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      s"""
        int $dim = $a.numElements();
        double[] $vv = new double[$dim];
        double $na = 0.0;
        for (int $i = 0; $i < $dim; $i++) {
          $vv[$i] = $a.getDouble($i);
          $na += $vv[$i] * $vv[$i];
        }
        int $n = $b.numElements();
        if ($n == 0) {
          throw new IllegalArgumentException("$prettyName: empty codebook");
        }
        double[] $keys = new double[$k];
        long[] $ids = new long[$k];
        int $size = 0;
        for (int $j = 0; $j < $n; $j++) {
          org.apache.spark.sql.catalyst.InternalRow $st =
            $b.getStruct($j, 2);
          org.apache.spark.sql.catalyst.util.ArrayData $cv =
            $st.getArray(1);
          if ($cv.numElements() != $dim) {
            throw new IllegalArgumentException(
              "$prettyName: vector lengths differ (" + $dim + " vs " +
                $cv.numElements() + ")");
          }
          double $dot = 0.0, $nb = 0.0;
          for (int $i = 0; $i < $dim; $i++) {
            double $c = $cv.getDouble($i);
            $dot += $vv[$i] * $c;
            $nb += $c * $c;
          }
          double $cos = $dot /
            (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
          double $key = Double.isNaN($cos)
            ? Double.POSITIVE_INFINITY : $cos;
          if ($size < $k || $key > $keys[$size - 1]) {
            int $p = 0;
            while ($p < $size && $keys[$p] >= $key) $p++;
            for (int $q = java.lang.Math.min($size, $k - 1); $q > $p; $q--) {
              $keys[$q] = $keys[$q - 1];
              $ids[$q] = $ids[$q - 1];
            }
            $keys[$p] = $key;
            $ids[$p] = $st.getLong(0);
            if ($size < $k) $size++;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          java.util.Arrays.copyOf($ids, $size));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroids {

  /** The top-k scan itself, over plain arrays: `cents(j)` is the vector
    * of centroid `ids(j)`, scanned in array order into a k-slot buffer
    * ordered by cosine DESC (NaN mapped to +Inf, so it ranks first),
    * each candidate inserted after equal keys. The interpreted kernel
    * and the driver-side index queries ([[graft.sim.IndexQuery]]) both
    * call it; the generated code is the same loop, and KernelSpec pins
    * the two by output. Returns the ≤ k chosen ids in rank order.
    */
  def nearest(v: Array[Double], ids: Array[Long],
      cents: Array[Array[Double]], k: Int): Array[Long] = {
    val dim = v.length
    var na = 0.0
    var i = 0
    while (i < dim) {
      na += v(i) * v(i)
      i += 1
    }
    val n = cents.length
    if (n == 0) throw new IllegalArgumentException(
      "nearest_centroids: empty codebook")
    val keys = new Array[Double](k)
    val top = new Array[Long](k)
    var size = 0
    var j = 0
    while (j < n) {
      val cv = cents(j)
      if (cv.length != dim) throw new IllegalArgumentException(
        s"nearest_centroids: vector lengths differ ($dim vs ${cv.length})")
      var dot = 0.0
      var nb = 0.0
      i = 0
      while (i < dim) {
        val c = cv(i)
        dot += v(i) * c
        nb += c * c
        i += 1
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      val key = if (cos.isNaN) Double.PositiveInfinity else cos
      if (size < k || key > keys(size - 1)) {
        var p = 0
        while (p < size && keys(p) >= key) p += 1
        var q = math.min(size, k - 1)
        while (q > p) { keys(q) = keys(q - 1); top(q) = top(q - 1); q -= 1 }
        keys(p) = key
        top(p) = ids(j)
        if (size < k) size += 1
      }
      j += 1
    }
    java.util.Arrays.copyOf(top, size)
  }
}
