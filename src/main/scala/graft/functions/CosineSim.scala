package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Shared scaffolding for binary expressions over float/double array
  * inputs returning double: type checking and element accessors (eval +
  * codegen) that widen floats to double.
  */
trait VectorBinaryExpression { self: BinaryExpression =>

  final override def dataType: DataType = DoubleType
  final override def nullIntolerant: Boolean = true

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  final override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Java accessor expression for element `i` of array variable `arr`. */
  protected def getter(e: Expression, arr: String, i: String): String =
    if (elemIsFloat(e)) s"(double) $arr.getFloat($i)"
    else s"$arr.getDouble($i)"

  /** Mismatched lengths are corrupt input — fail like the DuckDB oracle
    * does, never silently score a common prefix.
    */
  protected def checkedLength(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: vector lengths differ ($n vs ${y.numElements()})")
    n
  }

  /** Codegen mirror of [[checkedLength]]: assigns `$n`, throws on skew. */
  protected def lengthCheckCode(a: String, b: String, n: String): String =
    s"""
      int $n = $a.numElements();
      if ($n != $b.numElements()) {
        throw new IllegalArgumentException(
          "$prettyName: vector lengths differ (" + $n + " vs " +
            $b.numElements() + ")");
      }
    """
}

/** `cosine_sim(a, b)` — native Catalyst expression (whole-stage codegen)
  * for cosine similarity over `array<double>` / `array<float>` columns.
  *
  * Accumulation order: each of dot/‖a‖/‖b‖ is an independent sequential
  * fold over the elements (double precision) — bit-identical to DuckDB's
  * `list_cosine_similarity` on DOUBLE[], which the oracle gate relies on.
  * A codegen'd tight loop over `ArrayData` beats a Scala UDF (no
  * boxing/serialization) and keeps the surrounding stage inside
  * WholeStageCodegen.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with VectorBinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (elemIsFloat(left), elemIsFloat(right))
    val n = checkedLength(x, y)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    // an all-zero vector yields NaN (0/0) — cosine is undefined there
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        ${lengthCheckCode(a, b, n)}
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = ${getter(left, a, i)};
          double $yv = ${getter(right, b, i)};
          $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
        }
        ${ev.value} = $dot /
          (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `dot_product(a, b)` — codegen'd inner product over numeric arrays.
  * Same sequential-fold / type rules as [[CosineSim]]. Used where only the
  * projection matters (LSH hyperplane signatures) — ~20× the throughput of
  * the interpreted `aggregate(zip_with(...))` HOF route.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (elemIsFloat(left), elemIsFloat(right))
    val n = checkedLength(x, y)
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
        ${lengthCheckCode(a, b, n)}
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $dot += ${getter(left, a, i)} * ${getter(right, b, i)};
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  private def fn(name: String, cls: Class[_],
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** The functions graft adds, as (identifier, info, builder) triples — the
    * runtime registration below and [[GraftExtensions]] share them.
    */
  private[functions] val fns = Seq(
    fn("cosine_sim", classOf[CosineSim],
      exprs => CosineSim(exprs(0), exprs(1))),
    fn("dot_product", classOf[DotProduct],
      exprs => DotProduct(exprs(0), exprs(1))))

  /** Idempotent runtime registration (works on sessions built without
    * the extensions): a function already in THIS session's registry is
    * left alone, so a repeated `SparkEntry.tune` neither re-registers
    * nor logs Spark's "replaced a previously registered function" WARN,
    * while a `newSession()` (its own registry) still gets the functions.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  /** Column-API sugar once registered. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column =
    call_function("dot_product", a, b)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` registration path
  * for cluster deployments; `SparkEntry.tune` registers at runtime instead
  * so sessions the driver already built still resolve the function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    CosineSim.fns.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsofJoinRight)
  }
}
