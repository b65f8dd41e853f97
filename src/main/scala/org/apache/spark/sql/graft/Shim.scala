package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway graft needs: build a DataFrame from a
  * custom LogicalPlan (`Dataset.ofRows` has no public equivalent). Lives
  * inside the `org.apache.spark.sql` namespace for access; contains no
  * other logic.
  */
object Shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Cap a checkpointed frame's INHERITED size estimate at Long.Max.
    *
    * Dataset.checkpoint/localCheckpoint preserves the origin plan's
    * Statistics on the LogicalRDD it returns (so joins keep their
    * estimates). In an iterative loop whose round body references the
    * previous round's checkpoint k times through joins, the sizeInBytes
    * ESTIMATE compounds — visitJoin's default is the PRODUCT of child
    * estimates — so the BigInt's DIGIT COUNT multiplies by ~k per
    * round: by round 14 of the r16 phash-CC probe it had ~5¹³ digits
    * and the driver burned 367 s of a 432 s query inside
    * BigInteger.multiply in stats estimation (the jstack receipt in
    * CCSTATS_r16.json). Capping at Long.MaxValue changes NO planning
    * decision — every threshold the planner compares against is a
    * long, so any estimate past 2⁶³ behaves identically — while
    * keeping the number one machine word. Origin constraints are
    * dropped (the checkpoint is a lineage BARRIER; constraints are
    * optimizer hints re-derivable from the data, never semantics).
    */
  def capStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case lr @ LogicalRDD(out, rdd, part, ord, streaming, stream) =>
        val cap = BigInt(Long.MaxValue)
        val s = lr.stats
        if (s.sizeInBytes <= cap && s.rowCount.forall(_ <= cap)) df
        else {
          val capped = org.apache.spark.sql.catalyst.plans.logical
            .Statistics(sizeInBytes = s.sizeInBytes.min(cap),
              rowCount = s.rowCount.map(_.min(cap)))
          ofRows(df.sparkSession,
            LogicalRDD(out, rdd, part, ord, streaming, stream)(
              df.sparkSession.asInstanceOf[classic.SparkSession],
              Some(capped), None))
        }
      case _ => df
    }
  }

  /** Column ⇄ Expression converters (private[sql] in classic). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Test-only: flush the listener bus so a spec reading task metrics
    * from a SparkListener sees every completed task (`waitUntilEmpty` is
    * private[spark]).
    */
  def waitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Test-only: the listeners of class `T` on the session's live bus
    * (`findListenersByClass` is private[spark]).
    */
  def listeners[T <: org.apache.spark.scheduler.SparkListenerInterface](
      spark: SparkSession)(implicit ct: scala.reflect.ClassTag[T]): Seq[T] =
    spark.sparkContext.listenerBus.findListenersByClass[T]().toSeq

  /** Test-only doorways into the private[sql] extension build methods, so
    * ExtensionsSpec can exercise the same path the session builder calls.
    */
  def registerFunctions(ext: SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)
  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession) =
    ext.buildPlannerStrategies(spark)
  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession) =
    ext.buildOptimizerRules(spark)
}
