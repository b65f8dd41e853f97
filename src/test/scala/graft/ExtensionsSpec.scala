package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal}

import graft.functions.{CosineSim, DotProduct, GraftExtensions}
import graft.plans.{AsofJoinStrategy, PruneAsofJoinRight}

import scala.jdk.CollectionConverters._

/** The production registration path (`spark.sql.extensions=
  * graft.functions.GraftExtensions`). The extensions config is a STATIC
  * conf read at SparkContext build, so a live-session test is impossible
  * in the shared test JVM — instead this exercises the injection object
  * directly through the same public `build*`/`register*` API the session
  * builder calls.
  */
class ExtensionsSpec extends SparkSpec {

  private def injected: SparkSessionExtensions = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ext
  }

  test("injects cosine_sim and dot_product into the function registry") {
    val reg = org.apache.spark.sql.graft.Shim.registerFunctions(
      injected, new SimpleFunctionRegistry)
    val cos = reg.lookupFunction(FunctionIdentifier("cosine_sim"),
      Seq(Literal.create(Array(1.0)), Literal.create(Array(1.0))))
    assert(cos.isInstanceOf[CosineSim])
    val dot = reg.lookupFunction(FunctionIdentifier("dot_product"),
      Seq(Literal.create(Array(1.0)), Literal.create(Array(1.0))))
    assert(dot.isInstanceOf[DotProduct])
  }

  test("injects the asof planner strategy and pruning rule") {
    assert(org.apache.spark.sql.graft.Shim
      .plannerStrategies(injected, spark).contains(AsofJoinStrategy))
    assert(org.apache.spark.sql.graft.Shim
      .optimizerRules(injected, spark).contains(PruneAsofJoinRight))
  }

  test("runtime registration (tune) resolves the same functions in SQL") {
    val r = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) c, " +
        "dot_product(array(3.0D), array(5.0D)) d").collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 15.0) < 1e-12)
  }

  test("tune is idempotent: repeated queries log no function " +
      "re-registration WARN") {
    val replaced = "replaced a previously registered function"
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("tune-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // the registry's own logger, at WARN whatever the root level is
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = "org.apache.spark.sql.catalyst.analysis"
    val lc = new LoggerConfig(logger, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(logger, lc)
    ctx.updateLoggers()
    val probe = FunctionIdentifier("tune_spec_probe")
    val reg = spark.sessionState.functionRegistry
    try {
      for (_ <- 1 to 2) SparkEntry.queries("knn_bruteforce")(spark, sfDir)
      // control: a real re-registration is seen by this appender
      for (_ <- 1 to 2)
        reg.registerFunction(probe,
          new ExpressionInfo(classOf[Literal].getName, probe.funcName),
          (_: Seq[Expression]) => Literal(1))
    } finally {
      reg.dropFunction(probe)
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
    val warns = seen.asScala.filter(_.contains(replaced)).toSeq
    assert(warns.size == 1 && warns.head.contains("tune_spec_probe"),
      s"only the control may re-register; saw $warns")
  }

  test("a fresh newSession() resolves cosine_sim after tune") {
    val fresh = SparkEntry.tune(spark.newSession())
    val r = fresh.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) c")
      .collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }
}
