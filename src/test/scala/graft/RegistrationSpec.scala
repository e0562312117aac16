package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** `Graft.install` and `spark.sql.extensions=graft.plans.GraftExtensions`
 *  register the same surface. */
class RegistrationSpec extends SparkSpec {

  /** A new session on the shared context, built with the extensions. */
  private def withExtensionSession[T](body: SparkSession => T): T = {
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      assert(s ne spark)
      body(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  test("a session built with GraftExtensions resolves every name install registers") {
    val installed = Graft.install(spark.newSession())
    val functions = installed.sessionState.functionRegistry.listFunction().toSet --
      FunctionRegistry.builtin.listFunction()
    val tableFunctions = installed.sessionState.tableFunctionRegistry.listFunction().toSet --
      TableFunctionRegistry.builtin.listFunction()
    assert(functions.map(_.funcName).toSet.contains("st_numpoints"))
    assert(tableFunctions.map(_.funcName).toSet.contains("st_read"))
    withExtensionSession { s =>
      val missing = functions.filterNot(s.sessionState.functionRegistry.functionExists) ++
        tableFunctions.filterNot(s.sessionState.tableFunctionRegistry.functionExists)
      assert(missing.isEmpty, s"not registered by GraftExtensions: ${missing.map(_.funcName)}")
      assert(s.sql("SELECT st_numpoints(st_geomfromtext('LINESTRING (0 0, 1 1, 2 0)')), " +
        "simhash('a b c') IS NOT NULL").collect()(0).toSeq == Seq(3, true))
      assert(s.sql("SELECT count(*) FROM st_drivers()").collect()(0).getLong(0) > 0)
      assert(s.sessionState.planner.strategies.contains(graft.plans.SpatialJoinStrategy))
    }
  }

  test("install keeps an optimizer rule the user added before it") {
    object UserRule extends Rule[LogicalPlan] { def apply(plan: LogicalPlan): LogicalPlan = plan }
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(UserRule)
    Graft.install(s)
    val rules = s.experimental.extraOptimizations
    assert(rules.contains(UserRule))
    assert(rules.length == Graft.optimizerRules.length + 1)
    assert(rules.last eq UserRule)
  }
}
