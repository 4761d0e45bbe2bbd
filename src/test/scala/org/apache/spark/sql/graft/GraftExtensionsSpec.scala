package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import _root_.graft.functions.{GraftExtensions, VectorFunctions}
import _root_.graft.plans.GraftRules

/** The spark-submit route (`spark.sql.extensions=graft.functions.GraftExtensions`)
  * must inject exactly what the runtime route installs: the same
  * optimizer rules in the same order, the same strategies, and every
  * SQL function of the registry. Lives under `org.apache.spark.sql` to
  * read the extension's built lists back.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val ext = {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    e
  }

  test("injected optimizer rules are GraftRules' rules, in order") {
    assert(ext.buildOptimizerRules(_root_.graft.SharedSpark.spark) == GraftRules.optimizerRules)
  }

  test("injected planner strategies are GraftRules' strategies") {
    assert(ext.buildPlannerStrategies(_root_.graft.SharedSpark.spark) == GraftRules.strategies)
  }

  test("injected functions are VectorFunctions.registry's, each naming its expression class") {
    val reg = ext.registerFunctions(new SimpleFunctionRegistry)
    assert(reg.listFunction().map(_.funcName).sorted ==
      VectorFunctions.registry.map(_._1.funcName).sorted)
    reg.listFunction().foreach { id =>
      val cls = Class.forName(reg.lookupFunction(id).get.getClassName)
      assert(classOf[org.apache.spark.sql.catalyst.expressions.Expression].isAssignableFrom(cls),
        s"${id.funcName} names $cls")
    }
  }
}
