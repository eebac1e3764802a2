package graft

import graft.functions.{GraftExtensions, Native}
import org.apache.spark.sql.SparkSessionExtensions

/** The spark.sql.extensions deployment path installs the same functions and
  * strategies as `Native.register`, and nothing else.
  */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects graft_dot into a SparkSessionExtensions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // buildFunctionRegistry applies injected functions onto a registry.
    val reg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    val before = reg.listFunction().size
    org.apache.spark.sql.GraftTestHooks.registerFunctions(ext, reg)
    // The whole temp-function surface rides the extension (one source of
    // truth — Native.fns drives both paths).
    val names = Seq(
      "graft_dot", "graft_cosine", "graft_gram_hashes", "graft_grams",
      "graft_normalize", "graft_matvec", "graft_pq_encode", "graft_pq_lut",
      "graft_dsum", "graft_might_contain", "graft_bloom_agg")
    assert(reg.listFunction().size == before + names.size)
    for (n <- names)
      assert(reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n)
  }

  test("GraftExtensions injects exactly Native.strategies and no optimizer rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    import org.apache.spark.sql.GraftTestHooks.{optimizerRules, plannerStrategies}
    assert(plannerStrategies(ext, spark) == Native.strategies)
    assert(optimizerRules(ext, spark).isEmpty)
  }
}
