package graft

import graft.functions.{GraftExtensions, Native}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The install rule's three guards (`Native.register`), each on a fresh
  * session: functions, planner strategies and the ObjectHashAggregate
  * fallback threshold are installed independently of one another.
  */
class NativeInstallSpec extends SparkSpec {

  private val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  private def hasStrategies(s: SparkSession): Boolean =
    Native.strategies.forall(s.sessionState.planner.strategies.contains)

  test("register raises the fallback threshold from Spark's default") {
    val s = spark.newSession()
    assert(s.conf.get(key) == "128")
    Native.register(s)
    assert(s.conf.get(key) == "4194304")
  }

  test("register leaves a user-set fallback threshold alone") {
    val s = spark.newSession()
    s.conf.set(key, "256")
    Native.register(s)
    assert(s.conf.get(key) == "256")
  }

  test("a session that already has the functions still gets the threshold and strategies") {
    val s = spark.newSession()
    // The functions a GraftExtensions session starts with, and nothing else.
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftTestHooks
      .registerFunctions(ext, s.sessionState.functionRegistry)
    assert(s.conf.get(key) == "128" && !hasStrategies(s))
    Native.register(s)
    assert(s.conf.get(key) == "4194304")
    assert(hasStrategies(s))
    val once = s.experimental.extraStrategies
    Native.register(s)
    assert(s.experimental.extraStrategies == once, "a second register appended again")
  }
}
