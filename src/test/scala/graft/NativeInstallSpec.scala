package graft

import graft.functions.{GraftExtensions, Native}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The install rule's five guards (`Native.register`), each on a fresh
  * session: functions, planner strategies, the ObjectHashAggregate
  * fallback threshold, the codegen cache capacity and the artifact
  * isolation flag are installed independently of one another, and a value
  * the session already holds is kept.
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

  private val cacheKey = Native.CodegenCacheKey
  private val isolationKey = Native.IsolationKey

  test("register raises the codegen cache capacity from Spark's default") {
    val s = spark.newSession()
    assert(s.conf.get(cacheKey) == "100")
    Native.register(s)
    assert(s.conf.get(cacheKey) == "1024")
  }

  test("register keeps a codegen cache capacity set before the install") {
    val s = spark.newSession()
    // A static key: `spark.conf.set` refuses it, the session conf takes it.
    s.sessionState.conf.setConfString(cacheKey, "512")
    Native.register(s)
    assert(s.conf.get(cacheKey) == "512")
  }

  test("register turns artifact isolation off, but not where the session set it") {
    val s = spark.newSession()
    assert(s.conf.get(isolationKey) == "true")
    Native.register(s)
    assert(s.conf.get(isolationKey) == "false")
    val user = spark.newSession()
    user.conf.set(isolationKey, "true")
    Native.register(user)
    Native.register(user)
    assert(user.conf.get(isolationKey) == "true")
  }

  test("a second register changes no conf") {
    val s = spark.newSession()
    Native.register(s)
    val once = s.conf.getAll
    Native.register(s)
    assert(s.conf.getAll == once)
  }
}
