package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (all suites run in the single forked test
  * JVM; `local[4]`, 4 shuffle partitions, UTC — the Verify/Bench config).
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Specs call operators directly, not through `Q.run`: install once.
    graft.functions.Native.register(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Deterministic (seed=42) driver-generated testdata, smallest sf. */
  val sf = "/root/testdata/sf0.001"
}
