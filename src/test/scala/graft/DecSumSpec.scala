package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** graft.functions.DecSum: bit-equality with the declarative
  * `SUM(CAST(x AS DECIMAL(p,s))).cast(double)` dialect it replaces,
  * including the null/NaN/row-overflow edge semantics.
  */
class DecSumSpec extends SparkSpec {

  private def both(c: org.apache.spark.sql.Column, p: Int, s: Int) = (
    sum(c.cast(DecimalType(p, s))).cast("double").as("decl"),
    call_function("graft_dsum", c.cast("double"), lit(p), lit(s)).as("typed"))

  test("bit-equal to the declarative decimal sum on every numeric measure, grouped") {
    Tables(spark, sf, "region").count() // ensure registration via Tables
    val li = Tables(spark, sf, "lineitem")
    val x = col("l_quantity"); val y = col("l_extendedprice")
    for ((expr, p, s) <- Seq(
        (x, 18, 6), (y, 18, 6), (x * x, 30, 10), (y * y, 30, 10),
        (x * y, 30, 10), (x - y * 0.3, 18, 6))) {
      val (d, t) = both(expr, p, s)
      val bad = li.groupBy(col("l_returnflag")).agg(d, t)
        .filter(col("decl") =!= col("typed") ||
          col("decl").isNull =!= col("typed").isNull)
      assert(bad.count() == 0, s"mismatch for ($p,$s) on $expr")
    }
  }

  test("adversarial doubles: bit-equal across magnitude bands, signs, and denormals") {
    import spark.implicits._
    // Deterministic pseudo-random doubles across the magnitudes that FIT
    // each decimal type (ANSI mode makes the declarative cast THROW on
    // overflow, so out-of-range magnitudes are exercised separately below),
    // plus exact-decimal-looking values and denormals.
    def vals(maxMag: Int) = (1 to 20000).flatMap { i =>
      val r = new scala.util.Random(i) // seeded => reproducible
      Seq(
        r.nextDouble() * math.pow(10, (i % (maxMag + 18)) - 18) *
          (if (i % 2 == 0) 1 else -1),
        math.rint(r.nextDouble() * 1e8) / 100.0,
        (i * 0.5e-6) * (if (i % 3 == 0) -1 else 1),
        java.lang.Double.longBitsToDouble(r.nextLong() & 0x000FFFFFFFFFFFFFL))
    }
    for ((p, s, maxMag) <- Seq((18, 6, 11), (30, 10, 19))) {
      val df = vals(maxMag).toDF("v").withColumn("g", abs(hash(col("v"))) % 50)
      val (d, t) = both(col("v"), p, s)
      val bad = df.groupBy("g").agg(d, t)
        .filter(col("decl") =!= col("typed") ||
          col("decl").isNull =!= col("typed").isNull)
      assert(bad.count() == 0, s"adversarial mismatch at ($p,$s)")
    }
  }

  test("nulls, NaN, infinities skip; empty group yields null; row cast-overflow skips") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Double)](
      (1, 1.5), (1, null), (1, Double.NaN), (1, Double.PositiveInfinity),
      (1, Double.NegativeInfinity),
      (2, null), (2, Double.NaN),
      (3, 1e13), // exceeds DECIMAL(18,6)'s 12 integral digits
      (3, 2.25)).toDF("g", "v")
    val t = call_function("graft_dsum", col("v"), lit(18), lit(6)).as("typed")
    val rows = df.groupBy("g").agg(t).orderBy("g").collect()
    assert(rows.length == 3)
    // g=1: null/NaN/±Inf all skip; only 1.5 contributes.
    assert(rows(0).getDouble(1) == 1.5)
    // g=2: no castable input -> null sum.
    assert(rows(1).isNullAt(1))
    // g=3: the row whose integral digits exceed p-s is skipped (the
    // non-ANSI cast-to-null semantics; ANSI's declarative cast would THROW
    // here, and the engine's data never overflows either dialect).
    assert(rows(2).getDouble(1) == 2.25)
  }

  test("shuffle/merge order independence: repartitioned sums are identical") {
    Tables(spark, sf, "region").count()
    val li = Tables(spark, sf, "lineitem")
    val t1 = li.agg(call_function("graft_dsum",
      (col("l_quantity") * col("l_extendedprice")).cast("double"),
      lit(30), lit(10))).collect().head.getDouble(0)
    val t2 = li.repartition(17, col("l_orderkey"))
      .agg(call_function("graft_dsum",
        (col("l_quantity") * col("l_extendedprice")).cast("double"),
        lit(30), lit(10))).collect().head.getDouble(0)
    assert(t1 == t2)
  }

  test("foldable NULL (p, s) fails analysis cleanly, not with an NPE") {
    import spark.implicits._
    val df = Seq(1.0, 2.0).toDF("v")
    df.createOrReplaceTempView("decsum_null_ps")
    for (sql <- Seq(
        "SELECT graft_dsum(v, CAST(NULL AS INT), 2) FROM decsum_null_ps",
        "SELECT graft_dsum(v, 18, CAST(NULL AS INT)) FROM decsum_null_ps")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect())
      assert(e.getMessage.contains("non-NULL literal INT"), e.getMessage)
    }
  }
}
