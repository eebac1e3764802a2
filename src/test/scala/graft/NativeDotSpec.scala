package graft

import org.apache.spark.sql.functions._

/** graft.functions.DotProduct: bit-equality with the declarative
  * higher-order-function form, null handling, and codegen participation.
  */
class NativeDotSpec extends SparkSpec {

  test("native dot is bit-equal to aggregate(zip_with(...)) on all embeddings") {
    import graft.queries.SimOps.{dot, ndot}
    val e = Tables(spark, sf, "embeddings")
    val bad = e.select(
      dot(col("embedding"), col("embedding")).as("d"),
      ndot(col("embedding"), col("embedding")).as("n"))
      .filter(col("d") =!= col("n")) // bit-inequality (exact, not approx)
    assert(bad.count() == 0)
  }

  test("null array yields null") {
    val df = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS d")
    assert(df.collect().head.isNullAt(0))
  }

  test("known value: dot([1,2,3],[4,5,6]) = 32") {
    val d = spark.sql(
      """SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT), CAST(3 AS FLOAT)),
        |                 array(CAST(4 AS FLOAT), CAST(5 AS FLOAT), CAST(6 AS FLOAT))) AS d
        |""".stripMargin)
    assert(d.collect().head.getDouble(0) == 32.0)
  }

  test("non-float-array input is rejected at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1, 2), array(3, 4))").collect()
    }
    assert(e.getMessage.contains("ARRAY<FLOAT>"), e.getMessage)
  }

  test("fused cosine is bit-equal to ndot/(nnorm*nnorm) on shifted pairs") {
    import graft.queries.SimOps.{ncos, ndot, nnorm}
    val e = Tables(spark, sf, "embeddings")
    // Pair each vector with its successor's embedding (non-trivial pairs).
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val pairs = e.select(col("vec_id"), col("embedding").as("ea"))
      .withColumn("eb", lead(col("ea"), 1).over(w))
      .filter(col("eb").isNotNull)
    val bad = pairs.select(
      ncos(col("ea"), col("eb")).as("fused"),
      (ndot(col("ea"), col("eb")) / (nnorm(col("ea")) * nnorm(col("eb"))))
        .as("composed"))
      .filter(col("fused") =!= col("composed")) // exact, not approx
    assert(bad.count() == 0)
  }

  test("cosine of a vector with itself is exactly 1 for nonzero vectors") {
    import graft.queries.SimOps.ncos
    // ab == aa == bb in the fused loop, so ab/(sqrt(aa)*sqrt(bb)) == 1.0
    // whenever sqrt is exact-inverse — holds for aa*1.0; assert within ulp.
    val bad = Tables(spark, sf, "embeddings")
      .select(ncos(col("embedding"), col("embedding")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-12)
    assert(bad.count() == 0)
  }

  test("dot stays inside whole-stage codegen (no CodegenFallback)") {
    import graft.queries.SimOps.ndot
    val df = Tables(spark, sf, "embeddings")
      .select(ndot(col("embedding"), col("embedding")).as("d"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p)
  }

  // ---- fused PQ kernels (graft.functions.{MatVec, PqEncode, PqLut}) ----

  /** Deterministic synthetic weights (no RNG in tests): w(o)(i) from a
    * sine lattice, full float precision so bit-equality is meaningful.
    */
  private def synMat(rows: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(rows, dim)((o, i) => math.sin(o * dim + i + 1).toFloat)

  private def synCb(subs: Int, codes: Int, subdim: Int): Array[Array[Array[Float]]] =
    Array.tabulate(subs, codes, subdim)((s, c, i) =>
      math.cos(s * 1000 + c * 50 + i + 1).toFloat)

  test("graft_matvec is bit-equal to the 64-column array(graft_dot(vec, lit(row)).cast(float)) form") {
    val w = synMat(64, 64)
    val composed = array(w.toIndexedSeq.map(r =>
      call_function("graft_dot", col("embedding"),
        array(r.toIndexedSeq.map(lit): _*)).cast("float")): _*)
    val fused = call_function("graft_matvec", col("embedding"),
      typedLit(w.map(_.toIndexedSeq).toIndexedSeq))
    val bad = Tables(spark, sf, "embeddings")
      .select(composed.as("c"), fused.as("f"))
      .filter(col("c") =!= col("f"))
    assert(bad.count() == 0)
  }

  test("graft_pq_encode is bit-equal to the array_position(array_min) chain") {
    val (subs, codes, subdim) = (4, 16, 16)
    val cb = synCb(subs, codes, subdim)
    def cc(s: Int, c: Int): Double =
      cb(s)(c).foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    def subv(s: Int) = slice(col("embedding"), s * subdim + 1, subdim)
    val composed = (0 until subs).map { s =>
      val ds = array((0 until codes).map(c =>
        lit(cc(s, c)) - lit(2.0) * call_function("graft_dot", subv(s),
          array(cb(s)(c).toIndexedSeq.map(lit): _*))): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int").as(s"cc$s")
    }
    val fused = call_function("graft_pq_encode", col("embedding"),
      typedLit(cb.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
    val df = Tables(spark, sf, "embeddings")
      .select((fused.as("pc") +: composed): _*)
    val bad = df.filter((0 until subs).map(s =>
      element_at(col("pc"), s + 1) =!= col(s"cc$s")).reduce(_ || _))
    assert(bad.count() == 0)
  }

  test("graft_pq_lut is bit-equal to the 64 (selfdot - 2*dot + cc) projection columns") {
    val (subs, codes, subdim) = (4, 16, 16)
    val cb = synCb(subs, codes, subdim)
    def cc(s: Int, c: Int): Double =
      cb(s)(c).foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    def subv(s: Int) = slice(col("embedding"), s * subdim + 1, subdim)
    def nd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val composed = array((for (s <- 0 until subs; c <- 0 until codes) yield
      nd(subv(s), subv(s)) - lit(2.0) * nd(subv(s),
        array(cb(s)(c).toIndexedSeq.map(lit): _*)) + lit(cc(s, c))): _*)
    val fused = call_function("graft_pq_lut", col("embedding"),
      typedLit(cb.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
    val bad = Tables(spark, sf, "embeddings")
      .select(composed.as("c"), fused.as("f"))
      .filter(col("c") =!= col("f"))
    assert(bad.count() == 0)
  }

  /** Regression for the round-14 silent fallback: a >16-dot projection over
    * NON-NULLABLE inputs (the pqCodesDf shape on a rotated/checkpointed
    * source) made `nullSafeCodeGen` take its non-nullable branch where
    * `ev.isNull` is never declared, and the old body's `ev.isNull = true`
    * write then failed Janino ("isNull_26 is not an rvalue") — dropping the
    * whole PQ family to interpreted execution. CODEGEN_ONLY turns any such
    * compile failure into a hard error instead of a WARN.
    */
  test("wide dot projection over non-nullable inputs compiles under CODEGEN_ONLY") {
    queries.Confs.scoped(spark, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      // range id is non-nullable and transform of non-null lambdas keeps
      // containsNull=false — so every graft_dot below has nullable=false.
      val v = transform(sequence(lit(1), lit(64)),
        x => (x.cast("double") * (col("id") + 1)).cast("float"))
      val df = spark.range(256).select(v.as("emb"))
        .select(array((0 until 64).map(o =>
          lit(o.toDouble) - lit(2.0) * call_function("graft_dot",
            slice(col("emb"), (o % 4) * 16 + 1, 16),
            array(synMat(64, 16)(o).toIndexedSeq.map(lit): _*))): _*).as("ds"))
      assert(df.agg(sum(element_at(col("ds"), 1))).collect().head.get(0) != null)
    }
  }
}
