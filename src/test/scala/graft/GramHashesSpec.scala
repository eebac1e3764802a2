package graft

import org.apache.spark.sql.functions._

/** The native one-pass gram expressions must be bit-equal to the
  * declarative forms they replace in `dedup_repeated_spans` (including
  * first-occurrence order for the distinct hashes) — on the real fixture
  * and on multibyte/short/empty edge strings.
  */
class GramHashesSpec extends SparkSpec {

  private def fixture = {
    Tables(spark, sf, "documents")
      .select(col("doc_id"), lower(col("text")).as("tx"))
      .filter(length(col("tx")) >= 20)
  }

  private def edge = {
    import spark.implicits._
    Seq(
      (1L, "héllo wörld ünïcode — ascii and not"),
      (2L, "ααββγγδδεεζζηηθθιικκλλμμ"),
      (3L, "short"),
      (4L, ""),
      (5L, "exactly twenty chars"),
      (6L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaa")) // all-duplicate grams
      .toDF("doc_id", "tx")
  }

  private def assertSame(
      df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    // sequence(1, stop) DESCENDS when stop < 1, so the declarative twin
    // needs an explicit empty-array guard for strings shorter than n (the
    // query itself filters length >= 20 before either pass).
    val native = df.select(col("doc_id"),
      call_function("graft_gram_hashes", col("tx"), lit(n)).as("v"))
    val decl = df.select(col("doc_id"),
      when(length(col("tx")) >= n, array_distinct(expr(
        s"transform(sequence(1, length(tx)-${n - 1}), " +
          s"i -> xxhash64(substring(tx, i, $n)))")))
        .otherwise(expr("cast(array() as array<bigint>)")).as("v"))
    assert(native.exceptAll(decl).isEmpty && decl.exceptAll(native).isEmpty,
      s"graft_gram_hashes(n=$n) diverges from declarative form")
    val ng = df.select(col("doc_id"),
      call_function("graft_grams", col("tx"), lit(n)).as("v"))
    val dg = df.select(col("doc_id"),
      when(length(col("tx")) >= n, expr(
        s"transform(sequence(1, length(tx)-${n - 1}), " +
          s"i -> substring(tx, i, $n))"))
        .otherwise(expr("cast(array() as array<string>)")).as("v"))
    assert(ng.exceptAll(dg).isEmpty && dg.exceptAll(ng).isEmpty,
      s"graft_grams(n=$n) diverges from declarative form")
  }

  test("native gram exprs equal declarative forms on the documents fixture") {
    assertSame(fixture, 20)
  }

  test("native gram exprs equal declarative forms on multibyte/edge strings") {
    assertSame(edge, 20)
    assertSame(edge, 3)
    assertSame(edge, 1)
  }
}
