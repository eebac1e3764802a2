package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

import graft.queries.SimOps

/** The one exact-cosine kNN ranking, `SimOps.cosTopK`, on a hand-made
  * frame whose candidates repeat vectors: duplicates and scaled copies
  * tie exactly, and one near-copy ties only once rounded to 6 dp.
  */
class CosTopKSpec extends SparkSpec {

  /** Query id -> vector, and candidate id -> vector. */
  private val queries = Seq(1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f))
  private val cands = Seq(
    15L -> Seq(1f, 0f, 0f),
    11L -> Seq(1f, 0f, 0f),       // duplicate of 15
    13L -> Seq(2f, 0f, 0f),       // scaled copy of 15
    12L -> Seq(1f, 1e-4f, 0f),    // cosine to query 1 is 1 only at 6 dp
    14L -> Seq(0f, 1f, 0f),
    10L -> Seq(1f, 1f, 0f),
    16L -> Seq(0.5f, 0.5f, 0f))   // scaled copy of 10

  /** Every (query, candidate) pair, with the candidate's id parity as a
    * carried label.
    */
  private def pairs: DataFrame = {
    import spark.implicits._
    (for ((q, qe) <- queries; (c, ce) <- cands) yield (q, qe, c, ce, (c % 2).toInt))
      .toDF("qa", "ea", "qb", "eb", "lb")
      .repartition(3)
  }

  /** (qa, qb, cos, rn) of `cosTopK` over [[pairs]], by (qa, rn). */
  private def topK(k: Int): Seq[(Long, Long, Double, Int)] =
    SimOps.cosTopK(pairs, "qa", "qb", k).collect().toSeq
      .map(r => (r.getAs[Long]("qa"), r.getAs[Long]("qb"),
        r.getAs[Double]("cos"), r.getAs[Int]("rn")))
      .sortBy(r => (r._1, r._4))

  test("cosines that tie at 6 dp rank by candidate id") {
    val q1 = pairs.filter(col("qa") === 1L)
      .select(col("qb"), SimOps.ncos(col("ea"), col("eb")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Unrounded, the near-copy 12 ranks below the exact copies.
    assert(q1(12L) < q1(15L) && q1(11L) == q1(15L) && q1(13L) == q1(15L))
    val top = topK(3)
    assert(top.filter(_._1 == 1L) ==
      Seq((1L, 11L, 1.0, 1), (1L, 12L, 1.0, 2), (1L, 13L, 1.0, 3)))
    assert(top.filter(_._1 == 2L) ==
      Seq((2L, 14L, 1.0, 1), (2L, 10L, 0.707107, 2), (2L, 16L, 0.707107, 3)))
  }

  test("each query keeps at most k rows") {
    for (k <- 1 to cands.size + 1) {
      val perQuery = topK(k).groupBy(_._1).map { case (q, rs) => q -> rs.size }
      assert(perQuery == queries.map(_._1 -> math.min(k, cands.size)).toMap, s"k=$k")
    }
  }

  test("each row's rn is its row number by (cos DESC, id)") {
    val all = topK(cands.size)
    for ((q, rows) <- all.groupBy(_._1)) {
      val byDialect = rows.sortBy(r => (-r._3, r._2))
      assert(byDialect.map(_._4) == (1 to cands.size), s"query $q")
    }
  }

  test("the carried columns, rank name and reported rows") {
    val kept = SimOps.cosTopK(pairs, "qa", "qb", 2, rn = "rn_s", keep = Seq("lb"))
    assert(kept.columns.toSeq == Seq("qa", "qb", "lb", "cos", "rn_s"))
    assert(kept.collect().forall(r => r.getAs[Int]("lb") == r.getAs[Long]("qb") % 2))
    val rows = SimOps.cosTopKRows(pairs, 3)
    assert(rows.schema("rn").dataType == IntegerType)
    assert(rows.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))) == topK(3))
  }
}
