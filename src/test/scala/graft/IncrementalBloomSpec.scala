package graft

import org.apache.spark.sql.functions._

/** Contract of `dedup_incremental_bloom`: the bloom prefilter is a pure
  * pruning step — it must be invisible in the result (no false negatives,
  * FPs removed by the exact confirm join) while actually pruning the new
  * batch before the shuffle.
  */
class IncrementalBloomSpec extends SparkSpec {

  test("bloom-prefiltered result equals the exact no-bloom twin") {
    val withBloom = queries.DedupOps.incrementalDedup(spark, sf, useBloom = true)
      .collect().map(_.toSeq).toSeq
    val exact = queries.DedupOps.incrementalDedup(spark, sf, useBloom = false)
      .collect().map(_.toSeq).toSeq
    assert(withBloom == exact)
  }

  test("the prefilter prunes: candidates cover all dups but not the batch") {
    val bloom = queries.DedupOps.snapshotBloom(spark, sf)
    val fp = md5(array_join(array_sort(array_distinct(
      split(lower(col("text")), " "))), " "))
    val newB = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 5 === 4).select(fp.as("h"))
    val nNew = newB.count()
    val nCand = newB.filter(call_function("graft_might_contain",
      lit(bloom), xxhash64(col("h")))).count()
    val nDup = queries.DedupOps.incrementalDedup(spark, sf, useBloom = false)
      .agg(sum("n_dup")).collect().head.getLong(0)
    assert(nCand >= nDup, s"false negatives: $nCand candidates < $nDup dups")
    assert(nCand < nNew,
      s"no pruning: $nCand candidates of $nNew new docs (bloom useless)")
  }
}
