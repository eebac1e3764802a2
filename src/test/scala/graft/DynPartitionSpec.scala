package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Proof that `sink_dynamic_partition_overwrite` rewrites ONLY the touched
  * partitions: the untouched priority directories must survive the dynamic
  * overwrite with their data files byte-identical (same paths, mtimes,
  * sizes), while the touched ones are replaced.
  */
class DynPartitionSpec extends SparkSpec {

  private def dataFiles(dir: Path): Map[String, (Long, Long)] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => (dir.relativize(p).toString,
        (Files.getLastModifiedTime(p).toMillis, Files.size(p))))
      .toMap

  test("dynamic overwrite leaves untouched partitions byte-identical") {
    val run = Files.createTempDirectory("graft_dpo_spec")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
        col("o_totalprice"))
    base.write.partitionBy("pri").mode("overwrite").parquet(run.toString)
    val touched = Set("1-URGENT", "2-HIGH")
    def part(p: String) = Paths.get(run.toString, s"pri=$p")
    val untouchedBefore = Seq("3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      .map(p => p -> dataFiles(part(p))).toMap
    val touchedBefore = touched.toSeq.map(p => p -> dataFiles(part(p))).toMap

    queries.Confs.scoped(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      base.filter(col("pri").isin(touched.toSeq: _*))
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .write.mode("overwrite").partitionBy("pri").parquet(run.toString))

    for ((p, before) <- untouchedBefore)
      assert(dataFiles(part(p)) == before,
        s"partition $p was rewritten by a 2-partition dynamic overwrite")
    for ((p, before) <- touchedBefore)
      assert(dataFiles(part(p)) != before, s"partition $p was NOT replaced")
    // And the read-back carries the uplift exactly where expected.
    val sums = spark.read.parquet(run.toString)
      .groupBy("pri").agg(sum("o_totalprice").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val orig = base.groupBy("pri").agg(sum("o_totalprice").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((p, s) <- sums)
      if (touched(p)) assert(s > orig(p), p) else assert(s == orig(p), p)
  }
}
