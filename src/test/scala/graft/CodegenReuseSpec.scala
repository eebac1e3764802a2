package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.Native
import org.apache.spark.metrics.source.CodegenMetrics

/** A warm pass reuses the classes the pass before it compiled, pinned with
  * no wall time involved: the count of Janino compiles does not drift with
  * machine speed.
  *
  * The rows are perfbench's `relational_short` workload plus its stream
  * row. One pass of the 12 relational rows needs about 200 distinct
  * generated classes, so Spark's default 100-entry cache evicts each before
  * its reuse; and a stream run executes on a cloned session, whose own
  * executor class loader misses the cache unless artifact isolation is off.
  * Both are set by `Native.register` (see its Scaladoc).
  *
  * A row may take either of two valid plans, and it compiles a plan the
  * first time it takes it, so one warm pass may still compile a few classes;
  * the spec runs two warm passes and asserts that one of them compiles
  * nothing (at Spark's defaults every warm pass recompiles well over 100).
  * With adaptive execution on, AQE picks the broadcast side of a
  * join between two small aggregates from whichever shuffle stage it sees
  * first (`join_null_safe_eq`, `agg_ab_welch_ttest`), so the passes run in
  * a child of the shared session with adaptive execution off. The child
  * installs before its first job, which fixes its isolation flag, and
  * caches the tables next, as perfbench's set-up does: a row that first
  * touches a table plans on its unmaterialized cache.
  */
class CodegenReuseSpec extends SparkSpec {

  private val rows =
    new ObjectMapper().readTree(new File("perfbench/workloads.json"))
      .get("relational_short").elements.asScala.map(_.asText).toSeq :+
      "stream_foreachbatch_sink"

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the shared session holds the install's codegen cache capacity") {
    assert(rows.size == 13)
    assert(spark.conf.get(Native.CodegenCacheKey) == "1024")
    assert(spark.conf.get(Native.IsolationKey) == "false")
  }

  test("a warm pass of the relational rows and the stream row compiles nothing") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    Native.register(s)
    Tables.names.foreach(t => Tables(s, sf, t).count())
    /** Classes compiled by each row's build and `noop` write. */
    def pass(): Seq[(String, Long)] = rows.map { id =>
      val c0 = compiled
      Registry.byId(id).run(s, sf).write.format("noop").mode("overwrite").save()
      id -> (compiled - c0)
    }
    val cold = pass().map(_._2).sum
    assert(cold > 0, "the first pass compiled nothing: the counter is not read")
    val warm = Seq.fill(2)(pass().filter(_._2 > 0))
    assert(warm.exists(_.isEmpty),
      s"both warm passes compiled classes: $warm (cold pass: $cold)")
  }
}
