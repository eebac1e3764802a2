package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** [[graft.queries.Staged]], the one cross-query memo: session-identity
  * keying with eviction that releases blocks, at-most-once builds under
  * concurrent first access, and session-private staged file layouts.
  */
class StagedSpec extends SparkSpec {

  import graft.queries.Staged

  private def frame(tag: Int) =
    spark.range(3).select(col("id"), lit(tag).as("tag"))

  test("two sessions never share a staged frame") {
    val builds = new AtomicInteger(0)
    val child = spark.newSession()
    val a = Staged(spark, sf, "spec_share") { builds.incrementAndGet(); frame(1) }
    val b = Staged(child, sf, "spec_share") { builds.incrementAndGet(); frame(2) }
    // One build per session — the child never reads the parent's artifact.
    assert(builds.get() == 2, s"expected 2 builds, got ${builds.get()}")
    assert(a.select("tag").head().getInt(0) == 1)
    assert(b.select("tag").head().getInt(0) == 2)
    // And re-reads hit the memo (no third build).
    Staged(spark, sf, "spec_share")(frame(9)).collect()
    Staged(child, sf, "spec_share")(frame(9)).collect()
    assert(builds.get() == 2, "re-read rebuilt a memoized artifact")
    Staged.invalidate(child)
  }

  test("retired sessions evict and a later staging rebuilds") {
    val builds = new AtomicInteger(0)
    val child = spark.newSession()
    Staged(child, sf, "spec_evict") { builds.incrementAndGet(); frame(1) }
      .collect()
    val before = Staged.size
    assert(Staged.invalidate(child) == 1, "expected exactly one entry evicted")
    assert(Staged.size == before - 1)
    // A new staging under the same (dir, key) on a fresh session rebuilds —
    // nothing of the retired session's state is served.
    val again = spark.newSession()
    val df = Staged(again, sf, "spec_evict") { builds.incrementAndGet(); frame(7) }
    assert(builds.get() == 2, "eviction did not force a rebuild")
    assert(df.select("tag").head().getInt(0) == 7)
    Staged.invalidate(again)
  }

  test("concurrent first access builds the artifact exactly once") {
    val builds = new AtomicInteger(0)
    val child = spark.newSession()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    val races = (1 to 8).map { _ =>
      Future {
        gate.await()
        Staged(child, sf, "spec_race") { builds.incrementAndGet(); frame(3) }
          .count()
      }
    }
    gate.countDown()
    val counts = Await.result(Future.sequence(races), 60.seconds)
    assert(counts.forall(_ == 3L))
    assert(builds.get() == 1,
      s"concurrent first access ran the build ${builds.get()} times")
    Staged.invalidate(child)
  }

  test("a non-frame value builds once per session; a fresh session rebuilds") {
    val builds = new AtomicInteger(0)
    val child = spark.newSession()
    def params(s: org.apache.spark.sql.SparkSession) =
      Staged.memo(s, sf, "spec_params")(Array(builds.incrementAndGet().toFloat))
    val a = params(spark)
    assert(params(spark) eq a, "re-read rebuilt a staged value")
    val b = params(child)
    assert(builds.get() == 2, s"expected one build per session, got ${builds.get()}")
    assert(b.toSeq == Seq(2f))
    // Learned quantizers are staged the same way: a fresh session trains
    // its own instead of serving one trained for another session. Training
    // runs graft_* functions, which `Q` would otherwise have installed.
    graft.functions.Native.register(child)
    val q = graft.ml.Quantizers.ivf(child, sf)
    assert(graft.ml.Quantizers.ivf(child, sf) eq q)
    assert(graft.ml.Quantizers.ivf(spark, sf) ne q)
    Staged.invalidate(child)
  }

  test("invalidate drops a child session's Tables entries and their cache") {
    import org.apache.spark.storage.StorageLevel
    val own = java.nio.file.Files.createTempDirectory("graft_staged_spec").toString
    spark.range(5).toDF("r_regionkey").write.parquet(s"$own/region.parquet")
    val child = spark.newSession()
    Tables(spark, sf, "region").count()
    Tables(child, sf, "region").count()
    val mine = Tables(child, own, "region")
    assert(mine.count() == 5 && mine.storageLevel != StorageLevel.NONE)
    assert(Staged.invalidate(child) == 2, "expected the two table entries evicted")
    assert(Staged.invalidate(child) == 0)
    // The child's own table is uncached; the one it shared with the parent
    // session stays cached for the parent.
    assert(mine.storageLevel == StorageLevel.NONE)
    assert(Tables(spark, sf, "region").storageLevel != StorageLevel.NONE)
    queries.Scratch.register(own)
  }

  test("two sessions staging the same file layout get different paths") {
    val a = spark.newSession()
    val b = spark.newSession()
    val pa = queries.Scans.bloomIndexedPath(a, sf)
    val pb = queries.Scans.bloomIndexedPath(b, sf)
    assert(pa != pb, "two sessions share one staged layout path")
    assert(queries.Scans.bloomIndexedPath(a, sf) == pa)
    assert(spark.read.parquet(pa).count() == spark.read.parquet(pb).count())
    Staged.invalidate(a)
    Staged.invalidate(b)
  }
}
