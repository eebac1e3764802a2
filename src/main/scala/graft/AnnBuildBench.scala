package graft

import org.apache.spark.sql.SparkSession

/** ANN-graph BUILD scale probe (VERDICT r17 item 2: "record a 10x delta on
  * the BUILD, not just the walk").
  *
  * Two questions, answered on (sf0.1, synthetic sf1 = ScaleGen 10x):
  *
  *  1. REGISTRY SHAPE — the staged layer-0 build over the fixed 200-node
  *     shard (`SimOps.annEdges`): its cost must be corpus-size-INDEPENDENT
  *     (a production graph index shards the corpus by LSH cell and builds
  *     per shard — more data means more shards, not bigger ones). Probe:
  *     bounded build time at slice=200 on both dirs; the 10x delta should
  *     sit near 1 (scan-side pruning pays the only growth). Also records
  *     the staged first-call vs re-read times (the amortization the
  *     registry path banks on).
  *
  *  2. DESIGN MARGIN — what if the SHARD itself grew 10x? Probe: bounded
  *     vs exact build over slice=2000 on the big dir. The exact build is
  *     quadratic in the slice; the LSH candidate set on THIS corpus
  *     (uniform-random synthetic embeddings — LSH's worst case, no
  *     neighbor structure) is ~82% of all pairs, so the bounded build's
  *     win here is structural (the (t, bucket) equi-join key — no full
  *     pairwise product is ever materialized, and candidates shrink on
  *     clustered real-world embeddings), not a constant-factor one.
  *
  * Emits ONE JSON line:
  * `{"metric":"ann_build","runs":[{"dir":...,"slice":n,"bounded_sec":...,
  * "exact_sec":...,"staged_first_sec":...,"staged_reread_sec":...},...]}`.
  */
object AnnBuildBench {

  private def newSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The builds run SimOps internals directly, not through `Q.run`.
    functions.Native.register(s)
    s
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val small = args.headOption.getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$big/embeddings.parquet")))
      ScaleGen.main(Array(small, big, "10"))

    val legs = Seq((small, 200L), (big, 200L), (big, 2000L))
    val rows = legs.map { case (dir, slice) =>
      // Fresh session per leg: cold staging, cold table cache; warm the
      // embeddings cache first so build timings measure the build.
      val s = newSession(cpus)
      Tables(s, dir, "embeddings").count()
      def sink(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def minOf2(f: => Unit): Double = math.min(time(f), time(f))
      val bounded = minOf2(sink(graft.queries.SimOps
        .annEdgesBuild(s, dir, sample = false, k = 4, bounded = true, slice)))
      val exact = minOf2(sink(graft.queries.SimOps
        .annEdgesBuild(s, dir, sample = false, k = 4, bounded = false, slice)))
      // Staged amortization only meaningful at the registry slice.
      val (first, reread) =
        if (slice == 200L) {
          val f = time(sink(graft.queries.SimOps
            .annEdges(s, dir, sample = false, k = 4)))
          val r = time(sink(graft.queries.SimOps
            .annEdges(s, dir, sample = false, k = 4)))
          (f, r)
        } else (Double.NaN, Double.NaN)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      def j(v: Double) = if (v.isNaN) "null" else f"$v%.3f"
      s"""{"dir":"$dir","slice":$slice,"bounded_sec":${j(bounded)},""" +
        s""""exact_sec":${j(exact)},"staged_first_sec":${j(first)},""" +
        s""""staged_reread_sec":${j(reread)}}"""
    }
    println(s"""{"metric":"ann_build","runs":[${rows.mkString(",")}]}""")
  }
}
