package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.K (vectors) — similarity search + multimodal columns.
  *
  * Exact brute-force cosine top-k is the correctness baseline;
  * `sim_ann_lsh_topk` is the sub-linear scale path (random-hyperplane LSH:
  * each vector hashes to one of 2^8 buckets, candidate search stays inside
  * the bucket — at 100 TB the bucket id becomes the shuffle/partition key and
  * no full pairwise join ever forms). Dot products fold left-to-right (Spark
  * `aggregate`, DuckDB `list_sum`) so both engines produce the identical
  * IEEE double.
  */
object SimOps extends QueryPack {

  /** Samples per synthetic audio clip (`multimodal_audio_frame_energy`). */
  private[graft] val AudioClipSamples = 64

  /** Closed-form sample i of a doc's synthetic clip as an unsigned 16-bit
    * value (0..65535) — an integer LCG of (doc_id, i): all-long
    * arithmetic with positive operands, so Spark % == DuckDB % exactly
    * and the JVM replay in Round20OpsSpec is bit-identical.
    */
  private[graft] def audioU16(i: Column): Column =
    (col("doc_id") * 7919L + i.cast("long") * 104729L + 12345L) % 65536L

  /** PCM16LE encode of the synthetic clip: per sample the TWO'S-COMPLEMENT
    * 16-bit pattern of the signed sample s = u − 32768 (pattern =
    * (u + 32768) mod 2¹⁶ — the sign bit flips, NOT offset-binary; the
    * ByteBuffer leg of Round20OpsSpec caught exactly that mix-up), low
    * byte then high byte, folded into one hex string and unhex'd into a
    * real BINARY column. Shared between the registry row and the layout
    * spec so the spec pins THE row's bytes, not a copy.
    */
  private[graft] def audioPcm16le: Column = unhex(aggregate(
    sequence(lit(0), lit(AudioClipSamples - 1)), lit(""),
    (acc, i) => {
      val v = (audioU16(i) + 32768L) % 65536L
      concat(acc,
        lpad(hex(v.bitwiseAND(lit(255L))), 2, "0"),
        lpad(hex(shiftright(v, 8)), 2, "0"))
    }))

  /** Typed rows for the mapPartitions decode path. */
  final case class DocBlob(
      doc_id: Long, lang: String, source: String, blob: Array[Byte])
  final case class DocFeatures(
      doc_id: Long, lang: String, source: String, n_bytes: Int,
      content_md5: String, frame_w: Int, frame_h: Int, n_frames: Int)

  /** Sequential left-to-right dot product of two float-array columns —
    * declarative higher-order-function form (CodegenFallback; kept as the
    * readable reference implementation and for the NativeDotSpec
    * equivalence assertion).
    */
  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private[graft] def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native-codegen dot product (graft.functions.DotProduct) — bit-equal to
    * [[dot]], one fused loop inside whole-stage codegen. Queries call
    * [[native]] first to register it in the session.
    */
  private[graft] def ndot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private[graft] def nnorm(a: Column): Column = sqrt(ndot(a, a))

  /** Fused native cosine (graft.functions.CosineSim): one loop instead of
    * the three traversals of `ndot(a,b)/(nnorm(a)*nnorm(b))`; bit-equal to
    * that composed form (NativeDotSpec), so oracle results are unchanged.
    */
  private[graft] def ncos(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** The one exact-cosine kNN ranking: every kNN, ANN re-rank and
    * graph-over-kNN row ranks its candidate pairs here, and each oracle
    * spells its DuckDB twin,
    * `ROUND(<list_sum cosine>, 6) AS cos`, then
    * `row_number() OVER (PARTITION BY q ORDER BY cos DESC, c) AS rn`,
    * kept `WHERE rn <= k`. `pairs` holds query `q` with vector `ea` and
    * candidate `c` with vector `b`; the result is (q, c, keep..., cos,
    * rn). Both engines fold the cosine in the same order and round it to
    * 6 dp, so they rank the same value, and cosines that tie at 6 dp
    * rank by candidate id: the ranking is total and the top k is one set.
    */
  private[graft] def cosTopK(
      pairs: org.apache.spark.sql.DataFrame, q: String, c: String, k: Int,
      b: String = "eb", rn: String = "rn",
      keep: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    cosRanked(pairs, q, c, k, b, rn, keep)(identity)

  /** A kNN row's reported answer: [[cosTopK]] of (`qa`, `qb`) pairs as
    * (qa, qb, cos, rn) in the oracle's (qa, rn) order, `rn` spelled as
    * the oracle's `CAST(rn AS INT)`. `row_number` is already INT, so the
    * cast leaves every value as it is; it only moves the rank into a
    * projection over the window's `_we0`, the plan PLANS.md shows.
    */
  private[graft] def cosTopKRows(
      pairs: org.apache.spark.sql.DataFrame, k: Int,
      b: String = "eb"): org.apache.spark.sql.DataFrame =
    cosRanked(pairs, "qa", "qb", k, b, "rn", Nil)(_.cast("int"))
      .oracleOrder("qa", "rn")

  private def cosRanked(
      pairs: org.apache.spark.sql.DataFrame, q: String, c: String, k: Int,
      b: String, rn: String, keep: Seq[String])(
      rank: Column => Column): org.apache.spark.sql.DataFrame =
    pairs
      .select((col(q) +: col(c) +: keep.map(col)) :+
        round(ncos(col("ea"), col(b)), 6).as("cos"): _*)
      .withColumn(rn, rank(row_number().over(
        Window.partitionBy(q).orderBy(col("cos").desc, col(c)))))
      .filter(col(rn) <= k)

  /** Query-INDEPENDENT staged ANN-graph edge build (r17 items 2 + 6): the
    * (src, dst) top-`k` digraph over the fixed 200-node slice, self-loops
    * included, staged once per (session, dir) — the built-once graph
    * index of a production ANN deployment, which by definition cannot
    * know the queries.
    *
    * Layer 0 (`sample = false`) builds BOUNDED: multiprobe sign-LSH
    * candidate pairs ([[GraphLshTables]] x [[GraphLshBits]], probe side
    * expanded to the [[GraphLshBits]] one-bit-flip buckets) → exact
    * cosine re-rank of candidates only → top-k per src. No all-pairs
    * product ever forms: at 100 TB the (t, bucket) cell is the shuffle
    * key, candidate volume ~Σ|cell|² per table, and the probe expansion
    * is a 6x row multiplier on ONE side. Measured vs the exact-built
    * graph on sf0.001: 0.91 edge recall, identical beam-walk recall
    * (AnnRecallSpec gates both).
    *
    * Layer 1 (`sample = true`, the 1-in-8 node sample) builds EXACT over
    * the sampled pairs: upper HNSW layers shrink geometrically (1/8 per
    * level), so the exact product on them is bounded by construction —
    * the same split faiss uses (exact coarse quantizer, approximate
    * base). `bounded = false` forces the exact build on layer 0 too
    * (AnnRecallSpec's reference graph; staged under its own key).
    */
  private[graft] def annEdges(
      s: org.apache.spark.sql.SparkSession, dir: String,
      sample: Boolean, k: Int,
      bounded: Boolean = true): org.apache.spark.sql.DataFrame = {
    val key =
      if (sample) "hnsw_edges_l1"
      else if (bounded) "hnsw_edges_l0" else "hnsw_edges_l0_exact"
    Staged(s, dir, key) {
      val all = Tables(s, dir, "embeddings").filter(col("vec_id") < 200L)
        .select(col("vec_id"), col("embedding"))
      val n = if (sample) all.filter(col("vec_id") % 8 === 0) else all
      val pairs =
        if (sample || !bounded)
          broadcast(n.select(col("vec_id").as("src")))
            .crossJoin(n.select(col("vec_id").as("dst")))
            .filter(col("src") =!= col("dst"))
        else {
          val cells = (0 until GraphLshTables).map { t =>
            n.select(col("vec_id"), lit(t).as("t"),
              graphBucket(col("embedding"), t).cast("int").as("bucket"))
          }.reduce(_ unionAll _)
          val probes = ((-1) until GraphLshBits).map { i =>
            val p = if (i < 0) col("bucket")
                    else col("bucket").bitwiseXOR(lit(1 << i))
            cells.select(col("vec_id"), col("t"), p.cast("int").as("probe"))
          }.reduce(_ unionAll _)
          probes.as("x")
            .join(cells.as("y"),
              col("x.t") === col("y.t") && col("x.probe") === col("y.bucket") &&
                col("x.vec_id") =!= col("y.vec_id"))
            .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
            .distinct()
        }
      val withVecs = pairs
        .join(n.select(col("vec_id").as("src"), col("embedding").as("ea")),
          "src")
        .join(n.select(col("vec_id").as("dst"), col("embedding").as("eb")),
          "dst")
      cosTopK(withVecs, "src", "dst", k)
        .select("src", "dst")
        .union(n.select(col("vec_id").as("src"), col("vec_id").as("dst")))
    }
  }

  /** 5-sign-bit bucket of `e` in graph-LSH table `t` (planes 5t..5t+4). */
  private def graphBucket(e: Column, t: Int): Column = (0 until GraphLshBits)
    .map(i => when(ndot(e, planeLit(GraphLshBits * t + i)) > 0, 1 << i)
      .otherwise(0))
    .reduce(_ + _)

  /** The layered graph walk behind `sim_ann_graph_greedy` (parameterized
    * so AnnRecallSpec can compare layer and beam budgets at an equal total
    * hop count). Layer 0 = top-4 digraph built CANDIDATE-BOUNDED by
    * [[annEdges]] (multiprobe LSH → exact re-rank — r17 item 2); layer 1
    * = exact top-2 digraph over the deterministic 1-in-8 node sample
    * (`vec_id % 8 = 0` — entry node 0 belongs to it). The walk runs
    * `upperHops` greedy coarse steps from node 0, then `lowerHops`
    * BOUNDED-BEAM fine steps (HNSW ef-search's bounded candidate
    * frontier, relationally): each hop expands every beam member's
    * out-edges (self included, so the frontier never loses its best),
    * dedups, and keeps the top-`beamWidth` candidates per query by
    * (cos DESC, node). `beamWidth = 1` is exactly the old greedy descent;
    * `upperHops = 0` degenerates to the pure layer-0 walk. Requires
    * `lowerHops >= 1` (the beam carries its members' cosines from the
    * hop that admitted them).
    *
    * The STAGED index is (src, dst) only (r17 item 6) — the query side
    * joins on at WALK time: `qd` (|Q|·|V| query-node cosines) is one
    * broadcast-joined projection, and the per-walk (mq, src, dst, cos)
    * adjacency/transition tables derive from staged-edges ⋈ qd (tiny:
    * |Q|·(deg+1)·|V| rows; their build-side shuffles sit inside broadcast
    * subtrees and ReuseExchange dedups them across hops). The beam loop
    * itself still carries exactly ONE shuffle exchange (the repartition
    * on q below).
    */
  private[graft] def hnswGreedy(
      s: org.apache.spark.sql.SparkSession, dir: String,
      upperHops: Int, lowerHops: Int,
      beamWidth: Int = 1,
      boundedBuild: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(lowerHops >= 1, "beam walk needs at least one lower-layer hop")
    val emb = Tables(s, dir, "embeddings")
    val n = emb.filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    // A batch of 5 queries: the per-invocation qd/m1 derivations are paid
    // once per batch, so their cost per query falls ~|Q|-fold (measured in
    // BENCH_ISOLATION.json's graph-walk batch sweep, VERDICT r18 item 4).
    val qs = emb.filter(col("vec_id") >= 200 && col("vec_id") < 205)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    // Per-invocation |Q|·|V| query-node cosine table, materialized ONCE
    // (one tiny job) so the walk-time derivations below read a leaf
    // instead of re-running the cosine fold per derived-table copy. This
    // and the m1 checkpoint are the measured optimum (sf0.1 steady walk:
    // qd+m1 checkpointed 1.7 s; qd only 3.1 s; all three 2.0 s; none
    // 3.5 s) — the per-invocation derivation jobs are the honest price of
    // the query-INDEPENDENT staged index (r17 item 6): a production
    // deployment pays them once per query batch.
    val qd = broadcast(qs).crossJoin(n)
      .select(col("q"), col("vec_id").as("node"),
        round(ncos(col("qe"), col("embedding")), 6).as("cos"))
      .localCheckpoint()
    // The adjacency/transition tables' key is RENAMED (mq) before the
    // walk: walk and table share lineage through qs, and a
    // walk("q") === table("q") predicate would resolve both sides to the
    // same attribute (Spark's "trivially true equals" self-join hazard).
    var walk = qs.select(col("q"), lit(0L).as("cur"))
    if (upperHops > 0) {
      // qd is |Q|·|V| rows — BROADCAST both walk-time joins (unhinted they
      // statically plan as shuffle joins per hop copy: 58 hash exchanges).
      // m1 LOCALCHECKPOINTS: per-INVOCATION materialization of a
      // |Q|·|V_1| temp, NOT staging — nothing query-dependent is memoized
      // across invocations; uncheckpointed, its window shuffle re-plans
      // inside every coarse-hop copy (measured 3.1 s steady vs 1.7 s).
      val m1 = annEdges(s, dir, sample = true, k = 2)
        .join(broadcast(qd), col("dst") === col("node"))
        .select(col("q").as("mq"), col("src"), col("dst"), col("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("mq", "src").orderBy(col("cos").desc, col("dst"))))
        .filter(col("rn") === 1)
        .select(col("mq"), col("src"), col("dst").as("nxt"))
        .localCheckpoint()
      for (_ <- 1 to upperHops)
        walk = walk.join(broadcast(m1),
            col("q") === col("mq") && col("cur") === col("src"))
          .select(col("q"), col("nxt").as("cur"))
    }
    // Layer-0 adjacency = query-independent staged edges ⋈ walk-time qd —
    // deliberately NOT checkpointed: both inputs are leaves, so each hop
    // copy is one reusable broadcast exchange over a 2-leaf join, and a
    // third materialization job only added latency (2.0 s vs 1.7 s).
    val adj = annEdges(s, dir, sample = false, k = 4, bounded = boundedBuild)
      .join(broadcast(qd), col("dst") === col("node"))
      .select(col("q").as("mq"), col("src"), col("dst"), col("cos"))
    val wb = Window.partitionBy("q").orderBy(col("cos").desc, col("dst"))
    // ONE exchange for the whole beam walk: every per-hop operator below
    // (broadcast join, distinct, per-q window, final stats/terminus) only
    // needs clustering by q, and HashPartitioning(q) satisfies each one's
    // required distribution — so after this repartition all `lowerHops`
    // hops are narrow (local sorts only, no further shuffles).
    var beam = walk.repartition(col("q")) // (q, cur); cos joins on at the first beam hop
    for (_ <- 1 to lowerHops)
      beam = beam.select(col("q"), col("cur"))
        .join(broadcast(adj),
          col("q") === col("mq") && col("cur") === col("src"))
        .select(col("q"), col("dst"), col("cos")).distinct()
        .withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= beamWidth)
        .select(col("q"), col("dst").as("cur"), col("cos"))
    // Final: the beam's best terminus (found, cos6) plus the order-free
    // beam diagnostics (worst member cosine, beam fill).
    val wf = Window.partitionBy("q").orderBy(col("cos").desc, col("cur"))
    val stats = beam.groupBy(col("q").as("sq")).agg(
      min(col("cos")).as("worst6"),
      count(lit(1)).cast("int").as("n_beam"))
    beam.withColumn("rn", row_number().over(wf)).filter(col("rn") === 1)
      .join(stats, col("q") === col("sq"))
      .select(col("q"), col("cur").as("found"), col("cos").as("cos6"),
        col("worst6"), col("n_beam"))
      .oracleOrder("q")
  }

  /** SemDeDup cluster assignment: nearest centroid (first-minimal, ties by
    * cid) plus the cosine to it. Shared by `dedup_semantic_embcluster` and
    * SemScaleSpec's pair-work probe, so the spec measures exactly the
    * clustering the query runs. Centroids enter as a broadcast k-row frame;
    * vectors never shuffle for the assignment itself (the window is keyed
    * by vec_id — at scale this is the same argmin-over-k map-side fold the
    * IVF assignment uses).
    */
  private[graft] def semAssign(
      s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      cs: Array[Array[Float]]): org.apache.spark.sql.DataFrame = {
    val cents = s.createDataFrame(
      cs.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toIndexedSeq) })
      .toDF("cid", "ce")
    // The n·k candidate product carries ONE dot product per row: ce·ce is
    // a per-centroid scalar precomputed on the broadcast side (same ndot
    // expression on the same floats → bit-identical double), and centsim
    // is only computed for the winning assignment below — n evaluations,
    // not n·k. The previous form evaluated ~5 64-dim folds per candidate.
    val cents2 = cents.select(col("cid"), col("ce"),
      ndot(col("ce"), col("ce")).as("cc"))
    // Candidate set per vector: ALL k centroids while k is small; above
    // CoarseThreshold, a two-level (coarse→fine) probe. With the SemDeDup
    // contract k ∝ n, the flat n·k product is O(n²/64) — the r13 10x scale
    // probe measured slope 12 on it — while coarse cells of ~√k fine
    // centroids cut the per-vector work to ~2√k dots (the faiss-IVF
    // assignment shape). The coarse centroids AND the fine→cell map are
    // computed once on the driver and embedded as literals in BOTH the
    // plan and the generated DuckDB oracle, so the two-level rule itself
    // cannot drift between engines.
    val dists = coarseCellsOf(cs) match {
      case None =>
        e.crossJoin(broadcast(cents2))
          .select(col("vec_id"), col("embedding"), col("cid"),
            (col("cc") - lit(2.0) * ndot(col("embedding"), col("ce"))).as("dist"))
      case Some((coarse, gidOf)) =>
        val coarseDf = s.createDataFrame(
          coarse.toIndexedSeq.zipWithIndex.map { case (g, i) => (i, g.toIndexedSeq) })
          .toDF("gid", "ge")
          .select(col("gid"), col("ge"), ndot(col("ge"), col("ge")).as("gcc"))
        val picked = e.crossJoin(broadcast(coarseDf))
          .select(col("vec_id"), col("embedding"), col("gid"),
            (col("gcc") - lit(2.0) * ndot(col("embedding"), col("ge"))).as("gdist"))
          .groupBy("vec_id")
          .agg(
            min_by(col("gid"), struct(col("gdist"), col("gid"))).as("gid"),
            first(col("embedding")).as("embedding"))
        val fineWithGid = s.createDataFrame(
          cs.toIndexedSeq.zipWithIndex.map { case (c, i) =>
            (i, gidOf(i), c.toIndexedSeq) })
          .toDF("cid", "gid", "ce")
          .select(col("cid"), col("gid"), col("ce"),
            ndot(col("ce"), col("ce")).as("cc"))
        picked.join(broadcast(fineWithGid), "gid")
          .select(col("vec_id"), col("embedding"), col("cid"),
            (col("cc") - lit(2.0) * ndot(col("embedding"), col("ce"))).as("dist"))
    }
    // argmin as a partial-aggregating min_by, NOT a row_number window: the
    // window form shuffles and SORTS the full candidate distance table (the
    // dominant cost once k grows with the corpus — the 10x scale probe
    // measured slope ~21 on it), while min_by folds each vec_id's
    // candidates map-side and shuffles one row per vector. The ordering
    // struct (dist, cid) is duplicate-free within a group (cid is unique),
    // so the pick is deterministic on any partitioning — same tie-break
    // the window's ORDER BY dist, cid applied, and the oracle's window SQL
    // still mirrors it exactly. first(embedding) is order-safe: every
    // candidate row of a vec_id carries the identical array.
    dists
      .groupBy("vec_id")
      .agg(
        min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"),
        first(col("embedding")).as("embedding"))
      .join(broadcast(cents), "cid")
      .select(col("vec_id"), col("cid"), col("embedding"),
        ncos(col("embedding"), col("ce")).as("centsim"))
  }

  /** Fine-centroid count above which the assignment goes two-level. At the
    * driver correctness scales (sf0.001/0.01/0.1 → k ≤ 32) the flat exact
    * path runs unchanged, so the gate behavior and the small-scale oracles
    * are untouched; the synthetic 10x+ probes (k in the hundreds) take the
    * coarse probe.
    */
  private[graft] val CoarseThreshold = 64

  /** Coarse cells over the fine centroids for the two-level assignment:
    * a small driver-side Lloyd (k_c = ⌈√k⌉, init = first k_c fine
    * centroids, 3 iterations, plain double arithmetic — deterministic),
    * centroids rounded to FLOAT (what both engines see as literals), the
    * fine→cell map then computed against those float centroids and empty
    * cells dropped. Returns None below [[CoarseThreshold]].
    */
  private[graft] def coarseCellsOf(cs: Array[Array[Float]])
      : Option[(Array[Array[Float]], Array[Int])] = {
    val k = cs.length
    if (k <= CoarseThreshold) return None
    val d = cs(0).length
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    def nearest(v: Array[Float], cen: Array[Array[Double]]): Int = {
      var best = 0; var bd = Double.MaxValue
      var g = 0
      while (g < cen.length) {
        val ce = cen(g); var cc = 0.0; var xc = 0.0; var j = 0
        while (j < d) { cc += ce(j) * ce(j); xc += v(j).toDouble * ce(j); j += 1 }
        val dist = cc - 2.0 * xc
        if (dist < bd) { bd = dist; best = g } // first-minimal tie-break
        g += 1
      }
      best
    }
    var cents = Array.tabulate(kc)(i => cs(i).map(_.toDouble))
    for (_ <- 0 until 3) {
      val asg = cs.map(nearest(_, cents))
      val sums = Array.fill(kc, d)(0.0)
      val n = Array.fill(kc)(0L)
      for (i <- cs.indices) {
        val g = asg(i); n(g) += 1
        var j = 0
        while (j < d) { sums(g)(j) += cs(i)(j).toDouble; j += 1 }
      }
      cents = Array.tabulate(kc)(g =>
        if (n(g) == 0) cents(g) else Array.tabulate(d)(j => sums(g)(j) / n(g)))
    }
    val coarseF = cents.map(_.map(_.toFloat))
    val map = cs.map(nearest(_, coarseF.map(_.map(_.toDouble))))
    val used = map.distinct.sorted
    val renum = used.zipWithIndex.toMap
    Some((used.map(coarseF(_)), map.map(renum)))
  }

  /** Deterministic pseudo-random hyperplanes for LSH bucketing: 32 planes x
    * 64 dims of small integers in [-18, 18] (8 hash tables x 4 planes).
    * Public knowledge (Charikar random-projection LSH); fixed integers keep
    * both engines exact. The modulus must exceed the plane count: any
    * formula mod m repeats rows with period m in the plane index, so a
    * small modulus would hand later tables correlated (near-duplicate)
    * planes and the extra tables would buy almost no recall — mod 37 keeps
    * all 32 rows distinct. 8 tables lift measured recall@3 from ~0.5 (4
    * tables) to ~0.75: recall scales as 1-(1-p)^T in independent tables.
    *
    * Rows 0-31 are `sim_ann_lsh_topk`'s 8 tables x 4 planes (unchanged
    * geometry since round 2); rows 0-39 serve the ANN-GRAPH edge build's
    * 8 tables x 5 planes ([[annEdges]] — r17 item 2). 37 < 40, so rows
    * 37-39 repeat rows 0-2 shifted: acceptable for the graph build, whose
    * multiprobe expansion dominates recall (measured 0.91 edge recall).
    */
  private[graft] val NumTables = 8
  private[graft] val Planes: Array[Array[Int]] =
    Array.tabulate(40, 64)((i, j) => ((19 * i + 7 * j) % 37) - 18)

  /** ANN-graph LSH geometry: 8 tables x 5 sign bits (planes 5t..5t+4 ->
    * 32 buckets per table), multiprobe radius 1 (the probe side also scans
    * the 5 buckets one bit-flip away — Lv et al. 2007 multi-probe LSH).
    * Measured on the sf0.001 slice: 0.91 edge recall vs the exact top-4
    * graph at ~82% candidate fraction; the fraction FALLS as the corpus
    * grows (bucket occupancy concentrates near neighbors), while all-pairs
    * grows quadratically — this is the build that survives 100 TB.
    */
  private[graft] val GraphLshTables = 8
  private[graft] val GraphLshBits = 5

  private def planeLit(i: Int): Column =
    array(Planes(i).toIndexedSeq.map(w => lit(w.toFloat)): _*)

  /** Product-quantization geometry: 4 subspaces x 16 dims, 16 codewords
    * per subspace (public-knowledge PQ/ADC design, Jegou et al.). The
    * codebook itself is LEARNED per data dir by k-means over the sliced
    * subvectors (graft.ml.Quantizers.pq) — deterministic training lets the
    * trained codewords inline as literals in both engines' plans.
    */
  private[graft] val PqSubs = graft.ml.Quantizers.PqSubs
  private[graft] val PqSubDim = graft.ml.Quantizers.PqSubDim
  private[graft] val PqCodes = graft.ml.Quantizers.PqCodes

  /** ADC shortlist size: the code-table scan ranks by approximate distance,
    * then only this many candidates per query are re-ranked with the raw
    * vectors (the standard production PQ search shape — at 100 TB the raw
    * vectors are fetched by key for the shortlist only).
    */
  private[graft] val PqShortlist = 64

  /** |codeword|^2 in double, left-to-right — the same fold order in the
    * Scala literal computation, the Spark plan, and the generated SQL.
    */
  private def pqCc(cb: Array[Array[Array[Float]]])(si: Int, c: Int): Double =
    cb(si)(c).foldLeft(0.0)((acc, w) => acc + w.toDouble * w.toDouble)

  private def planeSql(i: Int): String =
    Planes(i).mkString("[", ", ", "]::DOUBLE[]")

  /** Shared SQL fragments for the generated oracles. */
  private def centsSql(cents: Array[Array[Float]]): String = {
    import graft.ml.Quantizers.sqlFloat
    cents.zipWithIndex
      .map { case (c, i) =>
        s"($i, ${c.map(sqlFloat).mkString("[", ", ", "]")}::DOUBLE[])" }
      .mkString(",\n  ")
  }

  private val cosPairSql: String =
    """ROUND(list_sum(list_transform(list_zip(x.embedding, y.embedding),
      |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cos""".stripMargin

  /** Vector `e` dotted with centroid `c`. */
  private val dotQCSql: String =
    """list_sum(list_transform(list_zip(e.embedding, c.embedding),
      |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))""".stripMargin

  /** The IVF CTEs over the trained centroids (exact float->double
    * literals, graft.ml.Quantizers.sqlFloat, so both engines quantize
    * with bit-identical values): `assigned` is each vector's list,
    * `probes` the two lists each of the 20 queries probes.
    */
  private def ivfSql(cents: Array[Array[Float]]): String =
    s"""cents AS (SELECT * FROM (VALUES
       |  ${centsSql(cents)}) t(cid, embedding)),
       |dists AS (
       |  SELECT e.vec_id, c.cid,
       |    list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
       |      - 2 * $dotQCSql AS dist
       |  FROM embeddings e, cents c),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dists) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dists WHERE vec_id < 20) WHERE rn <= 2)""".stripMargin

  /** DuckDB oracle for sim_ann_ivf_topk. */
  private def ivfOracle(cents: Array[Array[Float]]): String =
    s"""WITH ${ivfSql(cents)},
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS qa, a.vec_id AS qb
       |  FROM probes p JOIN assigned a ON p.cid = a.cid AND p.vec_id <> a.vec_id),
       |sc AS (
       |  SELECT cand.qa, cand.qb, $cosPairSql
       |  FROM cand JOIN embeddings x ON cand.qa = x.vec_id
       |            JOIN embeddings y ON cand.qb = y.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb) AS rn FROM sc)
       |SELECT qa, qb, cos, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= 3 ORDER BY qa, rn""".stripMargin

  /** DuckDB twin of the OPQ rotation: each rotated coordinate is the
    * list_sum dot against the exact float-literal weight row, rounded to
    * FLOAT — the identical IEEE sequence `Quantizers.opqRotate` runs.
    */
  private def opqRotSql(rot: Array[Array[Float]]): String = {
    import graft.ml.Quantizers.sqlFloat
    val comps = rot.map { r =>
      val rl = r.map(sqlFloat).mkString("[", ", ", "]::DOUBLE[]")
      "CAST(list_sum(list_transform(list_zip(embedding, " + rl +
        "), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS FLOAT)"
    }.mkString("[\n    ", ",\n    ", "\n  ]")
    s"rot AS (SELECT vec_id, $comps AS embedding FROM embeddings),\n"
  }

  /** The PQ pieces of the oracles over the TRAINED codebook: the `codes`
    * CTE (each vector's code per subspace), the `q` CTE (each of the 20
    * queries' exact sub-distance to every codeword), both reading `src`,
    * and the ADC distance of a (q, codes) row pair.
    */
  private def pqSql(
      cb: Array[Array[Array[Float]]], src: String): (String, String, String) = {
    import graft.ml.Quantizers.sqlFloat
    val cc = pqCc(cb) _
    def cbSql(si: Int, c: Int): String =
      cb(si)(c).map(sqlFloat).mkString("[", ", ", "]::DOUBLE[]")
    def subSql(si: Int): String =
      s"embedding[${si * PqSubDim + 1}:${(si + 1) * PqSubDim}]"
    def dotSql(si: Int, c: Int): String =
      s"list_sum(list_transform(list_zip(${subSql(si)}, ${cbSql(si, c)}), " +
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"
    def qqSql(si: Int): String =
      s"list_sum(list_transform(${subSql(si)}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    // code_s = index of first-minimal (cc - 2 v.c) over the codewords:
    // list_position(ds, list_min(ds)) returns the FIRST index holding the
    // minimum — identical tie-breaking to Spark's array_position, and the
    // expression stays LINEAR in the codeword count (a pairwise CASE chain
    // is O(k^2) and blows up both planners at k=16).
    def codeSql(si: Int): String = {
      val ds = (0 until PqCodes)
        .map(c => s"(${cc(si, c)} - 2 * ${dotSql(si, c)})")
        .mkString("[", ",\n      ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS code$si"
    }
    val codeCols = (0 until PqSubs).map(codeSql).mkString(",\n")
    val lutCols = (for (si <- 0 until PqSubs; c <- 0 until PqCodes) yield
      s"${qqSql(si)} - 2 * ${dotSql(si, c)} + ${cc(si, c)} AS ql_${si}_$c")
      .mkString(",\n")
    val adistSql = (0 until PqSubs).map { si =>
      s"(CASE code$si ${(0 until PqCodes)
        .map(c => s"WHEN $c THEN ql_${si}_$c").mkString(" ")} END)"
    }.mkString(" + ")
    (s"codes AS (SELECT vec_id AS qb, $codeCols FROM $src)",
      s"q AS (SELECT vec_id AS qa, $lutCols FROM $src WHERE vec_id < 20)",
      adistSql)
  }

  /** The ADC shortlist of `p(qa, qb, adist)` and its exact re-rank
    * against the raw embeddings: the tail of both PQ oracles.
    */
  private val pqReRankSql: String =
    s"""short AS (SELECT qa, qb FROM (
       |    SELECT qa, qb, row_number() OVER (PARTITION BY qa ORDER BY adist, qb) AS rs
       |    FROM p) WHERE rs <= $PqShortlist),
       |sc AS (
       |  SELECT short.qa, short.qb, $cosPairSql
       |  FROM short JOIN embeddings x ON short.qa = x.vec_id
       |             JOIN embeddings y ON short.qb = y.vec_id),
       |r AS (SELECT qa, qb, cos,
       |        row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb) AS rn
       |      FROM sc)
       |SELECT qa, qb, cos, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= 3 ORDER BY qa, rn""".stripMargin

  /** DuckDB oracle for sim_ann_pq_topk / sim_ann_opq_topk. `pre`/`src`
    * let the OPQ variant encode over the rotated CTE while the exact
    * re-rank stays on raw embeddings.
    */
  private def pqOracle(
      cb: Array[Array[Array[Float]]],
      pre: String = "", src: String = "embeddings"): String = {
    val (codes, q, adist) = pqSql(cb, src)
    s"""WITH $pre$codes,
       |$q,
       |p AS (SELECT qa, qb, $adist AS adist
       |      FROM q, codes WHERE qa <> qb),
       |$pqReRankSql""".stripMargin
  }

  /** DuckDB oracle for sim_ann_ivfpq_topk: IVF list pruning (trained
    * centroids) composed with PQ/ADC inside the probed lists (trained
    * codebook) — both value sets inlined as exact literals.
    */
  private def ivfpqOracle(
      cents: Array[Array[Float]], cb: Array[Array[Array[Float]]]): String = {
    val (codes, q, adist) = pqSql(cb, "embeddings")
    s"""WITH ${ivfSql(cents)},
       |$codes,
       |codesc AS (SELECT a.cid, c.* FROM codes c JOIN assigned a ON c.qb = a.vec_id),
       |$q,
       |p AS (SELECT q.qa, codesc.qb, $adist AS adist
       |      FROM probes pr JOIN q ON pr.vec_id = q.qa
       |                     JOIN codesc ON pr.cid = codesc.cid
       |      WHERE q.qa <> codesc.qb),
       |$pqReRankSql""".stripMargin
  }

  /** DuckDB oracle for dedup_semantic_embcluster, generated against the
    * trained IVF centroids.
    */
  private def semdedupOracle(cents: Array[Array[Float]], tau: Double): String = {
    // Mirror of the engine's candidate set (semAssign): flat n·k below
    // CoarseThreshold; above it, the SAME driver-computed coarse cells and
    // fine→cell map inline as literals, so both engines probe identical
    // candidate lists and only the per-candidate float dots are recomputed.
    val (centsCte, distsFrom) = coarseCellsOf(cents) match {
      case None =>
        (s"""cents AS (SELECT * FROM (VALUES
            |  ${centsSql(cents)}) t(cid, embedding))""".stripMargin,
          "FROM embeddings e, cents c")
      case Some((coarse, gidOf)) =>
        val dotQG =
          """list_sum(list_transform(list_zip(e.embedding, g.embedding),
            |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))""".stripMargin
        val fineRows = cents.zipWithIndex
          .map { case (c, i) =>
            s"($i, ${gidOf(i)}, ${c.map(graft.ml.Quantizers.sqlFloat).mkString("[", ", ", "]")}::DOUBLE[])" }
          .mkString(",\n  ")
        (s"""coarse AS (SELECT * FROM (VALUES
            |  ${centsSql(coarse)}) tg(gid, embedding)),
            |cents AS (SELECT * FROM (VALUES
            |  $fineRows) t(cid, gid, embedding)),
            |cd AS (
            |  SELECT e.vec_id, g.gid,
            |    list_sum(list_transform(g.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |      - 2 * $dotQG AS gdist
            |  FROM embeddings e, coarse g),
            |ca AS (
            |  SELECT vec_id, gid FROM (
            |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY gdist, gid) AS rn
            |    FROM cd) WHERE rn = 1)""".stripMargin,
          "FROM embeddings e JOIN ca ON ca.vec_id = e.vec_id JOIN cents c ON c.gid = ca.gid")
    }
    s"""WITH $centsCte,
       |dists AS (
       |  SELECT e.vec_id, c.cid,
       |    list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
       |      - 2 * $dotQCSql AS dist,
       |    $dotQCSql
       |      / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS centsim
       |  $distsFrom),
       |a AS (
       |  SELECT vec_id, cid, centsim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dists) WHERE rn = 1),
       |p AS (
       |  SELECT ax.vec_id AS va, ay.vec_id AS vb, ax.centsim AS csa, ay.centsim AS csb,
       |    list_sum(list_transform(list_zip(x.embedding, y.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
       |  FROM a ax JOIN a ay ON ax.cid = ay.cid AND ax.vec_id < ay.vec_id
       |            JOIN embeddings x ON ax.vec_id = x.vec_id
       |            JOIN embeddings y ON ay.vec_id = y.vec_id),
       |rem AS (
       |  SELECT DISTINCT CASE WHEN csb >= csa THEN vb ELSE va END AS rid
       |  FROM p WHERE cos >= $tau)
       |SELECT a.vec_id, a.cid, ROUND(a.centsim, 6) AS centsim,
       |  (rem.rid IS NOT NULL) AS removed
       |FROM a LEFT JOIN rem ON a.vec_id = rem.rid
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Temporal stride for `multimodal_frame_sample` (keep every 4th frame). */
  private val frameStride = 4

  /** SemDeDup cosine threshold. The synthetic embeddings are near-random
    * (all-pairs cosine tops out around 0.47), so the usual 0.95-0.99 of the
    * paper would never fire here; 0.40 is calibrated so both outcomes occur
    * (59 all-pairs candidates at sf0.01) while staying well above the 0.29
    * p99 noise floor.
    */
  private[graft] val SemTau = 0.40

  /** DuckDB twin of [[dot]] against plane i. */
  private def duckPlaneDot(i: Int): String =
    s"list_sum(list_transform(list_zip(embedding, ${planeSql(i)}), " +
      "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"

  // ---- shared PQ plan fragments (sim_ann_pq_topk / sim_ann_ivfpq_topk) ----

  /** The trained codebook as ONE literal (`typedLit` -> a single nested
    * `Literal` node — not 4x16x16 `lit` leaves, which made every Catalyst
    * pass over the PQ plans seconds-slow on the driver).
    */
  private def pqCbLit(cb: Array[Array[Array[Float]]]): Column =
    typedLit(cb.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)

  /** PQ-encode every embedding: (idAlias, keep..., code0..codeN). ONE fused
    * `graft_pq_encode` kernel (graft.functions.PqEncode) computes all
    * subspace argmins per row — bit-equal to the
    * `array_position(ds, array_min(ds)) - 1` chain over
    * `cc - 2*graft_dot(slice, codeword)` columns it replaces (first-minimal
    * argmin, LINEAR in the codeword count; equality asserted in
    * NativeDotSpec). The fused form exists because the 64-dot expression
    * tree could not be split inside whole-stage codegen and ran as a
    * non-JIT-able megamethod — the round-14 bench tail.
    */
  private def pqCodesDf(
      e: org.apache.spark.sql.DataFrame,
      cb: Array[Array[Array[Float]]],
      idAlias: String,
      keep: String*): org.apache.spark.sql.DataFrame =
    e.select(
      (col("vec_id").as(idAlias) +: keep.map(col)) :+
        call_function("graft_pq_encode", col("embedding"), pqCbLit(cb)).as("pc"): _*)
      .select(
        (col(idAlias) +: keep.map(col)) ++
          (0 until PqSubs).map(si =>
            element_at(col("pc"), si + 1).as(s"code$si")): _*)

  /** `e`'s `vec_id` and `embedding` plus its IVF list order `ls`: the
    * learned centroids as `struct(dist, cid)`, nearest first, computed in
    * the projection. `dist` is `|c|^2 - 2 x.c` (`|x - c|^2` minus the
    * rank-free `|x|^2`), `graft_dot` over the float centroid literals —
    * the IEEE sequence the DuckDB oracles run. `array_sort` orders the
    * structs by (dist, cid): the order, ties included, of a per-vector
    * `row_number` over (dist, cid), since both compare with Spark's one
    * double ordering. [[listCid]] is the vector's inverted list and
    * [[probeCid]] the two distinct lists a query probes; no cross join,
    * window or join back to `e` forms.
    */
  private def ivfLists(
      e: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Float]]): org.apache.spark.sql.DataFrame = {
    val x = col("embedding")
    val ds = cents.zipWithIndex.map { case (c, i) =>
      val ce = typedLit(c.toIndexedSeq)
      struct((ndot(ce, ce) - lit(2.0) * ndot(x, ce)).as("dist"), lit(i).as("cid"))
    }
    e.select(col("vec_id"), x, array_sort(array(ds.toIndexedSeq: _*)).as("ls"))
  }

  /** After [[ivfLists]]: the vector's own list, and the two lists a query
    * probes, one row each.
    */
  private val listCid: Column = col("ls")(0)("cid").as("cid")
  private val probeCid: Column = explode(slice(col("ls"), 1, 2)("cid")).as("cid")

  /** Per-query exact 4x16 ADC lookup table as ONE `ARRAY<DOUBLE>` column
    * `lut` (`lut[s*codes + c]`), fused by graft.functions.PqLut —
    * value-identical to the 64 `ql_<sub>_<code>` projection columns it
    * replaces (NativeDotSpec).
    */
  private def pqLutCol(cb: Array[Array[Array[Float]]]): Column =
    call_function("graft_pq_lut", col("embedding"), pqCbLit(cb)).as("lut")

  /** Approximate distance = sum over subspaces of LUT[code] (ascending
    * subspace order — the oracle's CASE-chain summation order).
    */
  private def pqAdistCol: Column = (0 until PqSubs).map { si =>
    element_at(col("lut"), lit(si * PqCodes) + col(s"code$si") + 1)
  }.reduce(_ + _)

  /** The ADC shortlist over the code table: each query's [[PqShortlist]]
    * (qa, qb) candidates by (adist, qb). `cands` pairs each query's `lut`
    * with the candidates' codes.
    */
  private def pqShortlist(
      cands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cands
      .filter(col("qa") =!= col("qb"))
      .withColumn("adist", pqAdistCol)
      .withColumn("rs", row_number().over(
        Window.partitionBy("qa").orderBy(col("adist"), col("qb"))))
      .filter(col("rs") <= PqShortlist)
      .select("qa", "qb")

  /** The exact re-rank of candidate pairs (qa, qb): both raw vectors
    * re-join by key from `e` (never scanned for candidates), and
    * [[cosTopKRows]] keeps the top 3 per query.
    */
  private def reRankTop3(
      pairs: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cosTopKRows(pairs
      .join(e.select(col("vec_id").as("qa"), col("embedding").as("ea")), "qa")
      .join(e.select(col("vec_id").as("qb"), col("embedding").as("eb2")), "qb"),
      3, "eb2")

  def queries: Seq[Q] = Seq(
    // Brute-force cosine top-5 for 20 query vectors vs the whole table.
    Q(
      "sim_cosine_topk",
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
             |p AS (
             |  SELECT q.vec_id AS qa, e.vec_id AS qb,
             |    list_sum(list_transform(list_zip(q.embedding, e.embedding),
             |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dot,
             |    sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
             |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
             |  FROM q, embeddings e WHERE q.vec_id <> e.vec_id),
             |c AS (SELECT qa, qb, ROUND(dot / (na * nb), 6) AS cos FROM p),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qa
             |                                   ORDER BY cos DESC, qb) AS rn
             |      FROM c)
             |SELECT qa, qb, cos, CAST(rn AS INT) AS rn
             |FROM r WHERE rn <= 5 ORDER BY qa, rn""".stripMargin),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), col("embedding").as("ea"))
        val all = e.select(col("vec_id").as("qb"), col("embedding").as("eb"))
        cosTopKRows(broadcast(q).crossJoin(all).filter(col("qa") =!= col("qb")), 5)
      }),

    // Near-duplicate pairs by embedding cosine (the dense-vector twin of the
    // token-set dedup family in DedupOps).
    Q(
      "sim_cosine_neardup",
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
             |p AS (
             |  SELECT x.vec_id AS va, y.vec_id AS vb,
             |    list_sum(list_transform(list_zip(x.embedding, y.embedding),
             |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dot,
             |    sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
             |    sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
             |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
             |SELECT va, vb, ROUND(dot / (na * nb), 6) AS cos
             |FROM p ORDER BY cos DESC, va, vb LIMIT 20""".stripMargin),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 200)
        val x = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
        val y = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
        x.join(y, col("va") < col("vb"))
          .select(col("va"), col("vb"),
            round(ncos(col("ea"), col("eb")), 6)
              .as("cos"))
          .orderBy(col("cos").desc, col("va"), col("vb"))
          .limit(20)
      }),

    // ANN via multi-table random-hyperplane LSH: L=NumTables=8 hash tables
    // of 4 sign bits each (planes 4t..4t+3 -> 16 buckets per table);
    // candidates = ids sharing a (table, bucket) cell with the query, union
    // over tables; then exact cosine + top-3 within candidates. Each vector
    // explodes into L rows keyed (t, bucket) — an EQUI-join shuffle key, so
    // at 100 TB this hash-partitions by cell and never forms a pairwise
    // product (an OR of bucket equalities would degrade to nested-loop).
    // Measured recall@3 ~0.75 on sf0.001 (see the Planes scaladoc; gate
    // >= 0.4 asserted in AnnRecallSpec); deterministic planes keep it
    // oracle-checkable.
    Q(
      "sim_ann_lsh_topk", {
        def bucketSql(t: Int): String = (0 until 4)
          .map(i => s"(CASE WHEN ${duckPlaneDot(4 * t + i)} > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        val cells = (0 until NumTables)
          .map(t => s"SELECT vec_id, $t AS t, CAST(${bucketSql(t)} AS INT) AS bucket FROM embeddings")
          .mkString("\n  UNION ALL ")
        Some(s"""WITH cells AS ($cells),
                |cand AS (
                |  SELECT DISTINCT q.vec_id AS qa, c.vec_id AS qb
                |  FROM cells q JOIN cells c
                |    ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
                |  WHERE q.vec_id < 20),
                |p AS (
                |  SELECT cand.qa, cand.qb,
                |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
                |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dot,
                |    sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
                |    sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
                |  FROM cand JOIN embeddings a ON cand.qa = a.vec_id
                |            JOIN embeddings b ON cand.qb = b.vec_id),
                |sc AS (SELECT qa, qb, ROUND(dot / (na * nb), 6) AS cos FROM p),
                |r AS (SELECT *, row_number() OVER (PARTITION BY qa
                |                                   ORDER BY cos DESC, qb) AS rn
                |      FROM sc)
                |SELECT qa, qb, cos, CAST(rn AS INT) AS rn
                |FROM r WHERE rn <= 3 ORDER BY qa, rn""".stripMargin)
      },
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        def bucketCol(t: Int): Column = (0 until 4)
          .map(i => when(ndot(col("embedding"), planeLit(4 * t + i)) > 0, 1 << i).otherwise(0))
          .reduce(_ + _)
        val cells = (0 until NumTables).map { t =>
          e.select(col("vec_id"), lit(t).as("t"), bucketCol(t).cast("int").as("bucket"))
        }.reduce(_ unionAll _)
        val cand = cells.as("q")
          .join(cells.as("c"),
            col("q.t") === col("c.t") && col("q.bucket") === col("c.bucket") &&
              col("q.vec_id") =!= col("c.vec_id"))
          .filter(col("q.vec_id") < 20)
          .select(col("q.vec_id").as("qa"), col("c.vec_id").as("qb"))
          .distinct()
        reRankTop3(cand, e)
      }),

    // Multimodal binary-column plumbing: text re-encoded as an opaque blob
    // with typed metadata, "decoded" by a deterministic stub (real decoders
    // aren't in this container — the Spark-side schema/plumbing is the real
    // part; frame_w/frame_h/n_frames stand in for image/video probe output).
    Q(
      "multimodal_decode_features",
      Some("""SELECT doc_id, lang, source,
             |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             |  md5(text) AS content_md5,
             |  CAST(octet_length(encode(text)) % 640 AS INT) AS frame_w,
             |  CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS frame_h,
             |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val blob = encode(col("text"), "UTF-8")
        val nBytes = length(blob)
        Tables(s, dir, "documents")
          .select(
            col("doc_id"), col("lang"), col("source"),
            nBytes.cast("int").as("n_bytes"),
            md5(blob).as("content_md5"),
            (nBytes % 640).cast("int").as("frame_w"),
            ((nBytes * 7) % 480).cast("int").as("frame_h"),
            (nBytes % 30 + 1).cast("int").as("n_frames"))
          .oracleOrder("doc_id")
      }),

    // ANN via IVF (inverted-file index): coarse quantizer = 8 centroids
    // LEARNED by k-means on the embedding table (graft.ml.Quantizers.ivf —
    // deterministic training, so the trained centroids inline as literals
    // and stay oracle-checkable); every vector is assigned to its nearest
    // centroid (the inverted list), each query probes its 2 nearest lists
    // and exact-scores only those candidates. At 100 TB the list id is the
    // partition key — the classic cluster-prune alternative to LSH
    // bucketing — and training cost is one k-means on a sample, O(k*dim)
    // driver state. List assignment and probes come from the projection
    // ([[ivfLists]]): the row runs one broadcast, the top-k window and the
    // output order, four jobs in all.
    Q(
      "sim_ann_ivf_topk",
      None,
      (s, dir) => {
        val lists = ivfLists(
          Tables(s, dir, "embeddings"), graft.ml.Quantizers.ivf(s, dir))
        // Both sides carry their vectors, so scoring needs no join back.
        val assigned =
          lists.select(col("vec_id").as("qb"), col("embedding").as("eb"), listCid)
        val probes = lists.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), col("embedding").as("ea"), probeCid)
        // No distinct: each qb sits in one list and each qa probes two
        // distinct lists, so every (qa, qb) pair occurs once.
        cosTopKRows(
          broadcast(probes).join(assigned, "cid").filter(col("qa") =!= col("qb")), 3)
      },
      oracleGen = Some((s, dir) => ivfOracle(graft.ml.Quantizers.ivf(s, dir)))),

    // ANN via PRODUCT QUANTIZATION (asymmetric distance computation): the
    // 64-dim vector splits into 4 subspaces of 16 dims; each subspace
    // quantizes to the nearest of 16 codewords LEARNED by per-subspace
    // k-means (graft.ml.Quantizers.pq), so every vector compresses to 4
    // nibble codes (2 bytes total vs 256 bytes of floats) — at 100 TB the
    // scan runs over the code table, never the raw vectors. A query
    // precomputes its 4x16 lookup table of exact sub-distances once; per
    // candidate the approximate distance is 4 table lookups. The ADC
    // ranking then shortlists 64 candidates per query and only those are
    // exact-re-ranked against the raw vectors (fetched by key) — the
    // standard production PQ search. Deterministic training => both
    // engines compute identical doubles and the whole path stays
    // oracle-checkable (generated SQL inlines the trained codewords).
    Q(
      "sim_ann_pq_topk",
      None,
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val cb = graft.ml.Quantizers.pq(s, dir)
        // First-minimal argmin code assignment and the per-query exact LUT
        // are the shared fragments [[pqCodesDf]]/[[pqLutCol]] (also the
        // building blocks of the composed sim_ann_ivfpq_topk index).
        val codes = pqCodesDf(e, cb, "qb")
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), pqLutCol(cb))
        reRankTop3(pqShortlist(broadcast(q).crossJoin(codes)), e)
      },
      oracleGen = Some((s, dir) => pqOracle(graft.ml.Quantizers.pq(s, dir)))),

    // ANN via OPTIMIZED product quantization (Ge et al. 2013): plain PQ
    // splits dims 0-15/16-31/… blindly, so correlated or variance-skewed
    // dims can saturate one subspace and waste the others' codebooks. OPQ
    // first ROTATES the space: eigencolumns of the PCA Gram (the
    // ml_pca_power_iteration statistic, driver orthogonal iteration —
    // graft.ml.Quantizers.opq) are dealt round-robin across the 4
    // subspaces, spreading the leading variance; the codebook then trains
    // per ROTATED subspace and ADC runs entirely in rotated space, with
    // the exact re-rank on raw vectors as always. The rotated table is the
    // index artifact — built once (localCheckpoint, the staged-index
    // policy), at 100 TB a one-pass map-only matmul written next to the
    // code table. Recall gate: AnnRecallSpec pins OPQ >= plain PQ.
    Q(
      "sim_ann_opq_topk",
      None,
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val (rotW, cb) = graft.ml.Quantizers.opq(s, dir)
        val rot = Staged(s, dir, "opq_rot")(
          graft.ml.Quantizers.opqRotate(e, rotW))
        val codes = pqCodesDf(rot, cb, "qb")
        val q = rot.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), pqLutCol(cb))
        reRankTop3(pqShortlist(broadcast(q).crossJoin(codes)), e)
      },
      oracleGen = Some((s, dir) => {
        val (rotW, cb) = graft.ml.Quantizers.opq(s, dir)
        pqOracle(cb, opqRotSql(rotW), "rot")
      })),

    // HYBRID retrieval with reciprocal rank fusion (Cormack et al. 2009) —
    // what a production RAG stack actually runs: a SEMANTIC ranking
    // (cosine over the embedding modality) and a LEXICAL ranking
    // (distinct-token Jaccard over the paired document text, doc_id ==
    // vec_id as multimodal_join_textvec established) are each cut to a
    // top-20 list per query, then fused by rrf = Σ 1/(60+rank) — rank
    // fusion needs NO score calibration across modalities, which is why
    // RRF won the cross-engine-fusion literature. The 100 TB shape: the
    // 20 query vectors/token-sets broadcast; lexical candidates arrive by
    // POSTING-LIST equi-join on the token (docs sharing no term never
    // pair); both per-query lists are top-20 bounded so the fusion join
    // touches ≤40 rows per query regardless of corpus size. Integer
    // ranks → exact 1/(60+r) doubles → one rounded sum; fully
    // oracle-checkable with a static SQL twin.
    Q(
      "sim_hybrid_rrf_topk",
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
             |p AS (
             |  SELECT q.vec_id AS qa, e.vec_id AS qb,
             |    ROUND(list_sum(list_transform(list_zip(q.embedding, e.embedding),
             |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
             |  FROM q, embeddings e WHERE q.vec_id <> e.vec_id),
             |sem AS (SELECT qa, qb, rn_s FROM (
             |    SELECT qa, qb, row_number() OVER (PARTITION BY qa
             |      ORDER BY cos DESC, qb) AS rn_s FROM p) WHERE rn_s <= 20),
             |tok AS (SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |    FROM documents) WHERE tok <> ''),
             |nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
             |       FROM tok GROUP BY 1),
             |ov AS (
             |  SELECT a.doc_id AS qa, b.doc_id AS qb, CAST(COUNT(*) AS BIGINT) AS i
             |  FROM tok a JOIN tok b USING (tok)
             |  WHERE a.doc_id < 20 AND a.doc_id <> b.doc_id GROUP BY 1, 2),
             |jac AS (
             |  SELECT ov.qa, ov.qb,
             |    ROUND(ov.i / CAST(na.ntok + nb.ntok - ov.i AS DOUBLE), 6) AS jac
             |  FROM ov JOIN nt na ON ov.qa = na.doc_id
             |          JOIN nt nb ON ov.qb = nb.doc_id),
             |lex AS (SELECT qa, qb, rn_l FROM (
             |    SELECT qa, qb, row_number() OVER (PARTITION BY qa
             |      ORDER BY jac DESC, qb) AS rn_l FROM jac) WHERE rn_l <= 20),
             |fused AS (
             |  SELECT coalesce(s.qa, l.qa) AS qa, coalesce(s.qb, l.qb) AS qb,
             |    ROUND(coalesce(1e0 / (60 + s.rn_s), 0e0)
             |        + coalesce(1e0 / (60 + l.rn_l), 0e0), 6) AS rrf
             |  FROM sem s FULL JOIN lex l ON s.qa = l.qa AND s.qb = l.qb),
             |r AS (SELECT qa, qb, rrf, row_number() OVER (PARTITION BY qa
             |        ORDER BY rrf DESC, qb) AS rn FROM fused)
             |SELECT qa, qb, rrf, CAST(rn AS INT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qa, rn""".stripMargin),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), col("embedding").as("ea"))
        val all = e.select(col("vec_id").as("qb"), col("embedding").as("eb"))
        val sem = cosTopK(broadcast(q).crossJoin(all).filter(col("qa") =!= col("qb")),
          "qa", "qb", 20, rn = "rn_s").select("qa", "qb", "rn_s")
        // Distinct-token posting table + per-doc token counts: the lexical
        // inverted-index artifacts, staged once per (session, dir); the
        // per-query sem/lex rankings and the fusion stay per-invocation.
        val tok = Staged(s, dir, "rrf_tok") {
          Tables(s, dir, "documents")
            .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
            .filter(col("tok") =!= "").distinct()
        }
        val nt = Staged(s, dir, "rrf_ntok")(
          tok.groupBy("doc_id").agg(cnt.as("ntok")))
        val ov = broadcast(
            tok.filter(col("doc_id") < 20)
              .select(col("doc_id").as("qa"), col("tok")))
          .join(tok.select(col("doc_id").as("qb"), col("tok")), "tok")
          .filter(col("qa") =!= col("qb"))
          .groupBy("qa", "qb").agg(cnt.as("i"))
        val wL = Window.partitionBy("qa").orderBy(col("jac").desc, col("qb"))
        val lex = ov
          .join(broadcast(nt.select(col("doc_id").as("qa"), col("ntok").as("na"))), "qa")
          .join(nt.select(col("doc_id").as("qb"), col("ntok").as("nb")), "qb")
          .select(col("qa"), col("qb"),
            round(col("i").cast("double") /
              (col("na") + col("nb") - col("i")), 6).as("jac"))
          .withColumn("rn_l", row_number().over(wL))
          .filter(col("rn_l") <= 20).select("qa", "qb", "rn_l")
        val wF = Window.partitionBy("qa").orderBy(col("rrf").desc, col("qb"))
        sem.join(lex, Seq("qa", "qb"), "full_outer")
          .select(col("qa"), col("qb"),
            round(
              coalesce(lit(1.0) / (lit(60) + col("rn_s")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("rn_l")), lit(0.0)),
              6).as("rrf"))
          .withColumn("rn", row_number().over(wF).cast("int"))
          .filter(col("rn") <= 3)
          .oracleOrder("qa", "rn")
      }),

    // The same stub decode through the typed per-partition batch path
    // (Dataset.mapPartitions — the JVM analog of mapInPandas): one decoder
    // instance per partition processes an iterator of blob records, exactly
    // the shape a real image/audio decoder needs (expensive init amortized
    // per partition, streaming batches, no driver collect). Result is
    // bit-identical to the declarative multimodal_decode_features, so it
    // shares that oracle.
    Q(
      "multimodal_decode_mappartitions",
      Some("""SELECT doc_id, lang, source,
             |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             |  md5(text) AS content_md5,
             |  CAST(octet_length(encode(text)) % 640 AS INT) AS frame_w,
             |  CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS frame_h,
             |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            encode(col("text"), "UTF-8").as("blob"))
          .as[DocBlob]
          .mapPartitions { it =>
            // Per-partition "decoder" init (stands in for an image/audio
            // codec handle); reset per record.
            val md = java.security.MessageDigest.getInstance("MD5")
            it.map { d =>
              md.reset()
              val hex = md.digest(d.blob).map("%02x".format(_)).mkString
              val n = d.blob.length
              DocFeatures(d.doc_id, d.lang, d.source, n, hex,
                n % 640, (n * 7) % 480, n % 30 + 1)
            }
          }
          .toDF()
          .oracleOrder("doc_id")
      }),

    // The composed production ANN index — IVF list pruning + PQ codes
    // (FAISS's IVF+PQ shape, Jegou et al.; residual-free variant: codes
    // quantize the raw vectors, not the per-list residuals — documented
    // simplification that reuses the already-trained codebook and keeps the
    // oracle exact): every vector carries (list id, 4 PQ nibble codes); a
    // query probes its 2 nearest lists, ADC-ranks ONLY the code rows of
    // those lists through its 4x16 LUT, shortlists 64, and exact-re-ranks
    // the shortlist against raw vectors fetched by key. At 100 TB this is
    // the index layout that actually ships: the code table is partitioned
    // BY LIST ID, a query touches probe-count partitions (not the whole
    // table, unlike flat PQ's full code scan), and raw vectors are fetched
    // per-key for 64 candidates only. Composes the already-green IVF
    // (coarse quantizer) and PQ (codes/LUT) fragments end-to-end — the same
    // "layers compose" proof the FCN forward pass gave the ML family.
    Q(
      "sim_ann_ivfpq_topk",
      None,
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val cb = graft.ml.Quantizers.pq(s, dir)
        val lists = ivfLists(e, graft.ml.Quantizers.ivf(s, dir))
        // The persisted index: list id + PQ codes per vector.
        val codes = pqCodesDf(
          lists.select(col("vec_id"), col("embedding"), listCid), cb, "qb", "cid")
        // Each query expands to its 2 probed lists; the join on cid is the
        // list-prune — candidates never leave their list partition.
        val probed = lists.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), pqLutCol(cb), probeCid)
        reRankTop3(pqShortlist(broadcast(probed).join(codes, "cid")), e)
      },
      oracleGen = Some((s, dir) =>
        ivfpqOracle(graft.ml.Quantizers.ivf(s, dir), graft.ml.Quantizers.pq(s, dir)))),

    // Semantic (embedding-space) deduplication — SemDeDup (Abbas et al.
    // 2023, public): k-means-cluster the embeddings, compute pairwise
    // cosine ONLY within each cluster, and for every pair above the
    // threshold keep the member with the LOWER cosine to its cluster
    // centroid (the paper's keep-the-outlier rule; ties by vec_id). The
    // whole point of clustering first is the scale shape, and the quantizer
    // honors it: k = max(8, ceil(n/64)) GROWS with the corpus
    // (Quantizers.semK — the paper's ~50k clusters at web scale), so the
    // mean within-cluster population stays ~64 and the quadratic pair join
    // stays bounded per cluster at ANY scale factor — no global all-pairs
    // ever forms, and cluster id is the partition key. At sf0.01 the floor
    // k=8 coincides with the IVF quantizer; at sf0.1 k=32 (SemScaleSpec
    // asserts the pair-work bound at 5x replicated and on the real sf0.1,
    // including the adversarial all-duplicates case). Removal decisions
    // compare UNROUNDED doubles —
    // identical left-to-right folds both engines, the invariant the whole
    // SimOps file is built on.
    Q(
      "dedup_semantic_embcluster",
      None,
      (s, dir) => {
        val a = semAssign(s, Tables(s, dir, "embeddings"),
          graft.ml.Quantizers.sem(s, dir))
        val x = a.select(col("cid"), col("vec_id").as("va"),
          col("embedding").as("ea"), col("centsim").as("csa"))
        val y = a.select(col("cid"), col("vec_id").as("vb"),
          col("embedding").as("eb"), col("centsim").as("csb"))
        val rem = x.join(y, "cid")
          .filter(col("va") < col("vb"))
          .filter(ncos(col("ea"), col("eb")) >= SemTau)
          .select(when(col("csb") >= col("csa"), col("vb")).otherwise(col("va"))
            .as("rid"))
          .distinct()
        a.join(rem, col("vec_id") === col("rid"), "left_outer")
          .select(col("vec_id"), col("cid"),
            round(col("centsim"), 6).as("centsim"),
            col("rid").isNotNull.as("removed"))
          .oracleOrder("vec_id")
      },
      oracleGen = Some((s, dir) =>
        semdedupOracle(graft.ml.Quantizers.sem(s, dir), SemTau))),

    // Temporal frame sampling — the `frame-sample` stage of the multimodal
    // north-star list: a video blob explodes into its frames and a stride-4
    // subsample survives (every production video pipeline decodes a strided
    // subset, never all frames). Real decoders aren't in this container
    // (same stub policy as multimodal_decode_features): n_frames derives
    // from the blob exactly as the decode probe does, and the per-frame
    // "decoded feature" is a deterministic content-addressed hash of
    // (content, frame index). Plumbing is the real part: blob metadata ->
    // explode -> stride filter is a zero-shuffle map pipeline; at 100 TB
    // the explode multiplies rows ONLY by the kept frame count (the filter
    // sits inside the generator's consumer, nothing shuffles).
    Q(
      "multimodal_frame_sample",
      Some(s"""WITH b AS (
              |  SELECT doc_id, md5(text) AS content_md5,
              |    CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
              |  FROM documents WHERE doc_id < 50)
              |SELECT doc_id, CAST(f AS INT) AS frame_idx,
              |  md5(content_md5 || ':' || CAST(f AS VARCHAR)) AS frame_hash
              |FROM b, unnest(range(1, n_frames + 1)) r(f)
              |WHERE (f - 1) % $frameStride = 0
              |ORDER BY doc_id, frame_idx""".stripMargin),
      (s, dir) => {
        val blob = encode(col("text"), "UTF-8")
        Tables(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), md5(col("text")).as("content_md5"),
            (length(blob) % 30 + 1).cast("int").as("n_frames"))
          .select(col("doc_id"), col("content_md5"),
            explode(sequence(lit(1), col("n_frames"))).as("f"))
          .filter((col("f") - 1) % frameStride === 0)
          .select(col("doc_id"), col("f").cast("int").as("frame_idx"),
            md5(concat(col("content_md5"), lit(":"), col("f").cast("string")))
              .as("frame_hash"))
          .oracleOrder("doc_id", "frame_idx")
      }),

    // Multimodal columns: text features joined with the vector modality.
    Q(
      "multimodal_join_textvec",
      Some("""SELECT d.doc_id, d.n_chars,
             |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
             |  ROUND(sqrt(list_sum(list_transform(e.embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2
             |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        Tables(s, dir, "documents")
          .join(Tables(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
          .select(
            col("doc_id"), col("n_chars"),
            size(split(col("text"), " ")).cast("int").as("n_tokens"),
            round(nnorm(col("embedding")), 4).as("l2"))
          .oracleOrder("doc_id")
      }),

    // Late-interaction multi-vector retrieval (ColBERT-style MaxSim,
    // Khattab & Zaharia 2020, public): a "document" is a BAG of token
    // vectors, and score(Q, D) = sum over query vectors of the max dot
    // against any document vector — the relevance model behind modern
    // multi-vector RAG retrieval. Here the embeddings table is grouped
    // into 8-vector bags (vec_id div 8); bags 0-2 are the queries.
    // Shape: the bounded query side (24 vectors) BROADCASTS, the document
    // side never shuffles raw vectors — dots and the per-(query-vector,
    // doc) max partial-aggregate map-side, and only (qd, qv, dd, max)
    // scalars move. The per-bag sum-of-maxes folds 8 exact decimals
    // (order-free), then top-5 bags per query rank on the unrounded
    // score. At 100 TB the all-docs scan composes with the ANN family:
    // sim_ann_* produces the candidate shortlist and this operator
    // re-ranks it — the exact form here is the oracle baseline, same
    // policy as sim_cosine_topk.
    Q(
      "sim_maxsim_multivector",
      Some("""WITH e AS (SELECT vec_id // 8 AS gid, vec_id, embedding FROM embeddings),
             |q AS (SELECT gid AS qd, vec_id AS qv, embedding AS qe FROM e WHERE gid < 3),
             |d AS (SELECT gid AS dd, vec_id AS dv, embedding AS de FROM e),
             |dots AS (
             |  SELECT qd, qv, dd,
             |    list_sum(list_transform(list_zip(qe, de),
             |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dot
             |  FROM q, d WHERE qd <> dd),
             |best AS (SELECT qd, qv, dd, MAX(dot) AS m FROM dots GROUP BY 1, 2, 3),
             |sc AS (SELECT qd, dd,
             |    CAST(CAST(SUM(CAST(m AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS score
             |  FROM best GROUP BY 1, 2),
             |r AS (SELECT qd, dd, ROUND(score, 6) AS maxsim,
             |        row_number() OVER (PARTITION BY qd
             |                           ORDER BY score DESC, dd) AS rn
             |      FROM sc)
             |SELECT qd, dd, maxsim, CAST(rn AS INT) AS rn
             |FROM r WHERE rn <= 5 ORDER BY qd, rn""".stripMargin),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(expr("vec_id div 8").as("gid"), col("vec_id"), col("embedding"))
        val q = e.filter(col("gid") < 3)
          .select(col("gid").as("qd"), col("vec_id").as("qv"),
            col("embedding").as("qe"))
        val d = e.select(col("gid").as("dd"), col("embedding").as("de"))
        val best = broadcast(q).crossJoin(d)
          .filter(col("qd") =!= col("dd"))
          .select(col("qd"), col("qv"), col("dd"),
            ndot(col("qe"), col("de")).as("dot"))
          .groupBy("qd", "qv", "dd")
          .agg(max(col("dot")).as("m"))
        val w = Window.partitionBy("qd").orderBy(col("score").desc, col("dd"))
        best
          .groupBy("qd", "dd")
          .agg(dsumWide(col("m")).as("score"))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter(col("rn") <= 5)
          .select(col("qd"), col("dd"), round(col("score"), 6).as("maxsim"),
            col("rn"))
          .oracleOrder("qd", "rn")
      }),

    // Symmetric int8 quantization of the embedding store — the 4x
    // compression every billion-vector serving index takes before ANN
    // (scalar-quantized IVF lists, int8 GEMM rerank). Per vector: scale =
    // 127/max|x|, q = floor(x*scale + 0.5) ∈ [-127,127] (the
    // floor(+0.5) spelling sidesteps the engines' different ROUND-half
    // conventions), reported with exact reconstruction-error stats. Every
    // stage is per-vector local, and amax is a WINDOW max over vec_id
    // rather than an agg-then-join-back: the cells shuffle ONCE on vec_id,
    // the window computes the per-vector max in place, and the final error
    // rollup groups on that very same key — no second exchange, no join (a
    // naive agg+join-back had Catalyst broadcasting the exploded cell
    // table, a fact-side broadcast that dies at scale). Error sums are
    // ROUND-14-into-DECIMAL (order-free); the quantized codes themselves
    // are integer-exact, which is what the oracle hash locks.
    Q(
      "ml_quantize_int8",
      Some("""WITH c AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings),
             |m AS (SELECT vec_id, MAX(abs(x)) AS amax FROM c GROUP BY 1),
             |q AS (
             |  SELECT c.vec_id, amax, x,
             |    CAST(floor(x * (127 / amax) + 0.5) AS INT) AS qv
             |  FROM c JOIN m ON c.vec_id = m.vec_id WHERE amax > 0),
             |e AS (SELECT vec_id, amax, qv, x - (qv * amax / 127) AS err FROM q)
             |SELECT vec_id, ROUND(MIN(amax), 6) AS amax,
             |  CAST(SUM(abs(qv)) AS BIGINT) AS sum_abs_q,
             |  ROUND(MAX(abs(err)), 9) AS max_abs_err,
             |  ROUND(CAST(SUM(CAST(ROUND(err * err, 14) AS DECIMAL(20,14)))
             |             AS DOUBLE) / COUNT(*), 12) AS mse
             |FROM e GROUP BY 1 ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("vec_id")
        val q = Tables(s, dir, "embeddings")
          .select(col("vec_id"), explode(col("embedding")).as("xf"))
          .select(col("vec_id"), col("xf").cast("double").as("x"))
          .withColumn("amax", max(abs(col("x"))).over(w))
          .filter(col("amax") > 0)
          .select(
            col("vec_id"), col("amax"), col("x"),
            floor(col("x") * (lit(127) / col("amax")) + 0.5).cast("int").as("qv"))
        q.select(
            col("vec_id"), col("amax"), col("qv"),
            (col("x") - col("qv") * col("amax") / 127).as("err"))
          .groupBy("vec_id")
          .agg(
            round(min("amax"), 6).as("amax"),
            sum(abs(col("qv"))).cast("long").as("sum_abs_q"),
            round(max(abs(col("err"))), 9).as("max_abs_err"),
            round(
              sum(round(col("err") * col("err"), 14).cast(DecimalType(20, 14)))
                .cast("double") / cnt, 12).as("mse"))
          .oracleOrder("vec_id")
      }),

    // Symmetric int4 quantization + nibble packing — the 8x compression
    // tier below int8 (weight-only int4 GEMM, 2 codes/byte). Unlike
    // ml_quantize_int8's exploded-cell window, this runs as PURE ARRAY
    // KERNELS inside one projection — amax, the 64 int4 codes
    // (floor(x·7/amax + 0.5) ∈ [−7,7], the engine-neutral half spelling;
    // no clamp needed since |x| ≤ amax bounds the argument), the 32
    // packed bytes (qhi+8)·16 + (qlo+8), and the reconstruction-error max
    // — ZERO shuffles, zero explode: the at-scale shape for a
    // billion-vector quantization sweep. Codes and packed-byte checksums
    // are integer-exact; amax and the error max are selections of
    // identical IEEE doubles (no sums, no rounding).
    Q(
      "ml_int4_quantize_pack",
      Some("""WITH s AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
             |  FROM embeddings),
             |m AS (
             |  SELECT vec_id, xd,
             |    list_max(list_transform(xd, x -> abs(x))) AS amax
             |  FROM s),
             |q AS (
             |  SELECT vec_id, amax, xd,
             |    list_transform(xd, x -> CAST(floor(x * 7.0 / amax + 0.5) AS BIGINT)) AS qv
             |  FROM m WHERE amax > 0)
             |SELECT vec_id, amax,
             |  CAST(list_sum(list_transform(range(1, 33),
             |    k -> (qv[2 * k - 1] + 8) * 16 + (qv[2 * k] + 8))) AS BIGINT) AS packed_sum,
             |  list_max(list_transform(range(1, 65),
             |    i -> abs(xd[i] - CAST(qv[i] AS DOUBLE) * amax / 7.0))) AS max_abs_err
             |FROM q ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("xd"))
          .withColumn("amax", array_max(transform(col("xd"), x => abs(x))))
          .filter(col("amax") > 0)
          .withColumn("qv", transform(col("xd"),
            x => floor(x * 7.0 / col("amax") + 0.5)))
          .select(col("vec_id"), col("amax"),
            aggregate(
              transform(sequence(lit(1), lit(32)), k =>
                (element_at(col("qv"), k * 2 - 1) + 8) * 16 +
                  (element_at(col("qv"), k * 2) + 8)),
              lit(0L), (acc, v) => acc + v).as("packed_sum"),
            array_max(transform(sequence(lit(1), lit(64)), i =>
              abs(element_at(col("xd"), i) -
                element_at(col("qv"), i).cast("double") * col("amax") / 7.0)))
              .as("max_abs_err"))
          .oracleOrder("vec_id")
      }),

    // k-NN majority-vote classification over the embedding store — the
    // label-propagation primitive behind weak supervision and
    // auto-labeling sweeps. Per query (broadcast slice): rank ALL
    // candidates ([[cosTopK]]), keep k=10, then the vote is a count per
    // label with (votes DESC, label) argmax — fully deterministic. Scale
    // path: swap the exact candidate stage for any of the ANN indexes
    // (LSH/IVF/PQ share this exact re-rank shape); the vote itself folds
    // map-side on (qa, label). Votes are integers.
    Q(
      "ml_knn_classify",
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
             |p AS (
             |  SELECT q.vec_id AS qa, e.vec_id AS qb, e.label AS lb,
             |    ROUND(list_sum(list_transform(list_zip(q.embedding, e.embedding),
             |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
             |  FROM q, embeddings e WHERE q.vec_id <> e.vec_id),
             |r AS (SELECT qa, lb,
             |        row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb) AS rn
             |      FROM p),
             |v AS (SELECT qa, lb, CAST(COUNT(*) AS BIGINT) AS votes
             |      FROM r WHERE rn <= 10 GROUP BY 1, 2),
             |b AS (SELECT qa, lb, votes,
             |        row_number() OVER (PARTITION BY qa ORDER BY votes DESC, lb) AS vr
             |      FROM v)
             |SELECT qa, CAST(lb AS INT) AS pred_label, votes
             |FROM b WHERE vr = 1 ORDER BY qa""".stripMargin),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qa"), col("embedding").as("ea"))
        val all = e.select(col("vec_id").as("qb"), col("embedding").as("eb"),
          col("label").as("lb"))
        val wv = Window.partitionBy("qa").orderBy(col("votes").desc, col("lb"))
        cosTopK(broadcast(q).crossJoin(all).filter(col("qa") =!= col("qb")),
            "qa", "qb", 10, keep = Seq("lb"))
          .groupBy("qa", "lb")
          .agg(cnt.as("votes"))
          .withColumn("vr", row_number().over(wv))
          .filter(col("vr") === 1)
          .select(col("qa"), col("lb").cast("int").as("pred_label"),
            col("votes"))
          .oracleOrder("qa")
      }),

    // Graph-walk ANN, TWO-LAYER with a BOUNDED BEAM (the HNSW idea,
    // Malkov & Yashunin 2016, including ef-search's candidate frontier):
    // best-first descent through a layered proximity graph. Layer 1 is a
    // deterministic 1-in-8 node sample (the relational analog of HNSW's
    // geometric level draw) with a SPARSER top-2 graph — the walk crosses
    // the corpus in coarse greedy strides there, then drops its terminus
    // into the dense layer-0 top-4 graph as the entry point, so the fine
    // walk STARTS NEAR THE TARGET instead of at a fixed node (VERDICT r15
    // item 8). The fine walk carries a WIDTH-4 BEAM (VERDICT r16 item 4,
    // ef-style): each hop expands every beam member's out-edges (self
    // included — the frontier never loses its best), dedups, keeps the
    // top-4 per query by (cos DESC, node). AnnRecallSpec pins beam >=
    // greedy and two-layer >= single-layer at equal 12-hop budgets.
    // Expressed RELATIONALLY: the GRAPH INDEX is built query-independent
    // and staged as bare (src, dst) edges ([[annEdges]] — layer 0
    // candidate-bounded by multiprobe LSH + exact re-rank, layer 1 exact
    // over the geometrically small sample; r17 items 2 + 6), the query
    // side joins on at walk time (qd, one broadcast projection), and the
    // walk is unrolled compositions — 4 coarse hops, then 8 fine beam
    // hops, as plain equi-joins + per-query top-k windows, no recursion,
    // no driver loop (the SCC path-doubling discipline). Greedy stalls
    // are handled by construction (self is always a candidate).
    // Exactness: edges rank by [[cosTopK]], and every beam window by
    // (cos DESC, node) on the same 6dp cosines; the emitted worst6/n_beam
    // diagnostics are order-free min/count. Scale: nodes are the bounded
    // graph slice (the per-LSH-cluster shard a production graph index
    // partitions into); queries broadcast, the per-walk adjacency is
    // |Q|·|V|·(deg+1) rows, every hop is a broadcast join over a
    // <=|Q|·beam frontier — the corpus never re-shuffles, and the upper
    // layer's table is 8x smaller than layer 0's.
    Q(
      "sim_ann_graph_greedy",
      Some {
        def gBucket(t: Int): String = (0 until GraphLshBits)
          .map(i => s"(CASE WHEN ${duckPlaneDot(GraphLshBits * t + i)} > 0" +
            s" THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        val cells = (0 until GraphLshTables)
          .map(t =>
            s"SELECT vec_id, $t AS t, CAST(${gBucket(t)} AS INT) AS bucket FROM n")
          .mkString("\n  UNION ALL ")
        val probes = (-1 until GraphLshBits)
          .map(i => if (i < 0) "bucket" else s"xor(bucket, ${1 << i})")
          .map(p => s"SELECT vec_id, t, CAST($p AS INT) AS probe FROM cells")
          .mkString("\n  UNION ALL ")
        def cosSql(a: String, b: String): String =
          s"""ROUND(list_sum(list_transform(list_zip($a.embedding, $b.embedding),
             |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform($a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
             |       * sqrt(list_sum(list_transform($b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6)""".stripMargin
        s"""WITH n AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
           |qs AS (SELECT vec_id AS q, embedding AS qe FROM embeddings
           |       WHERE vec_id >= 200 AND vec_id < 205),
           |cells AS (
           |  $cells),
           |probes AS (
           |  $probes),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
           |  FROM probes x JOIN cells y
           |    ON x.t = y.t AND x.probe = y.bucket AND x.vec_id <> y.vec_id),
           |pc AS (
           |  SELECT cand.src, cand.dst,
           |    ${cosSql("a", "b")} AS cos
           |  FROM cand JOIN n a ON cand.src = a.vec_id
           |            JOIN n b ON cand.dst = b.vec_id),
           |e AS (
           |  SELECT src, dst FROM (
           |    SELECT src, dst, row_number() OVER (PARTITION BY src
           |      ORDER BY cos DESC, dst) AS rn FROM pc) t
           |  WHERE rn <= 4
           |  UNION ALL SELECT vec_id AS src, vec_id AS dst FROM n),
           |ps AS (
           |  SELECT x.vec_id AS src, y.vec_id AS dst,
           |    ${cosSql("x", "y")} AS cos
           |  FROM n x, n y WHERE x.vec_id % 8 = 0 AND y.vec_id % 8 = 0
           |    AND x.vec_id <> y.vec_id),
           |e1 AS (
           |  SELECT src, dst FROM (
           |    SELECT src, dst, row_number() OVER (PARTITION BY src
           |      ORDER BY cos DESC, dst) AS rn FROM ps) t
           |  WHERE rn <= 2
           |  UNION ALL SELECT vec_id AS src, vec_id AS dst FROM n
           |  WHERE vec_id % 8 = 0),
           |qd AS (
             |  SELECT qs.q, n.vec_id AS node,
             |    ROUND(list_sum(list_transform(list_zip(qs.qe, n.embedding),
             |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(qs.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(n.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cos
             |  FROM qs, n),
             |m1 AS (
             |  SELECT q, src, dst AS nxt FROM (
             |    SELECT qd.q, e1.src, e1.dst, row_number() OVER (
             |      PARTITION BY qd.q, e1.src ORDER BY qd.cos DESC, e1.dst) AS rn
             |    FROM e1 JOIN qd ON e1.dst = qd.node) t
             |  WHERE rn = 1),
             |adj AS (
             |  SELECT qd.q, e.src, e.dst, qd.cos
             |  FROM e JOIN qd ON e.dst = qd.node),
             |u0 AS (SELECT q, CAST(0 AS BIGINT) AS cur FROM qs),
             |u1 AS (SELECT w.q, m1.nxt AS cur FROM u0 w JOIN m1 ON m1.q = w.q AND m1.src = w.cur),
             |u2 AS (SELECT w.q, m1.nxt AS cur FROM u1 w JOIN m1 ON m1.q = w.q AND m1.src = w.cur),
             |u3 AS (SELECT w.q, m1.nxt AS cur FROM u2 w JOIN m1 ON m1.q = w.q AND m1.src = w.cur),
             |u4 AS (SELECT w.q, m1.nxt AS cur FROM u3 w JOIN m1 ON m1.q = w.q AND m1.src = w.cur),
             |b1 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM u4 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b2 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b1 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b3 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b2 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b4 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b3 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b5 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b4 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b6 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b5 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b7 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b6 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4),
             |b8 AS (SELECT q, dst AS cur, cos FROM (SELECT c.q, c.dst, c.cos, row_number() OVER (PARTITION BY c.q ORDER BY c.cos DESC, c.dst) AS rn FROM (SELECT DISTINCT a.q, a.dst, a.cos FROM b7 b JOIN adj a ON a.q = b.q AND a.src = b.cur) c) t WHERE rn <= 4)
             |SELECT t.q, t.cur AS found, t.cos AS cos6, g.worst6, g.n_beam
             |FROM (SELECT q, cur, cos, row_number() OVER (
             |        PARTITION BY q ORDER BY cos DESC, cur) AS rn FROM b8) t
             |JOIN (SELECT q, MIN(cos) AS worst6, CAST(COUNT(*) AS INT) AS n_beam
             |      FROM b8 GROUP BY q) g ON g.q = t.q
             |WHERE t.rn = 1 ORDER BY t.q""".stripMargin
      },
      (s, dir) => hnswGreedy(s, dir, upperHops = 4, lowerHops = 8, beamWidth = 4)),

    // Perceptual hash (pHash) fingerprint of the deterministic fake-decoded
    // "image" of each document — the dedup fingerprint family's multimodal
    // member: decode (stub: an 8×8 luma grid read off the text's
    // codepoints, the scan_binary_blobs stub policy — a production decode
    // swaps ONLY the pixel source), 2-D DCT-II, low-frequency 4×4 block
    // minus DC (15 coefficients), median-threshold bits → one 15-bit code,
    // equal codes = perceptual near-dup cluster. The DCT runs as 15
    // zip-fold dot products against JVM-PRECOMPUTED basis rows inlined as
    // literals in both engines (the RoPE trig-cache discipline — query
    // time is trig-free); the median is an order-statistic selection of
    // identical IEEE doubles and the bits/code are integer-exact. Shape:
    // entirely map-side per doc + one phash-partitioned window over the
    // 15-bit (32768-key) code space — embarrassingly parallel at 100 TB.
    Q(
      "multimodal_image_phash",
      Some {
        val xs = PhashBasis.zipWithIndex.map { case ((_, _, k), j0 ) =>
          s"list_sum(list_transform(list_zip(p, ${k.map(_.toString).mkString("[", ", ", "]")}), z -> z[1] * z[2])) AS x${j0 + 1}"
        }.mkString(",\n    ")
        val bits = (1 to 15).map(j => s"(CASE WHEN xs[$j] > med THEN ${1L << (j - 1)} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH d AS (
           |  SELECT doc_id, split(lower(text), '') AS arr FROM documents
           |  WHERE doc_id < 300 AND len(text) > 0),
           |px AS (
           |  SELECT doc_id,
           |    list_transform(range(0, 64),
           |      i -> CAST(ascii(arr[(i % len(arr)) + 1]) AS DOUBLE)) AS p
           |  FROM d),
           |x AS (
           |  SELECT doc_id,
           |    $xs
           |  FROM px),
           |v AS (
           |  SELECT doc_id, [${(1 to 15).map(j => s"x$j").mkString(", ")}] AS xs
           |  FROM x),
           |m AS (SELECT doc_id, xs, list_sort(xs)[8] AS med FROM v),
           |h AS (SELECT doc_id, CAST($bits AS BIGINT) AS phash FROM m)
           |SELECT doc_id, phash,
           |  CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
           |FROM h ORDER BY doc_id""".stripMargin
      },
      (s, dir) => {
        val chars = split(lower(col("text")), "")
        val p = transform(sequence(lit(0), lit(63)),
          i => ascii(element_at(chars, (i % size(chars)) + 1)).cast("double"))
        val xcols = PhashBasis.zipWithIndex.map { case ((_, _, k), j0) =>
          aggregate(
            zip_with(col("p"), typedlit(k), (a, b) => a * b),
            lit(0.0), (acc, v) => acc + v).as(s"x${j0 + 1}")
        }
        val xs = array((1 to 15).map(j => col(s"x$j")): _*)
        val phash = (1 to 15).map(j =>
          when(element_at(col("xs"), j) > col("med"), lit(1L << (j - 1)))
            .otherwise(0L)).reduceLeft(_ + _)
        val byHash = Window.partitionBy("phash")
        Tables(s, dir, "documents")
          .filter(col("doc_id") < 300 && length(col("text")) > 0)
          .select(col("doc_id"), p.as("p"))
          .select(col("doc_id") +: xcols: _*)
          .select(col("doc_id"), xs.as("xs"))
          .withColumn("med", element_at(array_sort(col("xs")), 8))
          .select(col("doc_id"), phash.cast("long").as("phash"))
          .withColumn("n_same", count(lit(1)).over(byHash).cast("long"))
          .oracleOrder("doc_id")
      }),

    // AUDIO modality QC — completes the image/audio/video triple as a
    // first-class row: per-clip PCM16LE encode → binary column → DECODE →
    // framewise energy / peak / clipping counts, the silence-and-clipping
    // gate an audio corpus build runs before transcription. Each doc
    // carries a deterministic 64-sample int16 clip (an integer LCG of
    // (doc_id, i) — exact in both engines, no libm); Spark packs it into
    // a real little-endian PCM16 BINARY column in-plan (hex fold →
    // unhex), then decodes the BYTES back (substring/hex/conv per sample)
    // and folds 4 × 16-sample frames to integer energy (Σs²), peak
    // (max |s|) and clipped-sample counts. The DuckDB oracle replays the
    // closed-form samples directly and never sees the binary — hash
    // equality therefore PROVES the encode→decode leg is the identity
    // (the scan_xml_roundtrip invisibility discipline), and
    // Round20OpsSpec decodes the same blobs with java.nio.ByteBuffer
    // (LITTLE_ENDIAN asShortBuffer) to pin the layout as genuine PCM16LE,
    // not merely self-consistent. audio_bytes pins the encoded size
    // (2 bytes/sample). Scale shape: ZERO shuffle — per-row array
    // kernels + one generator (posexplode) fanout of 4 frame rows per
    // clip, then only the presentation sort; at 100 TB this is a pure
    // map stage over the audio blob column at input parallelism.
    Q(
      "multimodal_audio_frame_energy",
      Some("""WITH f AS (SELECT range AS frame FROM range(4)),
             |j AS (SELECT range AS j FROM range(16)),
             |s AS (
             |  SELECT doc_id, frame,
             |    (doc_id * 7919 + (frame * 16 + j) * 104729 + 12345) % 65536
             |      - 32768 AS smp
             |  FROM documents, f, j)
             |SELECT doc_id, CAST(frame AS BIGINT) AS frame,
             |  CAST(SUM(smp * smp) AS BIGINT) AS energy,
             |  CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
             |  CAST(SUM(CASE WHEN ABS(smp) >= 32767 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clipped,
             |  CAST(128 AS BIGINT) AS audio_bytes
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val nSamples = AudioClipSamples
        val frameLen = 16
        // DECODE the bytes back (this is the leg under test): the 16-bit
        // pattern v = byte(2i) + 256*byte(2i+1) read off the binary with
        // 1-based substring, then the two's-complement sign fold
        // ((v + 32768) mod 2¹⁶) − 32768.
        val decoded = transform(
          sequence(lit(0), lit(nSamples - 1)),
          i => {
            val lo = conv(hex(substring(col("audio"), i * 2 + 1, lit(1))), 16, 10)
              .cast("long")
            val hi = conv(hex(substring(col("audio"), i * 2 + 2, lit(1))), 16, 10)
              .cast("long")
            (lo + hi * 256L + 32768L) % 65536L - 32768L
          })
        val frameStats = transform(
          sequence(lit(0), lit(nSamples / frameLen - 1)),
          f => {
            val fr = slice(col("smp"), f * frameLen + 1, lit(frameLen))
            struct(
              aggregate(fr, lit(0L), (a, x) => a + x * x).as("energy"),
              aggregate(fr, lit(0L), (a, x) => greatest(a, abs(x)))
                .as("peak"),
              aggregate(fr, lit(0L),
                (a, x) => a + when(abs(x) >= 32767L, 1L).otherwise(0L))
                .as("n_clipped"))
          })
        Tables(s, dir, "documents")
          .select(col("doc_id"))
          .withColumn("audio", audioPcm16le)
          .withColumn("audio_bytes", octet_length(col("audio")).cast("long"))
          .withColumn("smp", decoded)
          .select(col("doc_id"), col("audio_bytes"),
            posexplode(frameStats).as(Seq("frame", "st")))
          .select(col("doc_id"), col("frame").cast("long").as("frame"),
            col("st.energy").as("energy"), col("st.peak").as("peak"),
            col("st.n_clipped").as("n_clipped"), col("audio_bytes"))
          .oracleOrder("doc_id", "frame")
      }),

    // Per-DIMENSION embedding whitening (feature standardization across
    // the corpus — the retrieval-quality post-process next to the
    // per-VECTOR LayerNorm): pass 1 folds each of the 64 dimensions to
    // decimal-exact (n, Σx, Σx²) via one exploded-cell aggregation (64
    // groups — map-side partials, a few KB over the wire at any corpus
    // size); the 64-row stat table collects into ONE broadcast array row;
    // pass 2 is a map-side zip-fold (x_d − μ_d)/σ_d against an integer
    // probe. Stats follow the dstddev dialect (exact decimal sums,
    // identical variance expansion); the whitened fold is a pinned left
    // fold of identical doubles, ROUND 6 into decimal label sums.
    Q(
      "ml_embedding_whitening",
      Some("""WITH c AS (
             |  SELECT CAST(t.range AS INT) AS d,
             |    CAST(e.embedding[t.range] AS DOUBLE) AS x
             |  FROM embeddings e, range(1, 65) t),
             |st0 AS (
             |  SELECT d, COUNT(*) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS s2
             |  FROM c GROUP BY d),
             |st1 AS (
             |  SELECT d, s / n AS mu,
             |    sqrt((s2 - s * s / n) / (n - 1)) AS sd
             |  FROM st0),
             |st AS (
             |  SELECT list_sort(list(struct_pack(d := d, mu := mu, sd := sd))) AS st
             |  FROM st1),
             |r AS (
             |  SELECT e.label,
             |    ROUND(list_sum(list_transform(range(1, 65), i ->
             |      (CAST(e.embedding[i] AS DOUBLE) - st.st[i].mu) / st.st[i].sd
             |        * (WPROBE)[i])), 6) AS chk
             |  FROM embeddings e, st)
             |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(chk AS DECIMAL(18,6))) AS DOUBLE) AS chk_sum
             |FROM r GROUP BY label ORDER BY label""".stripMargin
        .replace("WPROBE", WhitenProbe.map(v =>
          new java.math.BigDecimal(v).toPlainString).mkString("[", ", ", "]"))),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val stats = e
          .select(posexplode(col("embedding")).as(Seq("p", "xf")))
          .select((col("p") + 1).cast("int").as("d"),
            col("xf").cast("double").as("x"))
          .groupBy("d")
          .agg(count(lit(1)).as("n"), dsum(col("x")).as("s"),
            dsumWide(col("x") * col("x")).as("s2"))
          .select(col("d"), (col("s") / col("n")).as("mu"),
            sqrt((col("s2") - col("s") * col("s") / col("n")) /
              (col("n") - 1)).as("sd"))
          .agg(sort_array(collect_list(
            struct(col("d"), col("mu"), col("sd")))).as("st"))
        val probe = typedlit[Seq[Double]](WhitenProbe)
        val fold = aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
          acc + (element_at(col("embedding"), i).cast("double") -
              element_at(col("st"), i).getField("mu")) /
            element_at(col("st"), i).getField("sd") *
            element_at(probe, i))
        e.crossJoin(broadcast(stats))
          .select(col("label"), round(fold, 6).as("chk"))
          .groupBy("label")
          .agg(cnt.as("n"), dsum(col("chk")).as("chk_sum"))
          .oracleOrder("label")
      }))

  /** Whitening checksum probe, integers. */
  private[graft] val WhitenProbe: Seq[Double] =
    (1 to 64).map(i => ((i * 5) % 11 - 5).toDouble)

  /** pHash DCT-II basis: for each low-frequency (u, v) in the 4×4 block
    * minus DC, the flattened 64-length row K[i = r*8+c] = C(u,r)·C(v,c)
    * with C(u,r) = cos(π(2r+1)u/16) — precomputed once on the JVM, inlined
    * as shortest-repr double literals in BOTH engines (RoPE discipline).
    */
  private[graft] val PhashBasis: Seq[(Int, Int, Seq[Double])] =
    for {
      u <- 0 to 3
      v <- 0 to 3
      if !(u == 0 && v == 0)
    } yield {
      def c(f: Int, r: Int) = math.cos(math.Pi * (2 * r + 1) * f / 16.0)
      val k = for (r <- 0 until 8; cc <- 0 until 8) yield c(u, r) * c(v, cc)
      (u, v, k: Seq[Double])
    }
}
