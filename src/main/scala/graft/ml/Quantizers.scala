package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Staged

/** LEARNED quantizers for the ANN indexes (SURVEY.md §2.K), trained on the
  * actual embedding table instead of the round-2 fixed toy values — the way
  * a real IVF/PQ index trains its coarse quantizer and codebooks on a data
  * sample (reference analog: the CNN's features are likewise learned from
  * the data, `trainer/flax_model.py:153-176`).
  *
  * Training is [[KMeansLloyd]] with its deterministic contract: init =
  * vectors 0..k-1, a fixed iteration count, and exact-DECIMAL distributed
  * sums, so the trained centroids are bit-identical on any partitioning /
  * cluster size. That determinism is what lets the trained values be
  * embedded as LITERALS in both the Spark plan and the generated DuckDB
  * oracle SQL ([[sqlFloat]] prints a float's exact double value, which
  * DuckDB's correctly-rounded parser reads back to the same double).
  *
  * Results are staged per (session, data dir) in [[Staged]]: the IVF query,
  * the PQ query, their oracle generation, and the recall gate all share
  * one training pass.
  * Model state is O(k·dim) floats on the driver; the data never leaves the
  * cluster (one scan + one (cluster, dim) aggregate per Lloyd iteration).
  */
object Quantizers {

  val IvfK = 8
  val IvfIters = 3

  val PqSubs = 4
  val PqSubDim = 16
  val PqCodes = 16
  val PqIters = 3

  /** 8 coarse IVF centroids (64-dim), k-means-trained on `embeddings`. */
  def ivf(s: SparkSession, dir: String): Array[Array[Float]] =
    Staged.memo(s, dir, "quantizer/ivf") {
      val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      KMeansLloyd.run(e, KMeansLloyd.init(e, IvfK), 0, IvfIters)._1
    }

  /** PQ codebook: per 16-dim subspace, [[PqCodes]] k-means-trained
    * codewords (a 2-byte code per vector at 16 codes x 4 subspaces).
    */
  def pq(s: SparkSession, dir: String): Array[Array[Array[Float]]] =
    Staged.memo(s, dir, "quantizer/pq") {
      Array.tabulate(PqSubs) { si =>
        val sub = Tables(s, dir, "embeddings")
          .select(
            col("vec_id"),
            slice(col("embedding"), si * PqSubDim + 1, PqSubDim)
              .as("embedding"))
        KMeansLloyd.run(sub, KMeansLloyd.init(sub, PqCodes), 0, PqIters)._1
      }
    }

  /** SQL literal of a float's exact double value: `Double.toString` emits
    * the shortest decimal that round-trips, and float->double widening is
    * exact, so both engines see the identical IEEE value.
    */
  def sqlFloat(f: Float): String = java.lang.Double.toString(f.toDouble)

  // ---- OPQ: optimized product quantization (Ge et al. 2013) ----

  val OpqDim = 64
  val OpqIters = 6

  /** OPQ model: (rotation rows, rotated-space PQ codebook). The rotation
    * is the paper's "natural" (eigenvalue-allocation) initialization made
    * deterministic: the 64x64 PCA Gram (exact decimal sums — the
    * `ml_pca_power_iteration` statistic, so the matrix is bit-identical on
    * any partitioning) eigen-decomposes on the driver by [[OpqIters]]
    * rounds of orthogonal iteration (G·Q then modified Gram-Schmidt QR —
    * fixed double arithmetic), columns sort by Rayleigh quotient, and
    * subspace `si` receives eigencolumns si, si+4, si+8, … so the leading
    * variance spreads ACROSS subspaces instead of saturating the first one
    * — the imbalance plain PQ suffers when dims correlate. Row d of the
    * result is the weight vector of rotated coordinate d (y_d = r_d · x),
    * stored as floats so both engines inline identical literals. The
    * codebook then trains per rotated subspace exactly like [[pq]].
    */
  def opq(s: SparkSession, dir: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) =
    Staged.memo(s, dir, "quantizer/opq") {
      val d = OpqDim
      val g = Array.ofDim[Double](d, d)
      graft.queries.MLOps.pcaGram(s, dir).collect()
        .foreach(r => g(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getDouble(2))
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < d) { acc += a(i) * b(i); i += 1 }; acc
      }
      def matCol(q: Array[Double]): Array[Double] =
        Array.tabulate(d)(i => dot(g(i), q))
      // Orthogonal iteration: Z = G·Q, Q = QR(Z) by modified Gram-Schmidt.
      var q = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      for (_ <- 1 to OpqIters) {
        val z = q.map(matCol)
        for (c <- z.indices) {
          for (p <- 0 until c) {
            val proj = dot(z(p), z(c))
            var i = 0
            while (i < d) { z(c)(i) -= proj * z(p)(i); i += 1 }
          }
          val nrm = math.sqrt(dot(z(c), z(c)))
          var i = 0
          while (i < d) { z(c)(i) /= nrm; i += 1 }
        }
        q = z
      }
      // Deterministic sign fix (the pcaDirectionFresh convention), then
      // sort by Rayleigh quotient descending (ties by column index).
      val fixed = q.map { c =>
        if (c.find(math.abs(_) > 1e-9).exists(_ < 0)) c.map(-_) else c
      }
      val sorted = fixed.zipWithIndex
        .map { case (c, i) => (c, dot(c, matCol(c)), i) }
        .sortBy { case (_, lam, i) => (-lam, i) }
        .map(_._1)
      val rot = Array.tabulate(d) { dd =>
        sorted((dd % PqSubDim) * PqSubs + dd / PqSubDim).map(_.toFloat)
      }
      val rotated = opqRotate(Tables(s, dir, "embeddings"), rot)
        .localCheckpoint()
      val cb = Array.tabulate(PqSubs) { si =>
        val sub = rotated.select(
          col("vec_id"),
          slice(col("embedding"), si * PqSubDim + 1, PqSubDim).as("embedding"))
        KMeansLloyd.run(sub, KMeansLloyd.init(sub, PqCodes), 0, PqIters)._1
      }
      (rot, cb)
    }

  /** Apply the OPQ rotation: y_d = r_d · x in double (the shared native
    * dot), rounded once to float — both engines reproduce the identical
    * round-to-nearest-even floats.
    */
  def opqRotate(e: DataFrame, rot: Array[Array[Float]]): DataFrame = {
    import org.apache.spark.sql.functions.{call_function => cf, typedLit}
    // One fused graft_matvec kernel (graft.functions.MatVec): bit-equal to
    // the 64-column `array(graft_dot(embedding, lit(row)).cast("float"))`
    // projection it replaces, but a single JIT-compilable loop nest with the
    // rotation attached as a reference object instead of 4096 literal nodes.
    e.select(
      col("vec_id"),
      cf("graft_matvec", col("embedding"),
        typedLit(rot.map(_.toIndexedSeq).toIndexedSeq)).as("embedding"))
  }

  // ---- SemDeDup coarse quantizer (k grows with n) ----

  /** Target mean cluster population for the SemDeDup quantizer. */
  val SemClusterSize = 64

  /** SemDeDup cluster count: k = max(IvfK, ceil(n/64)) — the paper's scale
    * contract (Abbas et al. 2023 use ~50k clusters at web scale) made
    * concrete: k grows LINEARLY with the corpus so the mean within-cluster
    * population stays ~[[SemClusterSize]] and the quadratic pair scan stays
    * bounded per cluster at any scale factor. At sf0.01 (n=500) this floors
    * to [[IvfK]]=8, so the trained centroids coincide with [[ivf]]'s
    * (same init + iteration count) and the sf0.01 oracle is unchanged.
    */
  def semK(n: Long): Int =
    math.max(IvfK.toLong, (n + SemClusterSize - 1) / SemClusterSize).toInt

  /** k-means-trained SemDeDup centroids over `embeddings`, k = [[semK]](n),
    * staged (one training pass shared by the query, its generated oracle,
    * and the scale spec).
    */
  def sem(s: SparkSession, dir: String): Array[Array[Float]] =
    Staged.memo(s, dir, "quantizer/sem")(
      semTrain(Tables(s, dir, "embeddings").select("vec_id", "embedding")))

  /** DataFrame-form training body, so specs can probe synthetic scales
    * (replicated frames) without staging a parquet dir.
    */
  def semTrain(e: DataFrame): Array[Array[Float]] = {
    val k = semK(e.count())
    KMeansLloyd.run(e, KMeansLloyd.init(e, k), 0, IvfIters)._1
  }
}
