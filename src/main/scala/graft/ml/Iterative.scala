package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Fns._

/** Resumable iterative training loops (SURVEY.md §2.J).
  *
  * Reference analog: the training loop of `trainer/flax_model.py:229-260`
  * with its per-epoch checkpoint/restore (`:377-382`,
  * `flax_inference.ipynb` cell 3). Both loops here are factored as pure
  * `state -> state` step functions over driver-held model state, so a run
  * is `init |> step |> step |> ...` and resuming from a [[ModelCheckpoint]]
  * is the same fold started from a restored state — bit-for-bit equal to
  * the uninterrupted run (CheckpointSpec).
  *
  * Scale design: model state is O(1) / O(k·dim); the data never leaves the
  * cluster. GD touches the data ONCE (sufficient statistics), k-means once
  * per iteration (one scan + one (cluster,dim) aggregate). All distributed
  * sums go through exact DECIMAL so shuffle merge order cannot perturb the
  * state — that is what makes "bit-for-bit resume" a meaningful contract on
  * a 1000-executor cluster, not just on local[4].
  */
object GradientDescent {

  /** Exact sufficient statistics of (x, y) for quadratic loss — gradient
    * and SSE are closed-form in these, so every GD iteration after the one
    * gathering pass is pure driver arithmetic.
    */
  final case class Moments(
      n: Double, sx: Double, sy: Double,
      sxx: Double, sxy: Double, syy: Double)

  /** Driver-held optimizer state. Beyond (w, b), carries the Adam first/
    * second-moment estimates per parameter (reference trains with
    * `optax.adam(config.learning_rate)`, `trainer/flax_model.py:275`) —
    * m/v are PART of the state, so checkpoint/resume round-trips them
    * bit-for-bit exactly like the weights (CheckpointSpec). Plain GD
    * ignores them (they stay 0.0).
    */
  final case class State(
      step: Int, w: Double, b: Double,
      mw: Double = 0.0, mb: Double = 0.0,
      vw: Double = 0.0, vb: Double = 0.0)

  /** ONE distributed pass over a DataFrame with columns (x, y). */
  def moments(xy: DataFrame): Moments = {
    val m = xy.agg(
      cnt.as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsumWide(col("x") * col("x")).as("sxx"),
      dsumWide(col("x") * col("y")).as("sxy"),
      dsumWide(col("y") * col("y")).as("syy"))
      .head()
    Moments(m.getLong(0).toDouble, m.getDouble(1), m.getDouble(2),
      m.getDouble(3), m.getDouble(4), m.getDouble(5))
  }

  /** BOTH splits' moments in ONE distributed pass: groupBy over the split
    * column with the same exact-decimal sums — the train/eval alternation
    * touches the data once, not once per split (at 100 TB: one scan total
    * for any number of epochs). Decimal sums are exact and
    * merge-order-independent, so each split's Moments is bit-identical to
    * a separate filtered [[moments]] pass (asserted in CheckpointSpec).
    */
  def momentsBySplit(xy: DataFrame, splitCol: String): Map[String, Moments] =
    xy.groupBy(col(splitCol)).agg(
      cnt.as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsumWide(col("x") * col("x")).as("sxx"),
      dsumWide(col("x") * col("y")).as("sxy"),
      dsumWide(col("y") * col("y")).as("syy"))
      .collect()
      .map(r => r.getString(0) -> Moments(
        r.getLong(1).toDouble, r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap

  /** One GD step: returns the next state and the MSE of the *incoming*
    * state (the loss the step observed, as the reference logs it).
    */
  def step(m: Moments, st: State, lr: Double): (State, Double) = {
    import m._
    // gw = sum((w x + b - y) x); gb = sum(w x + b - y); sse likewise.
    val gw = st.w * sxx + st.b * sx - sxy
    val gb = st.w * sx + n * st.b - sy
    val sse = st.w * st.w * sxx + 2 * st.w * st.b * sx - 2 * st.w * sxy +
      n * st.b * st.b - 2 * st.b * sy + syy
    val mse = sse / n
    (State(st.step + 1, st.w - lr * 2.0 * gw / n, st.b - lr * 2.0 * gb / n,
      st.mw, st.mb, st.vw, st.vb), mse)
  }

  /** One Adam step (`optax.adam` semantics, defaults b1=0.9, b2=0.999,
    * eps=1e-8; reference `flax_model.py:275`): exponential first/second
    * moments of the mean-loss gradient with bias correction. Same
    * closed-form gradient from the sufficient statistics — the data is
    * never touched; moments live in [[State]] so a checkpointed resume
    * replays the identical trajectory bit-for-bit.
    */
  /** x^k by left-to-right repeated multiplication (1.0·x·x·…): unlike
    * `math.pow` (libm-dependent, may differ from a multiply chain in the
    * last ulp), this is a fixed IEEE multiply sequence any engine — and a
    * SQL oracle writing the same literal product — reproduces bit-for-bit.
    */
  private def ipow(x: Double, k: Int): Double = {
    var p = 1.0; var i = 0
    while (i < k) { p *= x; i += 1 }
    p
  }

  def stepAdam(m: Moments, st: State, lr: Double,
      b1: Double = 0.9, b2: Double = 0.999, eps: Double = 1e-8)
      : (State, Double) = {
    import m._
    val gw = 2.0 * (st.w * sxx + st.b * sx - sxy) / n
    val gb = 2.0 * (st.w * sx + n * st.b - sy) / n
    val sse = st.w * st.w * sxx + 2 * st.w * st.b * sx - 2 * st.w * sxy +
      n * st.b * st.b - 2 * st.b * sy + syy
    val t = st.step + 1
    val mw = b1 * st.mw + (1 - b1) * gw
    val mb = b1 * st.mb + (1 - b1) * gb
    val vw = b2 * st.vw + (1 - b2) * gw * gw
    val vb = b2 * st.vb + (1 - b2) * gb * gb
    val bc1 = 1 - ipow(b1, t)
    val bc2 = 1 - ipow(b2, t)
    val w2 = st.w - lr * (mw / bc1) / (math.sqrt(vw / bc2) + eps)
    val b2n = st.b - lr * (mb / bc1) / (math.sqrt(vb / bc2) + eps)
    (State(t, w2, b2n, mw, mb, vw, vb), sse / n)
  }

  /** Closed-form MSE of `st` under moments `m` — the loss probe the
    * train/eval alternation uses against the EVAL split's moments (the
    * identical sse expression [[step]]/[[stepAdam]] evaluate on the train
    * split; shared term order keeps the probe bit-reproducible).
    */
  def mse(m: Moments, st: State): Double = {
    import m._
    (st.w * st.w * sxx + 2 * st.w * st.b * sx - 2 * st.w * sxy +
      n * st.b * st.b - 2 * st.b * sy + syy) / n
  }

  /** Fold an optimizer step `nSteps` times from `init`, optionally
    * checkpointing each step's state. History rows:
    * (step, w, b, mse-before-update). `opt` defaults to plain [[step]];
    * pass `stepAdam(_, _, _)` for Adam.
    */
  def run(m: Moments, init: State, nSteps: Int, lr: Double,
      ckpt: Option[ModelCheckpoint] = None,
      opt: (Moments, State, Double) => (State, Double) = step)
      : (State, Seq[(Int, Double, Double, Double)]) = {
    var st = init
    val hist = (1 to nSteps).map { _ =>
      val (next, mse) = opt(m, st, lr)
      st = next
      ckpt.foreach(c => c.save(st.step, toDf(c.spark, st)))
      (st.step, st.w, st.b, mse)
    }
    (st, hist)
  }

  def toDf(spark: SparkSession, st: State): DataFrame =
    spark.createDataFrame(
      Seq((st.step, st.w, st.b, st.mw, st.mb, st.vw, st.vb)))
      .toDF("step", "w", "b", "mw", "mb", "vw", "vb")

  def fromDf(df: DataFrame): State = {
    val r = df.head()
    State(r.getAs[Int]("step"), r.getAs[Double]("w"), r.getAs[Double]("b"),
      r.getAs[Double]("mw"), r.getAs[Double]("mb"),
      r.getAs[Double]("vw"), r.getAs[Double]("vb"))
  }
}

/** The reference's per-epoch train/eval alternation
  * (`trainer/flax_model.py:349-375`): each epoch trains on the 90% split
  * and probes the loss on the held-out 10% split, logging both. Here the
  * two splits are reduced ONCE each to exact sufficient statistics
  * ([[GradientDescent.moments]]), so the whole multi-epoch loop — Adam
  * updates from the train moments, eval-MSE probes from the eval moments —
  * is pure driver arithmetic: at 100 TB the data is scanned exactly twice
  * regardless of epoch count, versus once per epoch for a naive loop.
  * Checkpoint/resume folds through the same [[GradientDescent.State]], so
  * a restored run replays the identical (train_loss, eval_loss) series
  * bit-for-bit (CheckpointSpec).
  */
object TrainEval {

  import GradientDescent.{Moments, State, stepAdam, mse, toDf}

  /** Run `epochs` Adam epochs from `init`. History rows:
    * (metric, epoch, value) — `train_loss` is the loss the epoch's update
    * observed (pre-update, as the reference's `train_epoch` returns),
    * `eval_loss` the held-out MSE of the post-update state (as the
    * reference's `apply_lc` evaluates after each epoch).
    */
  def run(mTrain: Moments, mEval: Moments, init: State, epochs: Int,
      lr: Double, ckpt: Option[ModelCheckpoint] = None)
      : (State, Seq[(String, Int, Double)]) = {
    var st = init
    val hist = (init.step + 1 to init.step + epochs).flatMap { epoch =>
      val (next, trainMse) = stepAdam(mTrain, st, lr)
      st = next
      ckpt.foreach(c => c.save(st.step, toDf(c.spark, st)))
      Seq(("train_loss", epoch, trainMse), ("eval_loss", epoch, mse(mEval, st)))
    }
    (st, hist)
  }
}

/** Lloyd's k-means with driver-held centroids entering each iteration as
  * broadcast literals; one scan + one (cluster, dim) exact-decimal
  * aggregate per iteration. Assignment distance uses the native
  * `graft_dot` codegen expression.
  */
object KMeansLloyd {

  type Centroids = Array[Array[Float]]

  val K = 8
  val Dim = 64

  /** Deterministic init: vectors 0..k-1. */
  def init(e: DataFrame, k: Int = K): Centroids = {
    e.filter(col("vec_id") < k).orderBy("vec_id")
      .collect()
      .map(_.getSeq[Float](1).toArray)
  }

  /** One Lloyd iteration: returns (new centroids, WCSS of the incoming
    * centroids, number of non-empty clusters). All distributed sums are
    * exact DECIMAL → merge-order-independent state.
    */
  def step(e: DataFrame, centroids: Centroids): (Centroids, Double, Int) = {
    import org.apache.spark.sql.functions.{call_function => cf}
    val k = centroids.length
    val dim = centroids.head.length
    val cLits = centroids.map(c => array(c.toIndexedSeq.map(lit): _*))
    // |x - c|^2 = x.x - 2 x.c + c.c ; x.x constant per row, omit.
    val dists = cLits.zipWithIndex.map { case (c, i) =>
      (cf("graft_dot", c, c) - lit(2.0) * cf("graft_dot", col("embedding"), c))
        .as(s"d$i")
    }
    val assigned = e.select((col("vec_id") +: col("embedding") +: dists.toIndexedSeq): _*)
    // First-minimal argmin over the k distances, LINEAR in k: a when/struct
    // fold duplicates its accumulator twice per level (O(2^k) expression
    // nodes — fine at k=8, a planner stall at k=16); array_position of the
    // array_min picks the same first-minimal index with O(k) nodes.
    val dsArr = array((0 until k).map(i => col(s"d$i")): _*)
    val withCluster = assigned
      .select(col("vec_id"), col("embedding"),
        (array_position(dsArr, array_min(dsArr)) - 1).cast("int").as("cluster"))
    // ONE job per iteration: per-cluster count, per-dim sums (new centroid
    // numerators) and sum|x|^2 — WCSS for the old centroids follows in
    // closed form: sum|x|^2 - 2 c.Sx + n|c|^2 per cluster.
    // Typed DecSum (bit-equal to sum(cast(DECIMAL(30,10)))): precision 30
    // is past the long-backed decimal range, so the declarative form paid
    // a BigInteger byte-array round-trip per (row, dim); the mutable
    // BigDecimal buffer pays serialization once per (cluster, partition).
    val aggCols =
      count(lit(1)).as("cnt") +:
        dsumP(cf("graft_dot", col("embedding"), col("embedding")), 30, 10)
          .as("sxx") +:
        (0 until dim).map(j =>
          dsumP(element_at(col("embedding"), j + 1).cast("double"), 30, 10)
            .as(s"s$j"))
    val rows = withCluster.groupBy("cluster")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .sortBy(_.getInt(0)) // fixed fold order => deterministic WCSS sum
    val next = Array.fill(k, dim)(0.0f)
    val counts = Array.fill(k)(0L)
    var wcss = 0.0
    rows.foreach { r =>
      val c = r.getInt(0)
      val nC = r.getLong(1)
      counts(c) = nC
      val sxx = r.getDouble(2)
      var dotCS = 0.0
      var cc = 0.0
      for (j <- 0 until dim) {
        val sj = r.getDouble(3 + j)
        next(c)(j) = (sj / nC).toFloat
        dotCS += centroids(c)(j).toDouble * sj
        cc += centroids(c)(j).toDouble * centroids(c)(j).toDouble
      }
      wcss += sxx - 2 * dotCS + nC * cc
    }
    // Keep empty clusters' previous centroid.
    for (c <- 0 until k if counts(c) == 0) next(c) = centroids(c)
    (next, wcss, counts.count(_ > 0))
  }

  /** Fold [[step]] with optional per-iteration checkpointing. History
    * rows: (step, wcss-of-incoming-centroids, nonempty clusters).
    */
  def run(e: DataFrame, init: Centroids, fromStep: Int, nSteps: Int,
      ckpt: Option[ModelCheckpoint] = None)
      : (Centroids, Seq[(Int, Double, Int)]) = {
    var cs = init
    val hist = (fromStep + 1 to fromStep + nSteps).map { it =>
      val (next, wcss, nonempty) = step(e, cs)
      cs = next
      ckpt.foreach(c => c.save(it, toDf(c.spark, it, cs)))
      (it, wcss, nonempty)
    }
    (cs, hist)
  }

  def toDf(spark: SparkSession, step: Int, cs: Centroids): DataFrame =
    spark.createDataFrame(
      cs.zipWithIndex.toSeq.map { case (c, i) => (i, step, c.toSeq) })
      .toDF("cluster", "step", "centroid")

  def fromDf(df: DataFrame): Centroids =
    df.orderBy("cluster").collect().map(_.getSeq[Float](2).toArray)
}
