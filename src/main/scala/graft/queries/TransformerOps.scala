package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns.{cnt, dsum}
import graft.queries.SimOps.ndot
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.J (transformer block components) — the north-star
  * training-pipeline extensions the reference's conv/dense model family
  * stops short of: LayerNorm/RMSNorm, rotary position embedding, scaled
  * dot-product attention, and a low-rank (LoRA) adapter matvec, each
  * relationalized over the `embeddings` table (FLOAT[64] vectors).
  *
  * Shared scale design: every query is a MAP-SIDE pass over the vectors —
  * per-row native dot products (`graft_dot`, whole-stage codegen) against
  * small literal weight vectors — followed by one tiny grouped aggregate
  * (10 labels / 32 positions / 16 buckets). Nothing shuffles except the
  * few-hundred-byte final groups, so the plans are embarrassingly parallel
  * at 100 TB: 1000 executors each fold their partitions and emit partial
  * decimal sums. Attention is the one genuinely pairwise operator, and its
  * quadratic stays GROUP-LOCAL (sequences of 8 tokens joined on their
  * sequence id — one co-partitioned shuffle, never a corpus-wide product).
  *
  * Exactness dialect: all learned weights are exact binary rationals
  * (k/16, k/128) so FLOAT literals and DOUBLE literals denote identical
  * values; dot products fold left-to-right on both engines (proven by the
  * cosine family); trig for RoPE is PRECOMPUTED on the JVM once per
  * (position, pair) and inlined as double literals into BOTH the Spark
  * plan and the DuckDB oracle — query time is trig-free, exactly how
  * production rotary caches work. Only attention calls a transcendental
  * (exp/ln) at query time, following the agg_softmax_xent precedent:
  * ROUND 8dp after the transcendental, exact DECIMAL sums after that.
  */
object TransformerOps extends QueryPack {

  /** Staged K/V cache for `ml_kv_cache_decode`: keys/values for positions
    * 1..7 of every sequence, value checksums precomputed at stage time
    * (that's what a value cache IS), checkpointed so decode steps read it
    * as an ExistingRDD scan instead of rederiving it from the corpus.
    */
  private[graft] def kvCache(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Staged(s, dir, "kv_cache") {
      Tables(s, dir, "embeddings")
        .select(expr("vec_id div 8").as("gid"),
          (col("vec_id") % 8 + 1).cast("int").as("kpos"),
          col("embedding").as("kv"))
        .filter(col("kpos") <= 7)
        .withColumn("vsum", round(ndot(col("kv"), fvec(Ones)), 8))
    }

  private def fvec(xs: Seq[Double]): Column =
    typedlit[Array[Float]](xs.map(_.toFloat).toArray)

  /** Exact-decimal literal for a double that is an exact binary rational
    * (k/16, k/128 …): java.math.BigDecimal prints the exact expansion, so
    * the SQL literal parses back to the identical double in DuckDB.
    */
  private def exact(d: Double): String = new java.math.BigDecimal(d).toPlainString

  private def list(xs: Seq[Double], f: Double => String): String =
    xs.map(f).mkString("[", ", ", "]")

  // ---- deterministic "learned" parameters (integer-derived, see each use)
  private val Ones: Seq[Double] = Seq.fill(64)(1.0)
  private val LnW: Seq[Double] = (1 to 64).map(i => ((i * 37) % 11 - 5).toDouble)
  private val RmsW: Seq[Double] = (1 to 64).map(i => ((i * 23) % 13 - 6).toDouble)
  private val LnWSum: Double = LnW.sum

  def queries: Seq[Q] = Seq(

    // LayerNorm + RMSNorm statistics, sufficient-statistics form: the
    // normalized vector never materializes — Σ((x_i−μ)/σ·w_i) rewrites to
    // (x·w − μ·Σw)/σ with μ, σ from the same two native dots (x·1, x·x)
    // the dstddev dialect uses. Two passes of fused codegen per row, zero
    // allocation; the checksum weights w are a fixed integer probe vector
    // (a reduction witness: Σ of the normalized values alone would cancel
    // to ~0 by construction). ROUND 6dp per row, exact decimal group sums.
    Q(
      "ml_layernorm_rmsnorm",
      Some {
        val sx = "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.0))"
        val sxx = "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        val dw = s"list_sum(list_transform(list_zip(embedding, ${list(LnW, exact)}), z -> CAST(z[1] AS DOUBLE) * z[2]))"
        val dv = s"list_sum(list_transform(list_zip(embedding, ${list(RmsW, exact)}), z -> CAST(z[1] AS DOUBLE) * z[2]))"
        s"""WITH s AS (
           |  SELECT label, $sx AS sx, $sxx AS sxx, $dw AS dw, $dv AS dv
           |  FROM embeddings),
           |n AS (
           |  SELECT label,
           |    sqrt((sxx - sx * sx / 64.0) / 64.0 + 1e-5) AS sd,
           |    sqrt(sxx / 64.0 + 1e-5) AS rms,
           |    sx / 64.0 AS mu, dw, dv
           |  FROM s),
           |c AS (
           |  SELECT label,
           |    ROUND((dw - mu * (${exact(LnWSum)})) / sd, 6) AS ln_chk,
           |    ROUND(dv / rms, 6) AS rms_chk,
           |    ROUND(sd, 6) AS sd6
           |  FROM n)
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           |  ROUND(CAST(SUM(CAST(ln_chk AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS ln_avg,
           |  ROUND(CAST(SUM(CAST(rms_chk AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS rms_avg,
           |  ROUND(CAST(SUM(CAST(sd6 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS sd_avg
           |FROM c GROUP BY label ORDER BY label""".stripMargin
      },
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val x = col("embedding")
        val sx = ndot(x, fvec(Ones))
        val sxx = ndot(x, x)
        val mu = col("sx") / 64.0
        val sd = sqrt((col("sxx") - col("sx") * col("sx") / 64.0) / 64.0 + 1e-5)
        val rms = sqrt(col("sxx") / 64.0 + 1e-5)
        def dec6(c: Column): Column = c.cast(DecimalType(18, 6))
        e.select(col("label"), sx.as("sx"), sxx.as("sxx"),
            ndot(x, fvec(LnW)).as("dw"), ndot(x, fvec(RmsW)).as("dv"))
          .select(col("label"),
            round((col("dw") - mu * lit(LnWSum)) / sd, 6).as("ln_chk"),
            round(col("dv") / rms, 6).as("rms_chk"),
            round(sd, 6).as("sd6"))
          .groupBy("label")
          .agg(
            count(lit(1)).cast("long").as("n"),
            round(sum(dec6(col("ln_chk"))).cast("double") / count(lit(1)), 6).as("ln_avg"),
            round(sum(dec6(col("rms_chk"))).cast("double") / count(lit(1)), 6).as("rms_avg"),
            round(sum(dec6(col("sd6"))).cast("double") / count(lit(1)), 6).as("sd_avg"))
          .oracleOrder("label")
      }),

    // Rotary position embedding with a PRECOMPUTED coefficient cache: the
    // (cos, sin) pair for every (position p = vec_id % 32, frequency j) is
    // folded with the integer probe weights into ONE 64-wide coefficient
    // vector per position on the JVM (m[2j−1] = cosθ·wa + sinθ·wb,
    // m[2j] = −sinθ·wa + cosθ·wb, θ = p·10000^(−2(j−1)/64)), so the rotated
    // checksum Σ_j (y1·wa + y2·wb) is exactly dot(x, m_p). Query time is
    // trig-free on both engines: Spark joins the 32-row broadcast cache and
    // zip-folds; the oracle carries the identical doubles as a VALUES list.
    // At 100 TB the cache is a few KB broadcast; the scan stays map-only.
    Q(
      "ml_rope_rotate",
      Some {
        val rows = RopeCoef.map { case (p, m) =>
          s"($p, ${list(m, _.toString)}::DOUBLE[])"
        }.mkString(",\n    ")
        s"""WITH m(pos, coef) AS (VALUES
           |    $rows),
           |c AS (
           |  SELECT CAST(e.vec_id % 32 AS INT) AS pos,
           |    ROUND(list_sum(list_transform(list_zip(e.embedding, m.coef),
           |      z -> CAST(z[1] AS DOUBLE) * z[2])), 4) AS chk
           |  FROM embeddings e JOIN m ON CAST(e.vec_id % 32 AS INT) = m.pos)
           |SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
           |  ROUND(CAST(SUM(CAST(chk AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS chk_avg
           |FROM c GROUP BY pos ORDER BY pos""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val cache = RopeCoef.map { case (p, m) => (p, m) }.toDF("pos", "coef")
        val e = Tables(s, dir, "embeddings")
          .select((col("vec_id") % 32).cast("int").as("pos"), col("embedding"))
        val folded = aggregate(
          zip_with(col("embedding"), col("coef"), (x, m) => x.cast("double") * m),
          lit(0.0), (acc, v) => acc + v)
        e.join(broadcast(cache), "pos")
          .select(col("pos"), round(folded, 4).as("chk"))
          .groupBy("pos")
          .agg(
            count(lit(1)).cast("long").as("n"),
            round(sum(col("chk").cast(DecimalType(18, 4))).cast("double")
              / count(lit(1)), 4).as("chk_avg"))
          .oracleOrder("pos")
      }),

    // Scaled dot-product attention over 8-token sequences (gid = vec_id
    // div 8): first-token query against all keys in its sequence — scores
    // s = dot/√d·τ, max-subtracted softmax, then per-sequence attention
    // entropy and the argmax key, rolled up per gid-bucket. The quadratic
    // is group-local: both sides shuffle ONCE on gid (8×8 dots per group),
    // and all window functions reuse that single gid partitioning — the
    // 100 TB plan is one exchange, group-local compute, tiny rollup.
    // exp/ln follow the agg_softmax_xent dialect: ROUND 8dp after each
    // transcendental, exact decimal sums beyond.
    Q(
      "ml_attention_entropy",
      Some("""WITH t AS (
             |  SELECT vec_id // 8 AS gid, CAST(vec_id % 8 + 1 AS INT) AS kpos, embedding
             |  FROM embeddings),
             |p AS (
             |  SELECT k.gid, k.kpos,
             |    ROUND(list_sum(list_transform(list_zip(q.embedding, k.embedding),
             |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) * 4.0, 8) AS s
             |  FROM t q JOIN t k ON q.gid = k.gid AND q.kpos = 1),
             |x AS (
             |  SELECT gid, kpos,
             |    ROUND(exp(s - MAX(s) OVER (PARTITION BY gid)), 8) AS ex
             |  FROM p),
             |w AS (
             |  SELECT gid, kpos,
             |    ROUND(ex / CAST(SUM(CAST(ex AS DECIMAL(18,8))) OVER (PARTITION BY gid) AS DOUBLE), 6) AS w
             |  FROM x),
             |g AS (
             |  SELECT gid, kpos, w, MAX(w) OVER (PARTITION BY gid) AS maxw
             |  FROM w),
             |a AS (
             |  SELECT gid,
             |    ROUND(CAST(SUM(CAST(ROUND(CASE WHEN w > 0 THEN -w * ln(w) ELSE 0.0 END, 8)
             |      AS DECIMAL(18,8))) AS DOUBLE), 6) AS h,
             |    MAX(w) AS top_w,
             |    MIN(CASE WHEN w = maxw THEN kpos END) AS top_k
             |  FROM g GROUP BY gid)
             |SELECT CAST(gid % 16 AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(h AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS h_avg,
             |  ROUND(CAST(SUM(CAST(top_w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS topw_avg,
             |  CAST(SUM(top_k) AS BIGINT) AS topk_sum
             |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "embeddings")
          .select(expr("vec_id div 8").as("gid"),
            (col("vec_id") % 8 + 1).cast("int").as("kpos"), col("embedding"))
        val q = t.filter(col("kpos") === 1)
          .select(col("gid"), col("embedding").as("qe"))
        val byGid = Window.partitionBy("gid")
        val scored = t.join(q, "gid")
          .select(col("gid"), col("kpos"),
            round(ndot(col("qe"), col("embedding")) * 4.0, 8).as("s"))
          .withColumn("ex", round(exp(col("s") - max("s").over(byGid)), 8))
          .withColumn("w", round(col("ex") /
            sum(col("ex").cast(DecimalType(18, 8))).over(byGid).cast("double"), 6))
          .withColumn("maxw", max("w").over(byGid))
        val ent = round(when(col("w") > 0, -col("w") * log(col("w"))).otherwise(0.0), 8)
        scored.groupBy("gid")
          .agg(
            round(sum(ent.cast(DecimalType(18, 8))).cast("double"), 6).as("h"),
            max("w").as("top_w"),
            min(when(col("w") === col("maxw"), col("kpos"))).as("top_k"))
          .groupBy((col("gid") % 16).cast("int").as("bucket"))
          .agg(
            count(lit(1)).cast("long").as("n"),
            round(sum(col("h").cast(DecimalType(18, 6))).cast("double")
              / count(lit(1)), 6).as("h_avg"),
            round(sum(col("top_w").cast(DecimalType(18, 6))).cast("double")
              / count(lit(1)), 6).as("topw_avg"),
            sum("top_k").cast("long").as("topk_sum"))
          .oracleOrder("bucket")
      }),

    // KV-CACHE incremental decode — the serving-side complement of
    // ml_attention_entropy: autoregressive step t=8 attends over positions
    // 1..8 where the keys/values for 1..7 come from a MATERIALIZED cache
    // (staged once per (session, dir) with the value checksums
    // precomputed, localCheckpoint — the plan reads it as an ExistingRDD
    // scan, it is never rederived) and only the new token's K/V is
    // computed fresh. Incremental == full recompute is exactly what the
    // oracle proves: DuckDB computes the same attention from raw
    // embeddings with no cache. Per group: attention-output checksum
    // Σ w_k·(v_k·1) (order-free decimal sum of 8dp terms), the weight the
    // new token gives ITSELF (w_new — the recency mass a decode step
    // assigns), and the argmax position. Softmax is the proven
    // agg_softmax_xent dialect (8dp scores, exp-minus-max, 6dp weights
    // over a DECIMAL(18,8) window sum). Scale: the cache is |tokens|-sized
    // state keyed by (gid, kpos) — at serving volume it lives partitioned
    // on gid exactly like this staged table, each step is one broadcast
    // of the new tokens against it, and only the fresh row is appended.
    Q(
      "ml_kv_cache_decode",
      Some("""WITH t AS (
             |  SELECT vec_id // 8 AS gid, CAST(vec_id % 8 + 1 AS INT) AS kpos, embedding
             |  FROM embeddings),
             |q AS (SELECT gid, embedding AS qe FROM t WHERE kpos = 8),
             |p AS (
             |  SELECT k.gid, k.kpos,
             |    ROUND(list_sum(list_transform(list_zip(q.qe, k.embedding),
             |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) * 4.0, 8) AS s,
             |    ROUND(list_sum(list_transform(k.embedding,
             |      x -> CAST(x AS DOUBLE) * 1.0)), 8) AS vsum
             |  FROM t k JOIN q ON q.gid = k.gid),
             |x AS (
             |  SELECT gid, kpos, vsum,
             |    ROUND(exp(s - MAX(s) OVER (PARTITION BY gid)), 8) AS ex
             |  FROM p),
             |w AS (
             |  SELECT gid, kpos, vsum,
             |    ROUND(ex / CAST(SUM(CAST(ex AS DECIMAL(18,8))) OVER (PARTITION BY gid) AS DOUBLE), 6) AS w
             |  FROM x),
             |g AS (
             |  SELECT gid, kpos, w, vsum, MAX(w) OVER (PARTITION BY gid) AS maxw
             |  FROM w),
             |a AS (
             |  SELECT gid,
             |    ROUND(CAST(SUM(CAST(ROUND(w * vsum, 8) AS DECIMAL(18,8))) AS DOUBLE), 6) AS ychk,
             |    MAX(CASE WHEN kpos = 8 THEN w END) AS w_new,
             |    MIN(CASE WHEN w = maxw THEN kpos END) AS top_k
             |  FROM g GROUP BY gid)
             |SELECT CAST(gid % 16 AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(ychk AS DECIMAL(18,6))) AS DOUBLE), 6) AS ychk_sum,
             |  ROUND(CAST(SUM(CAST(w_new AS DECIMAL(18,6))) AS DOUBLE), 6) AS wnew_sum,
             |  CAST(SUM(top_k) AS BIGINT) AS topk_sum
             |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin),
      (s, dir) => {
        val cache = kvCache(s, dir)
        val t = Tables(s, dir, "embeddings")
          .select(expr("vec_id div 8").as("gid"),
            (col("vec_id") % 8 + 1).cast("int").as("kpos"), col("embedding"))
        val q = t.filter(col("kpos") === 8)
          .select(col("gid"), col("embedding").as("qe"))
        // Only the NEW token's K/V derives fresh; 1..7 come off the cache.
        val fresh = q.select(
          col("gid"), lit(8).cast("int").as("kpos"), col("qe").as("kv"),
          round(ndot(col("qe"), fvec(Ones)), 8).as("vsum"))
        val keys = cache.unionByName(fresh)
        val byGid = Window.partitionBy("gid")
        val scored = keys.join(q, "gid")
          .select(col("gid"), col("kpos"), col("vsum"),
            round(ndot(col("qe"), col("kv")) * 4.0, 8).as("s"))
          .withColumn("ex", round(exp(col("s") - max("s").over(byGid)), 8))
          .withColumn("w", round(col("ex") /
            sum(col("ex").cast(DecimalType(18, 8))).over(byGid).cast("double"), 6))
          .withColumn("maxw", max("w").over(byGid))
        scored.groupBy("gid")
          .agg(
            round(sum(round(col("w") * col("vsum"), 8)
              .cast(DecimalType(18, 8))).cast("double"), 6).as("ychk"),
            max(when(col("kpos") === 8, col("w"))).as("w_new"),
            min(when(col("w") === col("maxw"), col("kpos"))).as("top_k"))
          .groupBy((col("gid") % 16).cast("int").as("bucket"))
          .agg(
            cnt.as("n"),
            round(sum(col("ychk").cast(DecimalType(18, 6)))
              .cast("double"), 6).as("ychk_sum"),
            round(sum(col("w_new").cast(DecimalType(18, 6)))
              .cast("double"), 6).as("wnew_sum"),
            sum("top_k").cast("long").as("topk_sum"))
          .oracleOrder("bucket")
      }),

    // LoRA adapter matvec, merge-then-apply identity: y = D·x + α·B(A·x)
    // with rank-4 A (4 native dots per row — the explicit low-rank path),
    // diagonal dense D, and the checksum probe v folded through B on the
    // JVM (Σ_i y_i·v_i = x·(D∘v) + α·Σ_j h_j·(B^T v)_j — the standard
    // merged-adapter algebra). Every parameter is an exact binary rational
    // (k/16, k/128), so float literals, double literals, and decimal SQL
    // literals all denote identical values: the query is bit-exact with
    // zero rounding risk until the single final ROUND.
    Q(
      "ml_lora_matvec",
      Some {
        val hs = (1 to 4).map { j =>
          s"list_sum(list_transform(list_zip(embedding, ${list(LoraA(j - 1), exact)}), z -> CAST(z[1] AS DOUBLE) * z[2])) AS h$j"
        }.mkString(",\n    ")
        val merged = (1 to 4).map(j => s"h$j * (${exact(LoraBtv(j - 1))})").mkString(" + ")
        s"""WITH s AS (
           |  SELECT label,
           |    list_sum(list_transform(list_zip(embedding, ${list(LoraDv, exact)}), z -> CAST(z[1] AS DOUBLE) * z[2])) AS dx,
           |    $hs
           |  FROM embeddings),
           |c AS (
           |  SELECT label,
           |    ROUND(dx + 0.5 * ($merged), 6) AS chk,
           |    ROUND(h1, 6) AS h1r
           |  FROM s)
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           |  ROUND(CAST(SUM(CAST(chk AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS lora_avg,
           |  ROUND(CAST(SUM(CAST(h1r AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS h1_avg
           |FROM c GROUP BY label ORDER BY label""".stripMargin
      },
      (s, dir) => {
        val x = col("embedding")
        val merged = (1 to 4).map(j => col(s"h$j") * lit(LoraBtv(j - 1)))
          .reduceLeft(_ + _)
        Tables(s, dir, "embeddings")
          .select(col("label") +: ndot(x, fvec(LoraDv)).as("dx") +:
            (1 to 4).map(j => ndot(x, fvec(LoraA(j - 1))).as(s"h$j")): _*)
          .select(col("label"),
            round(col("dx") + lit(0.5) * merged, 6).as("chk"),
            round(col("h1"), 6).as("h1r"))
          .groupBy("label")
          .agg(
            count(lit(1)).cast("long").as("n"),
            round(sum(col("chk").cast(DecimalType(18, 6))).cast("double")
              / count(lit(1)), 6).as("lora_avg"),
            round(sum(col("h1r").cast(DecimalType(18, 6))).cast("double")
              / count(lit(1)), 6).as("h1_avg"))
          .oracleOrder("label")
      }),

    // Mixture-of-experts top-2 routing (Shazeer et al. 2017 / Switch-style
    // gating, k=2): 8 gate scores + 8 expert outputs per token are 16
    // native dots against literal k/16 weight vectors — ENTIRELY map-side,
    // no per-token shuffle. Top-2 selection is array argmax twice (second
    // pass masks the winner with -1e18; first-occurrence position is the
    // deterministic tie-break, identical 1-based semantics in both
    // engines), the 2-way softmax follows the exp dialect (ROUND 8dp), and
    // the routed output y = w1*o[e1] + w2*o[e2] rolls up per expert PAIR —
    // the load-balance view an MoE trainer actually monitors. At 100 TB
    // the only exchange is the ≤64-row (e1,e2) rollup: 1000 executors
    // fold partials map-side and ship a few KB.
    //
    // Rollup outputs are exact decimal SUMS (not rounded averages): with
    // small power-of-two group counts, ROUND(sum/n, 6) can land on an
    // exact 7-dp midpoint (e.g. 2.094530/4 = 0.5236325) where Spark
    // rounds the shortest-repr STRING up but DuckDB rounds the BINARY
    // value (just below the midpoint) down — a real divergence hit by
    // this query's (e1,e2)=(7,5) group at sf0.001.
    Q(
      "ml_moe_route_top2",
      Some {
        def fold(w: Seq[Double]): String =
          s"list_sum(list_transform(list_zip(embedding, ${list(w, exact)}), z -> CAST(z[1] AS DOUBLE) * z[2]))"
        val sarr = (0 until 8).map(e => fold(MoeGate(e))).mkString("[", ",\n      ", "]")
        val oarr = (0 until 8).map(e => fold(MoeOut(e))).mkString("[", ",\n      ", "]")
        s"""WITH s AS (
           |  SELECT
           |    $sarr AS sarr,
           |    $oarr AS oarr
           |  FROM embeddings),
           |r1 AS (
           |  SELECT sarr, oarr, list_max(sarr) AS m1,
           |    CAST(list_position(sarr, list_max(sarr)) AS INT) AS e1
           |  FROM s),
           |r2 AS (
           |  SELECT oarr, m1, e1,
           |    list_transform(range(1, 9),
           |      i -> CASE WHEN i = e1 THEN -1e18 ELSE sarr[i] END) AS masked
           |  FROM r1),
           |r3 AS (
           |  SELECT oarr, m1, e1, list_max(masked) AS m2,
           |    CAST(list_position(masked, list_max(masked)) AS INT) AS e2
           |  FROM r2),
           |g AS (
           |  SELECT e1, e2, oarr,
           |    ROUND(exp(ROUND(m2 - m1, 8)), 8) AS ed
           |  FROM r3),
           |c AS (
           |  SELECT e1, e2,
           |    ROUND(1.0 / (1.0 + ed), 6) AS w1,
           |    ROUND(ed / (1.0 + ed), 6) AS w2
           |    , oarr FROM g),
           |y AS (
           |  SELECT e1, e2, w1,
           |    ROUND(w1 * oarr[e1] + w2 * oarr[e2], 6) AS y
           |  FROM c)
           |SELECT e1, e2, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS y_sum,
           |  CAST(SUM(CAST(w1 AS DECIMAL(18,6))) AS DOUBLE) AS w1_sum
           |FROM y GROUP BY e1, e2 ORDER BY e1, e2""".stripMargin
      },
      (s, dir) => {
        val x = col("embedding")
        val sarr = array((0 until 8).map(e => ndot(x, fvec(MoeGate(e)))): _*)
        val oarr = array((0 until 8).map(e => ndot(x, fvec(MoeOut(e)))): _*)
        Tables(s, dir, "embeddings")
          .select(sarr.as("sarr"), oarr.as("oarr"))
          .withColumn("m1", array_max(col("sarr")))
          .withColumn("e1", array_position(col("sarr"), col("m1")).cast("int"))
          .withColumn("masked", transform(sequence(lit(1), lit(8)),
            i => when(i === col("e1"), lit(-1e18))
              .otherwise(element_at(col("sarr"), i))))
          .withColumn("m2", array_max(col("masked")))
          .withColumn("e2", array_position(col("masked"), col("m2")).cast("int"))
          .withColumn("ed", round(exp(round(col("m2") - col("m1"), 8)), 8))
          .withColumn("w1", round(lit(1.0) / (lit(1.0) + col("ed")), 6))
          .withColumn("w2", round(col("ed") / (lit(1.0) + col("ed")), 6))
          .withColumn("y", round(
            col("w1") * element_at(col("oarr"), col("e1")) +
              col("w2") * element_at(col("oarr"), col("e2")), 6))
          .groupBy("e1", "e2")
          .agg(cnt.as("n"),
            dsum(col("y")).as("y_sum"),
            dsum(col("w1")).as("w1_sum"))
          .oracleOrder("e1", "e2")
      }),

    // Transformer FFN forward pass with tanh-approximation GELU (Hendrycks
    // & Gimpel 2016, the GPT-2 form): h_j = GELU(x·W_j + b_j) for 8 hidden
    // units, folded against an integer probe to a per-row checksum. tanh is
    // EXPANDED to its exp form 1 − 2/(e^{2u}+1) so the only transcendental
    // is exp, under the softmax dialect (ROUND 8dp before and after);
    // everything else is IEEE-identical arithmetic on both engines (weights
    // k/16, biases k/128 — exact binary rationals; √(2/π) and 0.044715 are
    // shortest-repr double literals that parse identically). Map-only scan
    // + 10-group rollup: embarrassingly parallel at any scale.
    Q(
      "ml_mlp_gelu_forward",
      Some {
        val C = math.sqrt(2.0 / math.Pi)
        val zs = (1 to 8).map { j =>
          s"list_sum(list_transform(list_zip(embedding, ${list(MlpW(j - 1), exact)}), z -> CAST(z[1] AS DOUBLE) * z[2])) + (${exact(MlpB(j - 1))}) AS z$j"
        }.mkString(",\n    ")
        val us = (1 to 8).map { j =>
          s"ROUND(CAST($C AS DOUBLE) * (z$j + CAST(0.044715 AS DOUBLE) * z$j * z$j * z$j), 8) AS u$j"
        }.mkString(",\n    ")
        val hs = (1 to 8).map { j =>
          s"ROUND(0.5 * z$j * (1.0 + (1.0 - 2.0 / (ROUND(exp(2.0 * u$j), 8) + 1.0))), 6) AS h$j"
        }.mkString(",\n    ")
        val chk = (1 to 8).map(j => s"h$j * (${MlpV(j - 1)}.0)").mkString(" + ")
        s"""WITH s AS (
           |  SELECT label,
           |    $zs
           |  FROM embeddings),
           |u AS (
           |  SELECT label, ${(1 to 8).map(j => s"z$j").mkString(", ")},
           |    $us
           |  FROM s),
           |h AS (
           |  SELECT label,
           |    $hs
           |  FROM u),
           |c AS (
           |  SELECT label, ROUND($chk, 6) AS chk, h1 FROM h)
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(chk AS DECIMAL(18,6))) AS DOUBLE) AS chk_sum,
           |  CAST(SUM(CAST(h1 AS DECIMAL(18,6))) AS DOUBLE) AS h1_sum
           |FROM c GROUP BY label ORDER BY label""".stripMargin
      },
      (s, dir) => {
        val C = math.sqrt(2.0 / math.Pi)
        val x = col("embedding")
        val zs = (1 to 8).map(j =>
          (ndot(x, fvec(MlpW(j - 1))) + lit(MlpB(j - 1))).as(s"z$j"))
        def u(j: Int): Column = {
          val z = col(s"z$j")
          round(lit(C) * (z + lit(0.044715) * z * z * z), 8)
        }
        def h(j: Int): Column = {
          val t = lit(1.0) - lit(2.0) / (round(exp(lit(2.0) * col(s"u$j")), 8) + lit(1.0))
          round(lit(0.5) * col(s"z$j") * (lit(1.0) + t), 6)
        }
        val chk = (1 to 8).map(j => col(s"h$j") * lit(MlpV(j - 1).toDouble))
          .reduceLeft(_ + _)
        Tables(s, dir, "embeddings")
          .select(col("label") +: zs: _*)
          .select(col("label") +: (1 to 8).map(j => col(s"z$j")) ++:
            (1 to 8).map(j => u(j).as(s"u$j")): _*)
          .select(col("label") +: (1 to 8).map(j => h(j).as(s"h$j")): _*)
          .select(col("label"), round(chk, 6).as("chk"), col("h1"))
          .groupBy("label")
          .agg(cnt.as("n"),
            dsum(col("chk")).as("chk_sum"),
            dsum(col("h1")).as("h1_sum"))
          .oracleOrder("label")
      }),

    // Top-p (nucleus) sampling support filter (Holtzman et al. 2020): per
    // 8-token sequence, token probabilities are a max-subtracted softmax
    // (exp dialect, ROUND 8/6dp), tokens sort by (w DESC, kpos) and the
    // nucleus keeps every token whose PRECEDING cumulative mass is < 0.8
    // (so the crossing token is included — the standard inclusive
    // nucleus). The cumulative sum runs in exact DECIMAL so the keep
    // boundary cannot wobble with partial-agg order; kept mass renormalizes
    // with one double division. All windows share ONE gid exchange (the
    // attention-entropy policy), then a 16-bucket rollup.
    Q(
      "ml_topp_nucleus_sample",
      Some("""WITH t AS (
             |  SELECT vec_id // 8 AS gid, CAST(vec_id % 8 + 1 AS INT) AS kpos,
             |    ROUND(4.0 * list_sum(list_transform(list_zip(embedding, NUCPROBE), z -> CAST(z[1] AS DOUBLE) * z[2])), 8) AS s
             |  FROM embeddings),
             |x AS (
             |  SELECT gid, kpos,
             |    ROUND(exp(s - MAX(s) OVER (PARTITION BY gid)), 8) AS ex
             |  FROM t),
             |w AS (
             |  SELECT gid, kpos,
             |    ROUND(ex / CAST(SUM(CAST(ex AS DECIMAL(18,8))) OVER (PARTITION BY gid) AS DOUBLE), 6) AS w
             |  FROM x),
             |o AS (
             |  SELECT gid, kpos, w,
             |    ROW_NUMBER() OVER (PARTITION BY gid ORDER BY w DESC, kpos) AS rn,
             |    SUM(CAST(w AS DECIMAL(18,6))) OVER (PARTITION BY gid ORDER BY w DESC, kpos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
             |  FROM w),
             |k AS (
             |  SELECT gid, kpos, w, rn FROM o
             |  WHERE cumw - CAST(w AS DECIMAL(18,6)) < CAST(0.8 AS DECIMAL(18,6))),
             |a AS (
             |  SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |    MIN(CASE WHEN rn = 1 THEN kpos END) AS top_kpos,
             |    ROUND(MAX(w) / CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS top_renorm
             |  FROM k GROUP BY gid)
             |SELECT CAST(gid % 16 AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_seq,
             |  CAST(SUM(n_kept) AS BIGINT) AS kept_sum,
             |  CAST(SUM(top_kpos) AS BIGINT) AS topk_sum,
             |  CAST(SUM(CAST(top_renorm AS DECIMAL(18,6))) AS DOUBLE) AS renorm_sum
             |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin
        .replace("NUCPROBE", list(NucProbe, exact))),
      (s, dir) => {
        val byGid = Window.partitionBy("gid")
        val ord = byGid.orderBy(col("w").desc, col("kpos"))
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dec6 = DecimalType(18, 6)
        val t = Tables(s, dir, "embeddings")
          .select(expr("vec_id div 8").as("gid"),
            (col("vec_id") % 8 + 1).cast("int").as("kpos"),
            round(lit(4.0) * ndot(col("embedding"), fvec(NucProbe)), 8).as("s"))
          .withColumn("ex", round(exp(col("s") - max("s").over(byGid)), 8))
          .withColumn("w", round(col("ex") /
            sum(col("ex").cast(DecimalType(18, 8))).over(byGid).cast("double"), 6))
          .withColumn("rn", row_number().over(ord))
          .withColumn("cumw", sum(col("w").cast(dec6)).over(cum))
          .filter(col("cumw") - col("w").cast(dec6) <
            lit(new java.math.BigDecimal("0.8")).cast(dec6))
        t.groupBy("gid")
          .agg(cnt.as("n_kept"),
            min(when(col("rn") === 1, col("kpos"))).as("top_kpos"),
            round(max("w") / sum(col("w").cast(dec6)).cast("double"), 6)
              .as("top_renorm"))
          .groupBy((col("gid") % 16).cast("int").as("bucket"))
          .agg(cnt.as("n_seq"),
            sum("n_kept").cast("long").as("kept_sum"),
            sum("top_kpos").cast("long").as("topk_sum"),
            dsum(col("top_renorm")).as("renorm_sum"))
          .oracleOrder("bucket")
      }),

    // FULL transformer encoder block, end to end (the §2.J composition
    // flagship, the analog of ml_cnn_forward_compose for the CNN family):
    // pre-LN → causal 8-token self-attention (every query position, k ≤ q)
    // → residual → LN → GELU FFN (4 hidden, down+up projections) →
    // residual → probe checksum, all in ONE oracle-checked plan. The
    // attention VALUE mix materializes real 64-wide vectors — the
    // element-wise weighted sum folds over the kpos-SORTED struct list
    // (sort_array/list_sort), so the mix is a pinned left fold on both
    // engines, order-free under any shuffle. Every stage reuses a proven
    // dialect: layernorm sufficient stats, exp under the softmax ROUND
    // discipline, the ml_mlp_gelu exp-expanded tanh, exact-rational k/16
    // weights, decimal SUMS at the rollup. Shape at scale: ONE gid
    // exchange feeds the pair join + both windows + the mix groupBy; the
    // token count per group is bounded (8), so the quadratic stays
    // group-local exactly like ml_attention_entropy.
    Q(
      "ml_transformer_block_forward",
      Some {
        val C = math.sqrt(2.0 / math.Pi)
        val zs = (1 to 4).map { j =>
          s"list_sum(list_transform(list_zip(r1n, ${list(BlkW(j - 1), exact)}), z -> z[1] * z[2])) AS z$j"
        }.mkString(",\n    ")
        val hs = (1 to 4).map { j =>
          s"ROUND(0.5 * z$j * (1.0 + (1.0 - 2.0 / (ROUND(exp(2.0 * ROUND(CAST($C AS DOUBLE) * (z$j + CAST(0.044715 AS DOUBLE) * z$j * z$j * z$j), 8)), 8) + 1.0))), 6) AS h$j"
        }.mkString(",\n    ")
        val o2 = (1 to 4).map(j => s"h$j * (${list(BlkW2(j - 1), exact)})[e]")
          .mkString(" + ")
        s"""WITH t0 AS (
           |  SELECT vec_id // 8 AS gid, CAST(vec_id % 8 + 1 AS INT) AS kpos, embedding AS x,
           |    list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * 1.0)) AS sx,
           |    list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS sxx
           |  FROM embeddings),
           |t AS (
           |  SELECT gid, kpos, x,
           |    list_transform(x, v -> (CAST(v AS DOUBLE) - sx / 64.0)
           |      / sqrt((sxx - sx * sx / 64.0) / 64.0 + 1e-5)) AS xn
           |  FROM t0),
           |p AS (
           |  SELECT q.gid, q.kpos AS qpos, k.kpos AS kpos, k.xn AS xnk,
           |    ROUND(list_sum(list_transform(list_zip(q.xn, k.xn), z -> z[1] * z[2])) * 0.125, 8) AS sc
           |  FROM t q JOIN t k ON q.gid = k.gid AND k.kpos <= q.kpos),
           |x1 AS (
           |  SELECT gid, qpos, kpos, xnk,
           |    ROUND(exp(sc - MAX(sc) OVER (PARTITION BY gid, qpos)), 8) AS ex
           |  FROM p),
           |wt AS (
           |  SELECT gid, qpos, kpos, xnk,
           |    ROUND(ex / CAST(SUM(CAST(ex AS DECIMAL(18,8))) OVER (PARTITION BY gid, qpos) AS DOUBLE), 6) AS w
           |  FROM x1),
           |att AS (
           |  SELECT gid, qpos,
           |    list_sort(list(struct_pack(kpos := kpos, w := w, xn := xnk))) AS ks
           |  FROM wt GROUP BY gid, qpos),
           |mix AS (
           |  SELECT a.gid, a.qpos,
           |    list_transform(range(1, 65), e ->
           |      CAST(t.x[e] AS DOUBLE) +
           |      list_sum(list_transform(a.ks, s -> s.w * s.xn[e]))) AS r1
           |  FROM att a JOIN t ON t.gid = a.gid AND t.kpos = a.qpos),
           |ln2 AS (
           |  SELECT gid, qpos, r1,
           |    list_sum(list_transform(r1, v -> v * 1.0)) AS sx2,
           |    list_sum(list_transform(r1, v -> v * v)) AS sxx2
           |  FROM mix),
           |n2 AS (
           |  SELECT gid, qpos, r1,
           |    list_transform(r1, v -> (v - sx2 / 64.0)
           |      / sqrt((sxx2 - sx2 * sx2 / 64.0) / 64.0 + 1e-5)) AS r1n
           |  FROM ln2),
           |ff AS (
           |  SELECT gid, qpos, r1,
           |    $zs
           |  FROM n2),
           |hh AS (
           |  SELECT gid, qpos, r1,
           |    $hs
           |  FROM ff),
           |outv AS (
           |  SELECT gid, qpos,
           |    list_transform(range(1, 65), e -> r1[e] + ($o2)) AS outp
           |  FROM hh),
           |c AS (
           |  SELECT qpos,
           |    ROUND(list_sum(list_transform(list_zip(outp, ${list(BlkProbe, exact)}), z -> z[1] * z[2])), 6) AS chk
           |  FROM outv)
           |SELECT qpos, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(chk AS DECIMAL(18,6))) AS DOUBLE) AS chk_sum
           |FROM c GROUP BY qpos ORDER BY qpos""".stripMargin
      },
      (s, dir) => {
        val C = math.sqrt(2.0 / math.Pi)
        def dlit(xs: Seq[Double]) = typedlit[Seq[Double]](xs)
        val t0 = Tables(s, dir, "embeddings")
          .select(expr("vec_id div 8").as("gid"),
            (col("vec_id") % 8 + 1).cast("int").as("kpos"),
            col("embedding").as("x"),
            ndot(col("embedding"), fvec(Ones)).as("sx"),
            ndot(col("embedding"), col("embedding")).as("sxx"))
        val mu = col("sx") / 64.0
        val sd = sqrt((col("sxx") - col("sx") * col("sx") / 64.0) / 64.0 + 1e-5)
        val t = t0.select(col("gid"), col("kpos"), col("x"),
          transform(col("x"), v => (v.cast("double") - mu) / sd).as("xn"))
        val q = t.select(col("gid"), col("kpos").as("qpos"), col("xn").as("xnq"))
        val k = t.select(col("gid").as("gidk"), col("kpos"), col("xn").as("xnk"))
        def fold2(a: Column, b: Column): Column =
          aggregate(zip_with(a, b, (u, v) => u * v), lit(0.0), (acc, v) => acc + v)
        val byQ = Window.partitionBy("gid", "qpos")
        val pairs = q.join(k,
            col("gid") === col("gidk") && col("kpos") <= col("qpos"))
          .select(col("gid"), col("qpos"), col("kpos"), col("xnk"),
            round(fold2(col("xnq"), col("xnk")) * 0.125, 8).as("sc"))
          .withColumn("ex", round(exp(col("sc") - max("sc").over(byQ)), 8))
          .withColumn("w", round(col("ex") /
            sum(col("ex").cast(DecimalType(18, 8))).over(byQ).cast("double"), 6))
        val att = pairs.groupBy("gid", "qpos")
          .agg(sort_array(collect_list(
            struct(col("kpos"), col("w"), col("xnk").as("xn")))).as("ks"))
        val mix = att.join(
            t.select(col("gid").as("gidt"), col("kpos").as("qpt"), col("x")),
            col("gid") === col("gidt") && col("qpos") === col("qpt"))
          .select(col("gid"), col("qpos"),
            transform(sequence(lit(1), lit(64)), e =>
              element_at(col("x"), e).cast("double") +
                aggregate(col("ks"), lit(0.0), (acc, st) =>
                  acc + st.getField("w") * element_at(st.getField("xn"), e)))
              .as("r1"))
        val ln2 = mix.select(col("gid"), col("qpos"), col("r1"),
          aggregate(col("r1"), lit(0.0), (a, v) => a + v * 1.0).as("sx2"),
          aggregate(col("r1"), lit(0.0), (a, v) => a + v * v).as("sxx2"))
        val mu2 = col("sx2") / 64.0
        val sd2 = sqrt((col("sxx2") - col("sx2") * col("sx2") / 64.0) / 64.0 + 1e-5)
        val n2 = ln2.select(col("gid"), col("qpos"), col("r1"),
          transform(col("r1"), v => (v - mu2) / sd2).as("r1n"))
        val ff = n2.select(col("gid") +: col("qpos") +: col("r1") +:
          (1 to 4).map(j => fold2(col("r1n"), dlit(BlkW(j - 1))).as(s"z$j")): _*)
        def h(j: Int): Column = {
          val z = col(s"z$j")
          val u = round(lit(C) * (z + lit(0.044715) * z * z * z), 8)
          val tnh = lit(1.0) - lit(2.0) / (round(exp(lit(2.0) * u), 8) + lit(1.0))
          round(lit(0.5) * z * (lit(1.0) + tnh), 6)
        }
        val hh = ff.select(col("gid") +: col("qpos") +: col("r1") +:
          (1 to 4).map(j => h(j).as(s"h$j")): _*)
        val outv = hh.select(col("qpos"),
          transform(sequence(lit(1), lit(64)), e =>
            element_at(col("r1"), e) +
              (1 to 4).map(j => col(s"h$j") * element_at(dlit(BlkW2(j - 1)), e))
                .reduceLeft(_ + _)).as("outp"))
        outv.select(col("qpos"),
            round(fold2(col("outp"), dlit(BlkProbe)), 6).as("chk"))
          .groupBy("qpos")
          .agg(cnt.as("n"), dsum(col("chk")).as("chk_sum"))
          .oracleOrder("qpos")
      }),

    // Speculative-decoding acceptance audit (Leviathan et al. 2023 /
    // Chen et al. 2023): per token, a cheap DRAFT head proposes the greedy
    // token and the TARGET head verifies — the token is accepted when
    // p_target(t) ≥ p_draft(t), and the expected acceptance mass is
    // E[min(1, p_t/p_d)] (the paper's α). Both 8-way vocabulary heads are
    // literal k/16 weight matrices (the draft a perturbation of the
    // target, so acceptance is high but not total); softmaxes follow the
    // exp dialect, the greedy pick is the array-argmax tie-broken by
    // first position (identical 1-based semantics both engines), the
    // accept flag compares identical rounded doubles, and min(1, ratio)
    // terms round 6dp into exact decimal sums. Entirely map-side + one
    // ≤8-row rollup: the serving-fleet shape.
    Q(
      "ml_speculative_decode_accept",
      Some {
        def arr(ws: Seq[Seq[Double]]): String =
          ws.map(w => s"list_sum(list_transform(list_zip(embedding, ${list(w, exact)}), z -> CAST(z[1] AS DOUBLE) * z[2]))")
            .mkString("[", ",\n      ", "]")
        s"""WITH s AS (
           |  SELECT
           |    ${arr(SpecDraft)} AS ds,
           |    ${arr(SpecTarget)} AS ts
           |  FROM embeddings),
           |g AS (
           |  SELECT ds, ts,
           |    CAST(list_position(ds, list_max(ds)) AS INT) AS td
           |  FROM s),
           |e AS (
           |  SELECT td,
           |    list_transform(ds, v -> ROUND(exp(v - list_max(ds)), 8)) AS dx,
           |    list_transform(ts, v -> ROUND(exp(v - list_max(ts)), 8)) AS tx
           |  FROM g),
           |p AS (
           |  SELECT td,
           |    ROUND(dx[td] / list_sum(dx), 6) AS pd,
           |    ROUND(tx[td] / list_sum(tx), 6) AS pt
           |  FROM e),
           |a AS (
           |  SELECT td, (pt >= pd) AS accepted,
           |    ROUND(CASE WHEN pt >= pd THEN 1.0 ELSE pt / pd END, 6) AS alpha
           |  FROM p)
           |SELECT td, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
           |  CAST(SUM(CAST(alpha AS DECIMAL(18,6))) AS DOUBLE) AS alpha_sum
           |FROM a GROUP BY td ORDER BY td""".stripMargin
      },
      (s, dir) => {
        val x = col("embedding")
        val ds = array(SpecDraft.map(w => ndot(x, fvec(w))): _*)
        val ts = array(SpecTarget.map(w => ndot(x, fvec(w))): _*)
        Tables(s, dir, "embeddings")
          .select(ds.as("ds"), ts.as("ts"))
          .withColumn("td", array_position(col("ds"), array_max(col("ds"))).cast("int"))
          .select(col("td"),
            transform(col("ds"), v => round(exp(v - array_max(col("ds"))), 8)).as("dx"),
            transform(col("ts"), v => round(exp(v - array_max(col("ts"))), 8)).as("tx"))
          .select(col("td"),
            round(element_at(col("dx"), col("td")) /
              aggregate(col("dx"), lit(0.0), (a, v) => a + v), 6).as("pd"),
            round(element_at(col("tx"), col("td")) /
              aggregate(col("tx"), lit(0.0), (a, v) => a + v), 6).as("pt"))
          .select(col("td"), (col("pt") >= col("pd")).as("accepted"),
            round(when(col("pt") >= col("pd"), lit(1.0))
              .otherwise(col("pt") / col("pd")), 6).as("alpha"))
          .groupBy("td")
          .agg(cnt.as("n"),
            sum(when(col("accepted"), 1).otherwise(0)).cast("long").as("n_accept"),
            dsum(col("alpha")).as("alpha_sum"))
          .oracleOrder("td")
      }),

    // Temperature-scaling calibration sweep (Guo et al. 2017): score the
    // 8-way target head against the derived class label at T ∈ {1/2, 1,
    // 2, 4} and report the NLL + total confidence per temperature — the
    // post-hoc calibration read that picks T* = argmin NLL (the
    // companion to ml_calibration_bins' reliability diagram; note argmax
    // accuracy is T-invariant, so only NLL/confidence move). All
    // temperatures are exact powers of two ⇒ scaling is exact; softmax
    // follows the exp dialect; the per-row probability clamps at 1e-6
    // AFTER its 6dp round (identically both engines) so ln never sees the
    // zero a T=1/2-sharpened tail can round to. Map-side ×4 grid rows +
    // one 4-group rollup.
    Q(
      "ml_temperature_calibrate",
      Some {
        val sarr = (0 until 8).map { e =>
          s"list_sum(list_transform(list_zip(embedding, ${list(SpecTarget(e), exact)}), z -> CAST(z[1] AS DOUBLE) * z[2]))"
        }.mkString("[", ",\n      ", "]")
        s"""WITH s AS (
           |  SELECT CAST(label % 8 + 1 AS INT) AS lbl, $sarr AS ts
           |  FROM embeddings),
           |g AS (
           |  SELECT s.lbl, s.ts, t.t, t.invt
           |  FROM s CROSS JOIN (VALUES (0.5, 2.0), (1.0, 1.0), (2.0, 0.5),
           |    (4.0, 0.25)) t(t, invt)),
           |x AS (
           |  SELECT t, lbl,
           |    list_transform(ts, v -> ROUND(exp(v * invt
           |      - list_max(list_transform(ts, u -> u * invt))), 8)) AS ex
           |  FROM g),
           |p AS (
           |  SELECT t,
           |    GREATEST(ROUND(ex[lbl] / list_sum(ex), 6), 1e-6) AS p
           |  FROM x)
           |SELECT CAST(t AS DOUBLE) AS t, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(ROUND(-ln(p), 8) AS DECIMAL(18,8))) AS DOUBLE) AS nll_sum,
           |  CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS conf_sum
           |FROM p GROUP BY t ORDER BY t""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val ts = array(SpecTarget.map(w => ndot(col("embedding"), fvec(w))): _*)
        val grid = Seq((0.5, 2.0), (1.0, 1.0), (2.0, 0.5), (4.0, 0.25))
          .toDF("t", "invt")
        val ex = transform(col("ts"), v => round(exp(v * col("invt") -
          array_max(transform(col("ts"), u => u * col("invt")))), 8))
        val p = greatest(
          round(element_at(col("ex"), col("lbl")) /
            aggregate(col("ex"), lit(0.0), (a, v) => a + v), 6),
          lit(1e-6))
        Tables(s, dir, "embeddings")
          .select((col("label") % 8 + 1).cast("int").as("lbl"), ts.as("ts"))
          .crossJoin(broadcast(grid))
          .select(col("t"), col("lbl"), ex.as("ex"))
          .select(col("t"), p.as("p"))
          .groupBy(col("t").cast("double").as("t"))
          .agg(cnt.as("n"),
            sum(round(-log(col("p")), 8).cast(DecimalType(18, 8)))
              .cast("double").as("nll_sum"),
            dsum(col("p")).as("conf_sum"))
          .oracleOrder("t")
      }),

    // Width-2 beam search decode, 3 steps — the classic decode strategy
    // completing the family next to greedy argmax, nucleus, and
    // speculative verification. Per token: step-0 logits are the 8 target
    // head dots; each step extends every surviving hypothesis by all 8
    // successors with score' = score + T(cur, b) + 0.25·logit(b) (a
    // literal k/16 transition matrix plus the per-token LM bias) and
    // keeps the top-2 by (score DESC, token ASC). The beam is RELATIONAL:
    // explode-8 + a rank window per token per step, all four windows
    // sharing ONE vec_id exchange; the transition matrix indexes as a
    // nested literal array on both engines — no join. Scores are exact
    // sums of k/16 rationals and dots (identical doubles, identical
    // ranking); the rollup rounds 6dp into decimal sums.
    Q(
      "ml_beam_search_decode",
      Some {
        val t2d = BeamT.map(r => list(r, exact)).mkString("[", ",\n      ", "]")
        val sarr = (0 until 8).map { e =>
          s"list_sum(list_transform(list_zip(embedding, ${list(SpecTarget(e), exact)}), z -> CAST(z[1] AS DOUBLE) * z[2]))"
        }.mkString("[", ",\n      ", "]")
        def step(prev: String, cur: String): String =
          s"""$cur AS (
             |  SELECT vec_id, ts, t0, b AS cur,
             |    score + ($t2d)[cur][b] + 25e-2 * ts[b] AS score
             |  FROM (
             |    SELECT vec_id, ts, t0, cur, score, CAST(u.b AS INT) AS b,
             |      row_number() OVER (PARTITION BY vec_id
             |        ORDER BY score + ($t2d)[cur][CAST(u.b AS INT)] + 25e-2 * ts[CAST(u.b AS INT)] DESC,
             |                 CAST(u.b AS INT), cur, t0) AS rn
             |    FROM $prev, unnest(range(1, 9)) u(b)) t
             |  WHERE rn <= 2)""".stripMargin
        s"""WITH s AS (
           |  SELECT vec_id, $sarr AS ts
           |  FROM embeddings),
           |b0 AS (
           |  SELECT vec_id, ts, CAST(u.b AS INT) AS t0, CAST(u.b AS INT) AS cur,
           |    ts[CAST(u.b AS INT)] AS score
           |  FROM (
           |    SELECT vec_id, ts FROM s) x, unnest(range(1, 9)) u(b)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY ts[CAST(u.b AS INT)] DESC, CAST(u.b AS INT)) <= 2),
           |${step("b0", "b1")},
           |${step("b1", "b2")},
           |${step("b2", "b3")},
           |best AS (
           |  SELECT vec_id, t0, cur AS t3, score,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY score DESC, t0, cur) AS rn
           |  FROM b3)
           |SELECT t0, t3, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(ROUND(score, 6) AS DECIMAL(18,6))) AS DOUBLE) AS score_sum
           |FROM best WHERE rn = 1 GROUP BY t0, t3 ORDER BY t0, t3""".stripMargin
      },
      (s, dir) => {
        val t2d = typedlit[Seq[Seq[Double]]](BeamT)
        val sarr = array(SpecTarget.map(w => ndot(col("embedding"), fvec(w))): _*)
        val byVec = Window.partitionBy("vec_id")
        def extScore(cur: Column, b: Column): Column =
          col("score") + element_at(element_at(t2d, cur), b) +
            lit(0.25) * element_at(col("ts"), b)
        def step(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          df.select(col("vec_id"), col("ts"), col("t0"), col("cur"), col("score"),
              explode(sequence(lit(1), lit(8))).as("b"))
            .withColumn("rn", row_number().over(byVec.orderBy(
              extScore(col("cur"), col("b")).desc, col("b"), col("cur"), col("t0"))))
            .filter(col("rn") <= 2)
            .select(col("vec_id"), col("ts"), col("t0"),
              col("b").as("cur"), extScore(col("cur"), col("b")).as("score"))
        val b0 = Tables(s, dir, "embeddings")
          .select(col("vec_id"), sarr.as("ts"))
          .select(col("vec_id"), col("ts"),
            explode(sequence(lit(1), lit(8))).as("b"))
          .withColumn("rn", row_number().over(byVec.orderBy(
            element_at(col("ts"), col("b")).desc, col("b"))))
          .filter(col("rn") <= 2)
          .select(col("vec_id"), col("ts"), col("b").as("t0"),
            col("b").as("cur"), element_at(col("ts"), col("b")).as("score"))
        val b3 = step(step(step(b0)))
        b3.withColumn("rn", row_number().over(byVec.orderBy(
            col("score").desc, col("t0"), col("cur"))))
          .filter(col("rn") === 1)
          .groupBy(col("t0"), col("cur").as("t3"))
          .agg(cnt.as("n"),
            sum(round(col("score"), 6).cast(DecimalType(18, 6)))
              .cast("double").as("score_sum"))
          .oracleOrder("t0", "t3")
      }))

  /** Rotary cache: per position p ∈ [0,32), the 64-wide merged coefficient
    * vector (see ml_rope_rotate). Computed once on the JVM; both the Spark
    * broadcast table and the oracle VALUES list carry these exact doubles
    * (Double.toString shortest-repr round-trips identically in DuckDB).
    */
  private[queries] val RopeCoef: Seq[(Int, Seq[Double])] = (0 until 32).map { p =>
    val m = (1 to 32).flatMap { j =>
      val theta = p * math.pow(10000.0, -(2.0 * (j - 1)) / 64.0)
      val c = math.cos(theta)
      val s = math.sin(theta)
      val wa = ((j * 29) % 13 - 6).toDouble
      val wb = ((j * 19) % 11 - 5).toDouble
      Seq(c * wa + s * wb, -s * wa + c * wb)
    }
    (p, m)
  }

  /** LoRA down-projection A (4×64), entries k/16 ∈ [−9/16, 9/16]. */
  private[queries] val LoraA: Seq[Seq[Double]] = (1 to 4).map { j =>
    (1 to 64).map(i => ((j * 31 + i * 17) % 19 - 9) / 16.0)
  }

  /** Up-projection B (64×4) entries k/16; folded against the integer probe
    * v_i = ((i·23+5) % 13) − 6 into B^T·v (exact sums of k/16).
    */
  private[queries] val LoraBtv: Seq[Double] = (1 to 4).map { j =>
    (1 to 64).map { i =>
      val b = ((i * 13 + j * 7) % 17 - 8) / 16.0
      val v = ((i * 23 + 5) % 13 - 6).toDouble
      b * v
    }.sum
  }

  /** Diagonal dense path D∘v: d_i = 1 + (i%7)/128, times the probe v_i —
    * exact binary rationals, float-representable.
    */
  private[queries] val LoraDv: Seq[Double] = (1 to 64).map { i =>
    (1.0 + (i % 7) / 128.0) * (((i * 23 + 5) % 13) - 6).toDouble
  }

  /** MoE gate vectors (8×64), entries k/16 — exact binary rationals. */
  private[queries] val MoeGate: Seq[Seq[Double]] = (0 until 8).map { e =>
    (1 to 64).map(i => ((e * 37 + i * 13) % 17 - 8) / 16.0)
  }

  /** MoE per-expert output projections folded to scalars (8×64), k/16. */
  private[queries] val MoeOut: Seq[Seq[Double]] = (0 until 8).map { e =>
    (1 to 64).map(i => ((e * 29 + i * 19) % 15 - 7) / 16.0)
  }

  /** FFN hidden weights (8×64) k/16, biases k/128, integer probe. */
  private[queries] val MlpW: Seq[Seq[Double]] = (1 to 8).map { j =>
    (1 to 64).map(i => ((j * 41 + i * 23) % 19 - 9) / 16.0)
  }
  private[queries] val MlpB: Seq[Double] =
    (1 to 8).map(j => ((j * 5) % 9 - 4) / 128.0)
  private[queries] val MlpV: Seq[Int] = (1 to 8).map(j => (j * 13) % 11 - 5)

  /** Nucleus-sampling score probe, k/16. */
  private[queries] val NucProbe: Seq[Double] =
    (1 to 64).map(i => ((i * 7) % 15 - 7) / 16.0)

  /** Draft/target "vocabulary head" weights for speculative decoding
    * (8 logits each), k/16 — the draft head is a low-rank-ish perturbation
    * of the target so acceptance is high but not total.
    */
  private[graft] val SpecTarget: Seq[Seq[Double]] = (0 until 8).map { e =>
    (1 to 64).map(i => ((e * 43 + i * 11) % 19 - 9) / 16.0)
  }
  private[graft] val SpecDraft: Seq[Seq[Double]] = (0 until 8).map { e =>
    (1 to 64).map(i => (((e * 43 + i * 11) % 19 - 9) + ((e + i) % 3 - 1)) / 16.0)
  }

  /** Beam-search transition matrix T(a,b) (8×8), k/16. */
  private[graft] val BeamT: Seq[Seq[Double]] = (1 to 8).map { a =>
    (1 to 8).map(b => ((a * 13 + b * 7) % 15 - 7) / 16.0)
  }

  /** Encoder-block FFN weights (4×64 down, 4×64 up), k/16; integer probe. */
  private[graft] val BlkW: Seq[Seq[Double]] = (1 to 4).map { j =>
    (1 to 64).map(i => ((j * 19 + i * 29) % 17 - 8) / 16.0)
  }
  private[graft] val BlkW2: Seq[Seq[Double]] = (1 to 4).map { j =>
    (1 to 64).map(i => ((j * 23 + i * 31) % 15 - 7) / 16.0)
  }
  private[graft] val BlkProbe: Seq[Double] =
    (1 to 64).map(i => ((i * 11) % 13 - 6).toDouble)
}
