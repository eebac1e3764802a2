package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.AnalysisException

/** Targeted gates for the round-13 operator additions, beyond the
  * RegistrySmokeSpec run-and-rows pass and the DuckDB differential:
  * driver-side recomputes via DIFFERENT algebra, algorithm-guarantee
  * assertions (Misra-Gries superset, int8 error bound), and the native
  * `graft_normalize` expression's semantics.
  */
class Round13OpsSpec extends SparkSpec {

  private def round(x: Double, s: Int): Double =
    JBigDecimal.valueOf(x).setScale(s, RoundingMode.HALF_UP).doubleValue()

  /** The engine's deterministic md5 ppm draw (BruteForceTwinSpec twin),
    * recomputed with MessageDigest instead of the SQL md5/conv chain.
    */
  private def ppmU(docId: Long, salt: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$docId:$salt".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val h = java.lang.Long.parseLong(hex.take(15), 16) % 1000000L
    (h + 1) / 1000001.0
  }

  // ---- Misra-Gries: the algorithm itself, on synthetic skew that actually
  // exercises the decrement/evict path (capacity << vocabulary).

  test("MisraGries survives every item above n/(capacity+1) under eviction") {
    // 200x "hot", 150x "warm", 300 singletons; capacity 4 << 302 vocab.
    val stream = scala.util.Random.shuffle(
      List.fill(200)("hot") ++ List.fill(150)("warm") ++
        (1 to 300).map(i => s"cold_$i").toList)
    val n = stream.size // 650; n/(cap+1) = 130 -> hot and warm must survive
    val out = plans.MisraGries.candidates(stream.iterator, 4).toSet
    assert(out.size <= 4)
    assert(out.contains("hot") && out.contains("warm"),
      s"guaranteed heavy hitters evicted: $out (n=$n)")
  }

  test("MisraGries superset guarantee holds over 50 seeded random streams") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 50) {
      val cap = 1 + rnd.nextInt(12)
      val vocab = 2 + rnd.nextInt(40)
      val n = 50 + rnd.nextInt(950)
      // Skewed draw: item k with weight ~ 1/(k+1) (zipf-ish).
      val weights = (0 until vocab).map(k => 1.0 / (k + 1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val tot = cum.last
      val stream = Seq.fill(n) {
        val u = rnd.nextDouble() * tot
        s"item_${cum.indexWhere(u <= _)}"
      }
      val out = plans.MisraGries.candidates(stream.iterator, cap).toSet
      assert(out.size <= cap, s"trial $trial: size ${out.size} > cap $cap")
      val counts = stream.groupBy(identity).view.mapValues(_.size).toMap
      val mustSurvive = counts.filter(_._2 > n.toDouble / (cap + 1)).keySet
      assert(mustSurvive.subsetOf(out),
        s"trial $trial (cap=$cap n=$n): lost ${mustSurvive -- out}")
    }
  }

  test("MisraGries never emits more than capacity items and handles ties") {
    val out = plans.MisraGries
      .candidates(Iterator("a", "b", "c", "d", "e", "f"), 3).toSet
    assert(out.size <= 3)
    assert(plans.MisraGries.candidates(Iterator.empty, 3).isEmpty)
  }

  test("agg_freq_items_misra_gries equals brute-force heavy hitters") {
    val toks = Tables(spark, sf, "documents")
      .select(org.apache.spark.sql.functions
        .explode(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.col("text")), " ")).as("tok"))
      .collect().map(_.getString(0))
    val n = toks.length.toLong
    val expected = toks.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
      .filter { case (_, c) => c * 32 > n }
    val got = Registry.byId("agg_freq_items_misra_gries").run(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  // ---- Bitmap exact distinct vs the engine's own exact countDistinct.

  test("agg_bitmap_distinct equals countDistinct per event_type") {
    import org.apache.spark.sql.functions._
    val expected = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Registry.byId("agg_bitmap_distinct").run(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  // ---- Skew/kurtosis via DIFFERENT algebra: centered two-pass moments.

  test("agg_skew_kurtosis matches two-pass centered moments") {
    val rows = Tables(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val expected = rows.groupBy(_._1).map { case (flag, xs) =>
      val v = xs.map(_._2)
      val n = v.length.toDouble
      val mean = v.sum / n
      def cm(k: Int): Double = v.map(x => math.pow(x - mean, k)).sum / n
      val (m2, m3, m4) = (cm(2), cm(3), cm(4))
      flag -> ((m3 / (m2 * math.sqrt(m2)), m4 / (m2 * m2) - 3))
    }
    val got = Registry.byId("agg_skew_kurtosis").run(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == expected.keySet)
    for ((flag, (sk, ku)) <- expected) {
      assert(math.abs(got(flag)._1 - sk) < 1e-5, s"skew $flag")
      assert(math.abs(got(flag)._2 - ku) < 1e-5, s"kurt $flag")
    }
  }

  // ---- int8 quantization: the mathematical error bound, not the formula.

  test("ml_quantize_int8 reconstruction error is within the half-step bound") {
    val rows = Registry.byId("ml_quantize_int8").run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val amax = r.getDouble(1)
      val sumAbsQ = r.getLong(2)
      val maxErr = r.getDouble(3)
      assert(amax > 0)
      // q = floor(x*scale + .5) is within half a quantization step of
      // x*scale, so |x - q/scale| <= amax/254. Slack covers the output's
      // ROUND(amax, 6)/ROUND(err, 9) presentation rounding.
      assert(maxErr <= amax / 254 + 1e-8, s"vec ${r.getLong(0)}: $maxErr")
      assert(sumAbsQ <= 127L * 64, "codes exceed int8 range x dim")
      // The max-|x| element quantizes to exactly ±127.
      assert(sumAbsQ >= 127L, "the amax element must hit full scale")
    }
  }

  // ---- Full outer cohorts: label/sides consistency + completeness.

  test("join_full_outer covers every ordering customer exactly once") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byId("join_full_outer").run(spark, sf).collect()
    val total = Tables(spark, sf, "orders")
      .select(countDistinct("o_custkey")).head().getLong(0)
    assert(rows.length.toLong == total)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach { r =>
      val (nE, nL, cohort) = (r.getLong(1), r.getLong(2), r.getString(5))
      cohort match {
        case "new" => assert(nE == 0 && nL > 0)
        case "churned" => assert(nE > 0 && nL == 0)
        case "retained" => assert(nE > 0 && nL > 0)
        case other => fail(s"unknown cohort $other")
      }
    }
  }

  // ---- Null-safe join: the NULL group must survive and be exact.

  test("join_null_safe_eq keeps the NULL dim group with exact counts") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byId("join_null_safe_eq").run(spark, sf).collect()
    val nullRow = rows.find(_.isNullAt(0))
    assert(nullRow.isDefined, "NULL dim group dropped — null-safe join broken")
    val k = get_json_object(col("props"), "$.k").cast("int")
    val expectedNullEven = Tables(spark, sf, "events")
      .filter(col("event_id") % 2 === 0 && !(k < 80)).count()
    assert(nullRow.get.getLong(1) == expectedNullEven)
  }

  // ---- first/last/nth window columns vs a driver-side sequential scan.

  test("window_first_last matches a sequential per-user recompute") {
    val events = Tables(spark, sf, "events")
      .select("user_id", "event_id", "ts", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._2))
      val first = sorted.head._4
      val last = sorted.last._4
      val second = if (sorted.length >= 2) Some(sorted(1)._4) else None
      sorted.zipWithIndex.map { case ((_, eid, _, v), i) =>
        eid -> ((round(v - first, 6), round(last - v, 6),
          if (i >= 1) second.map(s => round(s, 6)) else None))
      }
    }
    val got = Registry.byId("window_first_last").run(spark, sf)
      .collect().map { r =>
        r.getLong(1) -> ((r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      }.toMap
    assert(got.size == expected.size)
    expected.foreach { case (eid, e) => assert(got(eid) == e, s"event $eid") }
  }

  // ---- URL parsing: hosts are exactly the synthesized source domains.

  test("scalar_url_parse hosts/params round-trip the synthesized fields") {
    val rows = Registry.byId("scalar_url_parse").run(spark, sf).collect()
    val sources = Tables(spark, sf, "documents")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    val langs = Tables(spark, sf, "documents")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet ==
      sources.map(s => s"$s.example.com"))
    assert(rows.map(_.getString(1)).toSet.subsetOf(langs))
    val totalDocs = Tables(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum == totalDocs)
  }

  // ---- URL canonicalization: every variant family must actually collapse.

  test("dedup_url_canonicalize collapses all four variants per page") {
    val rows = Registry.byId("dedup_url_canonicalize").run(spark, sf).collect()
    val nDocs = Tables(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "variants lost or duplicated")
    // doc_ids are dense 0..N-1, so every canonical group holds exactly the
    // 4 synthesized variants; a canonicalization rule that misses (port,
    // case, utm, fragment, slash) shows up as a split group here.
    assert(rows.forall(_.getLong(1) == 4), rows.filter(_.getLong(1) != 4).mkString(";"))
    rows.foreach { r =>
      val c = r.getString(0)
      assert(c.startsWith("https://www.example.com/docs/"), c)
      assert(!c.contains("utm_") && !c.contains("#") && !c.contains(":443"), c)
      assert(!c.endsWith("/"), c)
      assert(r.getLong(2) % 4 == 0, "keeper must be the min (variant-0) doc")
    }
  }

  // ---- Calibration bins vs a driver-side recompute.

  test("ml_calibration_bins matches a sequential recompute and is monotone") {
    val ev = Tables(spark, sf, "events")
      .select("value", "event_type").collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    val binned = ev.map { case (v, t) =>
      val p = math.min(math.max((v - 10) / 80, 0.0), 1.0)
      (math.min(math.floor(p * 10), 9).toInt, p, if (t == "purchase") 1 else 0)
    }.groupBy(_._1)
    val got = Registry.byId("ml_calibration_bins").run(spark, sf)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == binned.keySet)
    for ((bin, rows) <- binned) {
      val (n, nPos) = (rows.length.toLong, rows.map(_._3).sum.toLong)
      assert(got(bin)._1 == n && got(bin)._2 == nPos, s"bin $bin counts")
      assert(math.abs(got(bin)._3 - rows.map(_._2).sum / n) < 1e-6, s"bin $bin mean")
    }
    // Mean prediction must increase with the bin index (bins partition the
    // score axis).
    val means = got.toSeq.sortBy(_._1).map(_._2._3)
    assert(means == means.sorted, s"non-monotone calibration: $means")
  }

  // ---- Retention cohorts vs a driver-side recompute.

  test("funnel_retention_cohort matches a sequential recompute") {
    val act = Tables(spark, sf, "events")
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts").cast("date").as("d"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val byUser = act.groupBy(_._1).map { case (u, ds) =>
      val days = ds.map(_._2).toSet
      val d0 = days.min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
      (u, d0, days.contains(d0.plusDays(1)), days.contains(d0.plusDays(7)))
    }
    val expected = byUser.groupBy(_._2).map { case (d0, us) =>
      d0.toString -> ((us.size.toLong,
        us.count(_._3).toLong, us.count(_._4).toLong))
    }
    val got = Registry.byId("funnel_retention_cohort").run(spark, sf)
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  // ---- Streaks vs a driver-side recompute.

  test("window_streak_islands matches a sequential per-user recompute") {
    val act = Tables(spark, sf, "events")
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts").cast("date").as("d"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val expected = act.groupBy(_._1).map { case (u, rows) =>
      val days = rows.map(_._2).distinct
        .sortBy(_.toEpochDay)
      val streaks = days.foldLeft(List.empty[Long]) { (acc, d) =>
        acc match {
          case len :: rest if days.contains(d.minusDays(1)) => (len + 1) :: rest
          case _ => 1L :: acc
        }
      }
      u -> ((days.length.toLong, streaks.length.toLong, streaks.max))
    }
    val got = Registry.byId("window_streak_islands").run(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  // ---- Upsampling: closed-form recompute of the replication totals.

  test("corpus_upsample_epochs replication totals match the closed form") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      val i = src.stripPrefix("src").toInt
      val epochs = 1.0 + (i % 3) + 0.25 * (i % 2)
      val full = math.floor(epochs).toLong
      val frac = epochs - math.floor(epochs)
      val copies = rows.map { case (id, _) =>
        full + (if (ppmU(id, "ups") < frac) 1L else 0L)
      }.sum
      src -> ((rows.length.toLong, copies))
    }
    val got = Registry.byId("corpus_upsample_epochs").run(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3))))
      .toMap
    assert(got == expected)
    // Upsampling must never LOSE documents.
    got.values.foreach { case (n, c) => assert(c >= n) }
  }

  // ---- k-core: full driver recompute of the mutual-kNN 2-core.

  test("graph_kcore_prune matches a driver recompute of the 2-core") {
    val vecs = Tables(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 200)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val knn = vecs.flatMap { case (qa, ea) =>
      vecs.filter(_._1 != qa)
        .map { case (qb, eb) => (qb, round(cos(ea, eb), 6)) }
        .sortBy { case (qb, c) => (-c, qb) }
        .take(3).map { case (qb, _) => (qa, qb) }
    }.toSet
    var edges = knn.filter { case (a, b) => a < b && knn.contains((b, a)) }
    val deg0 = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    for (_ <- 1 to 2) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= 2).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
    }
    val expected = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) =>
        n -> ((deg0(n), xs.size.toLong)) }
    val got = Registry.byId("graph_kcore_prune").run(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == expected)
  }

  // ---- Histogram split finding vs the direct (Σy²-based) SSE recompute.

  test("ml_histogram_split_finding matches direct SSE variance reduction") {
    val rows = Tables(spark, sf, "lineitem")
      .select("l_quantity", "l_extendedprice")
      .collect().map(r => (r.getDouble(0).toInt, r.getDouble(1)))
    def sse(ys: Seq[Double]): Double = {
      val m = ys.sum / ys.size
      ys.map(v => (v - m) * (v - m)).sum
    }
    val all = rows.map(_._2)
    val sseParent = sse(all)
    val gains = rows.map(_._1).distinct.sorted.dropRight(1).map { t =>
      val (l, r) = rows.partition(_._1 <= t)
      t -> (sseParent - sse(l.map(_._2)) - sse(r.map(_._2)))
    }.toMap
    val got = Registry.byId("ml_histogram_split_finding").run(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(got.length == 5)
    // The top-5 splits' gains agree with the two-pass centered recompute
    // within float tolerance (the ranking is the load-bearing output).
    got.foreach { case (t, nLeft, gain) =>
      assert(math.abs(gains(t) - gain) / math.max(gain, 1.0) < 1e-6,
        s"split $t: $gain vs ${gains(t)}")
      assert(nLeft == rows.count(_._1 <= t).toLong)
    }
    // And they really are the best 5.
    val best5 = gains.toSeq.sortBy { case (t, g) => (-g, t) }.take(5).map(_._1)
    assert(got.map(_._1).toSeq == best5)
  }

  // ---- Welch's t-test vs a two-pass centered recompute.

  test("agg_ab_welch_ttest matches a two-pass centered recompute") {
    val vals = Tables(spark, sf, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def stats(g: String): (Long, Double, Double) = {
      val v = vals.filter(_._1 == g).map(_._2)
      val m = v.sum / v.length
      (v.length.toLong, m, v.map(x => (x - m) * (x - m)).sum / (v.length - 1))
    }
    val (na, ma, va) = stats("view")
    val (nb, mb, vb) = stats("click")
    val se2 = va / na + vb / nb
    val expT = (ma - mb) / math.sqrt(se2)
    val expDf = se2 * se2 /
      ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
    val r = Registry.byId("agg_ab_welch_ttest").run(spark, sf).head()
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    assert(math.abs(r.getDouble(2) - (ma - mb)) < 1e-5)
    assert(math.abs(r.getDouble(3) - expT) < 1e-5)
    assert(math.abs(r.getDouble(4) - expDf) < 0.05)
  }

  // ---- The native graft_normalize expression.

  test("graft_normalize composes and decomposes per the requested form") {
    import spark.implicits._
    val r = Seq(("e\u0301", "\u00e9", "\ufb01")).toDF("dec", "comp", "lig")
      .selectExpr(
        "graft_normalize(dec, 'NFC') AS c",
        "graft_normalize(comp, 'NFD') AS d",
        "graft_normalize(lig, 'NFKC') AS k",
        "graft_normalize(CAST(NULL AS STRING), 'NFC') AS n")
      .head()
    assert(r.getString(0) == "\u00e9", "NFC must compose e+combining acute")
    assert(r.getString(1) == "e\u0301", "NFD must decompose U+00E9")
    assert(r.getString(2) == "fi", "NFKC must unfold the fi ligature")
    assert(r.isNullAt(3), "null input propagates")
  }

  test("graft_normalize eval and codegen paths agree") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val mixed = "re\u0301sume\u0301 \ufb03x"
    val viaEval = functions.UnicodeNormalize(
      Literal(UTF8String.fromString(mixed)), Literal(UTF8String.fromString("NFC")))
      .eval(null).toString
    import spark.implicits._
    val viaCodegen = Seq(mixed).toDF("s")
      .selectExpr("graft_normalize(s, 'NFC')").head().getString(0)
    assert(viaEval == viaCodegen)
    assert(viaEval == "r\u00e9sum\u00e9 \ufb03x",
      "NFC composes accents but keeps compat ligatures")
  }


  test("graft_normalize rejects a bad form at analysis time") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT graft_normalize('x', 'NOPE')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("nfc"))
  }
}
