package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, JoinsSetOps, ScalarFuncs}

class AnalyticsSpec extends SparkSpec {

  test("quantile normalization: each sample row maps to the pooled " +
      "order statistic at its within-group percent rank (brute force)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pooled = ev.map(e => (e._4, e._1)).sorted.map(_._1) // by (cents,id)
    val np = pooled.length.toLong
    val expected = ev.groupBy(_._2).values.flatMap { rows =>
      val ord = rows.sortBy(e => (e._4, e._1))
      val ng = ord.length.toLong
      ord.zipWithIndex.map { case (e, i) =>
        val tgt = 1L + i.toLong * (np - 1) / math.max(ng - 1, 1L)
        (e._1, e._2, e._4) -> pooled((tgt - 1).toInt)
      }
    }.toMap
    val got = operators.Analytics.quantileNormalize(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("cents")) -> r.getAs[Long]("norm_cents")).toMap
    assert(got.nonEmpty)
    got.foreach { case (k, v) => assert(v === expected(k), s"row $k") }
    // the transform preserves within-group order: ranks of norm equal
    // ranks of raw inside every sampled group
    val byType = got.toSeq.groupBy(_._1._2)
    byType.foreach { case (_, rs) =>
      val raw = rs.sortBy(r => (r._1._3, r._1._1)).map(_._2)
      assert(raw === raw.sorted)
    }
  }

  test("zipf fit: equals a brute-force quantized log-log OLS; natural " +
      "corpus slope is negative with meaningful fit") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .collect().map(_.getString(0))
    val top = toks.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(1000)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (math.floor(math.log(i + 1.0) * 1e6 + 0.5).toLong,
        math.floor(math.log(f.toDouble) * 1e6 + 0.5).toLong)
    }
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val num = (n * sxy - sx * sy).toDouble
    val denx = (n * sxx - sx * sx).toDouble
    val slope = num / denx
    val r = operators.TextAnalysis.zipfFit(spark, sf).collect().head
    assert(r.getAs[Long]("n") === pts.length.toLong)
    assert(math.abs(r.getAs[Double]("slope_r") - slope) < 1e-5)
    // the synthetic feed draws from a ~31-token near-uniform vocabulary,
    // so the fit is shallow (slope ≈ −0.18, R² ≈ 0.06) — exactly the
    // away-from-Zipf signature this audit exists to flag on templated
    // corpora; assert the sign and the brute-force equality, not natural
    // -language magnitudes the fixture cannot produce
    assert(r.getAs[Double]("slope_r") < 0.0, "rank-frequency must decay")
  }

  test("winsorize: clip census equals a brute-force interpolated-" +
      "percentile clamp; winsorized mean moves toward the center") {
    val byType = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pct(xs: Array[Long], q: Double): Double = {
      val h = (xs.length - 1) * q
      val l = h.toInt
      if (l + 1 >= xs.length) xs(l).toDouble
      else xs(l) + (h - l) * (xs(l + 1) - xs(l))
    }
    val got = operators.Analytics.winsorize(spark, sf).collect()
    assert(got.length === byType.size)
    got.foreach { r =>
      val xs = byType(r.getAs[String]("event_type"))
      val (p01, p99) = (pct(xs, 0.01), pct(xs, 0.99))
      val nlo = xs.count(_.toDouble < p01).toLong
      val nhi = xs.count(_.toDouble > p99).toLong
      assert(r.getAs[Long]("n") === xs.length.toLong)
      assert(r.getAs[Long]("n_clip_low") === nlo)
      assert(r.getAs[Long]("n_clip_high") === nhi)
      assert(math.abs(r.getAs[Double]("p01_r") - p01) < 1e-4)
      assert(math.abs(r.getAs[Double]("p99_r") - p99) < 1e-4)
      val smid = xs.filter(x => x.toDouble >= p01 && x.toDouble <= p99).sum
      val meanW = (smid.toDouble + nlo * p01 + nhi * p99) / xs.length
      assert(math.abs(r.getAs[Double]("mean_wins_r") - meanW) < 1e-4)
      // winsorized mean sits inside the clip bounds
      assert(r.getAs[Double]("mean_wins_r") >= p01 &&
        r.getAs[Double]("mean_wins_r") <= p99)
    }
  }

  test("histogram rollup: sketch p50/p95 land within one bin width of " +
      "exact; range rows are contained in the whole span") {
    val rows = operators.ApproxAgg.histogramRollup(spark, sf).collect()
      .map(r => r.getAs[String]("tag") -> r).toMap
    assert(rows.keySet === Set("all", "last7", "first_half"))
    val nAll = rows("all").getAs[Long]("n_rows")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") <= nAll)
      assert(math.abs(r.getAs[Double]("p50_hist") -
        r.getAs[Double]("p50_exact")) <= 512.0, r.toString)
      assert(math.abs(r.getAs[Double]("p95_hist") -
        r.getAs[Double]("p95_exact")) <= 512.0, r.toString)
    }
  }

  test("incremental session merge over a stored table written by a " +
      "DIFFERENT JVM equals the full recompute (stale target replaced)") {
    import java.nio.file.Files
    val outDir = tempDir("sess_stage")
    val out = outDir.resolve("sessions.parquet").toString
    // stale-location handling: pre-pollute the target with a WRONG table
    // (sessions of a 10-user slice) — the stage JVM must replace it, not
    // append to or skip it
    Analytics.fullSessions(spark, sf)
      .filter(col("user_id") < 10)
      .write.mode("overwrite").parquet(out)
    // a second JVM writes yesterday's session table through the
    // warehouse path
    forkMain("graft.SessionStage", sf, out)
    // this JVM: read the persisted table cold and run today's merge
    val stored = spark.read.parquet(out)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("s_start"),
        r.getAs[Long]("s_end"), r.getAs[Long]("n_events"))
    }.sorted.toSeq
    val got = key(Analytics.mergeIntoStored(spark, sf, stored))
    val want = key(Analytics.fullSessions(spark, sf))
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("markov transitions: equals a per-user brute-force sequence walk; " +
      "rows normalize to <= 1e6 ppm per source state") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val trans = scala.collection.mutable.Map.empty[(String, String), Long]
    ev.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(r => (r._4, r._2)).map(_._3).toSeq.sliding(2).foreach {
        case Seq(a, b) => trans((a, b)) = trans.getOrElse((a, b), 0L) + 1L
        case _ =>
      }
    }
    val srcTotals = trans.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val expected = trans.map { case ((s, d), n) =>
      (s, d) -> ((n, n * 1000000L / srcTotals(s))) }.toMap
    val got = Analytics.markovTransitions(spark, sf).collect().map(r =>
      (r.getAs[String]("src_type"), r.getAs[String]("dst_type")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("ppm")))).toMap
    assert(got === expected)
    // each source state's row ppms must sum to at most 1e6 (floor div
    // loses at most |dst states| ppm)
    got.groupBy(_._1._1).foreach { case (s, m) =>
      val tot = m.values.map(_._2).sum
      assert(tot <= 1000000L && tot > 1000000L - 100L,
        s"source $s ppm total $tot")
    }
  }

  test("twap: equals a brute-force per-user hold-interval recompute") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val holds = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._4, r._2)).toSeq.sliding(2).collect {
        case Seq(a, b) => (a._3, a._5, b._4 - a._4)
      }
    }.toSeq
    val expected = holds.groupBy(_._1).map { case (tpe, hs) =>
      val heldUs = hs.map(_._3).sum
      val cw = hs.map(h => BigInt(h._2) * BigInt(h._3)).sum
      val twap = math.round(
        cw.toDouble / heldUs.toDouble / 100.0 * 1e6) / 1e6
      tpe -> ((hs.size.toLong, heldUs, twap))
    }
    val got = Analytics.twap(spark, sf).collect().map(r =>
      r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_holds"), r.getAs[Long]("held_us"),
          r.getAs[Double]("twap")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (tpe, (n, h, tw)) =>
      val g = got(tpe)
      assert(g._1 === n && g._2 === h, s"$tpe counts: $g vs ($n,$h)")
      assert(math.abs(g._3 - tw) < 1e-6, s"$tpe twap: ${g._3} vs $tw")
    }
  }

  test("itemsets3: Apriori-pruned mining equals a brute-force triple " +
      "census (the prune loses nothing)") {
    import graft.operators.Graph
    val baskets = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_partkey") % 4 === 0)
      .select(col("o_custkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute force: every within-basket triple, NO candidate pruning
    val triCounts = scala.collection.mutable
      .Map.empty[(Long, Long, Long), Long]
    baskets.groupBy(_._1).values.foreach { rows =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length;
           k <- (j + 1) until ps.length) {
        val t3 = (ps(i), ps(j), ps(k))
        triCounts(t3) = triCounts.getOrElse(t3, 0L) + 1L
      }
    }
    val expected = triCounts.filter(_._2 >= 2).toSeq
      .map { case ((a, b, c), s) => (a, b, c, s) }
      .sortBy(t => (-t._4, t._1, t._2, t._3)).take(20)
    val got = Graph.itemsets3(spark, sf).collect().map(r =>
      (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
        r.getAs[Long]("sup"))).toSeq
    assert(got === expected)
  }

  test("type entropy: equals a brute-force categorical recompute; " +
      "KL vs global is non-negative") {
    import graft.operators.DataQuality
    val rows = spark.read.parquet(s"$sf/events.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type")).count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val g = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val nn = g.values.sum
    val expected = rows.groupBy(_._1).map { case (seg, rs) =>
      val n = rs.map(_._3).sum
      val clc = rs.map(r => r._3 * math.log(r._3.toDouble)).sum
      val clg = rs.map(r => r._3 * math.log(g(r._2).toDouble)).sum
      val ent = math.log(n.toDouble) - clc / n
      val kl = clc / n - math.log(n.toDouble) - clg / n +
        math.log(nn.toDouble)
      seg -> ((n, rs.size.toLong, ent, kl))
    }
    val got = DataQuality.typeEntropy(spark, sf).collect().map(r =>
      r.getAs[String]("segment") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_types"),
          r.getAs[Double]("entropy"), r.getAs[Double]("kl_vs_global"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (seg, (n, nt, ent, kl)) =>
      val gt = got(seg)
      assert(gt._1 === n && gt._2 === nt, s"$seg counts")
      assert(math.abs(gt._3 - ent) < 1e-5, s"$seg entropy ${gt._3} vs $ent")
      assert(math.abs(gt._4 - kl) < 1e-5, s"$seg kl ${gt._4} vs $kl")
      // Gibbs' inequality: KL >= 0 (up to the rounding grid)
      assert(gt._4 >= -1e-6, s"$seg negative KL ${gt._4}")
    }
  }

  test("clamped balance: the window closed form equals the sequential " +
      "max(0, b+x) fold it replaces") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("""CASE WHEN event_type = 'purchase'
          THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
          ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT) END""").as("x"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(_._1).collect {
      case (uid, rows) if uid < 300 =>
        var b = 0L; var peak = 0L; var clamps = 0L
        rows.sortBy(r => (r._3, r._2)).foreach { r =>
          val raw = b + r._4
          if (raw < 0) { b = 0L; clamps += 1 } else b = raw
          if (b > peak) peak = b
        }
        uid -> ((rows.length.toLong, b, peak, clamps))
    }.toMap
    val got = graft.operators.Analytics.clampedBalance(spark, sf)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("final_cents"),
          r.getAs[Long]("peak_cents"), r.getAs[Long]("n_clamps"))))
      .toMap
    assert(got === expected)
    // the fixture must actually exercise the clamp, or the identity is
    // untested on its interesting branch
    assert(got.values.map(_._4).sum > 0, "no clamp events in fixture")
  }

  test("interpolation: grid values lie between their surrounding events " +
      "and match a brute-force blend") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id") < 20)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1).view
      .mapValues(_.sortBy(r => (r._2, r._3))).toMap
    val got = graft.operators.Analytics.interpolate(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("grid_us"),
        r.getAs[Double]("v_interp")))
    assert(got.nonEmpty)
    got.foreach { case (uid, gus, v) =>
      val rows = byUser(uid)
      val prev = rows.filter(_._2 <= gus).lastOption
      val next = rows.find(_._2 > gus)
      val want = (prev, next) match {
        case (Some(p), Some(n)) =>
          p._4 + (n._4 - p._4) *
            ((gus - p._2).toDouble / (n._2 - p._2).toDouble)
        case (Some(p), None) => p._4.toDouble
        case (None, Some(n)) => n._4.toDouble
        case _ => fail(s"user $uid grid point with no events")
      }
      assert(math.abs(v - math.round(want * 1e4) / 1e4) < 1e-3,
        s"user $uid at $gus: $v vs $want")
      val lo = math.min(prev.map(_._4.toDouble).getOrElse(want),
        next.map(_._4.toDouble).getOrElse(want))
      val hi = math.max(prev.map(_._4.toDouble).getOrElse(want),
        next.map(_._4.toDouble).getOrElse(want))
      assert(v >= lo - 1e-3 && v <= hi + 1e-3,
        s"interp $v outside [$lo,$hi] for user $uid")
    }
  }

  test("benford: digit census equals a brute-force string-prefix count; " +
      "all nine digits present; shares conserve") {
    import graft.operators.DataQuality
    val cents = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c")
      .collect().map(_.getLong(0))
    val counts = cents.groupBy(_.toString.head.asDigit)
      .view.mapValues(_.length.toLong).toMap
    val total = cents.length.toLong
    val got = DataQuality.benford(spark, sf).collect().map(r =>
      r.getAs[Int]("digit") -> ((r.getAs[Long]("n"),
        r.getAs[Long]("obs_ppm"), r.getAs[Long]("benford_ppm"))))
      .toMap
    assert(got.keySet === (1 to 9).toSet)
    (1 to 9).foreach { d =>
      val (n, ppm, bppm) = got(d)
      assert(n === counts.getOrElse(d, 0L), s"digit $d count")
      assert(ppm === n * 1000000L / total, s"digit $d ppm")
      assert(bppm ===
        math.round(math.log(1.0 + 1.0 / d) / math.log(10.0) * 1e6),
        s"digit $d benford constant")
    }
    val sumPpm = got.values.map(_._2).sum
    assert(sumPpm <= 1000000L && sumPpm > 1000000L - 9, s"ppm sum $sumPpm")
  }

  test("lateness histogram: two-phase prefix-max equals the global " +
      "one-sort running max; disorder is actually exercised") {
    import graft.operators.DataQuality
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (id, us) => (id, us, us + (id % 8) * 120000000L) }
      .sortBy(r => (r._3, r._1))
    var wm = Long.MinValue
    val bands = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]
    ev.foreach { case (_, us, _) =>
      wm = math.max(wm, us)
      val lateS = (wm - us) / 1000000L
      val band = java.lang.Long.toBinaryString(lateS).length
      val (n, mn, mx) = bands.getOrElse(band, (0L, Long.MaxValue,
        Long.MinValue))
      bands(band) = (n + 1, math.min(mn, lateS), math.max(mx, lateS))
    }
    val got = DataQuality.latenessHistogram(spark, sf).collect().map(r =>
      r.getAs[Int]("band") -> ((r.getAs[Long]("n_events"),
        r.getAs[Long]("min_late_s"), r.getAs[Long]("max_late_s"))))
      .toMap
    assert(got === bands.toMap)
    assert(got.size >= 2, "lane-skew model produced no disorder")
  }

  test("rolling regression: every 7-day slope equals a brute-force fit " +
      "over exactly the in-range days") {
    import graft.operators.DataQuality
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("d"))
      .agg(expr("CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)")
        .as("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = daily.groupBy(_._1)
    val got = DataQuality.rollingRegression(spark, sf).collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("d")) ->
        ((r.getAs[Long]("n"),
          if (r.isNullAt(r.fieldIndex("slope7"))) None
          else Some(r.getAs[Double]("slope7"))))
    }.toMap
    assert(got.nonEmpty)
    got.foreach { case ((tpe, d), (n, slope)) =>
      val win = byType(tpe).filter(r => r._2 >= d - 6 && r._2 <= d)
      assert(win.length.toLong === n, s"($tpe,$d) window size")
      if (n >= 3) {
        val sx = win.map(_._2).sum; val sy = win.map(_._3).sum
        val sxy = win.map(r => r._2 * r._3).sum
        val sxx = win.map(r => r._2 * r._2).sum
        val want = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
        assert(math.abs(slope.get - math.round(want * 1e6) / 1e6) < 1e-4,
          s"($tpe,$d): ${slope.get} vs $want")
      } else assert(slope.isEmpty, s"($tpe,$d) short window must be NULL")
    }
  }

  test("emd drift: the bucketed two-phase form equals a brute-force " +
      "sequential ECDF integral") {
    import graft.operators.DataQuality
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .selectExpr("event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val clicks = ev.filter(_._1 == "click").map(_._2)
    val purch = ev.filter(_._1 == "purchase").map(_._2)
    val (nc, np) = (clicks.length.toLong, purch.length.toLong)
    val grid = (clicks ++ purch).distinct.sorted.toSeq
    var cc = 0L; var cp = 0L; var num = BigInt(0)
    grid.sliding(2).foreach {
      case Seq(v, nxt) =>
        cc += clicks.count(_ == v); cp += purch.count(_ == v)
        num += BigInt((cc * np - cp * nc).abs) * BigInt(nxt - v)
      case _ =>
    }
    val r = DataQuality.emdDrift(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_click") === nc)
    assert(r.getAs[Long]("n_purchase") === np)
    assert(r.getAs[String]("emd_num") === num.toString)
    val want = num.toDouble / (nc.toDouble * np.toDouble)
    assert(math.abs(r.getAs[Double]("emd_cents") -
      math.round(want * 1e4) / 1e4) < 1e-3)
  }

  test("naive forecast: mape/bias equal a brute-force lag-7 backtest; " +
      "only days with a 7-day-old actual are scored") {
    import graft.operators.DataQuality
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("d"))
      .agg(expr("CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)")
        .as("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).map { case (tpe, rows) =>
      val m = rows.map(r => r._2 -> r._3).toMap
      val scored = rows.flatMap(r => m.get(r._2 - 7).map(f => (r._3, f)))
      val n = scored.length.toLong
      val mape = scored.map { case (y, f) =>
        (y - f).abs * 1000000L / math.max(y, 1L) }.sum / n
      val sy = scored.map(_._1).sum; val sf2 = scored.map(_._2).sum
      val bias = (sf2 - sy) * 1000000L / math.max(sy, 1L)
      tpe -> ((n, mape, bias))
    }
    val got = DataQuality.naiveForecast(spark, sf).collect().map(r =>
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n_scored"),
        r.getAs[Long]("mape_ppm"), r.getAs[Long]("bias_ppm")))).toMap
    assert(got === expected)
  }

  test("cusum: the window closed form equals the sequential Page fold; " +
      "the alarm branch is exercised") {
    import graft.operators.DataQuality
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("d"))
      .agg(expr("CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)")
        .as("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).map { case (tpe, rows) =>
      val sy = rows.map(_._3).sum; val nd = rows.length.toLong
      val h = sy / 4
      var s = 0L; var peak = 0L; var nAlarm = 0L
      var first: Option[Long] = None
      rows.sortBy(_._2).foreach { r =>
        s = math.max(0L, s + (r._3 * nd - sy - sy / 20))
        if (s > peak) peak = s
        if (s > h) { nAlarm += 1; if (first.isEmpty) first = Some(r._2) }
      }
      tpe -> ((nd, nAlarm, peak, first))
    }
    val got = DataQuality.cusum(spark, sf).collect().map { r =>
      val fa = if (r.isNullAt(r.fieldIndex("first_alarm_day"))) None
        else Some(r.getAs[Long]("first_alarm_day"))
      r.getAs[String]("event_type") -> ((r.getAs[Long]("n_days"),
        r.getAs[Long]("n_alarm_days"), r.getAs[Long]("peak_cusum"), fa))
    }.toMap
    assert(got === expected)
    assert(got.values.exists(_._2 > 0), "no type ever alarms at sf")
  }

  test("incremental sessions: output equals full recompute AND the " +
      "fixture exercises merge, pass-through, and new-user arms") {
    import graft.operators.Analytics
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_id", "CAST(ts AS LONG) AS sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cutoff = ev.map(_._3).max - 2L * 86400L
    // brute-force full sessionization
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      sorted.foreach { r =>
        if (buf.isEmpty || r._3 - buf.last.last > 1800L)
          buf += scala.collection.mutable.ArrayBuffer(r._3)
        else buf.last += r._3
      }
      buf.map(s => (u, s.head, s.last, s.length.toLong))
    }
    val got = Analytics.incrementalSessions(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("s_start"),
        r.getAs[Long]("s_end"), r.getAs[Long]("n_events"))).toSet
    assert(got === sessions.toSet)
    // pass-through and delta arms exercised by the real feed
    assert(sessions.exists(_._3 < cutoff), "no pure-old sessions")
    assert(sessions.exists(_._2 >= cutoff), "no delta-side sessions")
    // the sparse sf feed has no session SPANNING the cutoff, so the
    // boundary-merge arm gets a planted micro-feed: user 1 has an old
    // event 100 s before the cutoff and a delta event 50 s after
    // (gap 150 <= 1800 -> must merge into ONE session); user 2 is
    // old-only; user 3 delta-only; user 9 only pins max(ts), which
    // puts the cutoff exactly 2 days earlier
    import spark.implicits._
    val base = 1700000000L
    val mx = base + 4L * 86400L
    val cut2 = mx - 2L * 86400L
    val planted = Seq(
      (1L, 10L, cut2 - 100L), (1L, 11L, cut2 + 50L),
      (2L, 20L, cut2 - 5000L),
      (3L, 30L, cut2 + 9000L),
      (9L, 90L, mx))
    val dir2 = tempDir("graft_incsess").toString
    planted.toDF("user_id", "event_id", "sec")
      .selectExpr("user_id", "event_id",
        "CAST(sec AS TIMESTAMP) AS ts", "'click' AS event_type",
        "1.0 AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val got2 = Analytics.incrementalSessions(spark, dir2).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("s_start"),
        r.getAs[Long]("s_end"), r.getAs[Long]("n_events"))).toSet
    assert(got2 === Set(
      (1L, cut2 - 100L, cut2 + 50L, 2L), // MERGED across the boundary
      (2L, cut2 - 5000L, cut2 - 5000L, 1L),
      (3L, cut2 + 9000L, cut2 + 9000L, 1L),
      (9L, mx, mx, 1L)))
  }

  test("sketch rollup: merged daily sketches estimate within HLL error " +
      "of the exact range distincts, all three ranges emitted") {
    import graft.operators.ApproxAgg
    val rows = ApproxAgg.sketchRollup(spark, sf).collect().map(r =>
      r.getAs[String]("tag") -> ((r.getAs[Long]("exact_distinct"),
        r.getAs[Double]("hll_estimate")))).toMap
    assert(rows.keySet === Set("all", "last7", "first_half"))
    rows.foreach { case (tag, (exact, est)) =>
      assert(exact > 0, s"$tag empty range")
      val rel = math.abs(est - exact) / exact.toDouble
      // m=64 registers -> sigma ~ 13%; 3 sigma plus small-range slack
      assert(rel < 0.45, s"$tag estimate $est vs exact $exact (rel $rel)")
    }
    assert(rows("last7")._1 <= rows("all")._1 &&
      rows("first_half")._1 <= rows("all")._1)
  }

  test("topk: exactly 100 rows, monotone non-increasing price") {
    val rows = Analytics.topkOrders(spark, sf)
      .collect().map(_.getAs[Double]("price"))
    assert(rows.length === 100)
    assert(rows.sorted.reverse.sameElements(rows) ||
      rows.sliding(2).forall(p => p(0) >= p(1) || p.length < 2))
  }

  test("window rank: at most 3 per customer, rn within [1,3]") {
    val df = Analytics.windowRank(spark, sf)
    val perCust = df.groupBy("cust_id").count()
    assert(perCust.agg(max("count")).collect()(0).getLong(0) <= 3)
    assert(df.agg(max("rn")).collect()(0).getInt(0) <= 3)
  }

  test("running sum is non-decreasing within supplier (positive qty)") {
    val df = Analytics.windowRunning(spark, sf)
    val bad = df.groupBy("supp_id")
      .agg(min("running_qty").as("mn"), max("running_qty").as("mx"))
      .filter(col("mn") < 0 || col("mx") < col("mn"))
    assert(bad.count() === 0)
  }

  test("sessionize: session count bounded by event count") {
    val df = Analytics.sessionize(spark, sf)
    assert(df.filter(col("n_sessions") > col("n_events")).count() === 0)
    assert(df.count() > 0)
  }

  test("tumbling window: bucket counts sum to event count") {
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    val total = Analytics.tumblingWindow(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(total === events)
  }

  test("sliding 2h/1h window: each event counted exactly twice") {
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    val total = Analytics.slidingWindow(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(total === 2 * events)
  }

  test("outer join preserves customers; anti+semi partition customers") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val outer = JoinsSetOps.outerJoin(spark, sf)
      .agg(sum("n_customers")).collect()(0).getLong(0)
    assert(outer === c.count())
    val anti = JoinsSetOps.antiJoin(spark, sf)
      .agg(sum("n_customers")).collect()
    val nAnti =
      if (anti(0).isNullAt(0)) 0L else anti(0).getLong(0)
    val semiAll = c.join(spark.read.parquet(s"$sf/orders.parquet"),
      col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(nAnti + semiAll === c.count())
  }

  test("rollup row count = detail + flag subtotals + grand total") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val detail = li.select("l_returnflag", "l_linestatus").distinct().count()
    val flags = li.select("l_returnflag").distinct().count()
    val rollup = JoinsSetOps.rollupAgg(spark, sf).count()
    assert(rollup === detail + flags + 1)
  }

  test("json extract: k parsed for every event (props is {\"k\": int})") {
    val n = spark.read.parquet(s"$sf/events.parquet").count()
    val agg = JoinsSetOps.countDistinctAgg(spark, sf) // warm unrelated path
    val json = ScalarFuncs.jsonExtract(spark, sf)
    val parsed = json.agg(sum("n")).collect()(0).getLong(0)
    assert(parsed === n)
    assert(agg.count() === 1)
  }

  test("array ops: dim=64, l2_norm positive") {
    val rows = ScalarFuncs.arrayOps(spark, sf).collect()
    assert(rows.forall(_.getAs[Int]("dim") === 64))
    assert(rows.forall(_.getAs[Double]("l2_norm") > 0))
  }

  test("recursive spine: complete 24-month calendar, totals preserved") {
    val rows = Analytics.recursiveSpine(spark, sf).collect()
    assert(rows.length === 24)
    val months = rows.map(_.getAs[Int]("year_month")).sorted
    assert(months.head === 199501 && months.last === 199612)
    val spineTotal = rows.map(_.getAs[Long]("n_orders")).sum
    val inRange = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= "1995-01-01" &&
              col("o_orderdate") < "1997-01-01").count()
    assert(spineTotal === inRange)
  }

  test("islands: streaks tile each user's purchase days exactly") {
    val days = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate)
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.toEpochDay)).toMap
    val out = Analytics.islands(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_streaks"), r.getAs[Long]("longest_streak"),
         r.getAs[Long]("active_days"))).toMap
    assert(out.keySet === days.keySet)
    days.foreach { case (u, ds) =>
      // local recompute: split the sorted day list into consecutive runs
      val runs = scala.collection.mutable.ListBuffer(1L)
      ds.sliding(2).filter(_.length == 2).foreach { w =>
        if (w(1).toEpochDay - w(0).toEpochDay == 1) runs(runs.length - 1) += 1
        else runs += 1L
      }
      val (n, longest, active) = out(u)
      assert(n === runs.length.toLong, s"user=$u")
      assert(active === ds.length.toLong, s"user=$u")
      assert(longest === runs.max, s"user=$u")
    }
  }

  test("rollup merge: weekly totals from daily partials equal direct agg") {
    val merged = Analytics.rollupMerge(spark, sf).collect()
      .map(r => (r.getAs[String]("week"),
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("total_cents"), r.getAs[Long]("n_events"),
         r.getAs[Long]("min_cents"), r.getAs[Long]("max_cents"))).toMap
    val direct = graft.sources.Tables.load(spark, sf, "events")
      .select(date_trunc("week", to_date(col("ts"))).cast("date").as("week"),
        col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("week"), col("event_type"))
      .agg(sum(col("cents")).as("t"), count(lit(1)).as("n"),
        min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      .collect()
      .map(r => (r.getAs[java.sql.Date]("week").toString,
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("t"), r.getAs[Long]("n"),
         r.getAs[Long]("mn"), r.getAs[Long]("mx"))).toMap
    assert(merged === direct)
  }

  test("exists join: subquery form equals the explicit semi/anti joins") {
    val viaSql = JoinsSetOps.existsJoin(spark, sf).collect()
      .map(_.getAs[Long]("cust_id")).toSet
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val bigF = o.filter(col("o_orderstatus") === "F" &&
        col("o_totalprice") > 9000)
      .select(col("o_custkey"))
    val viaJoins = c
      .join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(bigF, c("c_custkey") === bigF("o_custkey"), "left_anti")
      .collect().map(_.getAs[Long]("c_custkey")).toSet
    assert(viaSql === viaJoins)
    assert(viaSql.nonEmpty)
  }

  test("contingency: expected counts tile the margins, contributions >= 0") {
    val rows = Analytics.contingency(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    // expected counts sum back to N (within float wiggle)
    assert(math.abs(rows.map(_.getAs[Double]("exp_r")).sum - n) < 1e-3)
    // observed counts sum exactly to N
    assert(rows.map(_.getAs[Long]("obs")).sum === n)
    rows.foreach { r =>
      assert(r.getAs[Double]("exp_r") > 0)
      assert(r.getAs[Double]("contrib_r") >= 0)
    }
  }

  test("shingle novelty: unique counts bounded, near-dup docs score low") {
    val out = graft.operators.TextAnalysis.shingleNovelty(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_unique"),
         r.getAs[Long]("novelty_ppm"))).toMap
    out.values.foreach { case (nsh, nu, ppm) =>
      assert(nu >= 0 && nu <= nsh)
      assert(ppm === nu * 1000000L / nsh)
    }
    // docs in a verified near-dup pair share most shingles — their
    // novelty must sit below the corpus median
    val dupDocs = graft.operators.Dedup.ngramJaccard(spark, sf)
      .collect().flatMap(r => Seq(r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"))).toSet
    if (dupDocs.nonEmpty) {
      val ppms = out.values.map(_._3).toSeq.sorted
      val median = ppms(ppms.length / 2)
      dupDocs.foreach { d =>
        assert(out(d)._3 <= median, s"near-dup doc $d scored above median")
      }
    }
  }

  test("latest snapshot: one row per user, carries that user's max second") {
    val snap = Analytics.latestSnapshot(spark, sf)
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(snap.count() === users)
    assert(snap.select("user_id").distinct().count() === users)
  }

  test("stats profile: stddev positive, correlation within [-1, 1]") {
    val rows = Analytics.statsProfile(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("sd_qty") > 0)
      val c = r.getAs[Double]("corr_qty_price")
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("merge upsert: incremental maintenance equals full rebuild") {
    val merged = Analytics.mergeUpsert(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("first_seen"), r.getAs[Long]("last_seen"),
         r.getAs[Long]("n_events"), r.getAs[Double]("total"))).toMap
    val full = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts").cast("long").as("sec"),
        col("value").cast("decimal(12,2)").as("v"))
      .groupBy(col("user_id"))
      .agg(min(col("sec")).as("f"), max(col("sec")).as("l"),
        count(lit(1)).as("n"),
        round(sum(col("v")).cast("double"), 2).as("tot"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("f"), r.getAs[Long]("l"),
         r.getAs[Long]("n"), r.getAs[Double]("tot"))).toMap
    assert(merged === full)
  }

  test("merge upsert: actions partition the keyspace") {
    val acts = Analytics.mergeUpsert(spark, sf)
      .groupBy(col("action")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(acts.keySet.subsetOf(Set("insert", "carryover", "update")))
    assert(acts.getOrElse("update", 0L) > 0L) // mid-stream cut → overlaps
  }

  test("profile table: row counts consistent, key column unique") {
    val rows = Analytics.profileTable(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.size === 3)
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n)
      assert(r.getAs[Long]("n_nonnull") <= n)
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("max_v"))
    }
    assert(rows("o_orderkey").getAs[Long]("ndv") === n) // primary key
  }

  test("skyline equals the brute-force dominance definition") {
    val out = Analytics.skyline(spark, sf).collect()
      .map(r => (r.getAs[String]("brand"), r.getAs[Double]("price"),
        r.getAs[Int]("psize"))).toSet
    val pts = spark.read.parquet(s"$sf/part.parquet")
      .select(org.apache.spark.sql.functions.col("p_brand"),
        org.apache.spark.sql.functions.col("p_retailprice"),
        org.apache.spark.sql.functions.col("p_size"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    val brute = pts.filter { case (b, p, s) =>
      !pts.exists { case (b2, p2, s2) =>
        b2 == b && p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.toSet
    assert(out === brute)
    assert(out.nonEmpty)
    // no skyline point dominates another (mutual non-dominance)
    for ((b, p, s) <- out; (b2, p2, s2) <- out
         if b == b2 && (p, s) != (p2, s2)) {
      assert(!(p2 <= p && s2 >= s), s"($b2,$p2,$s2) dominates ($b,$p,$s)")
    }
  }

  test("date spine: dense days x types grid, deltas only between neighbors") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Analytics.dateSpine(spark, sf).cache()
    val days = out.select("day").distinct().count()
    val types = out.select("event_type").distinct().count()
    assert(out.count() === days * types, "grid must be dense")
    // spine is contiguous at 86400-second steps
    val ds = out.select("day").distinct().collect().map(_.getLong(0)).sorted
    assert(ds.zip(ds.tail).forall { case (a, b) => b - a === 86400L })
    // per type: first row has NULL prev, all others delta == n - prev_n
    out.collect().foreach { r =>
      if (!r.isNullAt(3))
        assert(r.getLong(4) === r.getLong(2) - r.getLong(3))
    }
    // the whole point: zero-filled gap rows exist OR every day has data
    val sums = out.groupBy("event_type").agg(sum("n").as("s")).collect()
    sums.foreach(r => assert(r.getLong(1) > 0))
    out.unpersist()
  }

  test("interval union: covered time equals brute-force sweep per user") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Analytics.intervalUnion(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("covered_sec"),
          r.getAs[Long]("first_sec"), r.getAs[Long]("last_sec")))).toMap
    // brute force: merge sorted [s, s+1800) intervals per user in Scala
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts").cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    evs.foreach { case (u, starts) =>
      var merged = List.empty[(Long, Long)] // reversed
      starts.foreach { s =>
        merged match {
          case (a, b) :: rest if s <= b => merged = (a, math.max(b, s + 1800)) :: rest
          case _ => merged = (s, s + 1800) :: merged
        }
      }
      val (n, cov) = (merged.length.toLong,
        merged.map { case (a, b) => b - a }.sum)
      val got = out(u)
      assert(got._1 === n && got._2 === cov, s"user $u: got $got want ($n,$cov)")
      assert(got._3 === merged.map(_._1).min && got._4 === merged.map(_._2).max)
      assert(cov <= got._4 - got._3) // covered never exceeds the span
    }
  }

  test("ewma anomaly: exact brute-force recompute incl. the double peak") {
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = events.groupBy(_._1).map { case (u, rows) =>
      val xs = rows.sortBy(r => (r._2, r._3)).map(_._4).toVector
      var spikes = 0L; var dips = 0L; var peak = Option.empty[Double]
      for (i <- xs.indices) {
        val prior = xs.slice(math.max(0, i - 16), i) // oldest..newest
        val num = prior.reverse.foldLeft(0L)((a, x) => a * 2 + x)
        val denom = (1L << prior.length) - 1
        if (denom > 0) {
          if (xs(i) * denom > num * 3) spikes += 1
          if (xs(i) * denom * 3 < num) dips += 1
          val e = num.toDouble / denom
          peak = Some(peak.fold(e)(math.max(_, e)))
        }
      }
      u -> ((xs.length.toLong, spikes, dips, peak))
    }
    val got = Analytics.ewmaAnomaly(spark, sf).collect().map(r =>
      r.getAs[Long]("user_id") -> ((r.getAs[Long]("n_events"),
        r.getAs[Long]("n_spikes"), r.getAs[Long]("n_dips"),
        Option(r.getAs[java.lang.Double]("ewma_peak"))
          .map(_.doubleValue)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (u, e) => assert(got(u) === e, s"user $u") }
    // anomalies need a non-empty baseline: never more than n-1 flags
    got.values.foreach { case (n, s, d, _) => assert(s + d <= n - 1) }
  }

  test("nearest join: brute-force bidirectional nearest click per purchase") {
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ordered = rows.toSeq.sortBy(r => (r._3, r._2))
      ordered.zipWithIndex.collect {
        case ((_, eid, us, "purchase"), i) =>
          val prev = ordered.take(i + 1).filter(_._4 == "click")
            .lastOption.map(_._3)
          val next = ordered.drop(i).filter(_._4 == "click")
            .headOption.map(_._3)
          val (src, gap) = (prev, next) match {
            case (None, None) => ("none", None)
            case (Some(p), None) => ("prior", Some(us - p))
            case (None, Some(n)) => ("next", Some(n - us))
            case (Some(p), Some(n)) =>
              if (us - p <= n - us) ("prior", Some(us - p))
              else ("next", Some(n - us))
          }
          (u, eid) -> ((src, gap))
      }
    }.toMap
    val got = Analytics.nearestJoin(spark, sf).collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id")) ->
        ((r.getAs[String]("src"),
          Option(r.getAs[java.lang.Long]("gap_us")).map(_.longValue)))
    ).toMap
    assert(got === expected)
    // both directions must actually occur on this feed
    assert(got.values.exists(_._1 == "prior") &&
      got.values.exists(_._1 == "next"))
  }

  test("KS drift: two-phase ECDF statistic equals brute-force one-pass") {
    import graft.operators.DataQuality
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val clicks = ev.filter(_._1 == "click").map(_._2).sorted
    val purch = ev.filter(_._1 == "purchase").map(_._2).sorted
    val (nc, np) = (clicks.length.toLong, purch.length.toLong)
    val support = (clicks ++ purch).distinct.sorted
    var best = (-1L, Long.MaxValue) // (scaled |diff|, argmin cents)
    support.foreach { v =>
      val cc = clicks.count(_ <= v).toLong
      val cp = purch.count(_ <= v).toLong
      val ad = math.abs(cc * np - cp * nc)
      if (ad > best._1 || (ad == best._1 && v < best._2)) best = (ad, v)
    }
    val r = DataQuality.ksDrift(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_click") === nc)
    assert(r.getAs[Long]("n_purchase") === np)
    assert(r.getAs[Long]("d_ppm") === best._1 * 1000000L / (nc * np))
    assert(r.getAs[Long]("d_at_cents") === best._2)
    // the statistic is non-degenerate on this feed
    assert(r.getAs[Long]("d_ppm") > 0)
  }

  test("rank transform: two-phase ranks equal the one-sort ground truth") {
    val got = Analytics.rankTransform(spark, sf).collect().map(r =>
      r.getAs[Long]("order_id") -> ((r.getAs[Long]("cents"),
        r.getAs[Long]("rank_global"), r.getAs[Long]("pct_ppm")))).toMap
    // contiguity: ranks are exactly 1..N
    assert(got.values.map(_._2).toVector.sorted ===
      (1L to got.size.toLong).toVector)
    // equality with a driver-side full sort (never executed at scale)
    val expected = got.toVector
      .sortBy { case (id, (c, _, _)) => (c, id) }
      .zipWithIndex.map { case ((id, (c, _, _)), i) =>
        id -> ((c, i + 1L, i.toLong * 1000000L / (got.size - 1L)))
      }.toMap
    assert(got === expected)
    // percentile endpoints: min -> 0 ppm, max -> exactly 1e6 ppm
    assert(got.values.map(_._3).min === 0L)
    assert(got.values.map(_._3).max === 1000000L)
  }

  test("copurchase: brute-force pair counts, margins and integer lift") {
    val baskets = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = baskets.map(_._1).distinct.length.toLong
    val margins = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    baskets.groupBy(_._1).values.foreach { rows =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        val k = (ps(i), ps(j))
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1
      }
    }
    val expected = pairCounts.toMap.filter(_._2 >= 2).map { case ((a, b), c) =>
      (a, b) -> ((c, margins(a), margins(b),
        c * nOrders * 1000000L / (margins(a) * margins(b))))
    }
    val got = Analytics.copurchase(spark, sf).collect().map { r =>
      (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        ((r.getAs[Long]("pair_n"), r.getAs[Long]("a_n"),
          r.getAs[Long]("b_n"), r.getAs[Long]("lift_ppm")))
    }.toMap
    assert(got === expected)
    assert(got.nonEmpty) // support floor must not silence the fixture
  }

  test("compaction plan conserves bytes/docs and covers all shards") {
    import graft.operators.Layout
    val plan = Layout.compactionPlan(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val totBytes = docs.agg(sum("n_chars")).collect()(0).getLong(0)
    val totDocs = docs.count()
    assert(plan.map(_.getAs[Long]("total_bytes")).sum === totBytes)
    assert(plan.map(_.getAs[Long]("n_docs")).sum === totDocs)
    assert(plan.map(_.getAs[Long]("n_shards")).sum === 64L)
    // idempotent: re-planning yields the identical assignment
    val again = Layout.compactionPlan(spark, sf).collect()
    assert(plan.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted))
  }

  test("QQ table quantiles equal brute-force order statistics") {
    import graft.operators.DataQuality
    val byG = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def oq(g: String, q: Int): Long = {
      val xs = byG(g)
      xs(((q.toLong * xs.length + 15) / 16 - 1).toInt)
    }
    val got = DataQuality.qqTable(spark, sf).collect()
      .map(r => r.getAs[Long]("q").toInt ->
        ((r.getAs[Long]("click_cents"),
          r.getAs[Long]("purchase_cents")))).toMap
    (1 to 16).foreach { q =>
      assert(got(q) === ((oq("click", q), oq("purchase", q))))
    }
  }

  test("max concurrency: planted overlap incl. inclusive session ends") {
    import graft.operators.Analytics
    import spark.implicits._
    val tmp = tempDir("conc").toString
    val t0 = 1700000000000L
    def ev(id: Long, u: Long, sec: Long) =
      (id, new java.sql.Timestamp(t0 + sec * 1000), u, "click", 1.0, "{}")
    // u1 session [0,100], u2 [50,150], u3 [100,100] — all three overlap
    // exactly at sec 100 (ends are inclusive), so the peak is 3 there
    Seq(ev(1, 1, 0), ev(2, 1, 100), ev(3, 2, 50), ev(4, 2, 150),
      ev(5, 3, 100))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = Analytics.maxConcurrency(spark, tmp).head()
    assert(r.getAs[Long]("max_concurrency") === 3L)
    assert(r.getAs[Long]("at_sec") === t0 / 1000 + 100)
  }

  test("gini: planted uniform gives 0, planted extreme gives (n-1)/n") {
    import graft.operators.Analytics
    import spark.implicits._
    def stage(vals: Seq[Double]): String = {
      val tmp = tempDir("gini").toString
      vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, 1L, "O", v,
          java.sql.Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT")
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      tmp
    }
    val uni = Analytics.gini(spark, stage(Seq.fill(40)(25.0))).head()
    assert(uni.getAs[Double]("gini_r") === 0.0)
    // one order carries all revenue → G = (n-1)/n = 0.975 at n=40
    val ext = Analytics.gini(spark,
      stage(Seq.fill(39)(0.0) :+ 1000.0)).head()
    assert(ext.getAs[Double]("gini_r") === 0.975)
  }

  test("group regression: planted perfect line recovers slope and r=1") {
    import graft.operators.DataQuality
    import spark.implicits._
    val tmp = tempDir("reg").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // cents = 7·x + 500 exactly → slope 7, Pearson r 1; a second noisy
    // group pins that slices are fitted independently
    val rows = (0 until 50).map { i =>
      (i.toLong, new java.sql.Timestamp(t0.getTime + i * 1000L), 1L,
        "line", (7L * i + 500L) / 100.0, "{}")
    } ++ (0 until 50).map { i =>
      (100L + i, new java.sql.Timestamp(t0.getTime + i * 1000L), 1L,
        "noise", ((i * 37) % 11).toDouble, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = DataQuality.groupRegression(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("slope_r"), r.getAs[Double]("corr_r")))).toMap
    assert(got("line")._1 === 7.0)
    assert(got("line")._2 === 1.0)
    assert(math.abs(got("noise")._2) < 0.9) // genuinely not a line
  }

  test("weighted median equals brute-force cumulative-weight scan") {
    import graft.operators.Analytics
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
        expr("CAST(l_quantity AS BIGINT)")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).map { case (flag, rs) =>
      val tot = rs.map(_._3).sum
      val sorted = rs.sortBy(_._2)
      var cum = 0L
      val med = sorted.find { r => cum += r._3; cum * 2 >= tot }.get._2
      flag -> ((med, tot))
    }
    val got = Analytics.weightedMedian(spark, sf).collect()
      .map(r => r.getAs[String]("flag") ->
        ((r.getAs[Long]("wmedian_cents"),
          r.getAs[Long]("total_weight")))).toMap
    assert(got === expected)
    // the weighted median must differ from the UNWEIGHTED one somewhere,
    // or the weight column would be decoration
    val unweighted = rows.groupBy(_._1).map { case (flag, rs) =>
      val sorted = rs.map(_._2).sorted
      flag -> sorted((sorted.length - 1) / 2)
    }
    assert(expected.exists { case (f, (m, _)) => unweighted(f) != m })
  }

  test("attribution: planted remainder split + cent conservation at sf") {
    import graft.operators.Analytics
    import spark.implicits._
    // user 1: three clicks then a 100.01 purchase → 10001 = 3334+3334+3333
    // (remainder cents go to the EARLIEST touches); user 2: unattributed
    val tmp = tempDir("attr").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 1L, "click", 0.0, "{}"),
      (4L, ts("2024-01-01 13:00:00"), 1L, "purchase", 100.01, "{}"),
      (5L, ts("2024-01-01 13:00:00"), 2L, "purchase", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Analytics.attribution(spark, tmp).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) ->
        ((r.getAs[Long]("n_touches"), r.getAs[Long]("credit_cents"),
          r.getAs[Long]("n_purchases")))).toMap
    assert(got === Map(
      Some(1) -> ((1L, 3334L, 1L)), Some(2) -> ((1L, 3334L, 1L)),
      Some(3) -> ((1L, 3333L, 1L)), None -> ((1L, 700L, 1L))))
    // conservation on the real feed: total credit == total purchase cents
    val credit = Analytics.attribution(spark, sf)
      .agg(sum(col("credit_cents"))).collect()(0).getLong(0)
    val cents = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "purchase")
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")))
      .collect()(0).getLong(0)
    assert(credit === cents)
  }

  test("SCD2 merge census equals brute-force recompute") {
    import graft.operators.Analytics
    val cutSec = 852076800L // 1997-01-01 00:00:00 UTC
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp_ltz").cast("long").as("sec"),
        col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val actions = orders.groupBy(_._1).map { case (cust, rows) =>
      val pre = rows.filter(_._2 < cutSec).sortBy(r => (r._2, r._3))
      val post = rows.filter(_._2 >= cutSec).sortBy(r => (r._2, r._3))
      // collapse consecutive same-priority runs; head = open version
      val versions = pre.foldLeft(List.empty[String])((acc, r) =>
        if (acc.headOption.contains(r._4)) acc else r._4 :: acc)
      val action = (versions.headOption, post.headOption.map(_._4)) match {
        case (None, _) => "insert_key"
        case (_, None) => "untouched"
        case (Some(op), Some(s)) if s != op => "new_version"
        case _ => "unchanged"
      }
      val nv = versions.size +
        (if (action == "insert_key" || action == "new_version") 1 else 0)
      (cust, action, nv.toLong)
    }.toSeq
    val expected = actions.groupBy(_._2).map { case (a, xs) =>
      a -> ((xs.size.toLong, xs.map(_._3).sum,
        xs.map(_._1).min, xs.map(_._1).max))
    }
    val got = Analytics.scd2Merge(spark, sf).collect().map(r =>
      r.getAs[String]("action") -> ((r.getAs[Long]("n_keys"),
        r.getAs[Long]("total_versions"), r.getAs[Long]("min_cust"),
        r.getAs[Long]("max_cust")))).toMap
    assert(got === expected)
    // the fixture exercises the interesting classes, not just carryover
    assert(got.contains("new_version") && got.contains("unchanged"))
  }

  test("psi drift: per-bin contributions equal a sequential recompute; " +
      "identical halves would score zero") {
    val rows = spark.read.parquet(s"$sf/events.parquet")
      .select(col("ts").cast("long"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (mnS, mxS) = (rows.map(_._1).min, rows.map(_._1).max)
    val (mnC, mxC) = (rows.map(_._2).min, rows.map(_._2).max)
    val mid = (mnS + mxS) / 2
    val binned = rows.map { case (s, c) =>
      ((c - mnC) * 16 / (mxC + 1 - mnC), s >= mid)
    }
    val early = binned.filterNot(_._2).groupBy(_._1).view
      .mapValues(_.length.toLong).toMap
    val late = binned.filter(_._2).groupBy(_._1).view
      .mapValues(_.length.toLong).toMap
    val (totE, totL) = (early.values.sum.toDouble, late.values.sum.toDouble)
    val got = operators.DataQuality.psiDrift(spark, sf).collect()
    assert(got.length === binned.map(_._1).distinct.length)
    var psi = 0.0
    got.foreach { r =>
      val b = r.getAs[Long]("bin")
      val (ne, nl) = (early.getOrElse(b, 0L), late.getOrElse(b, 0L))
      assert(r.getAs[Long]("n_early") === ne)
      assert(r.getAs[Long]("n_late") === nl)
      if (ne > 0 && nl > 0) {
        val contrib = (ne / totE - nl / totL) *
          math.log(ne * totL / (nl * totE))
        assert(math.abs(r.getAs[Double]("psi_contrib_r") - contrib) < 1e-5)
        psi += contrib
      } else assert(r.isNullAt(r.fieldIndex("psi_contrib_r")))
    }
    // each populated-both-sides contribution is (p−q)ln(p/q) ≥ 0, so
    // the PSI total is non-negative — and 0 only for identical mixes
    assert(psi >= 0.0)
  }
  test("woe/iv: bins, counts and contributions match a sequential " +
      "recompute; every IV contribution is non-negative") {
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
        (col("l_returnflag") === "R").as("y"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val (mn, mx) = (rows.map(_._1).min, rows.map(_._1).max)
    val binned = rows.groupBy(r => (r._1 - mn) * 10 / (mx + 1 - mn))
    val totPos = rows.count(_._2).toLong
    val totNeg = rows.length - totPos
    val got = operators.DataQuality.woeIv(spark, sf).collect()
    assert(got.length === binned.size)
    got.foreach { r =>
      val b = binned(r.getAs[Long]("bin"))
      val np = b.count(_._2).toLong
      val nn = b.length - np
      assert(r.getAs[Long]("n_pos") === np)
      assert(r.getAs[Long]("n_neg") === nn)
      if (np > 0 && nn > 0) {
        val woe = math.log(np.toDouble * totNeg / (nn.toDouble * totPos))
        val iv = (np.toDouble / totPos - nn.toDouble / totNeg) * woe
        assert(math.abs(r.getAs[Double]("woe_r") - woe) < 1e-5)
        assert(math.abs(r.getAs[Double]("iv_contrib_r") - iv) < 1e-5)
        // (p - q) and ln(p/q) share a sign, so each contribution >= 0
        assert(r.getAs[Double]("iv_contrib_r") >= -1e-9)
      } else {
        assert(r.isNullAt(r.fieldIndex("woe_r")))
        assert(r.isNullAt(r.fieldIndex("iv_contrib_r")))
      }
    }
  }

  test("seasonal decompose: trend/seasonal/strength equal a " +
      "from-scratch recompute on the bounded day relation") {
    val OFF = 10000000000000L
    val out = Analytics.seasonalDecompose(spark, sf).collect()
      .map(r => r.getAs[Long]("dow") ->
        ((r.getAs[Long]("n_days"), r.getAs[Double]("seasonal_dollars_r"),
          r.getAs[Double]("strength_r")))).toMap
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS d",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).sum }
    val dts = daily.keys.toSeq.sorted.flatMap { d =>
      val win = (d - 3 to d + 3).flatMap(daily.get)
      if (win.size == 7) Some((d % 7, daily(d) * 7 - win.sum)) else None
    }
    val seas = dts.groupBy(_._1).map { case (dow, xs) =>
      val c = xs.size.toLong; val s = xs.map(_._2).sum
      dow -> (c, (2 * s + c + 2 * OFF * c) / (2 * c) - OFF)
    }
    val eDt = dts.map(x => BigInt(x._2) * x._2).sum
    val eRes = dts.map { case (dow, dt) =>
      val r = dt - seas(dow)._2; BigInt(r) * r }.sum
    val strength =
      1.0 - BigDecimal(eRes).toDouble / BigDecimal(eDt).toDouble
    seas.foreach { case (dow, (c, m)) =>
      val (gc, gm, gs) = out(dow)
      assert(gc === c)
      assert(math.abs(gm - m.toDouble / 700.0) < 1.5e-6)
      assert(math.abs(gs - strength) < 1.5e-6)
    }
  }

  test("fano dispersion: closed-form zero-day-inclusive recompute") {
    val out = graft.operators.DataQuality.fanoDispersion(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_active_days"), r.getAs[Long]("n_days"),
          r.getAs[Long]("n_events"), r.getAs[Double]("fano_r"),
          r.getAs[String]("verdict")))).toMap
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_type", "CAST(ts AS LONG) DIV 86400 AS d")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mn = ev.map(_._2).min; val mx = ev.map(_._2).max
    val dd = mx - mn + 1
    ev.groupBy(_._1).foreach { case (t0, es) =>
      val perDay = es.groupBy(_._2).map(_._2.length.toLong)
      val s = perDay.sum; val s2 = perDay.map(n => n * n).sum
      val fano = (dd * s2 - s * s).toDouble / (dd * s).toDouble
      val (gad, gdd, gs, gf, gv) = out(t0)
      assert(gad === perDay.size.toLong)
      assert(gdd === dd)
      assert(gs === s)
      assert(math.abs(gf - fano) < 1.5e-6)
      // a zero-variance sanity bracket plus the banding rule
      val band = if (gf > 1.2) "overdispersed"
        else if (gf < 0.8) "underdispersed" else "poisson_like"
      assert(gv === band)
    }
  }

  test("acf: exact from-scratch recompute of the lag-k autocorrelation") {
    val out = Analytics.acf(spark, sf).collect()
      .map(r => (r.getAs[Long]("lag"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("rho_r"))).sortBy(_._1)
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS d",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).sum }
    val n = daily.size
    val sy = daily.values.sum
    val z = daily.map { case (d, y) => d -> (BigInt(y) * n - sy) }
    val den = z.values.map(x => x * x).sum
    assert(out.map(_._1).toSeq === (1L to 7L))
    out.foreach { case (k, np, rho) =>
      val pairs = z.toSeq.collect {
        case (d, za) if z.contains(d + k) => za * z(d + k) }
      assert(np === pairs.size.toLong)
      val expect = BigDecimal(pairs.sum).toDouble / BigDecimal(den).toDouble
      assert(math.abs(rho - expect) < 1.5e-6)
      assert(math.abs(rho) <= 1.0 + 1e-9)
    }
  }

  test("xcorr: exact from-scratch recompute of the lead-lag " +
      "cross-correlation between hourly views and purchases") {
    val out = Analytics.xcorr(spark, sf).collect()
      .map(r => (r.getAs[Long]("lag"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("r_r"))).sortBy(_._1)
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type").isin("view", "purchase"))
      .selectExpr("CAST(ts AS LONG) div 3600 AS h", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val hourly = ev.groupBy(_._1).map { case (h, xs) =>
      h -> (xs.count(_._2 == "view").toLong,
        xs.count(_._2 == "purchase").toLong) }
    val n = hourly.size
    val sx = hourly.values.map(_._1).sum
    val sy = hourly.values.map(_._2).sum
    val zx = hourly.map { case (h, (x, _)) => h -> (BigInt(x) * n - sx) }
    val zy = hourly.map { case (h, (_, y)) => h -> (BigInt(y) * n - sy) }
    val dx = zx.values.map(v => v * v).sum
    val dy = zy.values.map(v => v * v).sum
    assert(out.map(_._1).toSeq === (-6L to 6L))
    out.foreach { case (k, np, r) =>
      val pairs = zx.toSeq.collect {
        case (h, za) if zy.contains(h + k) => za * zy(h + k) }
      assert(np === pairs.size.toLong, s"lag=$k")
      val expect = BigDecimal(pairs.sum).toDouble /
        math.sqrt(BigDecimal(dx).toDouble * BigDecimal(dy).toDouble)
      assert(math.abs(r - expect) < 1.5e-6, s"lag=$k")
      assert(math.abs(r) <= 1.0 + 1e-9, s"lag=$k")
    }
    // lag 0 should be the strongest co-movement band on this feed or
    // at least a defined value; the gate pins exact values — here we
    // pin the SHAPE: symmetric axis, every lag computed
    assert(out.length === 13)
  }

  test("seq pairs: ordered-pattern support equals a sequential " +
      "first/last fold per user") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_type", "CAST(ts AS LONG) AS sec")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ut = ev.groupBy(e => (e._1, e._2)).map { case ((u, t), xs) =>
      (u, t, xs.map(_._3).min, xs.map(_._3).max) }
    val byUser = ut.groupBy(_._1)
    val nu = byUser.size.toLong
    val exp = scala.collection.mutable
      .Map.empty[(String, String), (Long, Long)].withDefaultValue((0L, 0L))
    byUser.values.foreach { ts =>
      for (a <- ts; b <- ts if a._2 != b._2) {
        val k = (a._2, b._2)
        val (both, sup) = exp(k)
        exp(k) = (both + 1, sup + (if (a._3 < b._4) 1L else 0L))
      }
    }
    val got = Analytics.seqPairs(spark, sf).collect()
      .map(r => (r.getAs[String]("t_a"), r.getAs[String]("t_b")) ->
        (r.getAs[Long]("n_both"), r.getAs[Long]("n_support"),
          r.getAs[Long]("support_ppm"), r.getAs[Long]("conf_ppm"))).toMap
    assert(got.keySet === exp.keySet)
    exp.foreach { case (k, (both, sup)) =>
      assert(got(k) === ((both, sup, sup * 1000000L / nu,
        sup * 1000000L / both)), k)
    }
  }

  test("kaplan-meier: risk sets, events and the survival curve equal " +
      "a sequential censored fold; curve is monotone non-increasing") {
    val spans = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cut = spans.map(_._2).max
    val perCust = spans.groupBy(_._1).toSeq.map { case (_, xs) =>
      val f = xs.map(_._2).min; val l = xs.map(_._2).max
      val ev = l < cut - 360
      (ev, if (ev) l - f else cut - f)
    }
    val durs = perCust.groupBy(_._2).map { case (d, xs) =>
      d -> (xs.size.toLong, xs.count(_._1).toLong) }
    val eventTimes = durs.filter(_._2._2 > 0).keys.toSeq.sorted
    var sLn = 0.0
    val expect = eventTimes.map { t =>
      val nRisk = perCust.count(_._2 >= t).toLong
      val d = durs(t)._2
      sLn += math.log(1.0 - d.toDouble / nRisk)
      t -> (nRisk, d, math.exp(sLn))
    }.toMap
    val got = Analytics.kaplanMeier(spark, sf).collect()
      .map(r => r.getAs[Long]("t_days") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d"),
          r.getAs[Double]("surv_r")))
    assert(got.map(_._1).toSet === expect.keySet)
    got.foreach { case (t, (nr, d, s)) =>
      val (enr, ed, es) = expect(t)
      assert(nr === enr, t); assert(d === ed, t)
      assert(math.abs(s - es) < 1.5e-6, t)
    }
    val sorted = got.sortBy(_._1).map(_._2._3).toSeq
    sorted.sliding(2).foreach { w =>
      if (w.size == 2) assert(w(1) <= w(0) + 1e-9)
    }
  }

  test("log-rank: hypergeometric terms over the two-group duration " +
      "census equal a sequential recompute; iid segments not significant") {
    val segOf = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey", "c_mktsegment = 'BUILDING'")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val spans = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cut = spans.map(_._2).max
    val perCust = spans.groupBy(_._1).toSeq.map { case (ck, xs) =>
      val f = xs.map(_._2).min; val l = xs.map(_._2).max
      val ev = l < cut - 360
      (segOf(ck), ev, if (ev) l - f else cut - f)
    }
    val durs = perCust.groupBy(_._3).toSeq.sortBy(_._1)
    var d1s = 0L; var e1s = 0L; var vs = BigInt(0)
    durs.foreach { case (t, xs) =>
      val d = xs.count(_._2).toLong
      if (d > 0) {
        val d1 = xs.count(x => x._2 && x._1).toLong
        val n = perCust.count(_._3 >= t).toLong
        val n1 = perCust.count(x => x._3 >= t && x._1).toLong
        d1s += d1
        e1s += d * n1 * 1000000L / n
        if (n > 1)
          vs += BigInt(d) * n1 * (n - n1) * (n - d) * 1000000 /
            (BigInt(n) * n * (n - 1))
      }
    }
    val chi2 = (d1s.toDouble * 1000000.0 - e1s) *
      (d1s.toDouble * 1000000.0 - e1s) / (vs.toDouble * 1000000.0)
    val got = Analytics.logRank(spark, sf).collect()(0)
    assert(got.getAs[Long]("d1s") === d1s)
    assert(got.getAs[Long]("e1s") === e1s)
    assert(got.getAs[Long]("vs") === vs.toLong)
    assert(math.abs(got.getAs[Double]("chi2_r") - chi2) < 1e-5)
    assert(got.getAs[String]("verdict") ===
      (if (chi2 > 3.841) "significant_95" else "not_significant"))
  }

  test("gumbel maxima: moment fit over the daily-max census equals a " +
      "driver recompute; exceedance probability in (0, 1)") {
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS day",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).max }.toSeq
    val d = daily.length.toDouble
    val sx = daily.map(BigInt(_)).sum
    val sxx = daily.map(x => BigInt(x) * x).sum
    val m = sx.toDouble / d
    val s = math.sqrt((sxx.toDouble - sx.toDouble * sx.toDouble / d) /
      (d - 1))
    val beta = s * math.sqrt(6.0) / math.Pi
    val mu = m - 0.5772156649015329 * beta
    val mx = daily.max
    val p = 1.0 - math.exp(-math.exp(-((1.5 * mx - mu) / beta)))
    val got = Analytics.gumbelMaxima(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_days") === daily.length.toLong)
    assert(got.getAs[Long]("max_daily_cents") === mx)
    assert(math.abs(got.getAs[Double]("mu_r") - mu) < mu * 1e-6 + 1e-4)
    assert(math.abs(got.getAs[Double]("beta_r") - beta) <
      beta * 1e-6 + 1e-4)
    assert(math.abs(got.getAs[Double]("p_exceed_1p5max_r") - p) < 1e-5)
    assert(p > 0.0 && p < 1.0)
  }

  test("changepoint: the between-SS argmax over the dollar-quantized " +
      "daily series equals a sequential prefix recompute") {
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS day",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (day, xs) =>
        (day, xs.length.toLong, xs.map(t => BigInt(t._2)).sum / 100) }
    val n = daily.map(_._2).sum
    val sT = daily.map(_._3).sum
    var nl = 0L; var sl = BigInt(0)
    val scored = daily.map { case (day, m, s) =>
      nl += m; sl += s
      val diff = n * sl - nl * sT
      (day, nl, sl,
        if (nl < n) (diff * diff / (BigInt(nl) * (n - nl) * n * n))
          .toLong else -1L)
    }.filter(_._4 >= 0)
    val g = scored.map(_._4).max
    val pick = scored.filter(_._4 == g).minBy(_._1)
    val got = Analytics.changepoint(spark, sf).collect()(0)
    assert(got.getAs[Long]("split_day") === pick._1)
    assert(got.getAs[Long]("n_left") === pick._2)
    assert(got.getAs[Long]("n_right") === n - pick._2)
    assert(got.getAs[Long]("gain_d2") === g)
    assert(got.getAs[Long]("mean_left_dollars") ===
      (pick._3 / pick._2).toLong)
    assert(got.getAs[Long]("mean_right_dollars") ===
      ((sT - pick._3) / (n - pick._2)).toLong)
  }

  test("theil-sen: the lower-median of pair-quantized monthly slopes " +
      "equals a sequential order-statistic recompute") {
    val monthly = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST((year(CAST(o_orderdate AS DATE)) - 1990) * 12 + " +
          "month(CAST(o_orderdate AS DATE)) - 1 AS LONG) AS mi",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (mi, xs) =>
        (mi, xs.map(t => BigInt(t._2)).sum) }.sortBy(_._1)
    val shift = BigInt("10000000000000")
    val slopes = (for (a <- monthly; b <- monthly; if a._1 < b._1)
      yield {
        val dm = BigInt(b._1 - a._1)
        ((2 * (b._2 - a._2) * 100 + dm + 2 * shift * dm) / (2 * dm) -
          shift).toLong
      }).sorted
    val k = (slopes.length + 1) / 2
    val med = slopes(k - 1)
    val got = Analytics.theilSen(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_pairs") === slopes.length.toLong)
    assert(got.getAs[Long]("k_rank") === k.toLong)
    assert(got.getAs[Long]("slope_e2") === med)
    assert(math.abs(got.getAs[Double]("slope_cents_per_month_r") -
      med.toDouble / 100.0) < 1e-4)
  }

  test("theil-sen: generated tied slopes elect the true lower median " +
      "(distinct-value rank counting, not multiset×multiset)") {
    import spark.implicits._
    // monthly cents 0,100,200,800,1400 over months 1990-01..05 → the
    // 10-pair slope multiset [10000×3, 26667, 35000×2, 43333, 60000×3]
    // (e2-cents/month); k=5 → lower median 35000. A multiset×multiset
    // rank count sees value 10000 with clt=0, ceq=9 and mis-elects it.
    val tmp = tempDir("tsen").toString
    Seq(0.00, 1.00, 2.00, 8.00, 14.00).zipWithIndex.map { case (p, i) =>
      (i.toLong, 1L, "O", p,
        java.sql.Timestamp.valueOf(f"1990-${i + 1}%02d-15 00:00:00"),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val got = Analytics.theilSen(spark, tmp).collect()(0)
    assert(got.getAs[Long]("n_pairs") === 10L)
    assert(got.getAs[Long]("k_rank") === 5L)
    assert(got.getAs[Long]("slope_e2") === 35000L)
  }

  test("mann-kendall: S, tie-corrected variance and z equal a " +
      "sequential recompute; planted tied revenues exercise the " +
      "correction") {
    import spark.implicits._
    def recompute(ys: Seq[Long]): (Long, Long, Long, Double) = {
      val n = ys.length.toLong
      val s = (for (i <- ys.indices; j <- (i + 1) until ys.length)
        yield java.lang.Long.signum(ys(j) - ys(i)).toLong).sum
      val tt = ys.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) })
        .sum
      val vn = n * (n - 1) * (2 * n + 5) - tt
      val z = if (s > 0) (s - 1) / math.sqrt(vn / 18.0)
        else if (s < 0) (s + 1) / math.sqrt(vn / 18.0) else 0.0
      (n, s, vn, z)
    }
    // real corpus
    val monthly = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST((year(CAST(o_orderdate AS DATE)) - 1990) * 12 + " +
          "month(CAST(o_orderdate AS DATE)) - 1 AS LONG) AS mi",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, xs) => xs.map(t => BigInt(t._2)).sum.toLong }
    val (n, s, vn, z) = recompute(monthly)
    val got = Analytics.mannKendall(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_months") === n)
    assert(got.getAs[Long]("s_stat") === s)
    assert(got.getAs[Long]("var_num18") === vn)
    assert(math.abs(got.getAs[Double]("z_r") - z) < 1e-5)
    // planted ties: months 1990-01..05, cents 0,100,100,800,1400 →
    // the y=100 group contributes t(t-1)(2t+5) = 18 to the correction
    val tmp = tempDir("mk").toString
    Seq(0.00, 1.00, 1.00, 8.00, 14.00).zipWithIndex.map { case (p, i) =>
      (i.toLong, 1L, "O", p,
        java.sql.Timestamp.valueOf(f"1990-${i + 1}%02d-15 00:00:00"),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val (n2, s2, vn2, z2) = recompute(Seq(0L, 100L, 100L, 800L, 1400L))
    assert(vn2 === 5L * 4 * 15 - 18)
    val g2 = Analytics.mannKendall(spark, tmp).collect()(0)
    assert(g2.getAs[Long]("n_months") === n2)
    assert(g2.getAs[Long]("s_stat") === s2)
    assert(g2.getAs[Long]("var_num18") === vn2)
    assert(math.abs(g2.getAs[Double]("z_r") - z2) < 1e-5)
    assert(g2.getAs[String]("verdict") ===
      (if (z2 > 1.96) "increasing_95"
       else if (z2 < -1.96) "decreasing_95" else "no_trend"))
  }

  test("mase: dense-spine lag errors equal a sequential recompute; " +
      "the two MAE denominators count the same rows") {
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') " +
          "AS LONG) AS day",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
    val lo = daily.keys.min; val hi = daily.keys.max
    val spine = (lo to hi).map(d => daily.getOrElse(d, 0L))
    val scored = spine.indices.drop(7)
    val ae1 = scored.map(i => math.abs(spine(i) - spine(i - 1))).sum
    val ae7 = scored.map(i => math.abs(spine(i) - spine(i - 7))).sum
    val got = Analytics.mase(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_scored") === scored.length.toLong)
    assert(got.getAs[Long]("mae1_cents") === ae1 / scored.length)
    assert(got.getAs[Long]("mae7_cents") === ae7 / scored.length)
    assert(math.abs(got.getAs[Double]("mase_r") -
      ae7.toDouble / ae1) < 1e-5)
  }

  test("hill tail: micro-nat log-ratio sum over the top-100 equals a " +
      "sequential recompute; alpha positive") {
    val cents = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
        "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (c, ok) => (-c, ok) }.take(101)
    val xk = cents.map(_._1).min
    // ascending rank 1 = one threshold row dropped (ties by ok asc)
    val kept = cents.sortBy { case (c, ok) => (c, ok) }.drop(1)
    val terms = kept.map { case (c, _) =>
      math.floor(math.log(c.toDouble / xk) * 1e6 + 0.5).toLong }
    val got = Analytics.hillTail(spark, sf).collect()(0)
    assert(got.getAs[Long]("k") === 100L)
    assert(got.getAs[Long]("sum_micronats") === terms.sum)
    assert(got.getAs[Long]("hill_inv_micro") === terms.sum / 100L)
    assert(got.getAs[Double]("alpha_r") > 0.0)
  }
}
