package graft

import org.apache.spark.sql.functions._
import graft.operators.{JoinsSetOps, Sampling, TextAnalysis}

/** Invariants for the sampling/split operators and the round's new join,
  * grouping-set, and text operators. */
class SamplingSpec extends SparkSpec {

  private def nDocs: Long =
    spark.read.parquet(s"$sf/documents.parquet").count()

  test("hash sample is deterministic and near the 10% target") {
    val a = Sampling.hashSample(spark, sf).collect().sortBy(_.getString(0))
    val b = Sampling.hashSample(spark, sf).collect().sortBy(_.getString(0))
    assert(a.toSeq === b.toSeq)
    val sampled = a.map(_.getAs[Long]("n_sampled")).sum
    val frac = sampled.toDouble / nDocs
    assert(frac > 0.02 && frac < 0.25, s"sample fraction $frac")
  }

  test("priority sample: heap form equals the window-rank formulation; " +
      "HT weight is max(weight, tau) and never below the raw weight") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextOps
    val got = Sampling.prioritySample(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rk")) ->
        ((r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
          r.getAs[Long]("p"), r.getAs[Double]("ht_weight")))).toMap
    // independent window-rank recompute of the same fixed-point priority
    val w = Window.partitionBy(col("source"))
      .orderBy(col("p").desc, col("doc_id").asc)
    val ref = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.portableHash(
          concat(lit("pri:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("p", expr("n_chars * 4398046511104 DIV (hk + 1)"))
      .withColumn("rk", row_number().over(w))
      .withColumn("tau", max(when(col("rk") === 6, col("p")))
        .over(Window.partitionBy(col("source"))))
      .filter(col("rk") <= 5)
      .collect()
      .map { r =>
        val tau = if (r.isNullAt(r.fieldIndex("tau"))) None
          else Some(r.getAs[Long]("tau"))
        (r.getAs[String]("source"), r.getAs[Int]("rk")) ->
          ((r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
            r.getAs[Long]("p"), tau))
      }.toMap
    assert(got.keySet === ref.keySet)
    ref.foreach { case (k, (docId, nc, p, tau)) =>
      val g = got(k)
      assert(g._1 === docId && g._2 === nc && g._3 === p, s"row $k: $g")
      val want = math.max(nc.toDouble,
        tau.map(_.toDouble / 4398046511104.0).getOrElse(0.0))
      assert(math.abs(g._4 - math.round(want * 1e9) / 1e9) < 1e-6,
        s"ht_weight $k: ${g._4} vs $want")
      assert(g._4 >= nc.toDouble, s"HT below raw weight at $k")
    }
  }

  test("group sample: heap aggregate matches the window-rank formulation") {
    import org.apache.spark.sql.expressions.Window
    val out = Sampling.groupSample(spark, sf).collect()
      .map(r => (r.getAs[String]("priority"), r.getAs[Int]("rk"),
        r.getAs[Long]("order_id"))).toSet
    val h = graft.functions.TextOps.portableHash(
      concat(lit("gs:"), col("o_orderkey").cast("string")))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("h").desc, col("o_orderkey").asc)
    val ref = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("h", h)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Int]("rk"),
        r.getAs[Long]("o_orderkey"))).toSet
    assert(out === ref)
    // every priority class fills its full quota on this corpus
    assert(out.groupBy(_._1).forall(_._2.size == 5))
  }

  test("train/valid/test split partitions the corpus, train dominant") {
    val rows = Sampling.trainTestSplit(spark, sf).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.values.sum === nDocs)
    assert(bySplit.keySet.subsetOf(Set("train", "valid", "test")))
    assert(bySplit("train") > bySplit.getOrElse("valid", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
  }

  test("stratified sample honors the per-stratum quota") {
    val rows = Sampling.stratifiedSample(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_picked") <= 25))
    // strata with >= 25 docs must hit the quota exactly
    val strata = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val key = (r.getAs[String]("lang"), r.getAs[String]("source"))
      if (strata(key) >= 25) assert(r.getAs[Long]("n_picked") === 25)
      else assert(r.getAs[Long]("n_picked") === strata(key))
    }
  }

  test("cross-split leakage bounded by test size, consistent with split") {
    val rows = Sampling.crossSplitLeakage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_leaked") >= 0)
      assert(r.getAs[Long]("n_leaked") <= r.getAs[Long]("n_test"))
    }
    val testTotal = Sampling.trainTestSplit(spark, sf).collect()
      .filter(_.getAs[String]("split") == "test")
      .map(_.getAs[Long]("n_docs")).sum
    assert(rows.map(_.getAs[Long]("n_test")).sum === testTotal)
  }

  test("full outer join accounts for every active customer once") {
    val rows = JoinsSetOps.fullOuterJoin(spark, sf).collect()
    val byPresence = rows.map(r =>
      r.getAs[String]("presence") -> r.getAs[Long]("n_customers")).toMap
    val o = spark.read.parquet(s"$sf/orders.parquet")
    def active(y: Int): Set[Any] =
      o.filter(year(col("o_orderdate")) === y)
        .select("o_custkey").distinct().collect().map(_.get(0)).toSet
    val (a95, a96) = (active(1995), active(1996))
    assert(byPresence.getOrElse("both", 0L) === (a95 & a96).size)
    assert(byPresence.getOrElse("only_1995", 0L) === (a95 -- a96).size)
    assert(byPresence.getOrElse("only_1996", 0L) === (a96 -- a95).size)
  }

  test("range join lags stay inside the window") {
    val rows = JoinsSetOps.rangeJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_lag_days")
      val max = r.getAs[Int]("max_lag_days")
      assert(avg >= 0 && avg < 60)
      assert(max >= 0 && max < 60)
    }
  }

  test("grouping sets: grand total row matches corpus size") {
    val rows = JoinsSetOps.groupingSets(spark, sf).collect()
    val total = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(total.length === 1)
    assert(total(0).getAs[Long]("n") === nDocs)
    // per-lang subtotals (gid marks source aggregated away) sum to total
    val perLang = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(_.getAs[Long]("n")).sum
    assert(perLang === nDocs)
  }

  test("top ngrams: exactly 20, ranked by descending doc frequency") {
    val rows = TextAnalysis.topNgrams(spark, sf).collect()
      .sortBy(_.getAs[Int]("rk"))
    assert(rows.length === 20)
    assert(rows.map(_.getAs[Int]("rk")).toSeq === (1 to 20))
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.zip(dfs.tail).forall { case (x, y) => x >= y })
  }

  test("streamed tumbling aggregation equals the batch plan") {
    val streamed = graft.operators.StreamQueries
      .streamTumbling(spark, sf).collect()
      .map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    val batch = graft.streaming.EventStreams
      .tumblingCounts(graft.sources.Tables.load(spark, sf, "events"))
      .collect()
      .map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("chunking covers every token exactly once, full chunks except last") {
    val chunks = TextAnalysis.chunkDocuments(spark, sf).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byDoc.keySet === words.keySet)
    byDoc.foreach { case (doc, cs) =>
      assert(cs.map(_.getAs[Int]("n_tokens")).sum === words(doc))
      val sorted = cs.sortBy(_.getAs[Int]("chunk_id"))
      sorted.init.foreach(c => assert(c.getAs[Int]("n_tokens") === 50))
      assert(sorted.map(_.getAs[Int]("chunk_id")).toSeq ===
        sorted.indices.toSeq)
    }
  }

  test("dq checks: one row per rule, clean synthetic data passes") {
    val rows = graft.operators.DataQuality.dqChecks(spark, sf).collect()
    assert(rows.length === 4)
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n)
      val rate = r.getAs[Double]("violation_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_violations") <= n)
    }
    // the generator produces in-domain data: hard constraints hold
    val byRule = rows.map(r =>
      r.getAs[String]("rule_name") -> r.getAs[Long]("n_violations")).toMap
    assert(byRule("custkey_present") === 0L)
    assert(byRule("totalprice_positive") === 0L)
  }

  test("normalization never grows the corpus") {
    val rows = TextAnalysis.textNormalize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_len_norm") <= r.getAs[Double]("avg_len_raw"))
      assert(r.getAs[Long]("n_changed") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("chars_removed") >= 0)
    }
  }

  test("data mix: kept within totals, rates in [25,100), deterministic") {
    val a = graft.operators.Sampling.dataMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    a.foreach { case (_, total, kept, rate) =>
      assert(kept <= total)
      assert(rate >= 25 && rate < 100)
    }
    val b = graft.operators.Sampling.dataMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a.toSet === b.toSet) // re-run never moves a document
  }

  test("temperature mix: quotas filled exactly, distribution flattened") {
    val rows = graft.operators.Sampling.temperatureMix(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_selected") === r.getAs[Long]("quota"))
      assert(r.getAs[Long]("quota") <= r.getAs[Long]("n_docs"))
    }
    // α = 0.5 flattening: selected shares must be more uniform than raw
    // shares (ratio of max/min share shrinks) — unless already uniform.
    val raw = rows.map(_.getAs[Long]("n_docs").toDouble)
    val sel = rows.map(_.getAs[Long]("n_selected").toDouble)
    if (raw.max / raw.min > 1.05)
      assert(sel.max / sel.min <= raw.max / raw.min)
  }

  test("negative sampling: id domain is dense (the guarantee k=4 rests on)") {
    // negativeSample addresses negatives by hashing onto [0, n) and
    // joining on doc_id — with id GAPS the inner join silently drops
    // slots, and the oracle shares the assumption so the hash gate
    // cannot catch it. Pin the density precondition loudly here.
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
        count(lit(1)).as("n")).collect()(0)
    assert(ids.getAs[Long]("mn") === 0L, "doc_id domain must start at 0")
    assert(ids.getAs[Long]("mx") === ids.getAs[Long]("n") - 1,
      "doc_id domain has gaps — negativeSample's per-anchor k is broken")
    // and the guarantee itself: exactly 4 true negatives per anchor
    val out = Sampling.negativeSample(spark, sf)
    val n = ids.getAs[Long]("n")
    assert(out.count() === 4L * n)
    assert(out.filter(col("neg_id") === col("doc_id")).count() === 0L)
    val perAnchor = out.groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .filter(col("k") =!= 4).count()
    assert(perAnchor === 0L)
  }

  test("mad outliers: robust gate unmoved by planting one extreme value") {
    import graft.operators.DataQuality
    val base = DataQuality.robustZscoreGate(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_orders"),
        r.getAs[Long]("n_outliers"), r.getAs[Double]("max_robust_z"))))
      .toMap
    assert(base.nonEmpty)
    base.values.foreach { case (n, k, z) =>
      assert(k <= n); assert(z >= 0.0)
    }
    // robustness property: a single planted extreme value must not
    // change the MEDIAN/MAD enough to flip other rows' outlier status —
    // n_outliers may grow by at most the one planted row (a mean/stddev
    // z-score gate fails exactly this: one extreme inflates stddev and
    // un-flags true outliers)
    val dir = tempDir("graft_mad").toString
    import spark.implicits._
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderpriority", "o_totalprice")
    orders.unionByName(Seq(("1-URGENT", 1e9))
        .toDF("o_orderpriority", "o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val planted = DataQuality.robustZscoreGate(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_orders"),
        r.getAs[Long]("n_outliers")))).toMap
    base.foreach { case (p, (n, k, _)) =>
      val (n2, k2) = planted(p)
      if (p == "1-URGENT") {
        assert(n2 === n + 1)
        assert(k2 === k + 1, s"planted extreme not flagged (or flipped " +
          s"others): base=$k planted=$k2")
      } else assert((n2, k2) === ((n, k)))
    }
  }

  test("rate limit: heap form equals window row_number form") {
    val out = Sampling.rateLimit(spark, sf).cache()
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"),
        col("ts").cast("long").as("sec"),
        expr("CAST(ts AS BIGINT) div 3600 * 3600").as("hr_start"),
        col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("hr_start"))
      .orderBy(col("sec").asc, col("event_id").asc)
    val want = ev.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("user_id"), col("hr_start"), col("rk"), col("event_id"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val got = out.select("user_id", "hr_start", "rk", "event_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got === want)
    // at most 3 kept per user-hour; dropped count consistent
    out.collect().foreach { r =>
      assert(r.getAs[Int]("rk") <= 3)
      assert(r.getAs[Long]("n_events") >= r.getAs[Int]("rk"))
    }
    out.unpersist()
  }

  test("corpus shuffle: per-shard positions are an exact permutation") {
    val out = graft.operators.Layout.corpusShuffle(spark, sf).cache()
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.count() === n) // every doc exactly once
    // positions within a shard are exactly 1..|shard| (no gaps, no dups)
    val bad = out.groupBy(col("shard"))
      .agg(count(lit(1)).as("cnt"), max(col("pos")).as("mx"),
        min(col("pos")).as("mn"),
        countDistinct(col("pos")).as("nd"))
      .filter(col("mx") =!= col("cnt") || col("mn") =!= 1 ||
        col("nd") =!= col("cnt"))
      .count()
    assert(bad === 0L)
    // deterministic: a re-run builds the identical order
    val again = graft.operators.Layout.corpusShuffle(spark, sf)
    assert(out.except(again).count() === 0L &&
      again.except(out).count() === 0L)
    // and it is not the identity order (the hash actually shuffles)
    assert(out.filter(col("pos") === col("doc_id") + 1).count() < n / 2)
    out.unpersist()
  }

  test("sequence packing: seqs bounded by budget + one straddling doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val maxDocToks = docs
      .select(size(split(col("text"), " ")).as("t"))
      .agg(max(col("t"))).collect()(0).getInt(0)
    graft.operators.TextAnalysis.packSequences(spark, sf).collect()
      .foreach { r =>
        assert(r.getAs[Long]("n_seqs") > 0)
        assert(r.getAs[Double]("avg_docs_per_seq") >= 1.0)
        // a sequence holds at most budget-1 tokens before the doc that
        // overflows it, so its total is < 128 + longest doc
        assert(r.getAs[Long]("max_tokens") < 128L + maxDocToks)
      }
  }

  test("global ordinals: a contiguous 1..N permutation equal to the " +
      "one-sort oracle, stable across runs") {
    import graft.operators.Layout
    def hk(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val got = Layout.globalOrdinals(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ordinal")).toMap
    // contiguity: ordinals are exactly 1..N
    assert(got.values.toVector.sorted === (1L to got.size.toLong).toVector)
    // equality with the single-sort formulation (never executed at scale)
    val expected = got.keys.toVector
      .map(id => (hk(s"ord:$id"), id))
      .sortBy { case (h, id) => (h % 64, h, id) }
      .zipWithIndex.map { case ((_, id), i) => id -> (i + 1L) }.toMap
    assert(got === expected)
    // idempotent: a re-run assigns every doc the same ordinal
    val again = Layout.globalOrdinals(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ordinal")).toMap
    assert(again === got)
  }

  test("weighted sample: brute-force systematic-PPS recompute") {
    def hk(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      val ordered = rows.map { case (id, _, w) => (hk(s"wsmp:$id"), id, w) }
        .sortBy(r => (r._1, r._2))
      val total = ordered.map(_._3).sum
      val step = math.max(total / 16, 1L)
      var cum = 0L
      ordered.toSeq.flatMap { case (_, id, w) =>
        cum += w
        if (cum / step > (cum - w) / step)
          Some((src, id) -> ((w, cum / step))) else None
      }
    }.toMap
    val got = Sampling.weightedSample(spark, sf).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("doc_id")) ->
        ((r.getAs[Long]("weight"), r.getAs[Long]("tick")))).toMap
    assert(got === expected)
    // ~16 picks per source: ticks are distinct multiples of step, so a
    // source never yields more than total/step <= 16 + 1 rows
    got.keySet.groupBy(_._1).values.foreach(g => assert(g.size <= 17))
    assert(got.nonEmpty)
  }

  test("stratified allocation: variance-proportional budget split and " +
      "smallest-hash selection recompute from scratch") {
    def hk(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val rows = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = rows.groupBy(_._1)
    val mom = byType.view.mapValues { rs =>
      val n = rs.length.toLong
      val s1 = rs.map(_._3).sum
      val s2 = rs.map(r => r._3 * r._3).sum
      (n, s1, BigInt(n) * s2 - BigInt(s1) * s1)
    }.toMap
    val totV = mom.values.map(_._3).sum
    val got = Sampling.stratAllocation(spark, sf).collect()
    assert(got.length === mom.size)
    var allocSum = 0L
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (n, s1, v) = mom(t)
      val nAlloc = (BigInt(1000) * v / totV).toLong
      assert(r.getAs[Long]("n_pop") === n)
      assert(r.getAs[Long]("v_mass") === v.toLong)
      assert(r.getAs[Long]("n_alloc") === nAlloc)
      val sel = byType(t).sortBy(e => (hk(s"na:${e._2}"), e._2))
        .take(nAlloc.toInt)
      assert(r.getAs[Long]("n_sel") === sel.length.toLong)
      assert(r.getAs[Long]("pop_mean_micro") === s1 * 1000000L / n)
      if (sel.nonEmpty)
        assert(r.getAs[Long]("sample_mean_micro") ===
          sel.map(_._3).sum * 1000000L / sel.length)
      allocSum += nAlloc
    }
    // integral division leaves at most |strata| unallocated units
    assert(allocSum <= 1000L && allocSum > 1000L - mom.size)
  }
  test("poisson bootstrap: weights follow the integer inverse-CDF, " +
      "replicate means match a sequential recompute, CI is ordered") {
    import java.security.MessageDigest
    def hk(x: String): Long = {
      val d = MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val cdf = Array(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L, 4294923276L)
    def w(u: Long): Long = {
      val i = cdf.indexWhere(u < _)
      if (i < 0) 8L else i.toLong
    }
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val means = (1 to 32).map { b =>
      var swx = 0L; var sw = 0L
      rows.foreach { case (k, c) =>
        val wt = w(hk(s"bs$b:$k")); swx += wt * c; sw += wt
      }
      // Poisson(1) total weight concentrates near n
      assert(math.abs(sw - rows.length) < rows.length * 0.2 + 50)
      swx * 1000000L / sw
    }.sorted
    val got = operators.Sampling.poissonBootstrap(spark, sf).collect()(0)
    assert(got.getAs[Long]("n") === rows.length.toLong)
    assert(got.getAs[Long]("point_mean_micro") ===
      rows.map(_._2).sum * 1000000L / rows.length)
    assert(got.getAs[Long]("boot_lo_micro") === means(1))
    assert(got.getAs[Long]("boot_hi_micro") === means(30))
    assert(got.getAs[Long]("boot_med_micro") ===
      (means(15) + means(16)) / 2)
    assert(got.getAs[Long]("boot_lo_micro") <=
      got.getAs[Long]("boot_med_micro"))
    assert(got.getAs[Long]("boot_med_micro") <=
      got.getAs[Long]("boot_hi_micro"))
    // the interval brackets the point estimate on well-behaved data
    assert(got.getAs[Long]("boot_lo_micro") <=
      got.getAs[Long]("point_mean_micro"))
    assert(got.getAs[Long]("boot_hi_micro") >=
      got.getAs[Long]("point_mean_micro"))
  }
}
