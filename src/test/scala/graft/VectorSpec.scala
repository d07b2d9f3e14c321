package graft

import org.apache.spark.sql.functions._
import graft.functions.{VectorExpressions, VectorOps}

class VectorSpec extends SparkSpec {

  test("native dot product is bit-identical to built-in composition") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val pairs = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .crossJoin(e.select(col("vec_id").as("v2"), col("embedding").as("e2")))
    val diff = pairs
      .withColumn("d_native", VectorOps.dot(col("e1"), col("e2")))
      .withColumn("d_builtin", VectorOps.dotBuiltin(col("e1"), col("e2")))
      .filter(col("d_native") =!= col("d_builtin")) // exact, no tolerance
    assert(diff.count() === 0)
  }

  test("native float×double dot is bit-identical to built-in composition") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
      .withColumn("c", transform(col("embedding"),
        x => x.cast("double") * lit(1.0000001)))
    val diff = e
      .withColumn("d_native",
        VectorOps.dotFloatDouble(col("embedding"), col("c")))
      .withColumn("d_builtin",
        VectorOps.dotFloatDoubleBuiltin(col("embedding"), col("c")))
      .filter(col("d_native") =!= col("d_builtin")) // exact, no tolerance
    assert(diff.count() === 0)
  }

  test("native dot registered for SQL surface") {
    VectorExpressions.register(spark)
    spark.read.parquet(s"$sf/embeddings.parquet").limit(5)
      .createOrReplaceTempView("vec_test")
    val rows = spark.sql(
      "SELECT graft_dot(embedding, embedding) AS d FROM vec_test").collect()
    assert(rows.forall(_.getAs[Double]("d") > 0))
  }

  test("ANN queries canonicalize a tiny-negative cosine to +0.0") {
    // The exact escape class that cost round 4 a red: a cosine in
    // (-5e-7, 0) rounds to -0.0 in DuckDB's round() but +0.0 through
    // Spark's BigDecimal HALF_UP, and the driver's hash gate is
    // representation-exact. All three ANN paths append `+ 0.0` after
    // round(cos, 6); this fixture seeds such a cosine into each path's
    // candidate set and pins the positive-zero bit pattern end-to-end.
    import graft.operators.Similarity
    val tmp = tempDir("veczero").toString
    val pad = Array.fill(7)(0f)
    val b = java.lang.Math.nextUp(0.5f) // 8*(0.25^2) - b = -5.96e-8
    val rows = Seq(
      (0L, Array(1f, 0f) ++ pad ++ pad, 0),          // plain anchor
      (1L, Array(-1e-7f, 1f) ++ pad ++ pad, 0),      // cos(v0,v1) ~ -1e-7
      (2L, Array.fill(8)(0.25f) ++ Array(1f) ++ pad, 0),
      (3L, Array.fill(8)(0.25f) ++ Array(-b) ++ pad, 0)) // same LSH bucket
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def pinPosZero(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val cos = df.collect().map(_.getAs[Double]("cos"))
      val zeros = cos.filter(_ == 0.0)
      assert(zeros.nonEmpty, s"$name: fixture produced no rounded-zero cos")
      zeros.foreach(z =>
        assert(java.lang.Double.doubleToRawLongBits(z) === 0L,
          s"$name emitted -0.0 (gate-visible divergence)"))
    }
    pinPosZero(Similarity.annBruteForce(spark, tmp), "q38_bruteforce")
    pinPosZero(Similarity.annLsh(spark, tmp), "q39_lsh")
    pinPosZero(Similarity.annIvf(spark, tmp), "q48_ivf")
  }

  test("PQ ANN recall vs brute force on a planted-cluster fixture") {
    // 10 clusters × 10 members in 64 dims: each member is its cluster's
    // base direction plus small deterministic noise, so every query's
    // true nearest neighbors are its cluster mates. PQ codebooks derive
    // from the label centroids, so the compressed-domain ADC scan must
    // rank cluster mates at the top — recall@3 against the exact
    // brute-force top-3 pins the quantizer's retrieval quality.
    import graft.operators.Similarity
    val tmp = tempDir("vecpq").toString
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(10)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = for (lab <- 0 until 10; i <- 0 until 10) yield {
      val v = bases(lab).map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.05f)
      ((lab * 10 + i).toLong, v, lab)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.filter(col("rn") <= 3).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) =>
          q -> rs.map(_.getAs[Long]("cand_id")).toSet }
    val exact = top3(Similarity.annBruteForce(spark, tmp))
    val pq = top3(Similarity.annPq(spark, tmp))
    // brute force queries vec_id < 50, PQ queries vec_id < 20 — compare
    // on the intersection (20 queries, all with 9 planted cluster mates)
    val recalls = pq.map { case (q, got) =>
      got.intersect(exact(q)).size.toDouble / 3.0 }
    assert(recalls.size === 20)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"PQ recall@3 = $mean, expected >= 0.8")
    // the composed IVF×PQ plan (q245) prunes the ADC scan to nprobe=2
    // probed cells; on the planted fixture a query's own cluster is by
    // construction its nearest centroid, so the pruning must not cost
    // recall: require recall@3 >= flat-PQ's recall minus 0.05 (the
    // stated tolerance for cell-boundary queries), and >= 0.8 absolute
    val ivfpq = top3(Similarity.annIvfPq(spark, tmp))
    val recallsC = ivfpq.map { case (q, got) =>
      got.intersect(exact(q)).size.toDouble / 3.0 }
    assert(recallsC.size === 20)
    val meanC = recallsC.sum / recallsC.size
    assert(meanC >= mean - 0.05,
      s"IVFPQ recall@3 = $meanC, flat PQ = $mean: pruning cost > 0.05")
    assert(meanC >= 0.8, s"IVFPQ recall@3 = $meanC, expected >= 0.8")
  }

  test("mmr rerank: selections equal a from-scratch greedy recompute; " +
      "first pick is the relevance top-1 and later picks trade " +
      "relevance for diversity") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def ppm(x: Double): Long = math.floor(x * 1000000 + 0.5).toLong
    val q = vecs(0L)
    val rel = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => id -> ppm(cos(q, v)) }
      .sortBy { case (id, r) => (-r, id) }.take(20).toMap
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    val remaining = scala.collection.mutable.Set(rel.keys.toSeq: _*)
    for (rk <- 1L to 5L) {
      val best = remaining.toSeq.map { id =>
        val ms = picked
          .map(p => ppm(cos(vecs(id), vecs(p._2)))).maxOption
          .getOrElse(0L)
        (7L * rel(id) - 3L * ms, id)
      }.maxBy { case (s, id) => (s, -id) }
      picked += ((rk, best._2, rel(best._2), best._1))
      remaining -= best._2
    }
    val got = graft.operators.Similarity.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === picked.toSeq)
    // rank 1 IS the relevance argmax; rank ≥ 2 scores equal
    // 7·rel − 3·maxSim with a NONZERO diversity term (note the term can
    // be negative: an anticorrelated candidate gets a diversity BONUS)
    assert(got(0)._3 === rel.values.max)
    got.drop(1).foreach { case (rk, id, r, s) =>
      val ms = picked.take((rk - 1).toInt)
        .map(p => ppm(cos(vecs(id), vecs(p._2)))).max
      assert(s === 7L * r - 3L * ms, s"pick $id score decomposition")
      assert(ms != 0L, s"pick $id has a degenerate zero diversity term")
    }
  }

  test("cosine is symmetric and self-cosine is 1") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(20)
    val selfCos = e.select(
      round(VectorOps.cosine(col("embedding"), col("embedding")), 9)
        .as("c")).collect()
    assert(selfCos.forall(_.getAs[Double]("c") === 1.0))
  }
  test("hard negatives: every mined negative is cross-label, inside " +
      "the semi-hard band, and ranked as brute force dictates") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(_.toDouble), r.getInt(2)))
    val byId = vecs.map(v => v._1 -> v).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    }
    val got = operators.Similarity.hardNegatives(spark, sf).collect()
    assert(got.nonEmpty)
    val byQ = got.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (qid, rows) =>
      val q = byId(qid)
      val posCos = vecs.filter(v => v._1 != qid && v._3 == q._3)
        .map(v => cos(q._2, v._2)).max
      // the semi-hard band recomputed brute-force
      val band = vecs.filter(v => v._1 != qid && v._3 != q._3)
        .map(v => (v._1, cos(q._2, v._2)))
        .filter { case (_, c) => c < posCos && c > posCos - 0.2 }
        .sortBy { case (id, c) => (-c, id) }.take(5)
      val gotRows = rows.sortBy(_.getAs[Int]("rn"))
        .map(r => (r.getAs[Long]("cand_id"), r.getAs[Double]("cos")))
      assert(gotRows.toSeq === band.toSeq)
      rows.foreach { r =>
        assert(math.abs(r.getAs[Double]("pos_cos") - posCos) < 1e-9)
        assert(byId(r.getAs[Long]("cand_id"))._3 != q._3)
      }
    }
  }

  test("PCA power iteration: exact from-scratch recompute, " +
      "normalization invariants hold") {
    import graft.operators.Similarity
    val out = Similarity.pcaPower(spark, sf).collect()
      .map(r => (r.getAs[Int]("j"), r.getAs[Long]("loading"),
        r.getAs[Double]("ev_share_r"))).sortBy(_._1)
    // from scratch on the driver: identical integer pipeline
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray
        .map(x => math.floor(1000.0 * x.toDouble + 0.5).toLong))
    val d = 64; val n = q.length.toLong
    val g = Array.ofDim[Long](d, d); val s = new Array[Long](d)
    for (vv <- q) {
      var j = 0
      while (j < d) {
        s(j) += vv(j)
        var k = 0
        while (k < d) { g(j)(k) += vv(j) * vv(k); k += 1 }
        j += 1
      }
    }
    val c = Array.tabulate(d, d)((j, k) => n * g(j)(k) - s(j) * s(k))
    val mc = math.max(c.flatten.map(math.abs).max, 1L)
    val cn = c.map(_.map(x => (x * 10000L + mc * 10000L) / mc - 10000L))
    var v = Array.fill(d)(10000L)
    def matVec(vv: Array[Long]): Array[Long] =
      Array.tabulate(d)(j => (0 until d).map(k => cn(j)(k) * vv(k)).sum)
    for (_ <- 1 to 4) {
      val u = matVec(v)
      val mu = math.max(u.map(math.abs).max, 1L)
      v = u.map(x => (x * 10000L + mu * 10000L) / mu - 10000L)
    }
    val u5 = matVec(v)
    val num = (0 until d).map(j => v(j) * u5(j)).sum
    val den = (0 until d).map(j => v(j) * v(j)).sum
    val trc = (0 until d).map(j => cn(j)(j)).sum
    val share = num.toDouble / (den.toDouble * trc.toDouble)
    assert(out.map(_._1).toSeq === (1 to 64))
    assert(out.map(_._2).toSeq === v.toSeq) // exact loadings
    assert(out.forall(r => math.abs(r._3 - share) < 1.5e-6))
    // re-normalized each round: some |loading| is exactly the 10⁴ scale
    assert(v.map(math.abs).max === 10000L)
    // a principal direction exists and explains a positive share
    assert(out.head._3 > 0.0 && out.head._3 <= 1.0)
  }

  test("ANN append: frozen-quantizer protocol recomputed driver-side — " +
      "every served candidate lives in a probed cell, reranks exactly") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    val n = rows.length
    val cut = 4L * n / 5
    val dim = rows.head._3.length
    // frozen centroids: per-label means of the quantized BASE vectors
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(1000.0 * x.toDouble + 0.5).toLong)
    val base = rows.filter(_._1 < cut)
    val cents: Map[Int, Array[Double]] = base.groupBy(_._2).map {
      case (lbl, vs) =>
        val s = Array.fill(dim)(0L)
        vs.foreach(v => quant(v._3).zipWithIndex.foreach {
          case (x, i) => s(i) += x })
        lbl -> s.map(_.toDouble / vs.length)
    }
    def nrm(v: Array[Float]): Double =
      math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    def cnorm(c: Array[Double]): Double = math.sqrt(c.map(x => x * x).sum)
    def cosToCent(v: Array[Float], c: Array[Double]): Double =
      v.indices.map(i => v(i).toDouble * c(i)).sum / (nrm(v) * cnorm(c))
    // cell per candidate under the protocol: label if base, argmax-cos
    // to the FROZEN centroids if appended (ties -> lowest cell)
    val cellOf: Map[Long, Int] = rows.map { case (id, lbl, v) =>
      id -> (if (id < cut) lbl
             else cents.toSeq.map { case (cell, c) =>
               (-cosToCent(v, c), cell) }.min._2)
    }.toMap
    // top-2 probed cells per query (score desc, cell asc)
    val byId = rows.map(r => r._1 -> r._3).toMap
    def probed(q: Long): Set[Int] = cents.toSeq
      .map { case (cell, c) => (-cosToCent(byId(q), c), cell) }
      .sorted.take(2).map(_._2).toSet
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i).toDouble).sum /
        (nrm(a) * nrm(b))
    val out = operators.Similarity.annIvfPqAppend(spark, sf).collect()
    assert(out.length === 20 * 3)
    out.foreach { r =>
      val q = r.getAs[Long]("q_id"); val c = r.getAs[Long]("cand_id")
      assert(probed(q).contains(cellOf(c)),
        s"candidate $c served from an unprobed cell for query $q")
      // exact rerank: the emitted cosine is the raw-vector cosine
      assert(math.abs(r.getAs[Double]("cos") - cos(byId(q), byId(c)))
        < 1e-5)
    }
    // the protocol genuinely appended: delta vectors are indexed and at
    // least one probed cell assignment came from the argmax path
    assert(rows.count(_._1 >= cut) > 0)
    assert(cellOf.exists { case (id, cell) =>
      id >= cut && cell != rows(id.toInt)._2 })
  }

  test("knn eval: confusion matrix and accuracy equal a brute-force " +
      "5-NN majority-vote recompute over the disjoint split") {
    import graft.operators.Similarity
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2).toLong))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
    val qs = vecs.filter(_._1 % 10 == 0)
    val cs = vecs.filter(_._1 % 10 != 0)
    val confExp = scala.collection.mutable
      .Map.empty[(Long, Long), Long].withDefaultValue(0L)
    qs.foreach { case (qid, qe, y) =>
      val top5 = cs.map { case (cid, ce, yl) =>
        val cos = BigDecimal(dot(qe, ce) / (nrm(qe) * nrm(ce)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
        (cos, cid, yl)
      }.sortBy { case (cos, cid, _) => (-cos, cid) }.take(5)
      val pred = top5.groupBy(_._3).map { case (l, xs) =>
        (l, xs.length.toLong) }.toSeq
        .sortBy { case (l, v) => (-v, l) }.head._1
      confExp((y, pred)) += 1
    }
    val rowsOut = Similarity.knnEval(spark, sf).collect()
    val got = rowsOut.map(r => (r.getAs[Long]("label_true"),
      r.getAs[Long]("label_pred")) -> r.getAs[Long]("n")).toMap
    assert(got === confExp.toMap)
    val ok = confExp.collect { case ((a, b), n) if a == b => n }.sum
    val tot = confExp.values.sum
    rowsOut.foreach(r =>
      assert(r.getAs[Long]("accuracy_ppm") === ok * 1000000L / tot))
  }

  test("rp jl: integer-grid signed projection and the distortion audit " +
      "equal a driver-side recompute; mean ratio is near 1") {
    import graft.operators.Similarity
    def h32(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val sign = Array.tabulate(16, 64) { (j, d0) =>
      if (h32(s"jl:$j:${d0 + 1}") % 2 == 0) 1L else -1L }
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor(1000.0 * x.toDouble + 0.5).toLong)).toMap
    def proj(v: Array[Long]): Array[Long] =
      Array.tabulate(16)(j =>
        (0 until 64).map(d => sign(j)(d) * v(d)).sum)
    val got = Similarity.rpJl(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")) ->
        (r.getAs[Long]("orig_d2"), r.getAs[Long]("proj_d2"),
          Option(r.getAs[java.lang.Double]("ratio_r")))).toMap
    val qs = vecs.keys.filter(_ < 20).toSeq.sorted
    val cs = vecs.keys.filter(id => id >= 100 && id < 150).toSeq.sorted
    assert(got.size === qs.size * cs.size)
    var ratios = List.empty[Double]
    for (q <- qs; c <- cs) {
      val od2 = (0 until 64)
        .map(d => { val t = vecs(q)(d) - vecs(c)(d); t * t }).sum
      val (pq, pc) = (proj(vecs(q)), proj(vecs(c)))
      val pd2 = (0 until 16)
        .map(j => { val t = pq(j) - pc(j); t * t }).sum
      val (god2, gpd2, gr) = got((q, c))
      assert(god2 === od2, s"($q,$c)"); assert(gpd2 === pd2, s"($q,$c)")
      if (od2 == 0) assert(gr.isEmpty, s"($q,$c)")
      else {
        val expect = BigDecimal(pd2.toDouble / (16.0 * od2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
        assert(math.abs(gr.get - expect) < 1e-9, s"($q,$c)")
        ratios ::= gr.get
      }
    }
    // JL: the mean distortion over 1000 pairs concentrates near 1
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean distortion $mean")
  }

  test("embedding drift: PC1 projection scores, bins and PSI " +
      "contributions equal a recompute against q272's loadings") {
    import graft.operators.Similarity
    val loadings = Similarity.pcaPower(spark, sf).collect()
      .map(r => r.getAs[Long]("j") -> r.getAs[Long]("loading")).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor(1000.0 * x.toDouble + 0.5).toLong))
    val scores = vecs.map { case (id, v) =>
      (id, (1 to 64).map(j => v(j - 1) * loadings(j.toLong)).sum) }
    val mn = scores.map(_._2).min
    val mx = scores.map(_._2).max
    val cells = scores.groupBy { case (_, sc) =>
      (sc - mn) * 10 / (mx + 1 - mn) }
      .map { case (b, xs) =>
        b -> (xs.count(_._1 % 2 == 0).toLong,
          xs.count(_._1 % 2 != 0).toLong) }
    val totRef = cells.values.map(_._1).sum
    val totCur = cells.values.map(_._2).sum
    val got = Similarity.embeddingDrift(spark, sf).collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          Option(r.getAs[java.lang.Double]("psi_contrib_r")))).toMap
    assert(got.keySet === cells.keySet)
    cells.foreach { case (b, (nr, ncur)) =>
      val (gr, gc, gp) = got(b)
      assert(gr === nr, b); assert(gc === ncur, b)
      if (nr == 0 || ncur == 0) assert(gp.isEmpty, b)
      else {
        val expect = (nr.toDouble / totRef - ncur.toDouble / totCur) *
          math.log(nr.toDouble * totCur / (ncur.toDouble * totRef))
        assert(math.abs(gp.get - expect) < 1.5e-6, b)
      }
    }
    // iid halves of the same table: the drift monitor must read ~zero
    val psi = got.values.flatMap(_._3).map(_.toDouble).sum
    assert(math.abs(psi) < 0.1, s"psi $psi on iid halves")
  }

  test("retrieval agreement: lexical and dense top-5 overlaps equal a " +
      "brute-force recompute; independent modalities read near zero") {
    import graft.operators.Similarity
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val lexTop = docs.keys.filter(_ < 20).map { q =>
      val top = docs.toSeq.filter(_._1 != q)
        .map { case (c, toks) =>
          val ov = (docs(q) & toks).size.toLong
          (c, ov * 1000000L / (docs(q).size + toks.size - ov)) }
        .filter(_._2 > 0 || true)
        .sortBy { case (c, j) => (-j, c) }.take(5).map(_._1).toSet
      q -> top
    }.toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
    val denTop = vecs.keys.filter(_ < 20).map { q =>
      val top = vecs.toSeq.filter(_._1 != q)
        .map { case (c, v) =>
          (c, BigDecimal(dot(vecs(q), v) / (nrm(vecs(q)) * nrm(v)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (c, cos) => (-cos, c) }.take(5).map(_._1).toSet
      q -> top
    }.toMap
    val expect = lexTop.map { case (q, l) =>
      q -> (l & denTop(q)).size.toLong }
    val sumC = expect.values.sum
    val got = Similarity.retrievalAgreement(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("jaccard5_ppm"),
          r.getAs[Long]("mean_overlap_ppm"))).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (q, nc) =>
      val lN = lexTop(q).size // actual lexical list size (≤ 5)
      assert(got(q)._1 === nc, q)
      assert(got(q)._2 === nc * 1000000L / (lN + 5 - nc), q)
      assert(got(q)._3 === sumC * 1000000L / (5L * expect.size), q)
    }
    // independent modalities: mean overlap stays well under 20%
    assert(got.values.head._3 < 200000L)
  }
}
