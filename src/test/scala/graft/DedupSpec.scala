package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {

  test("exact dedup: hash groups partition doc_ids") {
    val out = Dedup.exact(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.agg(sum("n_copies")).collect()(0).getLong(0) === docs)
  }

  test("minhash LSH recovers exactly the exact-jaccard pairs (J>=0.5)") {
    val exactPairs = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhPairs = Dedup.minhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidate generation differs (prefix bucket vs 16x4 bands) but the
    // J>=0.5 verification is identical; bands at J~0.95 collide w.p. ~1
    assert(exactPairs.subsetOf(mhPairs),
      s"missing: ${exactPairs.diff(mhPairs)}")
  }

  test("embedding dedup: cell-bucketed candidates recover the all-pairs result") {
    val bucketed = Dedup.embeddingCosine(spark, sf)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = Dedup.embeddingCosineAllPairs(spark, sf)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification is identical exact cosine, so bucketed ⊆ all-pairs is
    // structural; equality is the recall check for the k-means cells
    assert(bucketed === allPairs,
      s"cells missed near-dup pairs: ${allPairs.diff(bucketed)}")
  }

  test("jaccard min-shingle buckets catch prefix-divergent near-dups") {
    import spark.implicits._
    // (1,2) share all of doc 1's shingles (J = 6/11 ≥ 0.5) but differ in
    // their first 30 chars — the pair the r01 prefix bucketing missed
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different leading prefix here " +
        "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated words entirely nothing shared with others at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardOn(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), s"got $pairs")
  }

  test("connected components: diameter-59 chain resolves via pointer jumping") {
    import spark.implicits._
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size === 60)
    assert(labels.values.forall(_ === 0L),
      s"chain not fully labeled: ${labels.filter(_._2 != 0L)}")
  }

  test("connected components: unconverged at maxIters fails loudly") {
    import spark.implicits._
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 2).collect()
    }
  }

  test("simhash near-dup pairs overlap the jaccard near-dups") {
    val sh = Dedup.simhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ng = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // hamming<=3 at 64 bits is stricter than J>=0.5: expect a subset of
    // the true near-dups, and a large overlap
    assert(sh.nonEmpty)
    assert(sh.intersect(ng).size >= sh.size / 2,
      s"simhash pairs mostly not near-dups: ${sh.diff(ng)}")
  }

  test("ann brute force: 5 neighbors per query, cos within [-1,1]") {
    val out = Similarity.annBruteForce(spark, sf).collect()
    val perQ = out.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length)
    assert(perQ.values.forall(_ === 5))
    assert(out.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
  }

  test("ann lsh: bucket-mates only, rank-1 neighbor cos <= brute-force rank-1") {
    val bf = Similarity.annBruteForce(spark, sf)
      .filter(col("rn") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val lsh = Similarity.annLsh(spark, sf)
      .filter(col("rn") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    lsh.filter(_._1 < 50).foreach { case (q, c) =>
      bf.get(q).foreach(bfc => assert(c <= bfc + 1e-9))
    }
  }

  test("ann ivf: recall vs brute force within probed cell, deterministic") {
    val bf = Similarity.annBruteForce(spark, sf)
      .filter(col("rn") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val ivf = Similarity.annIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    val perQ = ivf.groupBy(_.getAs[Long]("q_id"))
    perQ.foreach { case (_, rows) => assert(rows.length <= 3) }
    // IVF cos can never exceed the global best
    ivf.filter(_.getAs[Int]("rn") == 1).foreach { r =>
      bf.get(r.getAs[Long]("q_id")).foreach(best =>
        assert(r.getAs[Double]("cos") <= best + 1e-9))
    }
    // determinism: run twice, same set
    val again = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivf.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("lang id heuristic is deterministic and covers all docs") {
    val out = TextAnalysis.langId(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.agg(sum("n")).collect()(0).getLong(0) === docs)
  }

  test("quality: ratios within [0,1], score bounded") {
    val rows = TextAnalysis.quality(spark, sf).collect()
    assert(rows.forall { r =>
      val sr = r.getAs[Double]("avg_short_ratio")
      sr >= 0 && sr <= 1
    })
    assert(rows.forall(_.getAs[Double]("avg_quality") <= 1.0))
  }

  test("dup clusters: labels are transitive minima over the pair graph") {
    val pairs = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val comp = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("comp")).toMap
    // both endpoints of every edge share a component
    pairs.foreach { case (a, b) => assert(comp(a) === comp(b)) }
    // the component label is the minimum member id
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min)
    }
  }

  test("winnowing: fingerprint pairs cover the jaccard near-dups") {
    val wn = TextAnalysis.winnowing(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ng = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ng.subsetOf(wn), s"missed near-dups: ${ng.diff(wn)}")
  }

  test("multimodal: frame sampling and resize keep plan narrow and exact") {
    val media = Multimodal.mediaTable(spark, sf)
    val frames = Multimodal.frameSample(media, frameBytes = 64, stride = 2)
    val thumbs = Multimodal.resizeFrames(frames, outBytes = 8)
    assert(frames.count() > 0)
    // every sampled frame comes from a stride-aligned offset
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() === 0)
    assert(thumbs.filter(length(col("thumb")) > 8).count() === 0)
    // no shuffle: narrow map-only plan
    val plan = frames.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"frame sampling shuffles:\n$plan")
  }

  test("multimodal: stub decoder preserves rows, histogram sums to bytes") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.count() === media.count())
    val bad = feats.filter(
      expr("aggregate(byte_hist, 0L, (a, x) -> a + x)") =!= col("n_bytes"))
    assert(bad.count() === 0)
  }

  test("canonical selection keeps the longest member of each cluster") {
    val labels = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byComp = labels.groupBy(_._2)
    val sel = operators.Dedup.canonicalSelection(spark, sf).collect()
      .map(r => r.getAs[Long]("comp") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("keeper"),
         r.getAs[Long]("keeper_chars"))).toMap
    assert(sel.keySet === byComp.keySet)
    sel.foreach { case (comp, (n, keeper, kchars)) =>
      val members = byComp(comp).map(_._1)
      assert(n === members.length.toLong)
      assert(members.contains(keeper))
      val best = members.map(d => (chars(d), -d)).max
      assert((kchars, -keeper) === best, s"comp=$comp")
    }
  }

  test("span dedup: keeps exactly one occurrence per distinct span") {
    val out = TextAnalysis.spanDedup(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_spans"), r.getAs[Int]("kept_spans"),
        r.getAs[String]("rebuilt_hash")))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.length === docs.size)
    // Global invariant: total kept spans == count of distinct spans.
    // split(" ", -1) keeps trailing empty tokens, matching Spark's split()
    val allSpans = docs.toSeq.flatMap { case (_, text) =>
      text.split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
    }
    assert(out.map(_._3.toLong).sum === allSpans.distinct.length.toLong)
    out.foreach { case (id, n, kept, hash) =>
      val spans = docs(id).split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
      assert(n === spans.length, s"doc=$id")
      assert(kept >= 0 && kept <= n, s"doc=$id")
      // A doc keeping all its spans rebuilds to its original text.
      if (kept == n) {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(docs(id).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(hash === md, s"doc=$id")
      }
    }
    // Duplicate docs exist in the corpus, so at least one span is dropped.
    assert(out.exists(r => r._3 < r._2))
  }

  test("span dedup: keeper election is exact past 100k spans per doc") {
    import spark.implicits._
    // Shared span S sits at idx 100001 in doc 1 and idx 0 in doc 2. The
    // r3 arithmetic encoding min(doc_id*100000+idx) scored doc 2 lower
    // (200000 < 200001) and mis-elected it; the lexicographic
    // struct(doc_id, idx) min keeps doc 1's occurrence.
    val s = (0 until 10).map(i => s"shared$i").mkString(" ")
    val doc1 = (0 until 100001 * 10).map(i => s"a$i").mkString(" ") + " " + s
    val doc2 = s + " " + (0 until 10).map(i => s"b$i").mkString(" ")
    val out = TextAnalysis.spanDedupOn(
        Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_spans"), r.getAs[Int]("kept_spans")))).toMap
    assert(out(1L) === ((100002, 100002))) // doc 1 keeps ALL spans incl. S
    assert(out(2L) === ((2, 1)))           // doc 2 drops its copy of S
  }

  test("pairsWithin: one pathological 10k-id bucket streams, no giant buffer") {
    import spark.implicits._
    // One degenerate key shared by 10,000 docs (the empty-ish-document /
    // boilerplate-band scenario at 100 TB) plus a normal 3-doc bucket.
    // The r1-r3 collect_list expansion would materialize C(10000,2) ≈ 5e7
    // structs inside ONE aggregation row here; the self-equi-join streams
    // them with O(1) row state — this passes in seconds within the test
    // JVM's modest heap precisely because no buffer holds the bucket.
    val keyed = ((1L to 10000L).map(("hot", _)) ++ Seq(("cold", 1L),
      ("cold", 20001L), ("cold", 20002L))).toDF("bucket", "doc_id")
    val pairs = Dedup.pairsWithin(keyed, "bucket")
    // Plan must be the equi-join expansion, not a collect_list aggregation.
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), plan.take(600))
    assert(plan.contains("Join"), plan.take(600))
    val n = pairs.count()
    // C(10000,2) + C(3,2), minus the one pair present in both buckets'
    // expansions... cold = {1, 20001, 20002}: (1,20001),(1,20002),
    // (20001,20002) are all outside the hot range, so no overlap.
    assert(n === 10000L * 9999L / 2 + 3L)
    // With the hot-bucket cap (the q34/q35 callers' configuration) the
    // degenerate bucket emits NOTHING — no C(10000,2) candidate flood at
    // the verify stage — while the normal bucket's pairs survive intact.
    val capped = Dedup.pairsWithin(keyed, "bucket", maxBucket = 100)
    val cplan = capped.queryExecution.executedPlan.toString
    assert(cplan.contains("count"), cplan.take(600)) // cap visible in plan
    val cp = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp === Set((1L, 20001L), (1L, 20002L), (20001L, 20002L)))
  }

  test("containment join equals brute-force ordered-pair containment") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .filter(_._2.length >= 3)
    val sets = docs.map { case (id, w) =>
      id -> w.sliding(3).map(_.mkString(" ")).toSet }
    // ORDERED pairs (A contained in B), same rounded-threshold semantics
    // as the operator's verify (round-half-up at 6 places, then >= 0.8)
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = (sa & sb).size
      c = BigDecimal(inter.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if c >= BigDecimal("0.8")
    } yield (a, b)).toSet
    val out = Dedup.containmentJoin(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === brute,
      s"missed: ${brute.diff(out)} extra: ${out.diff(brute)}")
    assert(out.nonEmpty, "fixture should contain containment pairs")
    // the asymmetric semantics themselves (one-way containment of a short
    // doc in a long one) are pinned synthetically — sf0.001's organic
    // pairs all happen to be mutual near-dups
    import spark.implicits._
    val quote = (1 to 20).map(i => s"q$i").mkString(" ")
    val syn = Seq(
      (1L, quote),
      (2L, quote + " " + (1 to 200).map(i => s"f$i").mkString(" ")))
      .toDF("doc_id", "text")
    val synOut = Dedup.containmentJoinOn(syn)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(synOut === Set((1L, 2L)),
      s"short-in-long must contain one way only, got $synOut")
  }

  test("setsim prefix filter equals brute-force jaccard join (exact recall)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .filter(_._2.length >= 3)
    val sets = docs.map { case (id, w) =>
      id -> w.sliding(3).map(_.mkString(" ")).toSet }
    // brute force with the SAME rounded-threshold semantics as the
    // operator's verify (round-half-up at 6 places, then >= 0.5)
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if j >= BigDecimal("0.5")
    } yield (a, b)).toSet
    val out = Dedup.setsimExact(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === brute, s"missed: ${brute.diff(out)} extra: ${out.diff(brute)}")
    // the probabilistic q34 candidates can only ever be a subset
    val mh = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(out))
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("edit join recalls every true distance<=2 name pair with counts") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_name").collect().map(_.getString(0))
    val counts = parts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val names = counts.keys.toArray
    val brute = (for {
      a <- names; b <- names
      if a < b && math.abs(a.length - b.length) <= 2 && lev(a, b) <= 2
    } yield (a, b)).toSet
    val out = Dedup.editJoin(spark, sf).collect()
    val outPairs = out.map(r =>
      (r.getAs[String]("name_a"), r.getAs[String]("name_b"))).toSet
    assert(outPairs === brute,
      s"missed: ${brute.diff(outPairs)} extra: ${outPairs.diff(brute)}")
    out.foreach { r =>
      assert(r.getAs[Int]("dist") ===
        lev(r.getAs[String]("name_a"), r.getAs[String]("name_b")))
      assert(r.getAs[Long]("n_parts_a") === counts(r.getAs[String]("name_a")))
      assert(r.getAs[Long]("n_parts_b") === counts(r.getAs[String]("name_b")))
    }
  }

  test("gopher rules: per-source counts are consistent and bounded") {
    val rows = TextAnalysis.gopherRules(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      Seq("fail_word_count", "fail_mean_word_len", "fail_stopwords",
        "n_pass").foreach { c =>
        val v = r.getAs[Long](c)
        assert(v >= 0 && v <= n, s"$c out of range")
      }
      // A doc passes iff it trips zero rules (pass + any-fail >= n_docs
      // is not an identity since fails overlap, but pass <= n - max fail).
      val maxFail = Seq("fail_word_count", "fail_mean_word_len",
        "fail_stopwords").map(r.getAs[Long](_)).max
      assert(r.getAs[Long]("n_pass") <= n - maxFail)
    }
  }

  test("q171 dHash: planted near-dup emerges, hamming-4 near-miss does not") {
    import spark.implicits._
    // The sf0.01 gate corpus contains ZERO qualifying dHash pairs (the
    // CORRECTNESS row is 0-row-vacuous), so the operator's discrimination
    // evidence lives here: a fixture where the signature bits are
    // constructed by hand. 61 equal 2-char segments => the stub
    // "downscale" mean of segment j is exactly its character's codepoint,
    // and bit j = v(j+1) > v(j). Changing ONE interior segment value
    // flips exactly its two adjacent bits.
    def payload(vals: Seq[Int]): String =
      vals.map(v => v.toChar.toString * 2).mkString
    val base = (0 until 61).map(i => if (i % 2 == 0) 97 else 98) // a,b,a,b…
    val nearDup = base.updated(1, 96)  // flips bits {0,1}: hamming(A,B)=2
    val nearMiss = base.updated(3, 96) // flips {2,3} and {6,7}:
      .updated(7, 96)                  //   hamming(A,C)=4, hamming(B,C)=6
    val docs = Seq((1L, payload(base)), (2L, payload(nearDup)),
        (3L, payload(nearMiss)))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val out = Multimodal.mediaPerceptualHashOn(docs).collect()
    val pairs = out.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 2L)), s"got $pairs")
    assert(out.head.getAs[Int]("hamming") === 2)
  }
  test("q356 phash ball: banded join equals the brute-force radius-9 " +
      "set on a planted fixture spanning both sides of the threshold") {
    import spark.implicits._
    // 61 equal 2-char segments => segment mean = its codepoint, so both
    // 60-bit planes recompute exactly from the value vectors: f1 bit j =
    // v(j+1) > v(j), f2 bit j = v((j+2)%61) > v(j).
    def payload(vals: Seq[Int]): String =
      vals.map(v => v.toChar.toString * 2).mkString
    val base = (0 until 61).map(i => if (i % 2 == 0) 97 else 98)
    val fixtures: Seq[(Long, Seq[Int])] = Seq(
      1L -> base,
      2L -> base.updated(1, 96),                    // tiny perturbation
      3L -> base.updated(5, 96).updated(21, 99),    // mid-ball
      4L -> base.updated(9, 96).updated(25, 99)
        .updated(41, 96).updated(55, 99),           // near the rim
      5L -> Seq.fill(61)(97))                       // far (plane-1 zeros)
    def ham(a: Seq[Int], b: Seq[Int]): Int =
      (0 until 60).count(j => (a(j + 1) > a(j)) != (b(j + 1) > b(j))) +
        (0 until 60).count(j =>
          (a((j + 2) % 61) > a(j)) != (b((j + 2) % 61) > b(j)))
    val expected = (for {
      (ia, va) <- fixtures; (ib, vb) <- fixtures
      if ia < ib && ham(va, vb) <= 9
    } yield (ia, ib) -> ham(va, vb)).toMap
    assert(expected.nonEmpty && expected.size < fixtures.size * 2,
      s"fixture degenerate: $expected") // some in, some out
    val docs = fixtures.map { case (id, v) => (id, payload(v)) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val out = Multimodal.mediaPhashBallOn(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(out === expected) // band completeness to radius 9 + exactness
  }

  test("q357 crossmodal contamination: direct + semantic hits equal a " +
      "from-scratch recompute over shingles, cells and cosines") {
    def md5hex8(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString, 16)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = docs.map { case (id, t, _) => id -> t.split(" ", -1) }.toMap
    val shingles = toks.map { case (id, w) =>
      id -> (if (w.length >= 3)
        (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
          .toSet
      else Set.empty[String])
    }
    val isBench = docs.map { case (id, _, _) =>
      id -> (toks(id).length >= 3 && md5hex8(s"bench:$id") % 100 < 5)
    }.toMap
    val benchSh = shingles.collect { case (id, s) if isBench(id) => s }
      .fold(Set.empty)(_ ++ _)
    val isDirect = docs.map { case (id, _, _) =>
      id -> (!isBench(id) && toks(id).length >= 3 &&
        shingles(id).exists(benchSh))
    }.toMap
    val cell = Dedup.embeddingCells(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double =
      dot(emb(a), emb(b)) /
        (math.sqrt(dot(emb(a), emb(a))) * math.sqrt(dot(emb(b), emb(b))))
    val carriers = emb.keys.filter(id => isBench(id) || isDirect(id)).toSeq
    val isSem = emb.keys.map { v =>
      v -> (!isBench(v) && !isDirect(v) && carriers.exists(u =>
        u != v && cell(u) == cell(v) && cos(u, v) >= 0.5))
    }.toMap
    val srcOf = docs.map { case (id, _, s) => id -> s }.toMap
    val expected = emb.keys.filterNot(isBench).toSeq.groupBy(srcOf)
      .map { case (src, ids) =>
        src -> (ids.size.toLong, ids.count(isDirect).toLong,
          ids.count(isSem).toLong)
      }
    val got = Multimodal.crossmodalContam(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_media"), r.getAs[Long]("n_direct"),
          r.getAs[Long]("n_semantic"))).toMap
    assert(got === expected)
    // the fixture must exercise at least one of each hit kind somewhere
    assert(expected.values.map(_._2).sum > 0, "no direct hits at sf0.001")
  }

  test("q358 frame dedup: pairs equal a from-scratch aligned-frame " +
      "recompute with the hot-bucket cap applied") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.nonEmpty)
    // frame on the BYTE axis like the impl (payload = UTF-8 bytes);
    // hex is a bijection, so pair identity matches md5(hex(frame))
    val fd = docs.flatMap { case (id, t) =>
      t.getBytes("UTF-8").grouped(64)
        .map(fr => (id, fr.map(b => f"$b%02X").mkString))
    }.distinct
    val bucket = fd.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val pairs = scala.collection.mutable.Map[(Long, Long), Long]()
    bucket.values.filter(m => m.size > 1 && m.size <= 100).foreach { m =>
      val ids = m.toSeq.sorted
      for (a <- ids; b <- ids; if a < b)
        pairs((a, b)) = pairs.getOrElse((a, b), 0L) + 1L
    }
    val expected = pairs.filter(_._2 >= 2).toMap
    val got = Multimodal.frameDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got === expected)
    assert(expected.nonEmpty, "fixture degenerate: no shared-frame pairs")
  }

  test("q360 cdc chunks: pairs equal a from-scratch content-defined " +
      "recompute, and a planted insertion survives where aligned frames miss") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // the CDC boundary polynomial, recomputed from scratch (B = 1000003,
    // P = 1000000007, boundary iff fp % 16 == 0 — Multimodal.cdcFpSql)
    def chunks(t: String): Set[String] = {
      val pows = Seq(1L, 1000003L, 5993009L, 26937076L, 156622669L,
        137771646L, 58350534L, 708643152L)
      val bs = (1 to t.length - 7).filter { i =>
        val fp = (0 until 8).map(j =>
          t.charAt(i + j - 1).toLong * pows(j)).sum % 1000000007L
        fp % 16 == 0
      }
      val b2 = (Seq(1) ++ bs ++ Seq(t.length + 1)).distinct.sorted
      b2.sliding(2).collect { case Seq(a, b) if b > a =>
        md5hex(t.substring(a - 1, b - 1)) }.toSet
    }
    // from-scratch recompute over the corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 8)
    val fd = docs.map { case (id, t) => id -> chunks(t) }
    val holders = scala.collection.mutable.Map[String, Set[Long]]()
    fd.foreach { case (id, cs) => cs.foreach(c =>
      holders(c) = holders.getOrElse(c, Set.empty) + id) }
    val pairs = scala.collection.mutable.Map[(Long, Long), Long]()
    holders.values.filter(m => m.size > 1 && m.size <= 100).foreach { m =>
      val ids = m.toSeq.sorted
      for (a <- ids; b <- ids; if a < b)
        pairs((a, b)) = pairs.getOrElse((a, b), 0L) + 1L
    }
    val expected = pairs.filter(_._2 >= 2).toMap
    val got = Multimodal.cdcChunkDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got === expected)
    // shift-robustness: B = A with a 5-char insertion at the front.
    // Aligned 64-byte frames ALL re-key (q358 would find nothing);
    // content-defined boundaries re-sync, so CDC still pairs them.
    import spark.implicits._
    val base = docs.map(_._2).maxBy(_.length)
    assume(base.length >= 300, "fixture needs a long doc")
    val planted = Seq((1L, base), (2L, "XQZW " + base))
      .toDF("doc_id", "text")
    val cdcPair = Multimodal.cdcChunkPairsOn(planted).collect()
    assert(cdcPair.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L && r.getAs[Long]("n_shared") >= 2),
      s"CDC missed the shifted duplicate: ${cdcPair.toSeq}")
    val alignedShared = base.grouped(64).map(md5hex).toSet
      .intersect(("XQZW " + base).grouped(64).map(md5hex).toSet)
    assert(alignedShared.size < 2,
      "fixture too weak: aligned frames also catch it")
  }

  test("q359 media quality: per-source pass counts and frame ppms " +
      "equal a from-scratch frame-energy recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._2.nonEmpty)
    case class D(src: String, nf: Long, silent: Long, clip: Long) {
      def pass: Boolean = silent * 1000000L / nf <= 250000L &&
        clip * 1000000L / nf <= 250000L
    }
    val per = docs.map { case (_, t, src) =>
      val means = t.grouped(64).map(fr =>
        fr.map(_.toLong).sum / fr.length).toSeq
      D(src, means.size.toLong, means.count(_ < 90).toLong,
        means.count(_ > 100).toLong)
    }
    val expected = per.groupBy(_.src).map { case (src, ds) =>
      src -> (ds.length.toLong, ds.count(_.pass).toLong,
        ds.map(_.silent).sum * 1000000L / ds.map(_.nf).sum,
        ds.map(_.clip).sum * 1000000L / ds.map(_.nf).sum)
    }
    val got = Multimodal.mediaQuality(spark, sf).collect()
      .map(r => r.getAs[String]("origin") ->
        (r.getAs[Long]("n_media"), r.getAs[Long]("n_pass"),
          r.getAs[Long]("silent_frame_ppm"),
          r.getAs[Long]("clip_frame_ppm"))).toMap
    assert(got === expected)
    // both rules must actually fire somewhere for the gate to mean much
    assert(per.exists(d => !d.pass) || per.exists(_.silent > 0) ||
      per.exists(_.clip > 0), "thresholds never fire at sf0.001")
  }

  test("lsh s-curve: pooled pairs cover both generators, rates are " +
      "consistent, and the high-J tail reconciles with q35 minhash") {
    val rows = Dedup.lshScurve(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_pooled")
      val nm = r.getAs[Long]("n_minhash")
      val ng = r.getAs[Long]("n_minbucket")
      // every pooled pair came from at least one generator
      assert(nm + ng >= n)
      assert(nm <= n && ng <= n)
      assert(r.getAs[Long]("mh_rate_ppm") === nm * 1000000L / n)
      assert(r.getAs[Long]("ng_rate_ppm") === ng * 1000000L / n)
      val d = r.getAs[Long]("j_decile")
      assert(d >= 0 && d <= 9)
    }
    // J >= 0.5 pooled pairs caught by the banded generator == q35's
    // verified output (same generator, same verify threshold: decile
    // >= 5 iff inter/uni >= 0.5 exactly, and round(J,6)'s extra
    // 0.4999995 admission needs uni ~ 1e7 shingles - not at sf0.001)
    val q35 = Dedup.minhash(spark, sf).count()
    val highJmh = rows.filter(_.getAs[Long]("j_decile") >= 5)
      .map(_.getAs[Long]("n_minhash")).sum
    assert(highJmh === q35)
  }

  test("semantic dedup: removal policy recomputed from cluster-local " +
      "pairs; keepers outrank, best-ranked neighborhood member survives") {
    val out = Dedup.semanticDedup(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.length === n) // one verdict row per corpus member
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    // recompute the qualifying intra-cluster edges brute-force
    val cluster = out.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = e.keys.toSeq.sorted
    val edges = for {
      i <- ids; j <- ids if i < j && cluster(i) == cluster(j)
      c = cos(e(i), e(j)) if c >= 0.5
    } yield (i, j, c)
    def rank(v: Long): (Double, Long) =
      (byId(v).getAs[Double]("cos_c_r"), v) // rounded proxy: ties rare
    val removedIds = out.filter(_.getAs[Boolean]("removed"))
      .map(_.getAs[Long]("vec_id")).toSet
    // exactly the losers of at least one qualifying edge are removed
    val expectRemoved = edges.flatMap { case (i, j, _) =>
      Seq(if (Ordering[(Double, Long)].lt(rank(i), rank(j))) j else i)
    }.toSet
    assert(removedIds === expectRemoved)
    // each removed row names a same-cluster keeper that outranks it and
    // carries the cosine to that keeper
    removedIds.foreach { v =>
      val r = byId(v)
      val k = r.getAs[Long]("kept_id")
      assert(cluster(k) === cluster(v))
      assert(Ordering[(Double, Long)].lt(rank(k), rank(v)))
      assert(math.abs(r.getAs[Double]("pair_cos_r") -
        cos(e(v), e(k))) < 1e-5)
    }
    // survivors never name a keeper
    out.filterNot(_.getAs[Boolean]("removed")).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("kept_id")))
      assert(r.isNullAt(r.fieldIndex("pair_cos_r")))
    }
  }

  test("substring decontam: driver-side window recompute matches exactly") {
    val L = 8
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
    def windows(tk: Array[String]): Seq[String] =
      if (tk.length < L) Seq.empty
      else (0 to tk.length - L).map(i => tk.slice(i, i + L).mkString(" "))
    // eval window multiset: window text -> eval doc ids WITH multiplicity
    // (each matching (t_pos, e_pos) position pair counts once)
    val evalW = docs.filter(_._1 % 10 == 0)
      .flatMap { case (id, tk) => windows(tk).map(w => (w, id)) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).toSeq }
    val expected = scala.collection.mutable.Map[(Long, Long), Long]()
    docs.filter(_._1 % 10 != 0).foreach { case (tid, tk) =>
      windows(tk).foreach { w =>
        evalW.getOrElse(w, Seq.empty).foreach { eid =>
          expected((tid, eid)) = expected.getOrElse((tid, eid), 0L) + 1L
        }
      }
    }
    val got = Dedup.substringDecontam(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === expected.toMap)
    assert(got.nonEmpty, "feed carries dup docs; zero pairs means the " +
      "window join broke, not that the corpus is clean")
  }

  test("substring decontam: an 8-token verbatim span triggers, 7 does not") {
    import spark.implicits._
    val span8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      // eval doc (id % 10 == 0) carrying the span mid-document
      (10L, s"aa bb cc $span8 dd ee ff gg hh"),
      // train doc sharing the full 8-token span once
      (1L, s"xx yy $span8 zz qq rr ss tt"),
      // train doc sharing only the first 7 tokens of the span
      (2L, "xx yy w1 w2 w3 w4 w5 w6 w7 OTHER zz qq rr ss"),
      // too short for any window
      (3L, "only five words here now")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDecontamOn(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out === Map((1L, 10L) -> 1L))
  }

  test("ann recall: hits match the driver-side exact-truth intersection") {
    val out = Similarity.annRecall(spark, sf).collect()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // mirror VectorOps.dot/l2Norm + Spark round(_, 6) HALF_UP + signed-
    // zero canonicalization: left-to-right double folds
    def cosR(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    val byId = emb.toMap
    val truth: Map[Long, Set[Long]] = emb.map(_._1).filter(_ < 20).map { q =>
      val top = emb.filter(_._1 != q)
        .map { case (c, v) => (c, cosR(byId(q), v)) }
        .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
      q -> top
    }.toMap
    val ann5 = Similarity.annTop5(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(out.length === truth.size)
    val sumHits = out.map(_.getAs[Long]("n_hit")).sum
    out.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val nHit = r.getAs[Long]("n_hit")
      assert(ann5(q).size === 5)
      assert(nHit === ann5(q).intersect(truth(q)).size.toLong)
      assert(r.getAs[Long]("recall_ppm") === nHit * 1000000L / 5L)
      assert(r.getAs[Long]("mean_recall_ppm") ===
        sumHits * 1000000L / (5L * truth.size))
    }
  }

  test("substring dedup: per-doc dup-window census equals a " +
      "brute-force min-owner recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ")))
      .filter(_._2.length >= 8)
    val windows = docs.flatMap { case (id, tk) =>
      tk.sliding(8).map(w => (id, w.mkString(" "))) }
    val owner = windows.groupBy(_._2).map { case (wt, xs) =>
      wt -> xs.map(_._1).min }
    val expect = windows.groupBy(_._1).map { case (id, xs) =>
      id -> (xs.length.toLong, xs.count(x => owner(x._2) < id).toLong) }
    val got = Dedup.substringDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"),
          r.getAs[Long]("dup_ppm"), r.getAs[Boolean]("prune"))).toMap
    assert(got.size === expect.size)
    expect.foreach { case (id, (nw, nd)) =>
      val (gw, gd, gppm, gp) = got(id)
      assert(gw === nw, id); assert(gd === nd, id)
      assert(gppm === nd * 1000000 / nw, id)
      assert(gp === (nd * 1000000 / nw >= 500000), id)
    }
    // the near-dup replicas the corpus plants guarantee non-trivial work
    assert(got.values.count(_._4) > 0)
  }

  test("substring dedup: first occurrence keeps, the later copy is " +
      "flagged; 7-token overlap is not") {
    import spark.implicits._
    val span8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"aa bb cc $span8 dd ee ff gg hh"),
      // later doc sharing the full 8-token span — its 1 shared window
      // is duplicated; 13 tokens total → 6 windows
      (5L, s"xx yy $span8 zz qq rr"),
      // 7-token overlap only — clean
      (6L, "mm nn w1 w2 w3 w4 w5 w6 w7 OTHER oo pp qq ss")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedupOn(docs, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Boolean]("prune"))).toMap
    assert(out(1L)._2 === 0L) // owner doc: nothing duplicated
    assert(out(5L) === ((6L, 1L, false)))
    assert(out(6L)._2 === 0L)
  }

  test("substring dedup L=25: planted 25-token span flagged, 24-token " +
      "overlap clean; a 25-dup doc is always an 8-dup doc on the sf " +
      "corpus") {
    import spark.implicits._
    val span = (1 to 25).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa bb $span cc dd"),
      // shares the full 25-token span: 27 tokens → 3 windows, 1 dup
      (2L, s"xx $span yy"),
      // 24-token overlap only — clean at L=25
      (3L, "mm " + (1 to 24).map(i => s"t$i").mkString(" ") +
        " OTHER nn oo")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedupOn(docs, 25).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._2 === 0L)
    assert(out(2L) === ((3L, 1L)))
    assert(out(3L)._2 === 0L)
    // implication on the real corpus: a duplicated 25-window's owner
    // doc contains every 8-subwindow, so 25-dup ⇒ 8-dup per doc
    val d8 = Dedup.substringDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup")).toMap
    val d25 = Dedup.substringDedup25(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup")).toMap
    assert(d25.nonEmpty)
    d25.foreach { case (id, nd) =>
      if (nd > 0) assert(d8(id) > 0, s"doc $id dup at 25 but not 8")
    }
    // the longer window genuinely discriminates: it must flag fewer
    // window instances in total than L=8 does
    assert(d25.values.sum < d8.values.sum)
  }

  test("silhouette: per-cell means equal a driver recompute of the " +
      "top-2 centroid scores; values sit in the unit band") {
    val (e, cents) = Dedup.kmeansEC(spark, sf)
    val cs = cents.table(spark).collect().map(r => (r.getInt(0),
      r.getSeq[Double](1).toArray)).sortBy(_._1)
    val cn = cs.map { case (_, c) =>
      math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x)) }
    val es = e.select(col("vec_id"), col("embedding"), col("nrm"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getDouble(2)))
    val sil = scala.collection.mutable.Map[Int, (Long, Long)]()
    es.foreach { case (_, v, nrm) =>
      val scores = cs.zipWithIndex.map { case ((cell, c), ci) =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i).toDouble * c(i); i += 1 }
        (cell, d / (nrm * cn(ci)))
      }.sortBy { case (cell, s) => (-s, cell) }
      val (ownCell, s1) = scores(0); val s2 = scores(1)._2
      val sppm = if (1.0 - s2 <= 0.0) 0L
        else math.floor((s1 - s2) / (1.0 - s2) * 1000000 + 0.5).toLong
      val (n, ss) = sil.getOrElse(ownCell, (0L, 0L))
      sil(ownCell) = (n + 1, ss + sppm)
    }
    val got = Dedup.silhouette(spark, sf).collect()
      .map(r => r.getAs[Int]("cell") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("sil_sum_ppm"),
          r.getAs[Long]("mean_sil_ppm"))).toMap
    assert(got.size === sil.size)
    sil.foreach { case (cell, (n, ss)) =>
      val (gn, gss, gm) = got(cell)
      assert(gn === n, cell); assert(gss === ss, cell)
      assert(gm === ss / n, cell)
      assert(gm >= 0L && gm <= 1000000L, cell)
    }
  }

  test("davies-bouldin: scatter, separation and the worst neighbor " +
      "equal a driver recompute over the bounded centroid pairs") {
    val (_, cents) = Dedup.kmeansEC(spark, sf)
    val cs = cents.table(spark).collect().map(r => (r.getInt(0),
      r.getSeq[Double](1).toArray)).sortBy(_._1)
    val cn = cs.map { case (cell, c) => cell ->
      math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x)) }.toMap
    val byCell = cs.toMap
    val assigned = Dedup.embeddingCells(spark, sf).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Double]("cos_c")))
    val s = assigned.groupBy(_._1).map { case (cell, xs) =>
      val dsum = xs.map(x =>
        math.floor((1.0 - x._2) * 1000000 + 0.5).toLong).sum
      cell -> (xs.length.toLong, dsum / xs.length) }
    val cells = s.keys.toSeq.sorted
    val r = for (i <- cells; j <- cells; if i != j) yield {
      val (ci, cj) = (byCell(i), byCell(j))
      var d = 0.0; var k = 0
      while (k < ci.length) { d += ci(k) * cj(k); k += 1 }
      val mppm = math.floor((1.0 - d / (cn(i) * cn(j))) * 1000000 + 0.5)
        .toLong
      (i, j, mppm)
    }
    val expect = cells.map { i =>
      val rs = r.filter(t => t._1 == i && t._3 > 0)
        .map { case (_, j, m) => (j, (s(i)._2 + s(j)._2) * 1000000 / m) }
      val rmax = rs.map(_._2).max
      i -> (s(i)._1, s(i)._2, rs.filter(_._2 == rmax).map(_._1).min, rmax)
    }.toMap
    val got = Dedup.daviesBouldin(spark, sf).collect()
      .map(r2 => r2.getAs[Int]("cell") ->
        (r2.getAs[Long]("n_members"), r2.getAs[Long]("s_ppm"),
          r2.getAs[Int]("worst_other"), r2.getAs[Long]("r_max_micro")))
      .toMap
    assert(got.size === expect.size)
    expect.foreach { case (cell, (n, sppm, worst, rmax)) =>
      val (gn, gs, gw, gr) = got(cell)
      assert(gn === n, cell); assert(gs === sppm, cell)
      assert(gw === worst, cell); assert(gr === rmax, cell)
    }
  }
}
