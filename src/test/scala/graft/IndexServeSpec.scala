package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

/** q289's cross-JVM serving contract: an IVF-PQ index persisted by a
  * DIFFERENT JVM serves bit-identically to an in-memory retrain (q245),
  * no retraining happens on the serve path while the source fingerprint
  * agrees, and a stale fingerprint forces a retrain instead of silently
  * serving the old index (r11 verdict №4). Serving runs from a resident
  * copy of the index: loaded once per index version (also under
  * concurrent first requests), reloaded after a re-persist or a source
  * rewrite, and the superseded copy's cached blocks released once no
  * request holds it. The fused serving kernel is checked across
  * partitions (driver merge), on exact ties, over caller-supplied
  * queries, and by its job count: a warm request is one job and reads
  * no source file. */
class IndexServeSpec extends SparkSpec {

  private def key(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map { r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rn"))
    }.sorted.toSeq

  private lazy val retrained = key(operators.Similarity.annIvfPq(spark, sf))

  private def persisted(): String = {
    val indexDir = Files.createTempDirectory("ivfpq_idx").toString
    operators.Similarity.ivfpqPersist(spark, sf, indexDir)
    indexDir
  }

  private def cached: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("serving from an index persisted by a DIFFERENT JVM equals the " +
      "in-memory retrain; no retrain while fresh; stale fingerprint " +
      "forces one") {
    val indexDir = Files.createTempDirectory("ivfpq_idx").toString
    forkMain("graft.IndexStage", sf, indexDir)
    val marker = Paths.get(indexDir, "_fingerprint")
    assert(Files.exists(marker), "stage JVM left no fingerprint")
    val stagedFp = new String(Files.readAllBytes(marker), "UTF-8")

    // this JVM: ensure must see the staged copy as FRESH (no retrain)...
    assert(!operators.Similarity.ensureIvfpqIndex(spark, sf, indexDir),
      "serve path retrained over a fresh foreign-JVM index")
    // ...and serving from it must equal retraining from scratch
    val served =
      key(operators.Similarity.annIvfPqServeFrom(spark, sf, indexDir))
    assert(served === retrained)
    assert(served.nonEmpty)

    // stale-fingerprint invalidation: corrupt the marker → ensure must
    // retrain (returns true), rewrite the true fingerprint, and still
    // serve the identical result
    Files.write(marker, "stale".getBytes("UTF-8"))
    assert(operators.Similarity.ensureIvfpqIndex(spark, sf, indexDir),
      "stale fingerprint did not force a retrain")
    assert(new String(Files.readAllBytes(marker), "UTF-8") === stagedFp,
      "retrain did not restore the source fingerprint")
    assert(key(operators.Similarity.annIvfPqServeFrom(spark, sf, indexDir))
      === retrained)

    // the registered q289 entry (default warehouse location) matches too
    assert(key(operators.Similarity.annIvfPqServe(spark, sf)) === retrained)
  }

  test("a second serve reuses the resident index: one load, same cuts") {
    val sim = operators.Similarity
    val indexDir = persisted()
    val loads0 = sim.residentIvfpqLoads
    assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained)
    assert(sim.residentIvfpqLoads === loads0 + 1)
    val ids = sim.residentIvfpqRddIds(spark, indexDir)
    assert(ids.nonEmpty && ids.forall(cached))
    assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained)
    assert(sim.residentIvfpqLoads === loads0 + 1,
      "second request reloaded an unchanged index")
    assert(sim.residentIvfpqRddIds(spark, indexDir) === ids)
  }

  test("a re-persist invalidates the resident copy and releases its " +
      "cached blocks") {
    val sim = operators.Similarity
    val indexDir = persisted()
    assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained)
    val old = sim.residentIvfpqRddIds(spark, indexDir)
    assert(old.nonEmpty && old.forall(cached))
    val loads0 = sim.residentIvfpqLoads
    Files.write(Paths.get(indexDir, "_fingerprint"),
      "stale".getBytes("UTF-8"))
    assert(sim.ensureIvfpqIndex(spark, sf, indexDir),
      "stale fingerprint did not force a retrain")
    assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained)
    assert(sim.residentIvfpqLoads === loads0 + 1,
      "serve after a re-persist did not reload the index")
    val now = sim.residentIvfpqRddIds(spark, indexDir)
    assert(now.nonEmpty && now.forall(cached))
    assert(old.forall(id => !cached(id)),
      "superseded resident index still holds cached blocks")
  }

  test("concurrent first requests load the index once and all equal the " +
      "retrain") {
    import java.util.concurrent.{Callable, Executors}
    val sim = operators.Similarity
    val indexDir = persisted()
    val loads0 = sim.residentIvfpqLoads
    val n = 4
    val pool = Executors.newFixedThreadPool(n)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = try {
      val fs = (0 until n).map { _ =>
        pool.submit(new Callable[Seq[(Long, Long, Double, Int)]] {
          def call(): Seq[(Long, Long, Double, Int)] = {
            start.await()
            key(sim.annIvfPqServeFrom(spark, sf, indexDir))
          }
        })
      }
      start.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
    results.foreach(r => assert(r === retrained))
    assert(sim.residentIvfpqLoads === loads0 + 1,
      s"$n concurrent first requests loaded the index " +
        s"${sim.residentIvfpqLoads - loads0} times")
  }

  test("a request holding a superseded copy finishes on it; the copy's " +
      "blocks are released when that request ends") {
    val sim = operators.Similarity
    val indexDir = persisted()
    val old = sim.withIvfpqLease(spark, sf, indexDir) { r =>
      val id = r.index.blocks.id
      Files.write(Paths.get(indexDir, "_fingerprint"),
        "stale".getBytes("UTF-8"))
      assert(sim.ensureIvfpqIndex(spark, sf, indexDir))
      // a newer request loads the re-persisted copy and supersedes r
      assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained)
      assert(!sim.residentIvfpqRddIds(spark, indexDir).contains(id))
      assert(cached(id), "superseded copy released while a request held it")
      // the held request still serves from its own blocks (a lineage
      // cut: released blocks would fail it, not recompute)
      assert(key(sim.ivfpqSearch(spark, r.index, r.queries)) === retrained)
      id
    }
    assert(!cached(old),
      "superseded copy kept its blocks after its last request ended")
  }

  test("serving across several partitions equals q245: the driver merge " +
      "of per-partition top-10s is exact") {
    val sim = operators.Similarity
    val expected = retrained // q245 at the default width: one partition
    val key0 = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key0)
    spark.conf.set(key0, "1k")
    try {
      val indexDir = persisted()
      assert(Ckpt.scaleParts(spark, indexDir) > 1)
      assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === expected)
      val ids = sim.residentIvfpqRddIds(spark, indexDir)
      assert(ids.map(spark.sparkContext.getPersistentRDDs(_)
        .getNumPartitions) === Seq(Ckpt.scaleParts(spark, indexDir)))
    } finally prev match {
      case Some(v) => spark.conf.set(key0, v)
      case None => spark.conf.unset(key0)
    }
  }

  /** A copy of the sf embeddings, written under a fresh dir, whose rows
    * with vec_id >= n/2 repeat rows 0..n/2-1 (vector and label) under
    * their own ids: every vector of the lower half has a twin in the
    * same cell, with an identical ADC score and rounded cosine. */
  private def twinFixture(): (String, Long) = {
    val dir = Files.createTempDirectory("ivfpq_twins").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val half = e.count() / 2
    val src = e.select(col("vec_id").as("src"), col("embedding"),
      col("label"))
    e.select(col("vec_id"),
        when(col("vec_id") >= half, col("vec_id") - half)
          .otherwise(col("vec_id")).as("src"))
      .join(src, Seq("src"))
      .select(col("vec_id"), col("embedding"), col("label"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    (dir, half)
  }

  test("exact ties (duplicate vectors) break on cand_id in both the ADC " +
      "cut and the rerank, at any partition count") {
    val sim = operators.Similarity
    val (dir, half) = twinFixture()
    val out = key(sim.annIvfPq(spark, dir))
    assert(out.size === 20 * 3)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val byRn = rows.sortBy(_._4)
      assert(byRn.map(_._4) === (1 to 3))
      byRn.sliding(2).foreach { case Seq(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
          s"query $q: $a ranked above $b")
      }
      // a served upper twin implies its lower twin (same ADC, same
      // cosine, lower id) is served above it
      rows.filter(r => r._2 >= half && r._2 - half != q).foreach { r =>
        val twin = rows.find(_._2 == r._2 - half)
        assert(twin.exists(t => t._3 == r._3 && t._4 < r._4),
          s"query $q: ${r._2} served without its lower twin ranked above")
      }
    }
    val key0 = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key0)
    spark.conf.set(key0, "1k")
    try {
      val indexDir = Files.createTempDirectory("ivfpq_idx").toString
      sim.ivfpqPersist(spark, dir, indexDir)
      assert(key(sim.annIvfPqServeFrom(spark, dir, indexDir)) === out)
    } finally prev match {
      case Some(v) => spark.conf.set(key0, v)
      case None => spark.conf.unset(key0)
    }
  }

  test("rewriting the source embeddings in place reloads the resident " +
      "copy; after the retrain, serving equals a fresh retrain") {
    val sim = operators.Similarity
    val dir = Files.createTempDirectory("ivfpq_src").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    e.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val indexDir = Files.createTempDirectory("ivfpq_idx").toString
    sim.ivfpqPersist(spark, dir, indexDir)
    val before = key(sim.annIvfPqServeFrom(spark, dir, indexDir))
    assert(before === key(sim.annIvfPq(spark, dir)))
    // same path, new content: ids rotated by 7, so the queries change
    val n = e.count()
    e.withColumn("vec_id", (col("vec_id") + 7) % lit(n))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosR(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    // the index files are unchanged, the source is not: reload, and
    // rerank against the rewritten raw vectors
    val loads0 = sim.residentIvfpqLoads
    val mixed = key(sim.annIvfPqServeFrom(spark, dir, indexDir))
    assert(sim.residentIvfpqLoads === loads0 + 1,
      "a source rewrite did not reload the resident copy")
    mixed.foreach { case (q, c, cos, _) =>
      assert(cos === cosR(vecs(q), vecs(c)))
    }
    assert(sim.ensureIvfpqIndex(spark, dir, indexDir))
    val after = key(sim.annIvfPqServeFrom(spark, dir, indexDir))
    assert(sim.residentIvfpqLoads === loads0 + 2)
    assert(after === key(sim.annIvfPq(spark, dir)))
    assert(after !== before)
  }

  test("a warm request runs exactly one Spark job: the fused " +
      "probe/ADC/rerank pass") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sim = operators.Similarity
    val sc = spark.sparkContext
    val indexDir = persisted()
    assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained)
    val group = s"ivfpq-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one warm request")
      try sim.annIvfPqServeFrom(spark, sf, indexDir).collect()
      finally sc.clearJobGroup()
      org.apache.spark.GraftSchedulerBridge.waitListenerBus(sc)
      assert(jobs.get === 1)
    } finally sc.removeSparkListener(listener)
  }

  test("a warm request scans no embeddings: its query vectors are part " +
      "of the resident copy") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val sim = operators.Similarity
    val indexDir = persisted()
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.analyzed.foreach {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.foreach(p => scans.add(p.toString))
          case _ =>
        }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
    }
    def embeddingScans(body: => Unit): Seq[String] = {
      scans.clear()
      spark.listenerManager.register(listener)
      try {
        body
        org.apache.spark.GraftSchedulerBridge.waitListenerBus(
          spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      scans.toArray.map(_.toString).toSeq
        .filter(_.contains("embeddings.parquet"))
    }
    // the listener sees the scans of a load: the probe itself is live
    assert(embeddingScans(
      sim.annIvfPqServeFrom(spark, sf, indexDir).collect()).nonEmpty)
    sim.withIvfpqLease(spark, sf, indexDir) { _ =>
      val warm = embeddingScans(
        assert(key(sim.annIvfPqServeFrom(spark, sf, indexDir)) === retrained))
      assert(warm.isEmpty, s"a warm request scanned $warm")
    }
  }

  test("the kernel over caller-supplied queries equals q245 at 1 and 4 " +
      "partitions") {
    val sim = operators.Similarity
    val (centroids, codebook, codes) = sim.ivfpqTrainRelations(spark, sf)
    // the caller's own read, in descending id order: the kernel neither
    // reads the source nor depends on the order of its queries
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 20 && col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(-_._1)
    assert(queries.nonEmpty)
    Seq(1, 4).foreach { parts =>
      val idx = sim.ivfpqBlocks(spark, sf, centroids, codebook, codes, parts)
      assert(idx.blocks.getNumPartitions === parts)
      assert(key(sim.ivfpqSearch(spark, idx, queries)) === retrained,
        s"at $parts partitions")
    }
  }
}
