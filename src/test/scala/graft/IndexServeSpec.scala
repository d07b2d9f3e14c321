package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** q289's cross-JVM serving contract: an IVF-PQ index persisted by a
  * DIFFERENT JVM serves bit-identically to an in-memory retrain (q245),
  * no retraining happens on the serve path while the source fingerprint
  * agrees, and a stale fingerprint forces a retrain instead of silently
  * serving the old index (r11 verdict №4). Serving runs from a resident
  * copy of the index: loaded once per index version (also under
  * concurrent first requests), reloaded after a re-persist, and the
  * superseded copy's cached blocks released. */
class IndexServeSpec extends SparkSpec {

  private def key(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map { r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rn"))
    }.sorted.toSeq

  private def stageJvm(indexDir: String): Unit = {
    // fork a REAL second JVM (own SparkSession, own catalog, exits) to
    // train + persist the index; module flags may arrive as one token
    // ("--add-opens=m/p=ALL-…") or two — keep flag+value in both shapes
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString).toSeq
    val addOpens = jvmArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a.startsWith("--add-opens") || a.startsWith("--add-exports"))
        if (a.contains("=ALL")) Seq(a)
        else Seq(a, jvmArgs(i + 1))
      else Seq.empty
    }
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g",
      "-cp", System.getProperty("java.class.path"),
      "graft.IndexStage", sf, indexDir)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes, "UTF-8")
    assert(proc.waitFor() === 0,
      s"index stage JVM failed:\n${log.takeRight(2000)}")
  }

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
    stageJvm(indexDir)
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
}
