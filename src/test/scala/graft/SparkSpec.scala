package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // PlanSpec greps PushedFilters out of scan-node metadata; the
      // default 100-char truncation cuts mid-filter-list (LTZ literals
      // render longer than NTZ ones did) and fails asserts spuriously
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config(EngineDefaults.read)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    EngineDefaults(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A new directory under `java.io.tmpdir`, deleted with everything in
    * it once the suite has run. */
  protected def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Runs `cls`'s main in a REAL second JVM (own SparkSession, own
    * catalog, exits) on this JVM's class path — test classes included,
    * as tests fork — and asserts it exits 0. Module flags may arrive as
    * one token ("--add-opens=m/p=ALL-…") or two ("--add-opens",
    * "m/p=ALL-…"); both shapes are copied. */
  protected def forkMain(cls: String, args: String*): Unit = {
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString).toSeq
    val addOpens = jvmArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a.startsWith("--add-opens") || a.startsWith("--add-exports"))
        if (a.contains("=ALL")) Seq(a)
        else Seq(a, jvmArgs(i + 1))
      else Seq.empty
    }
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g",
      "-cp", System.getProperty("java.class.path"), cls) ++ args
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes, "UTF-8")
    assert(proc.waitFor() === 0, s"$cls JVM failed:\n${log.takeRight(2000)}")
  }
}
