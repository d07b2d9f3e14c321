package graft

import java.nio.file.{Files, Paths}

/** Lineage-cut reliability (SCALE.md): every plan-reuse materialization
  * goes through Ckpt.cutLineage, which defaults to localCheckpoint
  * (executor blocks — correct on local[n]) and flips to a RELIABLE
  * checkpoint under spark.graft.reliableCheckpoint=true (the 100-TB
  * deployment mode, where an executor loss must not kill the truncated
  * lineage). This spec drives the heaviest cutLineage consumer — the
  * iterative pointer-jumping connected-components build behind q53 —
  * through the reliable path and pins (a) byte-identical results and
  * (b) that the cut actually landed in the configured checkpoint dir.
  */
class CkptSpec extends SparkSpec {

  test("q53 connected components under reliable checkpointing: identical " +
      "rows, cuts land in the checkpoint dir") {
    val ckptDir = tempDir("graft_rckpt").toString
    val base = graft.operators.Dedup.dupClusters(spark, sf).collect()
      .map(_.toSeq).toSet
    // cloned session: flag + dir scoped, parent session untouched
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.reliableCheckpoint", "true")
    s2.conf.set("spark.graft.checkpointDir", ckptDir)
    val rel = graft.operators.Dedup.dupClusters(s2, sf).collect()
      .map(_.toSeq).toSet
    assert(rel === base,
      "reliable-checkpoint run diverged from localCheckpoint run")
    assert(base.nonEmpty)
    // the reliable path actually wrote checkpoint data (rdd-* dirs)
    import scala.jdk.CollectionConverters._
    val wrote = Files.walk(Paths.get(ckptDir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("rdd-"))
    assert(wrote, s"no rdd checkpoint data under $ckptDir")
    assert(spark.conf.getOption("spark.graft.reliableCheckpoint")
      .forall(_ != "true"), "flag leaked into the shared session")
  }

  test("resident IVF-PQ blocks under reliable checkpointing: same " +
      "result, blocks checkpointed to storage and released on clear") {
    val sim = graft.operators.Similarity
    val indexDir = tempDir("ivfpq_idx").toString
    sim.ivfpqPersist(spark, sf, indexDir)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.reliableCheckpoint", "true")
    s2.conf.set("spark.graft.checkpointDir",
      tempDir("graft_rckpt").toString)
    def rows(s: org.apache.spark.sql.SparkSession) =
      sim.annIvfPqServeFrom(s, sf, indexDir).collect().map(_.toSeq).toSet
    assert(rows(s2) === rows(spark))
    val id = sim.withIvfpqLease(s2, sf, indexDir)(_.index.blocks.id)
    assert(spark.sparkContext.getPersistentRDDs(id).getCheckpointFile
      .isDefined, "resident blocks were not reliably checkpointed")
    sim.clearPc1Cache()
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("scaleParts reads a dir rewritten in place at its new size") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try {
      val d = tempDir("graft_parts")
      Files.write(d.resolve("a.bin"), new Array[Byte](100))
      assert(Ckpt.scaleParts(spark, d.toString) === 1)
      Files.write(d.resolve("b.bin"), new Array[Byte](3000))
      assert(Ckpt.scaleParts(spark, d.toString) > 1,
        "scaleParts kept the width of the dir before it grew")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
