package graft

import org.apache.spark.sql.SparkSession

/** Builds shared stages and leases a resident IVF-PQ index in its OWN
  * SparkSession, stops it, and exits 1 unless every entry of the session
  * is gone — `SessionMemoSpec` forks this ([[SparkSpec.forkMain]]), as
  * the test JVM's shared session must stay up.
  *
  * Usage: `graft.SessionEndStage <sfDir> <indexDir>`
  */
object SessionEndStage {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, indexDir) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config(EngineDefaults.read)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the CC labels build through the shingle and signature stages
    operators.Dedup.dupClusters(spark, sfDir)
    operators.Similarity.ivfpqPersist(spark, sfDir, indexDir)
    operators.Similarity.annIvfPqServeFrom(spark, sfDir, indexDir).collect()
    val live = SessionMemo.entriesFor(spark)
    spark.stop()
    val left = SessionMemo.entriesFor(spark)
    println(s"entries before stop: $live, after: $left")
    if (live != 4 || left != 0) sys.exit(1)
  }
}
