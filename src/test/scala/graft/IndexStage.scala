package graft

import org.apache.spark.sql.SparkSession

/** Train the IVF-PQ index and persist it to a directory, from its OWN
  * SparkSession — `IndexServeSpec` forks this ([[SparkSpec.forkMain]])
  * as a genuinely separate JVM so q289's serving path is proven over an
  * index that crossed a process boundary (the production split: one
  * indexing job, many serving sessions).
  *
  * Usage: `graft.IndexStage <sfDir> <indexDir>`
  */
object IndexStage {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, indexDir) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config(EngineDefaults.read)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try operators.Similarity.ivfpqPersist(spark, sfDir, indexDir)
    finally spark.stop()
  }
}
