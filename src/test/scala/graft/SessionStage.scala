package graft

import org.apache.spark.sql.SparkSession

/** Persist "yesterday's" session table for q243's incremental merge to
  * a parquet path, from its OWN SparkSession — `AnalyticsSpec` forks
  * this ([[SparkSpec.forkMain]]) as a genuinely separate JVM so the q243
  * merge is proven over a table that crossed a process boundary through
  * the warehouse (an in-job `cutLineage()` simulation never leaves the
  * JVM). Overwrite mode is the stale-location handling: a pre-existing
  * (possibly garbage) target is replaced atomically by the parquet
  * committer.
  *
  * Usage: `graft.SessionStage <sfDir> <outPath>`
  */
object SessionStage {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try operators.Analytics.storedSessions(spark, sfDir)
      .write.mode("overwrite").parquet(outPath)
    finally spark.stop()
  }
}
