package graft

import org.apache.spark.sql.SparkSession

/** Read semantics and physical-plan defaults every engine entry point
  * applies. One place, so Bench (the timed surface), Verify (the
  * correctness surface), PlanDump (the committed plan evidence), the
  * test session and the specs' forked mains all read the same values and
  * run the SAME plan shapes — a strategy that only existed in the bench
  * session would make the correctness gate and the committed plans
  * evidence about a different engine.
  *
  * Read semantics: a UTC session; TIMESTAMP(NANOS) columns read as
  * nanosecond longs; the MICROS-no-UTC feed read as LTZ at the scan
  * itself (UTC session: bit-identical micros), so ts range predicates
  * reach PushedFilters ([[graft.sources.Tables.normalizeTs]]). Entry
  * points also pass them to their session builder, so every
  * `newSession()` of the context (the scoped-conf queries) reads alike.
  *
  * `spark.sql.join.preferSortMergeJoin=false` — allow the planner to
  * choose shuffled-hash join when its own size conditions hold
  * (build side < advisoryPartitionSize × shufflePartitions, and ≥3×
  * smaller than the probe side); sort-merge remains the fallback.
  * Guide §3.1/§9: skips both sides' sorts when one side hash-fits per
  * partition. Measured (r16 A/B, 33-query subset, same window):
  * −10.4% subset total, median per-query ×0.91, q35 ×0.63 / q294 ×0.79
  * / q153 ×0.79 / q267 ×0.81, no regression beyond +0.02 s noise on
  * 0.2 s queries. Scale note: this is a preference, not a force — at
  * 100 TB the same size conditions guard the choice, and AQE skew-join
  * handling covers shuffled-hash joins in Spark 4. Rejected siblings
  * (measured in the same A/B series, OPTIMIZATION_r16.md):
  * coalescePartitions.parallelismFirst=false (tail wins but heavies
  * ×1.4–2.8), coalescePartitions.minPartitionSize=8m (×1.23 median),
  * adaptive.maxShuffledHashJoinLocalMapThreshold=64m (×1.09 median).
  */
object EngineDefaults {
  val read: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  val physical: Seq[(String, String)] = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** Apply to a built session (all entries are runtime-settable). */
  def apply(spark: SparkSession): Unit =
    (read ++ physical).foreach { case (k, v) => spark.conf.set(k, v) }
}
