package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}

/** Bounded-window lint (round-15 verdict item 3): every
  * `Window.orderBy`-without-`partitionBy` in the catalog moves its whole
  * input to ONE partition, which is safe only under the house
  * "collapse-then-window" shape — the corpus must have been aggregated to
  * a domain-bounded relation (score buckets, calendar days, brand set)
  * BEFORE the single-partition window. That precondition used to live
  * only in comments; this spec executes it.
  *
  * Method: for every catalog query, collect the unpartitioned Window
  * nodes out of the optimized logical plan, then COUNT the rows entering
  * each one at sf0.001 and at sf0.01 (10x the corpus). Domain-bounded
  * means scale-invariant-ish: the gate is
  *
  *   rows(sf0.01) <= max(4 * rows(sf0.001), FLOOR)   and
  *   rows(sf0.01) <= CAP
  *
  * The 4x slack absorbs genuine sub-linear domain growth (distinct
  * durations, novel score buckets — Heaps-law style); FLOOR = 1000 keeps
  * tiny domains (<= 250 rows at sf0.001, e.g. an exhausted tail) out of
  * the ratio test's noise; CAP = 20000 is the absolute "this is a domain,
  * not a corpus" line — lineitem is already 60k rows at sf0.01, so a
  * corpus-sized window fails BOTH prongs. A future corpus-sized window
  * now fails this spec instead of flooding WindowExec WARNs.
  *
  * Streaming queries are out of scope: their returned frame is a
  * memory-sink scan (the stream already ran), so its plan can't carry the
  * stream's window nodes; their state-size discipline is watermarks,
  * asserted in StreamingSpec.
  */
class BoundedWindowSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"
  private val Floor = 1000L
  private val Cap = 20000L

  private def unpartitionedWindows(plan: LogicalPlan): Seq[LWindow] =
    plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }

  test("every unpartitioned Window in the catalog reads a domain-bounded" +
      " relation (collapse-then-window), not a corpus-sized one") {
    val streaming = SparkEntry.categories("streaming")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(streaming)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Long, Long)]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val w001 = unpartitionedWindows(
        fn(spark, sf001).queryExecution.optimizedPlan)
      if (w001.nonEmpty) {
        val w01 = unpartitionedWindows(
          fn(spark, sf01).queryExecution.optimizedPlan)
        assert(w01.length == w001.length,
          s"$name: window-site count differs between SFs " +
            s"(${w001.length} vs ${w01.length}) - plan not SF-stable")
        w001.zip(w01).zipWithIndex.foreach { case ((a, b), i) =>
          val c001 = GraftBridge.ofRows(spark, a.child).count()
          val c01 = GraftBridge.ofRows(spark, b.child).count()
          rows += ((name, i, c001, c01))
          if (c01 > Cap)
            failures += s"$name site $i: $c01 rows at sf0.01 > cap $Cap"
          else if (c01 > math.max(4 * c001, Floor))
            failures += s"$name site $i: grew $c001 -> $c01 " +
              s"(> max(4x, $Floor)) - corpus-sized, not domain-bounded"
        }
      }
    }
    // the enumeration itself is the audit artifact (cited by
    // plans/bounded_windows.md)
    info(s"${rows.length} unpartitioned window sites across " +
      s"${rows.map(_._1).distinct.length} queries")
    rows.foreach { case (n, i, a, b) => info(f"$n%-28s site $i: $a%6d -> $b%6d") }
    assert(rows.nonEmpty, "lint found zero unpartitioned windows - " +
      "the collector is broken (the catalog is known to have ~30)")
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
