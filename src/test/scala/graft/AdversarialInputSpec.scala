package graft

/** Full-catalog adversarial-input sweep (r16 verdict item 6).
  *
  * The MMR short-pool crash (q354, r15) and the BPE degenerate-corpus
  * divergence (r14) were both found by advisory review, not tests — the
  * catalog had no systematic degenerate-input coverage. This spec runs
  * EVERY catalog query against two staged sf dirs:
  *
  *   (a) empty:      all ten tables, real schemas, zero rows
  *   (b) single-row: all ten tables truncated to exactly one row
  *
  * asserting no crash and no hang (each query must plan AND execute).
  * Any operator with an iteration loop, a division, a percentile, a
  * window, or a top-k has a degenerate path here; production pipelines
  * feed these shapes routinely (fresh partition, all-filtered slice,
  * cold-start corpus of one document).
  *
  * Value agreement with the DuckDB oracle on the same staged dirs is
  * the second half of the gate; it runs driver-side (graft.Verify +
  * tools/check.py over the staged dirs — COVERAGE.md r16 records the
  * result) because DuckDB is not on this classpath. The older
  * EmptyInputSpec keeps its named per-operator assertions (count == 0
  * on an empty corpus is a STRONGER claim than "does not crash") for
  * the dedup/similarity/text families; this sweep is the breadth net.
  *
  * Both dirs are staged by truncating /root/testdata/sf0.001 via
  * limit(0)/limit(1), so schemas (incl. the events feed's nanos-as-long
  * timestamp quirk) are exactly the production ones.
  */
class AdversarialInputSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def stage(n: Int): String = {
    val dir = tempDir(s"graft_adv$n").toString
    tables.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(n)
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private lazy val emptyDir = stage(0)
  private lazy val oneRowDir = stage(1)

  private def sweep(dir: String, tag: String): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // collect(), not count(): column pruning under count() would skip
      // the final projection, hiding exactly the degenerate-division
      // crashes this sweep exists to catch (q196/q307 escaped the first
      // count()-based run that way)
      try fn(spark, dir).collect()
      catch { case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(200)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries crashed on the $tag corpus:\n  " +
        failures.mkString("\n  "))
  }

  test("every catalog query survives an empty corpus (no crash, no hang)") {
    sweep(emptyDir, "empty")
  }

  test("every catalog query survives a single-row corpus") {
    sweep(oneRowDir, "single-row")
  }
}
