package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Parquet table catalog over a driver testdata dir (`TESTDATA.md`).
  *
  * The reference models tables as external CSV directories with a declared
  * schema (reference `report.md:380-434`); here the at-rest format is Parquet
  * (columnar, min/max pruning, predicate pushdown) which is the scale-out
  * equivalent — see SURVEY.md §1.3.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables that are small/constant-size dimensions at every scale factor.
    * At 100 TB these stay KB-sized (25 nations, 5 regions) — always broadcast.
    */
  val constantDims: Set[String] = Set("region", "nation")

  /** Schema memo (r16): every `load` used to run parquet schema
    * inference — a footer-read job — and the catalog performs ~2 loads
    * per query, so a full bench pass paid ~700 such jobs of pure
    * planning latency. The memo caches the INFERRED SCHEMA (metadata
    * only — never data or results; every query still scans the parquet
    * from disk) keyed by (path, max mtime, entry count), so a
    * regenerated testdata dir re-infers. Passing an explicit schema also skips the
    * fallback inference pass entirely at 100 TB, where footer sampling
    * of a large table is driver-side listing work (guide §7.3). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Int), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // Cache stamp (r17, ADVICE fix): max mtime over the path AND its
    // direct children, and the child count — an in-place part-file
    // rewrite (same name) bumps the file's own mtime but not the
    // directory's, and an added/removed part changes the count. The two
    // stay separate key fields: summed, (T, n+1 parts) and (T+1, n
    // parts) would collide. An mtime of 0 means lastModified() could
    // not see the path (non-local FS, absent) — fall back to plain
    // inference rather than caching blind.
    val f = new java.io.File(path)
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    val mtime = (f.lastModified() +: kids.map(_.lastModified())).max
    val df = if (mtime == 0L) spark.read.parquet(path)
    else {
      val sch = schemaCache.computeIfAbsent((path, mtime, kids.length),
        _ => spark.read.parquet(path).schema)
      spark.read.schema(sch).parquet(path)
    }
    if (name == "events") normalizeTs(df) else df
  }

  /** Normalize `events.ts` to Spark's native TimestampType (LTZ) whatever
    * physical form the feed delivered it in. Generations of the testdata
    * feed have shipped ts as TIMESTAMP(NANOS) (Spark rejects it natively;
    * under spark.sql.legacy.parquet.nanosAsLong=true — set by Verify/
    * Bench/tests — it arrives as a nanosecond LongType) and as
    * TIMESTAMP(MICROS) without UTC adjustment.
    * Downstream operators do epoch arithmetic (`ts.cast("long")` = epoch
    * seconds), which Spark only defines on the LTZ type, so every form
    * funnels to LTZ here — the single normalization point for the engine,
    * the stream source and the specs.
    *  - ns long → integer division to micros (a double roundtrip would
    *    lose precision at 1e18 magnitudes), then timestamp_micros.
    *  - NTZ → cast to LTZ: reinterprets the wall-clock in the session
    *    timezone, which every entry point pins to UTC, so the underlying
    *    micros are bit-identical and DuckDB's naive `epoch(ts)` agrees.
    *    Reached only for parquet carrying Spark NTZ metadata: every entry
    *    point sets spark.sql.parquet.inferTimestampNTZ.enabled=false, so
    *    the metadata-less MICROS feed arrives from the scan already LTZ.
    *    That conf is load-bearing for scale, not cosmetics: an NTZ scan
    *    needs a `cast` Project on top, and a user's `ts BETWEEN …` range
    *    predicate against the cast column never reaches PushedFilters —
    *    no parquet row-group min/max pruning on the one access pattern an
    *    event table at 100 TB exists to serve (PlanSpec pins the pushdown
    *    via q183).
    *  - LTZ → already the target; pass through untouched (keeps the scan
    *    Project-free so range predicates push down).
    * Any OTHER physical form is a new feed regeneration this adaptation
    * point has not seen: fail loudly here rather than letting epoch
    * arithmetic silently misread it downstream. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unrecognized physical type $other — the " +
          "feed was regenerated into a form normalizeTs (the single ts " +
          "adaptation point) does not handle; add a case for it here")
    }
  }

  /** Load with a broadcast hint when the table is a constant-size dim.
    * Scaling dims (customer, part, supplier) are left to AQE, which converts
    * sort-merge to broadcast-hash at runtime when the built side is small.
    */
  def dim(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    if (constantDims(name)) broadcast(df) else df
  }
}
