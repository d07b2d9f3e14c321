package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.Ckpt.CutOps
import graft.sources.Tables

/** Relational parity operators — SURVEY.md §2 (projections P1-P6, joins
  * J1-J3, aggregations A1-A2, set op U1), re-expressed as declarative
  * DataFrame plans so Catalyst handles pushdown/pruning/join strategy
  * (SURVEY.md §4). Reference semantics: `report.md:380-515`,
  * `extractCensusACS5.py:17-95`.
  *
  * Every query is deterministic + order-insensitive; double aggregates are
  * rounded so the DuckDB oracle hash-matches across engines.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Year filter as a timestamp RANGE predicate, not `year(col) = y`:
    * a function over the column defeats Parquet predicate pushdown and
    * row-group min/max pruning, while the equivalent range comparison
    * reaches the scan as PushedFilters (enforced by `PlanSpec`). At
    * 100 TB this is the difference between reading one year and reading
    * every row. */
  def inYear(c: Column, y: Int): Column =
    c >= lit(java.sql.Timestamp.valueOf(s"$y-01-01 00:00:00")) &&
      c < lit(java.sql.Timestamp.valueOf(s"${y + 1}-01-01 00:00:00"))

  /** Flagship star query (reference fact view + EP3 consumption query,
    * `report.md:489-494,509-515`, mapped onto the testdata star):
    * fact = lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region (J1/J2/J3),
    * filter one year (P5), group-by-avg + revenue (A2).
    *
    * Scale notes: nation/region are constant-size dims → broadcast (no
    * shuffle); lineitem⋈orders and ⋈customer shuffle on their keys — at
    * 100 TB these are the unavoidable fact-to-fact exchanges, sized by AQE.
    * The year filter and the 7-column projection push down to the Parquet
    * scan (explain: PushedFilters/ReadSchema).
    */
  def starFact(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
      .filter(inYear(col("o_orderdate"), 1996))
    val c = t(spark, dir, "customer")
    val n = Tables.dim(spark, dir, "nation")
    val r = Tables.dim(spark, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        round(avg(col("l_discount")), 6).as("avg_discount"),
        count(lit(1)).as("n_rows"))
  }

  /** A1 — SELECT DISTINCT dimension extraction (`report.md:452,460`).
    * Distinct = partial+final HashAggregate; map-side combine means the
    * shuffle carries only unique (segment, nation) pairs — at 100 TB the
    * exchange is bounded by dim cardinality, not fact rows. */
  def distinctDims(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
              col("c_nationkey").as("nation_id"))
      .distinct()

  /** A2 — group-by average (`report.md:509-515` Quicksight group-avg). */
  def groupbyAvg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nation_id"))
      .agg(round(avg(col("c_acctbal")), 4).as("avg_acctbal"),
           count(lit(1)).as("n_customers"))

  /** U1 + P2 — per-batch literal column then vertical union
    * (`extractCensusACS5.py:37,43`: df['year']=year; pd.concat).
    * unionByName matches pandas concat-by-column-name semantics. */
  def unionYears(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    def slice(y: Int): DataFrame =
      o.filter(inYear(col("o_orderdate"), y))
        .withColumn("batch_year", lit(y))
    slice(1995).unionByName(slice(1996))
      .groupBy("batch_year", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
           round(sum(col("o_totalprice")), 2).as("total_spend"))
  }

  /** P1 + P3 — column rename / projection with aliases
    * (`extractCensusACS5.py:71-84`; `report.md:452,468`). */
  def renameProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .filter(col("c_custkey") <= 1000)
      .select(col("c_custkey").as("customer_id"),
              col("c_name").as("customer_name"),
              col("c_mktsegment").as("segment"),
              col("c_acctbal").as("balance"))

  /** P5 — equality filter (`report.md:515` Quicksight year filter). */
  def filterEq(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F" &&
              inYear(col("o_orderdate"), 1995))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("o_totalprice")), 2).as("spend"))

  /** P6 — permissive string→numeric coercion: malformed input yields NULL,
    * matching Athena LazySimpleSerDe / Spark CSV PERMISSIVE
    * (`report.md:382-389`). try_cast is the engine-portable spelling. */
  def tryCastCoercion(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(
        expr("try_cast(replace(p_brand, 'Brand#', '') AS int)").as("brand_num"),
        expr("try_cast(p_type AS int)").as("type_num"))
      .agg(count(lit(1)).as("n_parts"),
           count(col("brand_num")).as("n_brand_ok"),
           count(col("type_num")).as("n_type_ok"),
           min(col("brand_num")).as("min_brand"),
           max(col("brand_num")).as("max_brand"))

  /** J1 — inner equi-join on a composite key, measure ⋈ measure
    * (`report.md:492`: income ⋈ graduation ON state_id AND year_id).
    * Both sides aggregate before joining, so the join input is already
    * reduced — the at-scale pattern for fact-to-fact joins. */
  def joinComposite(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val spend = o.groupBy(col("o_custkey").as("cust_id"),
                          year(col("o_orderdate")).as("yr"))
      .agg(sum(col("o_totalprice")).as("spend"))
    val qty = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("cust_id"),
               year(col("o_orderdate")).as("yr"))
      .agg(sum(col("l_quantity")).as("qty"))
    spend.join(qty, Seq("cust_id", "yr"), "inner")
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_pairs"),
           round(sum(col("spend")), 2).as("total_spend"),
           round(sum(col("qty")), 2).as("total_qty"))
  }

  /** J2 — inner equi-join against a dimension (`report.md:493`).
    * part scales with sf, so no hard broadcast hint — AQE converts to
    * broadcast-hash at runtime while the dim fits. */
  def joinDim(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part"),
            col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("l_quantity")), 2).as("qty"))

  /** J3 — inner equi-join where key names differ across sides
    * (`report.md:494`: year_id = Year). */
  def joinCrossName(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = Tables.dim(spark, dir, "nation")
    val r = Tables.dim(spark, dir, "region")
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(count(lit(1)).as("n_customers"),
           round(avg(col("c_acctbal")), 4).as("avg_balance"))
  }

  /** Full census-pipeline analog (EP2+EP3, `report.md:368-515`): measure
    * views, SELECT DISTINCT dims, the 3-join fact view, year filter, and
    * group-by-avg — expressed through the SQL/view surface (S6/S7:
    * `CREATE OR REPLACE TEMP VIEW`) exactly as the reference stores its
    * star schema as Athena views. */
  def censusStar(spark: SparkSession, dir: String): DataFrame = {
    Seq("nation", "customer", "orders", "lineitem", "supplier")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(s"census_$n"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW census_income_measure AS
        |SELECT c_nationkey AS state_id,
        |       CAST(year(o_orderdate) AS INT) AS year_id,
        |       avg(o_totalprice) AS income
        |FROM census_orders JOIN census_customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW census_rate_measure AS
        |SELECT s_nationkey AS state_id,
        |       CAST(year(l_shipdate) AS INT) AS year_id,
        |       avg(l_discount) AS rate
        |FROM census_lineitem JOIN census_supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW census_state_dim AS
        |SELECT DISTINCT n_nationkey AS state_id, n_name AS state
        |FROM census_nation""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW census_year_dim AS
        |SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS year
        |FROM census_orders""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW census_fact AS
        |SELECT s.state, i.income, g.rate, y.year
        |FROM census_income_measure i
        |  JOIN census_rate_measure g
        |    ON i.state_id = g.state_id AND i.year_id = g.year_id
        |  JOIN census_state_dim s ON g.state_id = s.state_id
        |  JOIN census_year_dim y ON g.year_id = y.year""".stripMargin)
    spark.sql(
      """SELECT state, round(avg(income), 4) AS avg_income,
        |       round(avg(rate), 6) AS avg_rate
        |FROM census_fact WHERE year = 1996 GROUP BY state""".stripMargin)
  }

  /** One staged simulation-input dir per (kind, sf dir) per JVM: the
    * staged files are a deterministic function of the sf tables, so
    * re-staging on every invocation would only leak temp dirs and make
    * bench time the staging WRITE instead of the read path each query
    * exists to showcase. First call writes; subsequent calls (bench's
    * second timed pass, other scales' reuse) hit the cache. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  // staged dirs are JVM-lifetime caches; without a shutdown hook repeated
  // harness runs accumulate /tmp garbage (one dir per kind x sf per run)
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedDirs.values().forEach { base =>
        try {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(Path.of(base)).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => } // best-effort cleanup only
      }))
  }
  private[graft] def stagedDir(kind: String, dir: String)(
      write: String => Unit): String =
    stagedDirs.computeIfAbsent((kind, dir), { _ =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_$kind").toString
      write(base)
      base
    })

  /** Schema evolution on read — the lakehouse reality that a dataset
    * directory holds files written by DIFFERENT pipeline generations:
    * gen1 (the 1997 slice) lands three columns, gen2 (1998) adds
    * `o_orderpriority`. `mergeSchema` unions the footers; gen1 rows
    * surface the added column as NULL, which the query then audits per
    * priority (the "how much of the corpus predates field X" question
    * every evolving 100 TB dataset answers constantly). The staged dirs
    * are session-temp simulation inputs derived deterministically from
    * the orders table, so the result — and the oracle — depend only on
    * the sf tables. Money is summed as per-row integer cents (exact,
    * order-independent). */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = stagedDir("schema_evo", dir) { base =>
      val o = t(spark, dir, "orders")
      o.filter(inYear(col("o_orderdate"), 1997))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/gen=1")
      o.filter(inYear(col("o_orderdate"), 1998))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/gen=2")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen=1", s"$base/gen=2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>"))
        .as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
  }

  /** JSON-lines source — the object-store event-feed format (one JSON
    * object per line). The feed is staged deterministically from the
    * events table (to_json → text sink), then read back with a DECLARED
    * schema — schema-on-read, no inference pass (inference scans the
    * data twice and guesses types; a production reader always declares).
    * Money re-enters as per-row integer cents. The JSON round-trip is
    * exact: doubles render as shortest-repr and parse back bit-equal. */
  def jsonlSource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = stagedDir("jsonl", dir) { base =>
      t(spark, dir, "events").filter(col("event_id") < 2000)
        .select(to_json(struct(col("event_id"), col("user_id"),
          col("event_type"), col("value"))).as("value"))
        .write.mode("overwrite").text(s"$base/feed")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    spark.read.schema(schema).json(s"$base/feed")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
  }

  /** ORC round-trip — the second columnar at-rest format next to
    * parquet (Hive-lineage deployments): write a year slice as ORC,
    * read it back, aggregate. Predicate/column pushdown applies to the
    * ORC scan the same as parquet. Result depends only on the orders
    * table, so the oracle reads that directly. */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = stagedDir("orc", dir) { base =>
      t(spark, dir, "orders")
        .filter(inYear(col("o_orderdate"), 1997))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").orc(s"$base/orders97")
    }
    spark.read.orc(s"$base/orders97")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Avro round-trip — the row-oriented at-rest format completing the
    * CSV / Parquet / ORC / JSONL family (q142's columnar twin): the 1996
    * orders slice is written as Avro container files (one per upstream
    * partition) through [[graft.sources.AvroIo]] and read back through
    * the `graft.sources.AvroSource` DSv2 scan (one InputPartition per
    * file, streaming decode), then aggregated — so a value surviving the
    * encode/decode round-trip is what the oracle actually checks. Money
    * crosses the boundary as the raw double and is integer-centified
    * AFTER the read, so the check covers double fidelity too. */
  def avroRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = stagedDir("avro", dir) { base =>
      graft.sources.AvroIo.write(
        t(spark, dir, "orders")
          .filter(inYear(col("o_orderdate"), 1996))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")),
        s"$base/orders96")
    }
    spark.read.format("graft.sources.AvroSource")
      .option("path", s"$base/orders96").load()
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Table diff / reconciliation — the inverse of the CDC-apply family
    * (q105 merges a batch in, THIS detects what changed between two
    * pipeline generations): full-outer join on the key, rows classified
    * added / removed / changed / unchanged by comparing md5 row
    * fingerprints computed SCAN-LOCAL — so the join shuffles
    * (key, 32-char fp, cents), never whole rows, the shape that makes
    * regression-diffing two 100-TB snapshots affordable. v2 is derived
    * from orders by deterministic rules (drop key%101, reprice key%97,
    * re-key-insert key%103) so both engines build identical versions;
    * the emitted census carries the cents delta per change class — the
    * reconciliation number a data-regression gate alerts on. */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = t(spark, dir, "orders").select(
      col("o_orderkey").as("key"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("priority"),
      col("o_custkey").as("cust"))
    // Synthetic inserts are re-keyed to −key−1 — a strictly-negative
    // namespace disjoint from genuine (non-negative) keys at any SF,
    // where a fixed offset (key + 10^9) would collide once real keys
    // reach 10^9 (~SF 170) and silently merge an 'added' row onto a
    // real key. (Plain negation is NOT disjoint: this feed carries an
    // orderkey 0, and −0 = 0 recreates exactly that collision.)
    val v2 = v1.filter(col("key") % 101 =!= 0)
      .withColumn("cents", when(col("key") % 97 === 0,
        col("cents") + 100).otherwise(col("cents")))
      .unionByName(v1.filter(col("key") % 103 === 0)
        .withColumn("key", -col("key") - 1))
    def fp(df: DataFrame, fpName: String, cName: String): DataFrame =
      df.select(col("key"),
        md5(concat_ws("|", col("cents"), col("status"), col("priority"),
          col("cust"))).as(fpName),
        col("cents").as(cName))
    fp(v1, "fp1", "c1").join(fp(v2, "fp2", "c2"), Seq("key"), "full_outer")
      .withColumn("change", when(col("fp1").isNull, "added")
        .when(col("fp2").isNull, "removed")
        .when(col("fp1") =!= col("fp2"), "changed")
        .otherwise("unchanged"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L)))
          .as("cents_delta"))
  }

  /** Merkle-style sync audit — the digest-tree complement to q198's
    * full diff: when two 100-TB replicas are PRESUMED equal, comparing
    * them should not cost a full-table shuffle. Both sides fold their
    * rows into 64 key-hashed bucket digests (portable md5-derived row
    * digests combined with BIT_XOR — order- and merge-free, so the
    * digest build is one partial-agg'd pass whose exchange carries 64
    * longs per side, the rsync/anti-entropy recipe of Dynamo-style
    * replica repair); the digest tables join on bucket id, and ROW
    * -level work (q198's added/removed/changed census) is confined to
    * the buckets whose digest or count disagrees — at a realistic
    * mutation rate that is a few buckets, not the table. The bucket
    * key hashes the ROW KEY (not the payload), so a value change stays
    * in its bucket and localizes. v2 derives from orders by q198's
    * deterministic mutation rules, so both engines build identical
    * replicas; the output census carries the tree stats (differing
    * buckets, rows actually scanned) beside the drill-down classes —
    * the evidence of what the tree SAVED. */
  def merkleSync(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val v1 = t(spark, dir, "orders").select(
      col("o_orderkey").as("key"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("priority"),
      col("o_custkey").as("cust"))
    val v2 = v1.filter(col("key") % 101 =!= 0)
      .withColumn("cents", when(col("key") % 97 === 0,
        col("cents") + 100).otherwise(col("cents")))
      .unionByName(v1.filter(col("key") % 103 === 0)
        .withColumn("key", -col("key") - 1))
    def enc(df: DataFrame): DataFrame = df.select(col("key"),
      (TextOps.portableHash(
        concat(lit("mk:"), col("key").cast("string"))) % 64).as("bkt"),
      TextOps.portableHash60(concat_ws("|", col("key"), col("cents"),
        col("status"), col("priority"), col("cust"))).as("rd"))
    // r16: each encoded side feeds two DIFFERENTLY-keyed exchanges (the
    // bkt-keyed digest agg and the key-keyed row census) — exchange
    // reuse can't apply below differing partitionings, so the scan +
    // two-md5 projection ran twice per side. One cut each halves the
    // md5 work (guide §2.4).
    val e1 = enc(v1).cutLineage()
    val e2 = enc(v2).cutLineage()
    val b1 = e1.groupBy(col("bkt"))
      .agg(expr("bit_xor(rd)").as("d1"), count(lit(1)).as("n1"))
    val b2 = e2.groupBy(col("bkt"))
      .agg(expr("bit_xor(rd)").as("d2"), count(lit(1)).as("n2"))
    val cmp = b1.join(b2, Seq("bkt"), "full_outer")
      .withColumn("diff",
        not(col("d1") <=> col("d2")) || not(col("n1") <=> col("n2")))
    val diffB = cmp.filter(col("diff")).select(col("bkt"))
    val tree = cmp.agg(count(lit(1)).as("n_buckets"),
      sum(when(col("diff"), 1L).otherwise(0L)).as("n_buckets_differing"),
      sum(when(col("diff"), col("n1")).otherwise(0L)).as("n_rows_scanned"))
    // row-level census ONLY inside differing buckets
    val cls = e1.join(broadcast(diffB), Seq("bkt"), "left_semi")
      .select(col("key"), col("rd").as("f1"))
      .join(e2.join(broadcast(diffB), Seq("bkt"), "left_semi")
        .select(col("key"), col("rd").as("f2")), Seq("key"), "full_outer")
      .agg(sum(when(col("f1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("f2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("f1").isNotNull && col("f2").isNotNull &&
          col("f1") =!= col("f2"), 1L).otherwise(0L)).as("n_changed"))
    tree.crossJoin(broadcast(cls))
  }

  val catalog: Seq[Q] = Seq(
    Q("q247_merkle_sync", merkleSync _,
      """WITH v1 AS (
        |  SELECT o_orderkey AS key,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o_orderstatus AS status, o_orderpriority AS priority,
        |    o_custkey AS cust
        |  FROM orders),
        |v2 AS (
        |  SELECT key,
        |    CASE WHEN key % 97 = 0 THEN cents + 100 ELSE cents END
        |      AS cents,
        |    status, priority, cust
        |  FROM v1 WHERE key % 101 <> 0
        |  UNION ALL
        |  SELECT -key - 1, cents, status, priority, cust
        |  FROM v1 WHERE key % 103 = 0),
        |e1 AS (
        |  SELECT key,
        |    ('0x' || substr(md5('mk:' || CAST(key AS VARCHAR)), 1, 8))
        |      ::BIGINT % 64 AS bkt,
        |    ('0x' || substr(md5(concat_ws('|', key, cents, status,
        |      priority, cust)), 1, 15))::BIGINT AS rd
        |  FROM v1),
        |e2 AS (
        |  SELECT key,
        |    ('0x' || substr(md5('mk:' || CAST(key AS VARCHAR)), 1, 8))
        |      ::BIGINT % 64 AS bkt,
        |    ('0x' || substr(md5(concat_ws('|', key, cents, status,
        |      priority, cust)), 1, 15))::BIGINT AS rd
        |  FROM v2),
        |b1 AS (SELECT bkt, bit_xor(rd) AS d1, count(*) AS n1
        |       FROM e1 GROUP BY 1),
        |b2 AS (SELECT bkt, bit_xor(rd) AS d2, count(*) AS n2
        |       FROM e2 GROUP BY 1),
        |cmp AS (
        |  SELECT COALESCE(b1.bkt, b2.bkt) AS bkt, d1, d2, n1, n2,
        |    (d1 IS DISTINCT FROM d2 OR n1 IS DISTINCT FROM n2) AS diff
        |  FROM b1 FULL OUTER JOIN b2 ON b1.bkt = b2.bkt),
        |tree AS (
        |  SELECT count(*) AS n_buckets,
        |    CAST(sum(CASE WHEN diff THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_buckets_differing,
        |    CAST(sum(CASE WHEN diff THEN n1 ELSE 0 END) AS BIGINT)
        |      AS n_rows_scanned
        |  FROM cmp),
        |db AS (SELECT bkt FROM cmp WHERE diff),
        |r1 AS (SELECT key, rd FROM e1 WHERE bkt IN (SELECT bkt FROM db)),
        |r2 AS (SELECT key, rd FROM e2 WHERE bkt IN (SELECT bkt FROM db)),
        |cls AS (
        |  SELECT
        |    CAST(sum(CASE WHEN r1.rd IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_added,
        |    CAST(sum(CASE WHEN r2.rd IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_removed,
        |    CAST(sum(CASE WHEN r1.rd IS NOT NULL AND r2.rd IS NOT NULL
        |      AND r1.rd <> r2.rd THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_changed
        |  FROM r1 FULL OUTER JOIN r2 ON r1.key = r2.key)
        |SELECT n_buckets, n_buckets_differing, n_rows_scanned,
        |  n_added, n_removed, n_changed
        |FROM tree CROSS JOIN cls""".stripMargin),
    Q("q198_table_diff", tableDiff _,
      """WITH v1 AS (
        |  SELECT o_orderkey AS key,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o_orderstatus AS status, o_orderpriority AS priority,
        |    o_custkey AS cust
        |  FROM orders),
        |v2 AS (
        |  SELECT key,
        |    CASE WHEN key % 97 = 0 THEN cents + 100 ELSE cents END
        |      AS cents,
        |    status, priority, cust
        |  FROM v1 WHERE key % 101 <> 0
        |  UNION ALL
        |  SELECT -key - 1, cents, status, priority, cust
        |  FROM v1 WHERE key % 103 = 0),
        |a AS (SELECT key, md5(concat_ws('|', cents, status, priority,
        |        cust)) AS fp1, cents AS c1 FROM v1),
        |b AS (SELECT key, md5(concat_ws('|', cents, status, priority,
        |        cust)) AS fp2, cents AS c2 FROM v2),
        |j AS (
        |  SELECT fp1, fp2, c1, c2
        |  FROM a FULL OUTER JOIN b ON a.key = b.key)
        |SELECT CASE WHEN fp1 IS NULL THEN 'added'
        |    WHEN fp2 IS NULL THEN 'removed'
        |    WHEN fp1 <> fp2 THEN 'changed'
        |    ELSE 'unchanged' END AS change,
        |  count(*) AS n,
        |  CAST(sum(COALESCE(c2, 0) - COALESCE(c1, 0)) AS BIGINT)
        |    AS cents_delta
        |FROM j GROUP BY 1""".stripMargin),
    Q("q141_jsonl_source", jsonlSource _,
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events WHERE event_id < 2000
        |GROUP BY 1""".stripMargin),
    Q("q142_orc_roundtrip", orcRoundTrip _,
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY 1""".stripMargin),
    Q("q346_avro_roundtrip", avroRoundTrip _,
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY 1""".stripMargin),
    Q("q138_schema_evolution", schemaEvolution _,
      """WITH u AS (
        |  SELECT NULL AS pr, o_totalprice FROM orders
        |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        |  UNION ALL
        |  SELECT o_orderpriority AS pr, o_totalprice FROM orders
        |  WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1999-01-01')
        |SELECT coalesce(pr, '<pre-schema>') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM u GROUP BY 1""".stripMargin),
    Q("q01_star_fact", starFact _,
      """SELECT n_name AS nation, r_name AS region,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 6) AS avg_discount,
        |  count(*) AS n_rows
        |FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation   ON c_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey
        |WHERE year(o_orderdate) = 1996
        |GROUP BY 1, 2""".stripMargin),
    Q("q02_distinct_dims", distinctDims _,
      """SELECT DISTINCT c_mktsegment AS segment, c_nationkey AS nation_id
        |FROM customer""".stripMargin),
    Q("q03_groupby_avg", groupbyAvg _,
      """SELECT c_nationkey AS nation_id,
        |  round(avg(c_acctbal), 4) AS avg_acctbal,
        |  count(*) AS n_customers
        |FROM customer GROUP BY 1""".stripMargin),
    Q("q04_union_years", unionYears _,
      """SELECT batch_year, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_spend
        |FROM (
        |  SELECT o_orderstatus, o_totalprice, 1995 AS batch_year
        |  FROM orders WHERE year(o_orderdate) = 1995
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice, 1996 AS batch_year
        |  FROM orders WHERE year(o_orderdate) = 1996)
        |GROUP BY 1, 2""".stripMargin),
    Q("q05_rename_project", renameProject _,
      """SELECT c_custkey AS customer_id, c_name AS customer_name,
        |  c_mktsegment AS segment, c_acctbal AS balance
        |FROM customer WHERE c_custkey <= 1000""".stripMargin),
    Q("q06_filter_eq", filterEq _,
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS spend
        |FROM orders
        |WHERE o_orderstatus = 'F' AND year(o_orderdate) = 1995
        |GROUP BY 1""".stripMargin),
    Q("q07_try_cast", tryCastCoercion _,
      """SELECT count(*) AS n_parts,
        |  count(TRY_CAST(replace(p_brand, 'Brand#', '') AS INT)) AS n_brand_ok,
        |  count(TRY_CAST(p_type AS INT)) AS n_type_ok,
        |  min(TRY_CAST(replace(p_brand, 'Brand#', '') AS INT)) AS min_brand,
        |  max(TRY_CAST(replace(p_brand, 'Brand#', '') AS INT)) AS max_brand
        |FROM part""".stripMargin),
    Q("q08_join_composite", joinComposite _,
      """WITH spend AS (
        |  SELECT o_custkey AS cust_id, CAST(year(o_orderdate) AS INT) AS yr,
        |         sum(o_totalprice) AS spend
        |  FROM orders GROUP BY 1, 2),
        |qty AS (
        |  SELECT o_custkey AS cust_id, CAST(year(o_orderdate) AS INT) AS yr,
        |         sum(l_quantity) AS qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT yr, count(*) AS n_pairs,
        |  round(sum(spend), 2) AS total_spend,
        |  round(sum(qty), 2) AS total_qty
        |FROM spend JOIN qty USING (cust_id, yr)
        |GROUP BY 1""".stripMargin),
    Q("q09_join_dim", joinDim _,
      """SELECT p_brand AS brand, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin),
    Q("q10_join_crossname", joinCrossName _,
      """SELECT r_name AS region, count(*) AS n_customers,
        |  round(avg(c_acctbal), 4) AS avg_balance
        |FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin),
    Q("q11_census_star", censusStar _,
      """WITH income_measure AS (
        |  SELECT c_nationkey AS state_id, CAST(year(o_orderdate) AS INT) AS year_id,
        |         avg(o_totalprice) AS income
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |rate_measure AS (
        |  SELECT s_nationkey AS state_id, CAST(year(l_shipdate) AS INT) AS year_id,
        |         avg(l_discount) AS rate
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2),
        |state_dim AS (
        |  SELECT DISTINCT n_nationkey AS state_id, n_name AS state FROM nation),
        |year_dim AS (
        |  SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS year FROM orders),
        |fact AS (
        |  SELECT s.state, i.income, g.rate, y.year
        |  FROM income_measure i
        |    JOIN rate_measure g
        |      ON i.state_id = g.state_id AND i.year_id = g.year_id
        |    JOIN state_dim s ON g.state_id = s.state_id
        |    JOIN year_dim y ON g.year_id = y.year)
        |SELECT state, round(avg(income), 4) AS avg_income,
        |       round(avg(rate), 6) AS avg_rate
        |FROM fact WHERE year = 1996 GROUP BY state""".stripMargin)
  )
}
