package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.{HilbertOps, ZOrderOps}
import graft.sources.Tables

/** Data-layout operators: multi-dimensional clustering for scan pruning.
  * At 100 TB the dominant query cost is how much of the table a scan must
  * read; a z-order layout makes parquet footer min/max stats selective on
  * SEVERAL predicate columns at once, where a plain sort only helps one.
  */
object Layout {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Z-order clustering key over orders (customer × price-bucket): each
    * row's Morton code plus the 100 lowest-z rows. The z computation is
    * the codegen'd [[graft.functions.InterleaveBits16]]; top-k is
    * TakeOrderedAndProject (no global sort). The layout action itself —
    * `repartitionByRange(z)` + write — is exercised in `ZOrderSpec`,
    * which measures per-partition bounding boxes shrinking on BOTH
    * dimensions; this query pins the key's exact semantics against an
    * expanded shift/mask oracle. */
  def zorderCluster(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "orders").select(col("o_orderkey"),
      col("o_custkey").bitwiseAND(lit(255L)).as("xb"),
      floor(col("o_totalprice") / lit(2048.0)).cast("long")
        .bitwiseAND(lit(255L)).as("yb"))
    d.withColumn("z", ZOrderOps.zorder2(col("xb"), col("yb")))
      .orderBy(col("z").asc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Hilbert clustering key over the same (customer × price-bucket) grid
    * as [[zorderCluster]]: each row's order-8 Hilbert index plus the 100
    * lowest-index rows. The Hilbert walk never jumps across the space
    * (consecutive indices are Manhattan-distance 1 — pinned exhaustively
    * in `ZOrderSpec`), so the equal-count index ranges that
    * `repartitionByRange` + parquet row-groups cut get tighter bounding
    * boxes than the Z-curve's, i.e. more zone-map skips per scan; q157
    * measures exactly that, three layouts side by side. The index is the
    * codegen'd [[graft.functions.HilbertIndex2D8]]; the oracle replays
    * the identical 8-round integer rotation walk as chained SQL stages. */
  def hilbertCluster(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "orders").select(col("o_orderkey"),
      col("o_custkey").bitwiseAND(lit(255L)).as("xb"),
      floor(col("o_totalprice") / lit(2048.0)).cast("long")
        .bitwiseAND(lit(255L)).as("yb"))
    d.withColumn("h", HilbertOps.hilbert2(col("xb"), col("yb")))
      .orderBy(col("h").asc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Shard manifest — the dataset-publishing step after all filtering and
    * dedup: assign every document to one of 8 output shards by
    * deterministic hash and emit the per-shard manifest (doc count, token
    * total, id range, content checksum). The checksum is a SUM of per-doc
    * portable hashes — an exact, order-independent integer, so two
    * engines (or two runs at different parallelism) produce the same
    * manifest bit-for-bit; that is what makes the manifest usable as a
    * publish/consume integrity contract. One partial-agg'd shuffle of 8
    * groups at any corpus size. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    t(spark, dir, "documents")
      .select(col("doc_id"),
        (TextOps.portableHash(
          concat(lit("shard:"), col("doc_id").cast("string"))) % 8)
          .as("shard"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        TextOps.portableHash(md5(col("text"))).as("ch"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("ch")).as("checksum"))
  }

  /** Deterministic corpus shuffle — the training-order permutation every
    * LLM data pipeline needs before writing shards: a reproducible
    * pseudo-random global order with NO `rand()` (re-runs and resumed jobs
    * must rebuild the identical order) and NO global sort — documents
    * hash to a shard (q126's assignment) and are ordered WITHIN the shard
    * by an independent order hash, so the only wide operation is the
    * per-shard window and the order is as good as the hash is uniform.
    *
    * Scale shape: shard count is a PARAMETER that grows with the corpus
    * (constant docs-per-shard — 8 here for the fixture); each shard's
    * sort is per-partition local state, never a global sort, and the
    * hash order is stable under any partitioning. Output is one row per
    * doc (doc → (shard, position)); the spec pins that positions form an
    * exact permutation of 1..|shard| and re-runs are identical. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    import org.apache.spark.sql.expressions.Window
    val d = t(spark, dir, "documents")
      .select(col("doc_id"),
        (TextOps.portableHash(
          concat(lit("shard:"), col("doc_id").cast("string"))) % 8)
          .cast("int").as("shard"),
        TextOps.portableHash60(
          concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
    d.withColumn("pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Zone-map pruning audit — the measurable form of this module's whole
    * reason to exist: bucket orders 64 ways under THREE layouts (natural
    * key order = insertion-time files; Morton order = z-prefix files;
    * Hilbert order = h-prefix files), compute each bucket's (xb, yb)
    * bounding box — exactly the min/max stats a parquet footer carries —
    * and count how many buckets a 2-dimensional box predicate
    * (xb∈[64,127] ∧ yb∈[0,63]) could skip. Natural order is selective on
    * NEITHER dimension (every bucket's bbox spans the full space → 0
    * skipped); z/h-prefix buckets are tight on BOTH → most skipped, with
    * Hilbert's jump-free walk at least as tight as Morton's. The curve
    * bucket is the 6-bit index prefix (>> 10) — contiguous ranges, no
    * sort needed; the natural bucket is `key·64 div (max+1)` via one
    * broadcast scalar. Output is 3 rows of integer counts —
    * engine-exact, and the skip ratio it shows is the scan-cost model
    * for the layout choice at 100 TB. */
  def layoutPruning(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").bitwiseAND(lit(255L)).as("xb"),
        floor(col("o_totalprice") / lit(2048.0)).cast("long")
          .bitwiseAND(lit(255L)).as("yb"))
      .withColumn("z", ZOrderOps.zorder2(col("xb"), col("yb")))
      .withColumn("hv", HilbertOps.hilbert2(col("xb"), col("yb")))
    val mk = d.agg(max(col("o_orderkey")).as("mx"))
    val buckets = d.crossJoin(broadcast(mk))
      .select(lit("natural").as("layout"),
        expr("o_orderkey * 64 div (mx + 1)").as("bucket"),
        col("xb"), col("yb"))
      .unionByName(d.select(lit("zorder").as("layout"),
        shiftright(col("z"), 10).cast("long").as("bucket"),
        col("xb"), col("yb")))
      .unionByName(d.select(lit("hilbert").as("layout"),
        shiftright(col("hv"), 10).cast("long").as("bucket"),
        col("xb"), col("yb")))
    val hit = col("mxx") >= 64 && col("mnx") <= 127 &&
      col("mxy") >= 0 && col("mny") <= 63
    buckets
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("xb")).as("mnx"), max(col("xb")).as("mxx"),
        min(col("yb")).as("mny"), max(col("yb")).as("mxy"),
        sum(when(col("xb").between(64, 127) &&
          col("yb").between(0, 63), 1L).otherwise(0L)).as("nm"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(hit, 1L).otherwise(0L)).as("n_hit_buckets"),
        sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"),
        sum(col("nm")).as("rows_matching"))
  }

  /** Window-free global ordinal assignment — contiguous 1..N ids in a
    * deterministic pseudorandom order (the training-corpus "give every
    * doc a stable shuffled ordinal" primitive). The naive form is
    * `row_number() OVER (ORDER BY …)` = one single-partition sort of the
    * whole corpus — the canonical scale-killer. The two-phase form here:
    * rows hash into 64 buckets (deterministic md5 order within bucket,
    * bounded window partitions), bucket COUNTS (64 rows) get exclusive
    * prefix-sum offsets, and ordinal = offset(bucket) + rank-in-bucket.
    * The only single-partition window runs over 64 count rows — O(1)
    * data; everything row-scaled is hash-partitioned. Identical to the
    * oracle's global `row_number() OVER (ORDER BY bucket, hk, doc_id)`
    * by construction; contiguity is spec-asserted. At 100 TB raise the
    * bucket count to O(executors·10) — the offset table stays tiny. */
  def globalOrdinals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextOps
    val wb = Window.partitionBy(col("bucket"))
      .orderBy(col("hk").asc, col("doc_id").asc)
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.portableHash(
          concat(lit("ord:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("bucket", col("hk") % 64)
      .withColumn("rn", row_number().over(wb).cast("long"))
    val wOff = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("bucket"), col("offset"))
    docs.join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), col("bucket"),
        (col("offset") + col("rn")).as("ordinal"))
  }

  /** BUCKETED-table co-located join — the storage-layout half of the
    * shuffle-minimization story the pruning/z-order family doesn't
    * cover: orders and lineitem are written ONCE as managed tables
    * bucketed (AND sorted) by the join key into the same bucket count,
    * so the subsequent fact join reads bucket metadata, reports both
    * sides hash-partitioned(8) at the SCAN, and runs the SortMergeJoin
    * with NO shuffle exchange and NO sort on either side — at 100 TB
    * this converts every repeated fact⋈fact join on the distribution
    * key from a full-table shuffle into a metadata decision, which is
    * why warehouse fact tables are bucketed at ingest. (Shuffle
    * elimination is unconditional; SORT elimination additionally needs
    * one file per bucket — the write repartitions on the bucket key to
    * guarantee it — plus
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, opt-in
    * since SPARK-28595.) The one-time
    * bucketed write is the same staged-simulation-input discipline as
    * the schema-evolution/ORC dirs; the result depends only on the
    * source tables, so the oracle reads those directly. Memoization is
    * keyed on the md5 of the ABSOLUTE source path (never a collidable
    * hashCode) and guarded by a source FINGERPRINT (per-file size +
    * mtime, persisted as a warehouse marker): data regenerated in place
    * under the same path re-stages instead of silently reusing a stale
    * bucketed copy that would disagree with the oracle (r10 advice).
    * `PlanSpec` asserts the exchange-free join shape with broadcast
    * disabled. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val abs = Paths.get(dir).toAbsolutePath.normalize.toString
    val tag = Tables.md5Hex(abs).take(12)
    val ot = s"graft_bk_orders_$tag"
    val lt = s"graft_bk_lineitem_$tag"
    // fingerprint of the SOURCE files the bucketed copies derive from:
    // any size/mtime/name change (regeneration in place) invalidates
    val fp = Tables.fileStamp(Paths.get(abs, "orders.parquet"),
      Paths.get(abs, "lineitem.parquet"))
    val wh = Paths.get(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val marker = wh.resolve(s"graft_bk_fp_$tag")
    Layout.synchronized {
      val fresh = spark.catalog.tableExists(ot) &&
        spark.catalog.tableExists(lt) && Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == fp
      if (!fresh) {
        // the warehouse DIRECTORY outlives the in-memory catalog across
        // JVMs: a fresh session knows no table but the location remains
        // and saveAsTable refuses it — drop + clear stale locations
        Seq(ot, lt).foreach { tn =>
          spark.sql(s"DROP TABLE IF EXISTS $tn")
          val loc = wh.resolve(tn)
          if (Files.exists(loc)) {
            Files.walk(loc).iterator().asScala.toSeq.reverse
              .foreach(p => Files.deleteIfExists(p))
          }
        }
        // one file per bucket (repartition on the bucket key before the
        // write): the scan only reports the sortBy ordering when each
        // bucket is a single file — multiple per-bucket files are each
        // sorted but not globally, so the join would re-sort
        t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(8, col("o_orderkey"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(ot)
        t(spark, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("cents"))
          .repartition(8, col("l_orderkey"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(lt)
        Files.createDirectories(wh)
        Files.write(marker, fp.getBytes("UTF-8"))
      }
    }
    spark.table(ot).join(spark.table(lt),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
  }

  /** Small-file COMPACTION planning — the maintenance half of the shard
    * manifest (q126 describes the layout; THIS decides the rewrite):
    * shards pack into target-size output files by the deterministic
    * next-fit rule `file = cum_prev_bytes div target` (a shard goes
    * wholly to the file its cumulative offset lands in — files may
    * overshoot by < one shard, the standard next-fit bound, and the
    * assignment is integer-exact and idempotent). Output is the
    * per-file plan a compaction job executes. Scale shape: shard sizes
    * are one partial-agg'd rollup (64 rows here; at 100 TB, one row per
    * file — still ≪ data); the prefix sum runs over the MANIFEST, never
    * the corpus, so the single-partition window carries manifest rows
    * only (the q190 offset-table argument at the metadata tier). */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val target = 200000L
    val shards = t(spark, dir, "documents")
      .groupBy((col("doc_id") % 64).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val wCum = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    shards
      .withColumn("cum_prev", coalesce(sum(col("bytes")).over(wCum),
        lit(0L)))
      .withColumn("file_id", expr(s"cum_prev div $target"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_shards"), sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("total_bytes"),
        min(col("shard")).as("first_shard"),
        max(col("shard")).as("last_shard"))
  }

  /** Stage a Hive-layout partitioned copy of orders (dirs `yr=1995/…`)
    * plus a tiny (yr, era) dimension parquet — one per (JVM, dir), the
    * q138/q142 staging discipline ([[Relational.stagedDir]]: staged
    * again when the sf dir's stamp changes, removed at exit). */
  private[graft] def dppStage(spark: SparkSession, dir: String): String =
    Relational.stagedDir("dpp", dir) { b =>
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      o.write.mode("overwrite").partitionBy("yr")
        .parquet(s"$b/orders_part")
      o.select(col("yr")).distinct()
        .withColumn("era",
          when(col("yr") >= 1999, "late").otherwise("early"))
        .write.mode("overwrite").parquet(s"$b/year_dim")
    }

  /** Dynamic partition pruning — the OTHER scan-reduction lever next to
    * q157's zone maps and q188's runtime bloom filter, and the one that
    * dominates on Hive-partitioned 100-TB facts: the filter `era =
    * 'late'` lives on the DIMENSION, so no static rule can prune the
    * fact's `yr=` partition directories — at planning time the matching
    * years are unknown. Catalyst's DPP injects the broadcast dim's key
    * set as a `dynamicpruningexpression` INTO the fact scan's partition
    * filters (reusing the join's own broadcast exchange — zero extra
    * cost), so only the matching partition directories are listed and
    * read. `PlanSpec` asserts the injected expression and result parity
    * with the unpartitioned formulation; the fact here is the staged
    * partitioned copy, so result and oracle depend only on orders. */
  def dynamicPruning(spark: SparkSession, dir: String): DataFrame = {
    val base = dppStage(spark, dir)
    // explicit schemas: an EMPTY orders table stages zero partition
    // dirs / footers, and schema inference would throw where a normal
    // scan just returns zero rows (r16 adversarial sweep); yr is still
    // resolved as the partition column from the directory layout
    val fact = spark.read
      .schema("o_orderkey BIGINT, o_totalprice DOUBLE, yr INT")
      .parquet(s"$base/orders_part")
    val dim = spark.read.schema("yr INT, era STRING")
      .parquet(s"$base/year_dim")
      .filter(col("era") === "late")
    fact.join(broadcast(dim), Seq("yr"))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
  }

  /** Consistent-hash ring rebalance audit (Karger et al., STOC 1997 —
    * the placement scheme under Dynamo/Cassandra/Kafka partitioners):
    * what fraction of keys move when the cluster grows 8 → 9 nodes?
    * Plain mod-N hashing would remap ~8/9 of all keys; a vnode ring
    * remaps ONLY keys whose arc lands on the new node's vnodes —
    * E[moved] = 1/9 — and this query measures it exactly. The ring (9
    * nodes × 16 vnodes = 144 portable-hash positions) is BOUNDED, so
    * ownership is a broadcast nested-loop range join (keys × 144,
    * collapsed map-side by a MERGEABLE min aggregate — the right plan
    * for a bounded build side; never a shuffle). Every ring row gets a
    * UNIQUE integer sort key rk = pos·256 + node·16 + vnode, so the
    * clockwise-successor argmin needs no engine-specific arg_min
    * tie-break: owner = (min rk) % 256 DIV 16, pure integer arithmetic
    * in both engines; wraparound = the unfiltered global min. The gate
    * pins the consistent-hashing theorem itself: every moved key moves
    * TO the new node (old owners only ever lose to n8), so the output
    * matrix has exactly one destination column. */
  def ringRebalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val ring = spark.range(0, 9).toDF("node")
      .withColumn("v", explode(array((0 until 16).map(i =>
        lit(i.toLong)): _*)))
      .select(col("node"), col("v"),
        TextOps.portableHash(concat(lit("ring:n"),
          col("node").cast("string"), lit(":"),
          col("v").cast("string"))).as("pos"))
      .select(col("node"),
        (col("pos") * 256L + col("node") * 16L + col("v")).as("rk"),
        col("pos"))
    // r16: the 8-node and 9-node owners came from two separate
    // cross-join+agg passes (each re-scanning customer and re-hashing
    // every key) joined back on key — one shuffle join + one exchange +
    // one scan more than needed. Both owners are conditional minima
    // over the SAME 144-row broadcast ring, so one pass computes all
    // four (guide §2.4: remove shuffles outright). Same integer math,
    // identical output; the oracle keeps its two-CTE spelling.
    t(spark, dir, "customer")
      .select(col("c_custkey").as("key"),
        TextOps.portableHash(concat(lit("key:"),
          col("c_custkey").cast("string"))).as("kpos"))
      .join(broadcast(ring.select(col("node"), col("rk"), col("pos"))),
        lit(true))
      .groupBy(col("key"))
      .agg(
        min(when(col("node") < 8 && col("pos") >= col("kpos"),
          col("rk"))).as("s8"),
        min(when(col("node") < 8, col("rk"))).as("w8"),
        min(when(col("pos") >= col("kpos"), col("rk"))).as("s9"),
        min(col("rk")).as("w9"))
      .select(col("key"),
        expr("(coalesce(s8, w8) % 256) DIV 16").as("owner8"),
        expr("(coalesce(s9, w9) % 256) DIV 16").as("owner9"))
      .groupBy(col("owner8"), col("owner9"))
      .agg(count(lit(1)).as("n_keys"))
      .withColumn("moved", col("owner8") =!= col("owner9"))
  }

  val catalog: Seq[Q] = Seq(
    Q("q275_ring_rebalance", ringRebalance _,
      """WITH ring AS (
        |  SELECT n.i AS node, v.j AS v,
        |    ('0x' || substr(md5('ring:n' || CAST(n.i AS VARCHAR) || ':'
        |      || CAST(v.j AS VARCHAR)), 1, 8))::BIGINT AS pos
        |  FROM range(0, 9) n(i) CROSS JOIN range(0, 16) v(j)),
        |rk AS (
        |  SELECT node, pos * 256 + node * 16 + v AS rk, pos FROM ring),
        |keys AS (
        |  SELECT c_custkey AS key,
        |    ('0x' || substr(md5('key:' || CAST(c_custkey AS VARCHAR)),
        |      1, 8))::BIGINT AS kpos
        |  FROM customer),
        |o8 AS (
        |  SELECT key,
        |    (coalesce(min(CASE WHEN pos >= kpos THEN rk END),
        |      min(rk)) % 256) // 16 AS owner8
        |  FROM keys, rk WHERE node < 8 GROUP BY key),
        |o9 AS (
        |  SELECT key,
        |    (coalesce(min(CASE WHEN pos >= kpos THEN rk END),
        |      min(rk)) % 256) // 16 AS owner9
        |  FROM keys, rk GROUP BY key)
        |SELECT owner8, owner9, count(*) AS n_keys,
        |  owner8 <> owner9 AS moved
        |FROM o8 JOIN o9 USING (key) GROUP BY 1, 2""".stripMargin),
    Q("q271_dynamic_pruning", dynamicPruning _,
      """WITH dimf AS (
        |  SELECT DISTINCT year(o_orderdate) AS yr FROM orders
        |  WHERE year(o_orderdate) >= 1999),
        |o AS (
        |  SELECT year(o_orderdate) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o.yr, count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM o JOIN dimf ON o.yr = dimf.yr GROUP BY 1""".stripMargin),
    Q("q219_compaction_plan", compactionPlan _,
      """WITH shards AS (
        |  SELECT doc_id % 64 AS shard, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT shard, n_docs, bytes,
        |    COALESCE(sum(bytes) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM shards)
        |SELECT CAST(cum_prev // 200000 AS BIGINT) AS file_id,
        |  count(*) AS n_shards, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  min(shard) AS first_shard, max(shard) AS last_shard
        |FROM c GROUP BY 1""".stripMargin),
    Q("q209_bucketed_join", bucketedJoin _,
      """SELECT o_orderpriority AS priority, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),
    Q("q190_global_ordinals", globalOrdinals _,
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT AS hk
        |  FROM documents)
        |SELECT doc_id, hk % 64 AS bucket,
        |  row_number() OVER (ORDER BY hk % 64, hk, doc_id) AS ordinal
        |FROM d""".stripMargin),
    Q("q157_layout_pruning", layoutPruning _,
      s"""WITH d AS (
         |  SELECT o_orderkey, (o_custkey & 255) AS xb,
         |    (CAST(floor(o_totalprice / 2048.0) AS BIGINT) & 255) AS yb
         |  FROM orders),
         |z AS (
         |  SELECT o_orderkey, xb, yb,
         |    (${ZOrderOps.expandedSql("xb", "yb")}) AS z
         |  FROM d),
         |base AS (SELECT o_orderkey, xb, yb, xb AS x, yb AS y FROM d),
         |${HilbertOps.chainSql("base", "o_orderkey, xb, yb")},
         |mk AS (SELECT max(o_orderkey) AS mx FROM d),
         |b AS (
         |  SELECT 'natural' AS layout,
         |    o_orderkey * 64 // (mx + 1) AS bucket, xb, yb FROM z, mk
         |  UNION ALL
         |  SELECT 'zorder' AS layout, z >> 10 AS bucket, xb, yb FROM z
         |  UNION ALL
         |  SELECT 'hilbert' AS layout, h >> 10 AS bucket, xb, yb FROM h8),
         |g AS (
         |  SELECT layout, bucket, count(*) AS n,
         |    min(xb) AS mnx, max(xb) AS mxx,
         |    min(yb) AS mny, max(yb) AS mxy,
         |    sum(CASE WHEN xb BETWEEN 64 AND 127 AND yb BETWEEN 0 AND 63
         |        THEN 1 ELSE 0 END) AS nm
         |  FROM b GROUP BY 1, 2)
         |SELECT layout, count(*) AS n_buckets,
         |  CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 127
         |      AND mxy >= 0 AND mny <= 63 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit_buckets,
         |  CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 127
         |      AND mxy >= 0 AND mny <= 63 THEN n ELSE 0 END) AS BIGINT)
         |    AS rows_scanned,
         |  CAST(sum(nm) AS BIGINT) AS rows_matching
         |FROM g GROUP BY 1""".stripMargin),
    Q("q174_corpus_shuffle", corpusShuffle _,
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) AS pos
        |FROM h""".stripMargin),
    Q("q126_shard_manifest", shardManifest _,
      """SELECT
        |  ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |    ::BIGINT % 8 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_doc,
        |  max(doc_id) AS max_doc,
        |  CAST(sum(('0x' || substr(md5(md5(text)), 1, 8))::BIGINT)
        |    AS BIGINT) AS checksum
        |FROM documents GROUP BY 1""".stripMargin),
    Q("q162_hilbert_cluster", hilbertCluster _,
      s"""WITH d AS (
         |  SELECT o_orderkey, (o_custkey & 255) AS xb,
         |    (CAST(floor(o_totalprice / 2048.0) AS BIGINT) & 255) AS yb
         |  FROM orders),
         |base AS (SELECT o_orderkey, xb, yb, xb AS x, yb AS y FROM d),
         |${HilbertOps.chainSql("base", "o_orderkey, xb, yb")}
         |SELECT o_orderkey, xb, yb, CAST(h AS BIGINT) AS h
         |FROM h8 ORDER BY h ASC, o_orderkey ASC LIMIT 100""".stripMargin),
    Q("q104_zorder_cluster", zorderCluster _,
      s"""WITH d AS (
         |  SELECT o_orderkey, (o_custkey & 255) AS xb,
         |    (CAST(floor(o_totalprice / 2048.0) AS BIGINT) & 255) AS yb
         |  FROM orders)
         |SELECT o_orderkey, xb, yb,
         |  (${ZOrderOps.expandedSql("xb", "yb")}) AS z
         |FROM d ORDER BY z ASC, o_orderkey ASC LIMIT 100""".stripMargin)
  )
}
