package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{ApproxAgg, SkewJoin}
import graft.sources.{PartitionedWrite, Tables}

class SourcesSpec extends SparkSpec {

  test("DSv2 census source: partition per payload file, header-derived schema") {
    val dir = Files.createTempDirectory("graft_dsv2").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/y2017.json"),
      """[["NAME","DP03_0062E","state"],["Mississippi","42009","28"],["Missouri","51542","29"]]""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/y2018.json"),
      """[["NAME","DP03_0062E","state"],["Mississippi","43567","28"]]""")
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", dir).load()
    assert(df.columns.toSeq === Seq("NAME", "DP03_0062E", "state"))
    assert(df.count() === 3)
    assert(df.rdd.getNumPartitions === 2) // one per staged payload
    assert(df.filter(col("state") === "28").count() === 2)
  }

  test("normalizeTs: every physical ts form the feed has shipped loads " +
      "to identical LTZ instants") {
    import org.apache.spark.sql.types._
    // one known instant: 2024-01-05 07:30:15 UTC
    val micros = 1704439815000000L
    val dir = Files.createTempDirectory("graft_tsforms")
    // form 1: nanosecond long (TIMESTAMP(NANOS) under nanosAsLong)
    spark.range(1).select(lit(micros * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ns")
    // form 2: TIMESTAMP_NTZ micros (the current feed)
    spark.range(1)
      .select(timestamp_micros(lit(micros)).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ntz")
    // form 3: already-LTZ micros (the normalized target — must pass through)
    spark.range(1).select(timestamp_micros(lit(micros)).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ltz")
    val outs = Seq("ns", "ntz", "ltz").map { form =>
      val df = Tables.normalizeTs(spark.read.parquet(s"$dir/$form"))
      assert(df.schema("ts").dataType === TimestampType,
        s"$form did not normalize to LTZ")
      df.select(col("ts").cast("long")).collect()(0).getLong(0)
    }
    assert(outs.distinct === Seq(micros / 1000000L),
      s"forms disagree on the instant: $outs")
  }

  test("Tables.load schema memo: (mtime T, n+1 entries) and (T+1, n " +
      "entries) are different stamps") {
    import java.io.File
    val dir = Files.createTempDirectory("graft_schemamemo").toString
    val path = s"$dir/t.parquet"
    def stamp(mtime: Long): Int = {
      val d = new File(path)
      val kids = d.listFiles()
      (d +: kids).foreach(_.setLastModified(mtime))
      kids.length
    }
    val t0 = 1600000000000L
    spark.range(3).select(col("id").as("a")).coalesce(1)
      .write.parquet(path)
    val n = stamp(t0)
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    // regenerate in place with a new schema and one entry fewer, one
    // millisecond later: the sum mtime + count is unchanged
    org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
    spark.range(3).select(col("id").cast("string").as("b")).coalesce(1)
      .write.parquet(path)
    new File(path).listFiles().filter(_.getName.startsWith("."))
      .head.delete()
    assert(stamp(t0 + 1) === n - 1)
    val back = Tables.load(spark, dir, "t")
    assert(back.columns.toSeq === Seq("b"), "stale memoized schema served")
    assert(back.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("0", "1", "2"))
  }

  test("partitioned parquet write prunes partitions on year predicate") {
    val dir = Files.createTempDirectory("graft_part").toString
    val orders = Tables.load(spark, sf, "orders")
    PartitionedWrite.writeByYear(orders, "o_orderdate", s"$dir/orders")
    val back = PartitionedWrite.read(spark, s"$dir/orders")
    assert(back.count() === orders.count())
    val pruned = back.filter(col("p_year") === 1996)
    // plan must carry a PartitionFilters entry on p_year (no data filter)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_year"),
      s"partition pruning missing from plan:\n$plan")
    val expected = orders.filter(year(col("o_orderdate")) === 1996).count()
    assert(pruned.count() === expected)
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_wh").toString
    val orders = Tables.load(spark, sf, "orders")
    val customer = Tables.load(spark, sf, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/b_customer").saveAsTable("b_customer")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).count()
      val plan = j.queryExecution.executedPlan.toString
      // bucketing co-locates both sides: the join itself needs no Exchange
      // (only the final aggregation shuffles on c_nationkey)
      val joinSection = plan.split("HashAggregate").last
      assert(joinSection.contains("SortMergeJoin"), s"plan:\n$plan")
      assert(!joinSection.contains("Exchange hashpartitioning(o_custkey") &&
        !joinSection.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("dynamic partition pruning fires on partitioned fact x filtered dim") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_dpp").toString
    val orders = Tables.load(spark, sf, "orders")
    PartitionedWrite.writeByYear(orders, "o_orderdate", s"$dir/fact")
    val fact = PartitionedWrite.read(spark, s"$dir/fact")
    Seq((1996, "keep"), (1997, "drop")).toDF("p_year", "tag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim") // file-backed: filter survives
    val j = fact.join(dim.filter(col("tag") === "keep"), Seq("p_year"))
    val plan = j.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"DPP missing from plan:\n$plan")
    val expected = orders
      .filter(graft.operators.Relational.inYear(col("o_orderdate"), 1996))
      .count()
    assert(j.count() === expected)
  }

  test("salted join equals plain join (skew mitigation is invisible)") {
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val salted = SkewJoin.saltedSupplierJoin(spark, sf)
      .collect().map(r => (r.getAs[Int]("nation_id"), r.getAs[Long]("n")))
      .toMap
    assert(salted === plain)
  }

  test("binaryFile source: one row per staged blob, exact byte identity") {
    val out = graft.operators.Multimodal.binaryFileSource(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size === 50)
    val want = graft.operators.Multimodal.mediaTable(spark, sf)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("meta.n_bytes").cast("long").as("nb"),
        md5(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out === want)
  }

  test("Tables.fileStamp is byte-identical to the per-file size+mtime " +
      "md5 that persisted index fingerprints and bucket markers hold") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    // the formula stamps were persisted with, kept inline as the reference
    def reference(roots: Path*): String = {
      val lines = roots.flatMap { root =>
        if (!Files.exists(root)) Seq.empty[String]
        else Files.walk(root).iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(f => s"$f:${Files.size(f)}:" +
            s"${Files.getLastModifiedTime(f).toMillis}")
          .toSeq.sorted
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(lines.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val d = Files.createTempDirectory("graft_stamp").toAbsolutePath
    try {
      Files.createDirectories(d.resolve("a/b"))
      Seq("a/x.parquet" -> "xx", "a/b/y.parquet" -> "yyy", "_SUCCESS" -> "",
        "a/b/.y.parquet.crc" -> "c").foreach { case (f, body) =>
        Files.writeString(d.resolve(f), body)
      }
      Files.setLastModifiedTime(d.resolve("a/x.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(1234567890123L))
      val abs = Paths.get(sf).toAbsolutePath.normalize
      val cases = Seq(Seq(d), Seq(d.resolve("a"), d),
        Seq(d.resolve("none")), Seq(abs.resolve("embeddings.parquet")),
        Seq(abs.resolve("orders.parquet"), abs.resolve("lineitem.parquet")))
      cases.foreach(roots =>
        assert(Tables.fileStamp(roots: _*) === reference(roots: _*), roots))
    } finally Files.walk(d).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    assert(Tables.md5Hex("graft") === java.security.MessageDigest
      .getInstance("MD5").digest("graft".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
  }

  test("q271 and q182 stage through Relational.stagedDir: a later " +
      "stagedDir of the same (kind, dir) reuses the copy without writing") {
    import graft.operators.{Layout, Multimodal, Relational}
    Layout.dynamicPruning(spark, sf).collect()
    Multimodal.binaryFileSource(spark, sf).collect()
    Seq("dpp" -> "orders_part", "binfiles" -> "doc_00000.bin").foreach {
      case (kind, entry) =>
        var wrote = false
        val base = Relational.stagedDir(kind, sf)(_ => wrote = true)
        assert(!wrote, s"stagedDir(\"$kind\") wrote a second copy")
        assert(Files.exists(java.nio.file.Paths.get(base, entry)),
          s"$kind stage at $base lacks $entry")
    }
  }

  test("avro roundtrip: all five supported types + nulls survive " +
      "write/read byte-exactly; one file per non-empty partition") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("avro_rt").toString
    val rows = Seq(
      (1L, Some("alpha"), Some(1.5), Some(7), Some(true)),
      (2L, None, Some(-0.0), Some(-7), Some(false)),
      (3L, Some(""), None, None, None),
      (4L, Some("café ✓"), Some(Double.MaxValue), Some(Int.MinValue),
        Some(true)))
    val df = rows.toDF("id", "s", "d", "i", "b").repartition(3)
    graft.sources.AvroIo.write(df, tmp)
    val back = spark.read.format("graft.sources.AvroSource")
      .option("path", tmp).load()
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    val got = back.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.toString),
      Option(r.get(2)).map(_.asInstanceOf[Double]),
      Option(r.get(3)).map(_.asInstanceOf[Int]),
      Option(r.get(4)).map(_.asInstanceOf[Boolean]))).sortBy(_._1)
    assert(got.toSeq === rows.sortBy(_._1))
    // signed zero survives (the q73 class of fidelity bug)
    val dz = got.find(_._1 == 2L).get._3.get
    assert(java.lang.Double.doubleToRawLongBits(dz) ===
      java.lang.Double.doubleToRawLongBits(-0.0))
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.length <= 3)
  }

  test("approx distinct within rsd bound of exact; approx median sane") {
    val exact = Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ApproxAgg.approxAgg(spark, sf).collect().foreach { r =>
      val e = exact(r.getAs[String]("o_orderstatus")).toDouble
      // portable 64-register HLL: rsd = 1.04/sqrt(64) = 13%; allow 2 rsd
      val a = r.getAs[Double]("approx_cust")
      assert(math.abs(a - e) / e < 0.26, s"approx $a vs exact $e")
      assert(r.getAs[Double]("approx_median") > 0)
    }
  }
}
