package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

case class RawEv(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  private def mkStream(rows: Seq[RawEv]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEv]
    ms.addData(rows: _*)
    ms
  }

  test("streaming tumbling window equals batch aggregation (Complete mode)") {
    import spark.implicits._
    val rows = Seq(
      RawEv(1, ts("2024-01-01 00:00:10"), 1, "click", 1.0, "{}"),
      RawEv(2, ts("2024-01-01 00:00:50"), 1, "click", 2.0, "{}"),
      RawEv(3, ts("2024-01-01 00:01:10"), 2, "view", 3.0, "{}"),
      RawEv(4, ts("2024-01-01 00:03:10"), 2, "view", 4.0, "{}"))
    val ms = mkStream(rows)
    val q = EventStreams.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumb")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumb").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("bucket_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n"),
          r.getAs[Double]("total"))).toSet
      assert(got === Set(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 00:01:00.0", "view", 1L, 3.0),
        ("2024-01-01 00:03:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("watermark drops rows later than the delay: the q235 lateness " +
      "histogram is what sizes this correctly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 2-minute delay. Batch 1 puts two rows in window 00:00 and advances
    // the max event time to 00:10 -> after the batch the watermark is
    // 00:08 and window [00:00, 00:01) finalizes. Batch 2 delivers a
    // 00:00:30 straggler (lateness ~9.5 min > the 2-min delay): it must
    // be DROPPED, not merged - the finalized window stays at n=2. An
    // on-time 00:12 row rides along to prove the stream still advances.
    val ms = MemoryStream[RawEv]
    val q = EventStreams.tumblingCounts(ms.toDF(), "2 minutes")
      .writeStream.format("memory").queryName("wmdrop")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(
        RawEv(1, ts("2024-01-01 00:00:10"), 1, "click", 1.0, "{}"),
        RawEv(2, ts("2024-01-01 00:00:40"), 1, "click", 2.0, "{}"),
        RawEv(3, ts("2024-01-01 00:10:00"), 2, "view", 3.0, "{}"))
      q.processAllAvailable()
      ms.addData(
        RawEv(4, ts("2024-01-01 00:00:30"), 1, "click", 99.0, "{}"),
        RawEv(5, ts("2024-01-01 00:12:00"), 2, "view", 4.0, "{}"))
      q.processAllAvailable()
      ms.addData( // push the watermark far enough to flush everything
        RawEv(6, ts("2024-01-01 00:30:00"), 2, "view", 5.0, "{}"))
      q.processAllAvailable()
      val w0 = spark.table("wmdrop").collect()
        .filter(_.getAs[java.sql.Timestamp]("bucket_start").toString
          .startsWith("2024-01-01 00:00:00"))
      assert(w0.length === 1, s"window 00:00 emitted ${w0.length} rows")
      assert(w0(0).getAs[Long]("n") === 2L,
        "late straggler was merged instead of dropped")
      assert(w0(0).getAs[Double]("total") === 3.0)
      // the engine's own accounting agrees: some batch reported the drop
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "no batch reported a watermark drop")
    } finally q.stop()
  }

  test("streaming sliding window: each event lands in 2 windows") {
    import spark.implicits._
    val rows = Seq(
      RawEv(1, ts("2024-01-01 05:30:00"), 1, "click", 1.0, "{}"),
      RawEv(2, ts("2024-01-01 06:30:00"), 1, "click", 1.0, "{}"))
    val ms = mkStream(rows)
    val q = EventStreams.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("slide")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val total = spark.table("slide")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(total === 4) // 2 events x 2 windows
    } finally q.stop()
  }

  test("streaming session_window merges events within gap") {
    import spark.implicits._
    val rows = Seq(
      RawEv(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0, "{}"),
      RawEv(2, ts("2024-01-01 00:10:00"), 7, "click", 2.0, "{}"),
      RawEv(3, ts("2024-01-01 02:00:00"), 7, "click", 4.0, "{}"))
    val ms = mkStream(rows)
    val q = EventStreams.sessionCounts(ms.toDF())
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("total"))).toSet
      assert(got === Set((7L, 2L, 3.0), (7L, 1L, 4.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer closes sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventStreams.sessionizeStateful(ms.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("statesess")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(Ev(9, ts("2024-01-01 00:00:00"), 1.0),
                 Ev(9, ts("2024-01-01 00:05:00"), 2.0))
      q.processAllAvailable()
      assert(spark.table("statesess").count() === 0) // session still open
      ms.addData(Ev(9, ts("2024-01-01 06:00:00"), 5.0))
      q.processAllAvailable()
      val closed = spark.table("statesess").collect()
      assert(closed.length === 1)
      assert(closed(0).getAs[Int]("n_events") === 2)
      assert(closed(0).getAs[Double]("total_value") === 3.0)
    } finally q.stop()
  }

  test("event-time timeout flushes an idle open session at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEv]
    val q = EventStreams.sessionizeTimeout(
        ms.toDF().withWatermark("ts", "30 minutes")
          .select(col("user_id"), col("ts"), col("value"))
          .as[EventStreams.Ev], gapSec = 1800)
      .writeStream.format("memory").queryName("sesstimeout")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(RawEv(1, ts("2024-01-01 00:00:00"), 9, "click", 1.0, "{}"),
                 RawEv(2, ts("2024-01-01 00:05:00"), 9, "click", 2.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("sesstimeout").count() === 0) // session open
      // another USER's far-future event advances the global watermark
      // past user 9's (last + gap) timeout
      ms.addData(RawEv(3, ts("2024-01-01 06:00:00"), 8, "click", 1.0, "{}"))
      q.processAllAvailable()
      ms.addData(RawEv(4, ts("2024-01-01 06:01:00"), 8, "click", 1.0, "{}"))
      q.processAllAvailable()
      val flushed = spark.table("sesstimeout").collect()
        .filter(_.getAs[Long]("user_id") == 9L)
      assert(flushed.length === 1, "idle session did not flush on timeout")
      assert(flushed(0).getAs[Int]("n_events") === 2)
      assert(flushed(0).getAs[Long]("end_sec") ===
        ts("2024-01-01 00:05:00").getTime / 1000)
    } finally q.stop()
  }

  test("stateful enrichment carries gap/index state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventStreams.Ev2]
    val q = EventStreams.enrichStateful(ms.toDS())
      .writeStream.format("memory").queryName("stateenrich")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(EventStreams.Ev2(7, 100, ts("2024-01-01 00:00:00")),
                 EventStreams.Ev2(7, 101, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // Second batch: gap must be measured against batch-1's last event.
      ms.addData(EventStreams.Ev2(7, 102, ts("2024-01-01 01:10:00")))
      q.processAllAvailable()
      val rows = spark.table("stateenrich").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("gap_sec"), r.getAs[Long]("seq"))).toMap
      assert(rows(100L) === (-1L, 1L))
      assert(rows(101L) === (600L, 2L))
      assert(rows(102L) === (3600L, 3L)) // state crossed the batch boundary
    } finally q.stop()
  }

  test("streaming AS-OF: a version change between batches re-routes " +
      "subsequent facts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventStreams.TagEv]
    val q = EventStreams.asofEnrichStateful(ms.toDS())
      .writeStream.format("memory").queryName("asofstate")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: fact before any version (NULL miss), version v1 at
      // t=100, fact at t=150 → enriched with v1; a SAME-instant fact at
      // t=100 must also see v1 (dims sort before facts at equal usec)
      ms.addData(
        EventStreams.TagEv(5, 10, 50L, 1, 0L),
        EventStreams.TagEv(5, 1, 100L, 0, 777L),
        EventStreams.TagEv(5, 11, 100L, 1, 0L),
        EventStreams.TagEv(5, 12, 150L, 1, 0L))
      q.processAllAvailable()
      // batch 2: version v2 at t=200, then facts at 250 and 260 — they
      // must pick up v2, proving the carried version crossed the
      // boundary AND was replaced by the in-between update
      ms.addData(
        EventStreams.TagEv(5, 13, 180L, 1, 0L), // still v1 via state
        EventStreams.TagEv(5, 2, 200L, 0, 888L),
        EventStreams.TagEv(5, 14, 250L, 1, 0L),
        EventStreams.TagEv(5, 15, 260L, 1, 0L))
      q.processAllAvailable()
      val rows = spark.table("asofstate").collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((Option(r.getAs[java.lang.Long]("valid_cents")).map(_.toLong),
            r.getAs[Long]("ver_seq")))).toMap
      assert(rows(10L) === ((None, 0L)))         // pre-version miss
      assert(rows(11L) === ((Some(777L), 1L)))   // same-instant version
      assert(rows(12L) === ((Some(777L), 1L)))
      assert(rows(13L) === ((Some(777L), 1L)))   // v1 carried across batch
      assert(rows(14L) === ((Some(888L), 2L)))   // re-routed to v2
      assert(rows(15L) === ((Some(888L), 2L)))
    } finally q.stop()
  }

  test("streaming top-k: the bounded buffer merges across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEv]
    val q = ms.toDF()
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.TopKAgg.topK(
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
        col("event_id"), 3).as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).as("rank"), col("col.id").as("event_id"))
      .writeStream.format("memory").queryName("topkstate")
      .outputMode(OutputMode.Complete).start()
    try {
      ms.addData(
        RawEv(1, ts("2024-01-01 01:00:00"), 1, "click", 5.0, "{}"),
        RawEv(2, ts("2024-01-01 02:00:00"), 1, "click", 9.0, "{}"),
        RawEv(3, ts("2024-01-01 03:00:00"), 1, "click", 7.0, "{}"),
        RawEv(4, ts("2024-01-01 04:00:00"), 1, "click", 1.0, "{}"))
      q.processAllAvailable()
      // batch 2: a new maximum must enter, the old 3rd (id 1) must fall
      ms.addData(RawEv(5, ts("2024-01-01 05:00:00"), 1, "click", 8.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("topkstate").collect()
        .map(r => r.getAs[Int]("rank") -> r.getAs[Long]("event_id")).toMap
      assert(got === Map(1 -> 2L, 2 -> 5L, 3 -> 3L))
    } finally q.stop()
  }

  test("stream-stream join: purchases within 30 min of a click, per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[RawEv]
    val purchases = MemoryStream[RawEv]
    clicks.addData(
      RawEv(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0, "{}"),
      RawEv(2, ts("2024-01-01 12:00:00"), 2, "click", 0.0, "{}"))
    purchases.addData(
      RawEv(3, ts("2024-01-01 10:10:00"), 1, "purchase", 9.5, "{}"), // joins
      RawEv(4, ts("2024-01-01 11:00:00"), 1, "purchase", 7.0, "{}"), // late
      RawEv(5, ts("2024-01-01 12:05:00"), 2, "purchase", 3.0, "{}")) // joins
    val q = EventStreams.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toSet
      assert(got === Set((1L, 9.5), (2L, 3.0)))
    } finally q.stop()
  }

  test("streaming exactly-once dedup: watermarked dropDuplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEv]
    val deduped = ms.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(
        RawEv(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0, "{}"),
        RawEv(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0, "{}")) // dup
      q.processAllAvailable()
      ms.addData( // replay across batches — state catches it
        RawEv(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0, "{}"),
        RawEv(2, ts("2024-01-01 00:10:00"), 1, "view", 2.0, "{}"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("file streaming source: parquet dir drained incrementally") {
    import org.apache.spark.sql.functions.sum
    val dir = tempDir("graft_stream").toString
    val events = graft.sources.Tables.load(spark, sf, "events")
    events.limit(300).write.parquet(s"$dir/in/batch1")
    // file source reads the dir as an unbounded stream of new files
    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*")
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("filestream")
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("filestream").agg(sum("n"))
        .collect()(0).getLong(0)
      assert(n1 === 300)
      events.limit(500).write.mode("overwrite").parquet(s"$dir/in/batch2")
      q.processAllAvailable()
      val n2 = spark.table("filestream").agg(sum("n"))
        .collect()(0).getLong(0)
      assert(n2 === 800) // both file batches absorbed
    } finally q.stop()
  }

  test("foreachBatch sink: idempotent per-batch parquet writes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_feb").toString
    val ms = MemoryStream[RawEv]
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id")
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      ms.addData(RawEv(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0, "{}"))
      q.processAllAvailable()
      ms.addData(RawEv(2, ts("2024-01-01 00:01:00"), 1, "view", 2.0, "{}"))
      q.processAllAvailable()
      val written = spark.read.parquet(s"$dir/out/batch_*")
      assert(written.count() === 2)
    } finally q.stop()
  }

  test("stream-vs-batch equivalence on real events table (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables.load(spark, sf, "events")
    val rows = events.as[RawEv].collect().toSeq
    val ms = MemoryStream[RawEv]
    ms.addData(rows: _*)
    val q = EventStreams.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumb_real")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamTotal = spark.table("tumb_real")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(streamTotal === events.count())
      val batch = EventStreams.tumblingCounts(events)
      assert(spark.table("tumb_real").count() === batch.count())
    } finally q.stop()
  }

  test("stream-static join equals the batch join (no join state kept)") {
    val out = operators.StreamQueries.streamStaticEnrich(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).sorted
    val ev = sources.Tables.load(spark, sf, "events")
    val dim = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = ev.join(dim, ev("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).sorted
    assert(out === batch)
  }

  test("stream decontamination: anti-join drops exactly the banned slice") {
    val out = operators.StreamQueries.streamDecontaminate(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val banned = spark.read.parquet(s"$sf/customer.parquet")
      .filter(functions.TextOps.portableHash(
        concat(lit("ban:"), col("c_custkey").cast("string"))) % 5 === 0)
      .select(col("c_custkey"))
    val expect = ev.join(banned,
      ev("user_id") === banned("c_custkey"), "left_anti").count()
    assert(out === expect)
    // the filter is real: some events are actually dropped
    assert(out < ev.count())
  }

  test("chained stateful stream (dedup -> agg) equals batch distinct") {
    val out = operators.StreamQueries.streamDistinctUsers(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val batch = sources.Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("long").as("hr_start"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out === batch)
  }

  test("streamed HLL sketch equals the batch aggregation row-for-row") {
    val out = operators.StreamQueries.streamHll(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val batch = sources.Tables.load(spark, sf, "events")
      .groupBy(date_trunc("day", col("ts")).cast("long").as("day_start"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.HllAgg.hllRegs(
          graft.functions.TextOps.portableHash60(
            col("user_id").cast("string")), 16).as("regs"))
      .select(col("day_start"), col("n_events"),
        expr("aggregate(regs, CAST(0 AS BIGINT), " +
          "(a, r) -> a + shiftleft(CAST(1 AS BIGINT), 57 - r))").as("s"))
      .select(col("day_start"), col("n_events"),
        round(lit(graft.functions.HllAgg.Alpha(16)) * lit(256.0) *
          lit((1L << 57).toDouble) / col("s"), 4).as("hll_users"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(out === batch)
    // estimates are positive and finite even at tiny day cardinality
    assert(out.forall(r => r._3 > 0 && !r._3.isInfinite))
  }

  test("stream outer join: unmatched clicks emit NULL rows after watermark") {
    val out = operators.StreamQueries.streamOuterJoin(spark, sf).cache()
    val unmatched = out.filter(col("purchase_sec").isNull).count()
    // batch recompute of clicks with no purchase in the window
    val ev = sources.Tables.load(spark, sf, "events")
    val c = ev.filter(col("event_type") === "click" &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
      .select(col("user_id"), col("event_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val expected = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"),
        "left_anti").count()
    assert(unmatched === expected)
    assert(unmatched > 0, "fixture should contain unmatched clicks")
    out.unpersist()
  }

  test("stream full outer join: unmatched == batch anti-join on BOTH sides") {
    val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))
    val out = operators.StreamQueries.streamFullOuterJoin(spark, sf).cache()
    val ev = sources.Tables.load(spark, sf, "events")
    val c = ev.filter(col("event_type") === "click" && col("ts") < cutoff)
      .select(col("user_id"), col("event_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase" && col("ts") < cutoff)
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val joinCond = col("user_id") === col("pu") &&
      col("pts") >= col("cts") &&
      col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES")
    // click side: rows with NULL purchase == clicks with no purchase
    val unmatchedClicks = out.filter(col("purchase_sec").isNull).count()
    assert(unmatchedClicks === c.join(p, joinCond, "left_anti").count())
    // purchase side: rows with NULL click == purchases with no click
    val unmatchedPurchases = out.filter(col("click_id").isNull).count()
    assert(unmatchedPurchases === p.join(c, joinCond, "left_anti").count())
    assert(unmatchedClicks > 0 && unmatchedPurchases > 0,
      "fixture should exercise both unmatched sides")
    // matched rows equal the inner join's
    val matched = out.filter(col("click_id").isNotNull &&
      col("purchase_sec").isNotNull).count()
    assert(matched === c.join(p, joinCond).count())
    out.unpersist()
  }

  test("stream semi join: each converting click exactly once == batch semi") {
    val out = operators.StreamQueries.streamSemiJoin(spark, sf).cache()
    // at most once per click: click_id is unique in the output
    assert(out.count() === out.select("click_id").distinct().count())
    val ev = sources.Tables.load(spark, sf, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val expected = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"),
        "left_semi").count()
    assert(out.count() === expected)
    assert(out.count() > 0, "fixture should contain converting clicks")
    out.unpersist()
  }

  test("chained stateful join->window agg equals batch join+agg") {
    val out = operators.StreamQueries.streamJoinAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)))).sortBy(_._1)
    val ev = sources.Tables.load(spark, sf, "events")
    val c = ev.filter(col("event_type") === "click" &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
      .select(col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("value"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(date_trunc("hour", col("cts")).as("hr"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("tv"))
      .select(col("hr").cast("long"), col("n"), col("tv")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)))).sortBy(_._1)
    assert(out.nonEmpty, "fixture should produce conversion windows")
    assert(out === batch)
  }

  test("rocksdb state store produces the identical chained-stateful result") {
    val rocks = operators.StreamQueries.streamRocksdb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val heap = operators.StreamQueries.streamDistinctUsers(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rocks === heap)
    assert(rocks.nonEmpty)
    // the provider conf was restored (scoped to the query)
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").forall(
        !_.contains("RocksDB")))
  }

  test("cms heavy hitters: estimate only ever overestimates") {
    val rows = operators.ApproxAgg.cmsHeavyHitters(spark, sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val (t, e) = (r.getAs[Long]("true_cnt"), r.getAs[Long]("cms_est"))
      assert(e >= t, s"CMS underestimated ${r.getAs[String]("tok")}")
    }
  }

  test("checkpoint RESUME: chained join->agg on RocksDB survives a restart " +
      "with no loss and no duplicates") {
    // The recovery property production streaming rests on, and the one
    // thing the single-batch determinism recipe never exercises: run the
    // q175 chained stateful pipeline (stream-stream join -> window agg)
    // over TWO separate query runs sharing one checkpoint. Run 1 ends
    // with a click (user 9, 02:40) still unmatched in join state and the
    // 02:00 window still open; run 2 restarts FROM THE CHECKPOINT, feeds
    // the matching purchase plus tail events, and must emit exactly the
    // cross-restart conversion — provable only if the join state, the
    // watermark, and the window state all came back from the checkpoint.
    //
    // Timing is exact to the minute because chained stateful operators
    // give the DOWNSTREAM window agg a DELAYED watermark (global minus
    // the join's 30-min interval bound — the join can emit rows that
    // old). Run 1's watermark lands at 03:05: window 01:00 flushes
    // (03:05−30min > 02:00), the 02:40 click's join state survives
    // (03:05 < 02:40+30min), the 02:00 window stays open
    // (03:05−30min < 03:00). Run 2's purchase sits at 03:08 — above the
    // restored 03:05 watermark (not late) yet within the click's 30-min
    // join horizon (≤ 03:10). The sink is the FILE sink (the memory
    // sink refuses checkpoint recovery by design): its _spark_metadata
    // commit log is the production exactly-once mechanism, so re-emission
    // of run 1's finalized window would show up as a duplicate row when
    // the output directory is read back.
    import java.nio.file._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.StreamQueries
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(key)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val srcDir = tempDir("graft_resume_src")
    val ckpt = tempDir("graft_resume_ckpt")
    val outDir = tempDir("graft_resume_out")
    try {
      def ns(hhmm: String): Long =
        ts(s"2024-01-01 $hhmm:00").getTime * 1000000L
      def stage(name: String,
          rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
        import spark.implicits._
        val tmp = tempDir("graft_resume_stage")
        rows.toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
          // the feed's physical shape: TIMESTAMP(MICROS) without UTC
          // adjustment (NTZ) — rawSchemaOf picks it up from the footer
          .withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, srcDir.resolve(name))
      }
      def runOnce(): Unit = {
        val ev = sources.Tables.normalizeTs(
          spark.readStream
            .schema(StreamQueries.rawSchemaOf(spark, srcDir.toString))
            .parquet(srcDir.toString))
        val q = StreamQueries.joinAggTransform(ev).writeStream
          .format("parquet").option("path", outDir.toString)
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def sinkRows(): Seq[(Long, Long, Double)] =
        spark.read.parquet(outDir.toString).collect().toSeq.map(r =>
          (r.getAs[Long]("hr_start"), r.getAs[Long]("n_conversions"),
            r.getAs[Double]("total_value")))
      // run 1: one same-batch conversion in the 01:00 window; the 03:35
      // tail rows on both sides pin the run-1 watermark at exactly 03:05
      stage("batch1.parquet", Seq(
        (1L, ns("01:50"), 7L, "click", 0.0, "{}"),
        (2L, ns("01:52"), 7L, "purchase", 10.0, "{}"),
        (3L, ns("02:40"), 9L, "click", 0.0, "{}"),
        (4L, ns("02:45"), 99L, "purchase", 5.0, "{}"),
        (5L, ns("03:35"), 11L, "click", 0.0, "{}"),
        (6L, ns("03:35"), 12L, "purchase", 5.0, "{}")))
      runOnce()
      val run1 = sinkRows()
      // run 2 (fresh query, same checkpoint): the purchase matching the
      // checkpointed click, plus tail events pushing the watermark to
      // 04:00 (delayed window watermark 03:30) so the 02:00 window flushes
      stage("batch2.parquet", Seq(
        (7L, ns("03:08"), 9L, "purchase", 20.0, "{}"),
        (8L, ns("04:30"), 13L, "click", 0.0, "{}"),
        (9L, ns("04:30"), 14L, "purchase", 1.0, "{}")))
      runOnce()
      val afterResume = sinkRows()
      val run2 = afterResume.diff(run1)
      def sec(hhmm: String): Long = ts(s"2024-01-01 $hhmm:00").getTime / 1000
      assert(run1.toSet === Set((sec("01:00"), 1L, 10.0)),
        s"run 1 emitted ${run1.toSeq}")
      assert(run2.toSet === Set((sec("02:00"), 1L, 20.0)),
        s"run 2 after restart emitted ${run2.toSeq}")
      // no window emitted twice across the restart boundary: the sink
      // holds exactly run1 + the one resumed window, no re-emissions
      assert(afterResume.length === run1.length + 1,
        s"duplicate emissions after resume: $afterResume")
      // and the union equals the batch oracle over the full fixture
      val all = sources.Tables.normalizeTs(
        spark.read.parquet(srcDir.toString))
      val c = all.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val p = all.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("value"))
      val batch = c.join(p, col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        .groupBy(window(col("click_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_conversions"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").cast("long").as("hr_start"),
          col("n_conversions"), col("total_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(afterResume.toSet === batch.toSet,
        s"stream resume union $afterResume != batch ${batch.toSeq}")
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      Seq(srcDir, ckpt, outDir).foreach { d =>
        Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
      }
    }
  }

  test("file stream source adapts to every physical ts form the feed has " +
      "shipped: footer-derived schema, one code path, identical results") {
    // The feed regenerated once already (TIMESTAMP(NANOS)/ns-long →
    // TIMESTAMP(MICROS)); a statically declared stream schema breaks on
    // the next flip while the batch path (normalizeTs) survives.
    // rawSchemaOf reads the staged feed's own footer at stream start, so
    // ns-long, NTZ and LTZ stagings all stream through the SAME pipeline
    // — no per-form code — and must yield identical windows.
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.StreamQueries
    import spark.implicits._
    val base = Seq(
      (1L, "2024-01-01 00:00:10", 1L, "click", 1.0),
      (2L, "2024-01-01 00:00:50", 1L, "click", 2.0),
      (3L, "2024-01-01 00:01:10", 2L, "view", 3.0),
      (4L, "2024-01-01 00:03:10", 2L, "purchase", 4.0))
      .toDF("event_id", "tss", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .withColumn("us", unix_timestamp(col("tss")) * 1000000L) // micros
    val forms: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "ns" -> (col("us") * 1000L), // the r1–r7 nanosecond-long feed
      "ntz" -> timestamp_micros(col("us")).cast("timestamp_ntz"),
      "ltz" -> timestamp_micros(col("us"))) // the normalized target
    val outs = forms.map { case (form, tsCol) =>
      val dir = tempDir(s"graft_form_$form").toString
      base.select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val ev = sources.Tables.normalizeTs(
        spark.readStream.schema(StreamQueries.rawSchemaOf(spark, dir))
          .parquet(dir))
      val ckpt = tempDir(s"graft_form_ckpt_$form")
      val q = EventStreams.tumblingCounts(ev).writeStream
        .format("memory").queryName(s"form_$form")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(s"form_$form").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("bucket_start").getTime,
          r.getAs[String]("event_type"), r.getAs[Long]("n"),
          r.getAs[Double]("total"))).toSet
    }
    assert(outs.head.nonEmpty, "stream produced no windows")
    assert(outs.distinct.size === 1,
      s"physical ts forms disagree through the stream source: $outs")
  }

  test("streaming EWMA: the baseline carries ACROSS micro-batches") {
    // The q191 gate stages ONE file (one micro-batch), which never
    // exercises the state carry. Here two files stream as two separate
    // micro-batches (maxFilesPerTrigger=1): batch 1 builds user 7's
    // 100-cent baseline, batch 2 opens with a 10x value — flaggable as
    // a spike ONLY if the ≤16-cent state queue survived the batch
    // boundary (reset state = empty prior = denom 0 = no flag).
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.StreamQueries
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val srcDir = tempDir("graft_ewma_src")
    def stage(name: String, mtimeSec: Long,
        rows: Seq[(Long, String, Long, String, Double)]): Unit = {
      val tmp = tempDir("graft_ewma_stage")
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .withColumn("ts",
          timestamp_micros(unix_timestamp(col("tss")) * 1000000L)
            .cast("timestamp_ntz"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(name)
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeSec * 1000))
    }
    stage("b1.parquet", 1000L, Seq(
      (1L, "2024-01-01 00:00:10", 7L, "click", 1.0),
      (2L, "2024-01-01 00:01:10", 7L, "click", 1.0),
      (3L, "2024-01-01 00:02:10", 7L, "click", 1.0)))
    stage("b2.parquet", 2000L, Seq(
      (4L, "2024-01-01 00:03:10", 7L, "click", 10.0),
      (5L, "2024-01-01 00:04:10", 7L, "click", 1.0)))
    val ev = sources.Tables.normalizeTs(
      spark.readStream
        .schema(StreamQueries.rawSchemaOf(spark, srcDir.toString))
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString))
    val ckpt = tempDir("graft_ewma_ckpt")
    val q = EventStreams.ewmaStateful(
      ev.select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .as[EventStreams.Ev3]).toDF()
      .writeStream.format("memory").queryName("ewma_carry")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the two files really ran as two separate micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) === 2,
      q.recentProgress.map(_.numInputRows).mkString(","))
    val got = spark.table("ewma_carry").collect().map(r =>
      r.getAs[Long]("event_id") -> ((r.getAs[Long]("num"),
        r.getAs[Long]("denom"), r.getAs[Boolean]("is_spike"),
        r.getAs[Boolean]("is_dip")))).toMap
    // brute force over the CONCATENATED sequence — only a surviving
    // state queue reproduces it
    val cents =
      Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 1000L, 5L -> 100L)
    var prior = List.empty[Long] // newest first
    val expected = cents.map { case (id, c) =>
      val num = prior.foldLeft(0L)((a, x) => a * 2 + x)
      val denom = (1L << prior.length) - 1
      val out = id -> ((num, denom, denom > 0 && c * denom > num * 3,
        denom > 0 && c * denom * 3 < num))
      prior = (c :: prior).take(16)
      out
    }.toMap
    assert(got === expected)
    assert(got(4L)._3, "cross-batch baseline lost: spike not flagged")
    assert(got(5L)._4, "dip vs the spike-inflated baseline not flagged")
  }

  test("foreachBatch idempotent upsert sink: a retried micro-batch " +
      "applies as a no-op") {
    // The production pattern for streaming CDC-apply into a plain table:
    // foreachBatch + batchId-keyed commit markers. Spark's contract is
    // AT-LEAST-ONCE delivery to foreachBatch — after a sink failure the
    // SAME batch is redelivered with the SAME batchId, and exactly-once
    // state is the SINK's job: apply(batch, id) must be idempotent in
    // id. State here is a versioned per-user (n, cents) profile; the
    // merge is read-current + unionByName + sum (the q105 MERGE shape),
    // committed by writing v<id> then a marker; a redelivered id
    // returns before touching state.
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.StreamQueries
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val srcDir = tempDir("graft_feb_src")
    def stage(name: String, mtimeSec: Long,
        rows: Seq[(Long, String, Long, String, Double)]): Unit = {
      val tmp = tempDir("graft_feb_stage")
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .withColumn("ts",
          timestamp_micros(unix_timestamp(col("tss")) * 1000000L)
            .cast("timestamp_ntz"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = srcDir.resolve(name)
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeSec * 1000))
    }
    stage("b1.parquet", 1000L, Seq(
      (1L, "2024-01-01 00:00:10", 1L, "click", 1.0),
      (2L, "2024-01-01 00:01:10", 1L, "click", 2.0),
      (3L, "2024-01-01 00:02:10", 2L, "view", 4.0)))
    stage("b2.parquet", 2000L, Seq(
      (4L, "2024-01-01 00:03:10", 1L, "purchase", 8.0),
      (5L, "2024-01-01 00:04:10", 3L, "click", 16.0)))
    val stateDir = tempDir("graft_feb_state")
    def committed(): Seq[Long] = Files.list(stateDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("c"))
      .map(_.drop(1).toLong).toSeq
    def readState(): Map[Long, (Long, Long)] =
      committed().maxOption match {
        case None => Map.empty
        case Some(v) => spark.read.parquet(s"$stateDir/v$v").collect()
          .map(r => r.getAs[Long]("user_id") ->
            ((r.getAs[Long]("n"), r.getAs[Long]("cents")))).toMap
      }
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      if (Files.exists(stateDir.resolve(s"c$id"))) return // redelivery
      val delta = batch.select(col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val merged = committed().maxOption match {
        case None => delta
        case Some(v) => spark.read.parquet(s"$stateDir/v$v")
          .unionByName(delta).groupBy("user_id")
          .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      }
      merged.write.mode("overwrite").parquet(s"$stateDir/v$id")
      Files.createFile(stateDir.resolve(s"c$id"))
    }
    val ev = sources.Tables.normalizeTs(
      spark.readStream
        .schema(StreamQueries.rawSchemaOf(spark, srcDir.toString))
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString))
    val ckpt = tempDir("graft_feb_ckpt")
    val q = ev.writeStream
      .foreachBatch((df: DataFrame, id: Long) => applyBatch(df, id))
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val afterRun = readState()
    // ground truth over ALL events
    val want = Map(1L -> ((3L, 1100L)), 2L -> ((1L, 400L)),
      3L -> ((1L, 1600L)))
    assert(afterRun === want)
    assert(committed().sorted === Seq(0L, 1L), committed().toString)
    // simulate the at-least-once redelivery: re-apply batch 1's data
    // with its original batchId — state must not change
    applyBatch(spark.read.parquet(srcDir.resolve("b2.parquet").toString),
      1L)
    assert(readState() === want, "redelivered batch mutated state")
    // and a GENUINELY new batch still applies (idempotence is keyed on
    // batchId, not a frozen sink)
    applyBatch(Seq((9L, 64.0)).toDF("user_id", "value"), 2L)
    assert(readState()(9L) === ((1L, 6400L)))
  }

  test("streaming cdc apply: row presence survives the micro-batch " +
      "boundary — batch 2's ops classify against batch 1's state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventStreams.CdcEv]
    val q = EventStreams.cdcApplyStateful(ms.toDS())
      .writeStream.format("memory").queryName("cdcstate")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 insert; user 2 exercises the idempotent
      // noop_delete, an insert, then an in-batch delete
      ms.addData(
        EventStreams.CdcEv(1, 10, ts("2024-01-01 00:00:01"), "I", 100),
        EventStreams.CdcEv(2, 11, ts("2024-01-01 00:00:02"), "D", 0),
        EventStreams.CdcEv(2, 12, ts("2024-01-01 00:00:03"), "I", 50),
        EventStreams.CdcEv(2, 13, ts("2024-01-01 00:00:04"), "D", 0))
      q.processAllAvailable()
      // batch 2: user 1's U is an UPDATE only because batch 1's insert
      // survives in state; user 2's U is an INSERT only because batch
      // 1's delete does; user 1's D is then a real delete
      ms.addData(
        EventStreams.CdcEv(1, 20, ts("2024-01-01 00:01:00"), "U", 200),
        EventStreams.CdcEv(2, 21, ts("2024-01-01 00:01:01"), "U", 60),
        EventStreams.CdcEv(1, 22, ts("2024-01-01 00:01:02"), "D", 0))
      q.processAllAvailable()
      val got = spark.table("cdcstate").collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[String]("effect"), r.getAs[Boolean]("was_present"),
            r.getAs[Boolean]("exists_after"),
            Option(r.getAs[java.lang.Long]("value_cents")).map(_.toLong),
            r.getAs[Long]("n_changes")))).toMap
      assert(got(10L) === (("insert", false, true, Some(100L), 1L)))
      assert(got(11L) === (("noop_delete", false, false, None, 1L)))
      assert(got(12L) === (("insert", false, true, Some(50L), 2L)))
      assert(got(13L) === (("delete", true, false, None, 3L)))
      assert(got(20L) === (("update", true, true, Some(200L), 2L)))
      assert(got(21L) === (("insert", false, true, Some(60L), 4L)))
      assert(got(22L) === (("delete", true, false, None, 3L)))
    } finally q.stop()
  }

  test("streaming srm: distinct-user arm counts survive the batch " +
      "boundary — re-seen users never double-count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEv]
    val q = EventStreams.armCounts(ms.toDF())
      .writeStream.format("memory").queryName("srmcnt")
      .outputMode(OutputMode.Complete).start()
    try {
      def ev(id: Long, u: Long) =
        RawEv(id, ts("2024-01-01 00:00:10"), u, "click", 1.0, "{}")
      ms.addData(ev(1, 101), ev(2, 102), ev(3, 103), ev(4, 101))
      q.processAllAvailable()
      // batch 2 re-sends users 102/103 and adds 104/105: the dedup
      // state must absorb the repeats ACROSS the micro-batch boundary
      ms.addData(ev(5, 102), ev(6, 103), ev(7, 104), ev(8, 105))
      q.processAllAvailable()
      val got = spark.table("srmcnt").collect()
        .map(r => r.getAs[Long]("arm") -> r.getAs[Long]("n_users"))
        .toMap
      def h32(x: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.take(4).map("%02x".format(_)).mkString, 16)
      }
      val expect = Seq(101L, 102L, 103L, 104L, 105L)
        .map(u => h32(s"arm:$u") % 2)
        .groupBy(identity).map { case (a, xs) => a -> xs.length.toLong }
      assert(got === expect)
      assert(got.values.sum === 5L) // 5 distinct users, 8 events
    } finally q.stop()
  }

  test("schema memo stamp: a same-second same-length rewrite with " +
      "different content busts the memo, and rewrites don't accumulate " +
      "cache entries") {
    import java.nio.file.{Files, Paths}
    import graft.operators.StreamQueries
    // 1) content fingerprint at the fileStamp level: same name, mtime
    // and length, different (footer) bytes → different stamps. mtime is
    // pinned EXACTLY, modeling the 1–2 s filesystem granularity window.
    val dir = tempDir("graft_stamp").toString
    val f = Paths.get(dir, "part-0000.parquet")
    Files.write(f, Array.fill[Byte](8192)(1))
    f.toFile.setLastModified(1700000000000L)
    val s1 = StreamQueries.fileStamp(dir)
    val bytes2 = Array.fill[Byte](8192)(1)
    bytes2(8191) = 2 // flip one footer byte, keep length
    Files.write(f, bytes2)
    f.toFile.setLastModified(1700000000000L)
    val s2 = StreamQueries.fileStamp(dir)
    assert(s1 !== s2, "stamp blind to a same-mtime same-length rewrite")
    // 2) memo eviction: regenerating a real feed updates the schema in
    // place — the superseded stamp's entry is REPLACED, not leaked.
    import spark.implicits._
    val feed = tempDir("graft_stamp_feed").toString
    Seq((1L, "a")).toDF("event_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(feed)
    val before = SessionMemo.entriesFor(spark)
    val sch1 = StreamQueries.rawSchemaOf(spark, feed)
    assert(sch1.fieldNames.toSeq === Seq("event_id", "event_type"))
    Seq((1L, "a", 2.0)).toDF("event_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(feed)
    val sch2 = StreamQueries.rawSchemaOf(spark, feed)
    assert(sch2.fieldNames.toSeq === Seq("event_id", "event_type", "value"),
      "stale schema served after feed regeneration")
    // re-read with no change: memo hit, still the new schema
    assert(StreamQueries.rawSchemaOf(spark, feed) === sch2)
    assert(SessionMemo.entriesFor(spark) === before + 1,
      "superseded stamp entries accumulated in the session cache")
  }

  test("a stream replay leaves no memory-sink view behind: q76 twice gives " +
      "the same rows and no graft_stream_* view") {
    val q76 = SparkEntry.queries("q76_stream_tumbling")
    def rows() = q76(spark, sf).collect().map(_.toSeq).toSet
    val first = rows()
    assert(first.nonEmpty)
    assert(rows() === first)
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"memory-sink views left: ${views.mkString(", ")}")
  }
}
