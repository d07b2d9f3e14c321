package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.Q
import graft.streaming.EventStreams

/** Declared queries that execute through Structured Streaming end-to-end —
  * file source → watermarked event-time aggregation → memory sink — and
  * then land in the same DuckDB correctness gate as every batch query.
  * `StreamingSpec` checks stream-vs-batch equivalence; these queries pin
  * the streaming ENGINE's results against an external oracle.
  *
  * Runs with Trigger.AvailableNow: process everything currently in the
  * source, then stop — the deterministic "bounded replay of an unbounded
  * pipeline" mode. Because the plan is identical to the batch form
  * (the point of Structured Streaming), the oracle is plain SQL over the
  * same events table. At scale the same code runs continuously against an
  * object-store or Kafka source with the watermark bounding state.
  */
object StreamQueries {

  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Declared stream-source schema, read from the staged feed's own
    * parquet footer — see [[EventStreams.eventSchemaFor]]: the feed's
    * physical ts form has flipped once already, and the footer-derived
    * schema tracks a regeneration with no code edit. Whatever arrives,
    * Tables.normalizeTs right after the source funnels ts to LTZ.
    * Memoized per (session, path): the footer read is a driver-side
    * Spark job, and paying it once per streaming query taxed the whole
    * 22-query category ~10%. The memo is guarded by a stamp — local
    * stats plus a CRC32 of each part file's LAST 4 KiB (the parquet
    * footer, i.e. exactly the bytes whose physical ts form the memo
    * exists to track): mtime alone has 1–2 s granularity on some
    * filesystems, so a feed regenerated within the same second at the
    * same length would otherwise hit a stale entry. A changed stamp
    * REPLACES the entry (keyed by (session, path), not by stamp), so
    * superseded stamps don't accumulate. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, StructType)]()
  private val srcDirCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.nio.file.Path]()
  private[graft] def fileStamp(path: String): String = {
    val f = new java.io.File(path)
    val parts =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .sortBy(_.getName)
      else Seq(f)
    parts.map { x =>
      val key =
        try String.valueOf(java.nio.file.Files.readAttributes(x.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey)
        catch { case _: java.io.IOException => "?" }
      val footerCrc =
        if (!x.isFile || x.length == 0) -1L
        else try {
          val raf = new java.io.RandomAccessFile(x, "r")
          try {
            val n = math.min(4096L, raf.length()).toInt
            raf.seek(raf.length() - n)
            val buf = new Array[Byte](n)
            raf.readFully(buf)
            val c = new java.util.zip.CRC32()
            c.update(buf)
            c.getValue
          } finally raf.close()
        } catch { case _: java.io.IOException => -1L }
      s"${x.getName}:${x.lastModified}:${x.length}:$key:$footerCrc"
    }.mkString(",")
  }
  private[graft] def rawSchemaOf(spark: SparkSession,
      path: String): StructType = {
    val stamp = fileStamp(path)
    schemaCache.compute(
      (org.apache.spark.sql.GraftBridge.sessionUUID(spark), path),
      (_, cur) =>
        if (cur != null && cur._1 == stamp) cur
        else (stamp, EventStreams.eventSchemaFor(spark, path)))._2
  }
  /** Test hook: memo entries live for this session (eviction proof). */
  private[graft] def schemaCacheEntriesFor(spark: SparkSession): Int = {
    val sid = org.apache.spark.sql.GraftBridge.sessionUUID(spark)
    var n = 0
    schemaCache.forEach((k, _) => if (k._1 == sid) n += 1)
    n
  }

  /** Run a streaming transform over the events file source to completion,
    * returning the memory-sink table. `complete` mode holds the full
    * aggregate state in the sink — the memory-bounded choice for a bounded
    * replay; `append` is required for stream-stream joins, where each
    * matched row is final once emitted.
    *
    * NOTE: oracle equivalence (q76/q82/q88 vs their batch SQL) relies on
    * the staged source being a SINGLE file — one micro-batch, so the
    * watermark never advances mid-run and no late row is ever dropped.
    * A multi-file out-of-order staging would make the watermark drop rows
    * the batch oracle keeps; the single-link staging below pins this. */
  private def runToTable(spark: SparkSession, dir: String,
      mode: String = "complete", noData: Option[Boolean] = None)(
      transform: DataFrame => DataFrame): DataFrame = {
    // The file source streams a DIRECTORY (new files appear → new
    // micro-batches); the sf dir holds one file per table, so stage a
    // single-table dir via symlink — the exact layout a production feed
    // (object-store prefix receiving files) would have.
    import java.nio.file._
    // Staging + checkpoint are ONE-SHOT (checkpoint deleted below), so
    // they go on tmpfs when available: the state store and commit log
    // write many small files per micro-batch. (Measured: at this feed
    // volume the move alone was inside noise — the category's floor is
    // micro-batch planning, see the no-data note below — but it removes
    // the fsync tax from the disk-IO path and keeps bench iterations
    // from touching the root volume.) A production deployment keeps
    // checkpoints on durable storage — this is the bounded-replay
    // harness, where the checkpoint dies with the run.
    val tmpBase = {
      val shm = Paths.get("/dev/shm")
      if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
      else None
    }
    def mkTmp(prefix: String): Path = tmpBase match {
      case Some(b) => Files.createTempDirectory(b, prefix)
      case None => Files.createTempDirectory(prefix)
    }
    // One staged dir per source feed per JVM (content is a static
    // symlink — every query of the category streams the same file, so
    // the dir is shareable and the schema memo above can actually hit)
    val srcDir = srcDirCache.computeIfAbsent(dir, { _ =>
      val d = mkTmp("graft_stream_src")
      val tgt = Paths.get(dir, "events.parquet")
      if (Files.isDirectory(tgt)) {
        // Spark-written feed: events.parquet is a DIRECTORY of part
        // files. The file source (and the batch footer read behind the
        // schema memo) lists only leaf files of its input dir — a
        // nested non-partition directory is invisible to both — so
        // link the data files themselves, not the dir (found by the
        // r16 adversarial sweep: every streaming query crashed with
        // UNABLE_TO_INFER_SCHEMA on a directory-shaped feed, the
        // layout any Spark-written corpus actually has).
        import scala.jdk.CollectionConverters._
        Files.list(tgt).iterator().asScala.toSeq.sortBy(_.getFileName
          .toString).filter { p =>
            val n = p.getFileName.toString
            n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")
          }.foreach(p =>
            Files.createSymbolicLink(d.resolve(p.getFileName), p))
      } else Files.createSymbolicLink(d.resolve("events.parquet"), tgt)
      d
    })
    val ev = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(rawSchemaOf(spark, srcDir.toString))
        .parquet(srcDir.toString))
    val name = s"graft_stream_${ctr.incrementAndGet()}"
    val ckpt = mkTmp("graft_stream_ckpt")
    // Stateful operators allocate one state-store instance PER shuffle
    // partition per operator — at this feed volume 32 partitions is pure
    // store-init/commit overhead (a stream-stream join runs 4 stores per
    // partition). Scope the partition count down for the streaming run
    // and restore afterwards; a production deployment sizes this to the
    // key cardinality instead. The value is pinned into the query's
    // checkpoint, so it stays consistent for the query's lifetime.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    // an AvailableNow replay runs 1-2 micro-batches and the checkpoint
    // is deleted on return — retaining the default 100 batches of
    // commit/offset/state history only adds maintenance file IO
    val prevRetain = spark.conf
      .getOption("spark.sql.streaming.minBatchesToRetain")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    // The trailing no-data micro-batch exists to advance the watermark
    // so APPEND-mode sinks can emit final windows / fire event-time
    // timeouts — in COMPLETE mode the sink already holds the full state
    // after the data batch and watermark eviction is disabled, so the
    // extra batch is a pure planning+commit cycle (~0.3 s each across
    // 11 complete-mode queries). Append-mode queries keep it: q147's
    // outer-join nulls and q221's session timeouts depend on it.
    val prevNoData = spark.conf
      .getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    // `noData = Some(false)` is the explicit append-mode opt-out for
    // queries whose rows all emit at batch time (inner/semi joins,
    // within-watermark dedup) — nothing is watermark-gated there either
    if (!noData.getOrElse(mode != "complete"))
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        "false")
    try {
      val q = transform(ev).writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // restore only AFTER the run: start() returns before the query
      // thread clones the session, so an earlier restore races the
      // snapshot and the stream could still see the old value
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevRetain match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.minBatchesToRetain", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
      }
      prevNoData match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => spark.conf
          .unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
    // The memory sink holds the results; the checkpoint dir is one-shot
    // — drop it so bench/verify iterations don't accumulate. The staged
    // src dir is the shared per-JVM symlink above and stays.
    def rmTree(p: Path): Unit = {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    }
    rmTree(ckpt)
    spark.table(name)
  }

  /** Stream-stream inner join executed as a stream: purchases within 30
    * minutes after a click by the same user, both sides watermarked with a
    * time-range join condition (the state-bounding requirement for
    * unbounded joins — each side buffers only the watermark horizon).
    * Here both streams read the same events feed and filter to their
    * event type — the one-topic-many-consumers shape of a production bus. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    // inner-join matches all emit in the data batch itself — the
    // trailing no-data batch only cleans state
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      EventStreams.clickPurchaseJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .select(col("user_id"),
          col("click_ts").cast("long").as("click_sec"),
          col("purchase_ts").cast("long").as("purchase_sec"),
          round(col("value"), 6).as("value"))
    }

  /** Tumbling 1-minute windows per event type, executed as a stream. */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir)(EventStreams.tumblingCounts(_))

  /** Sessionization executed THROUGH the streaming engine: Spark's
    * `session_window` (dynamic-gap event-time sessions — state merges
    * adjacent windows as events arrive; the managed-state form of what
    * `flatMapGroupsWithState` hand-rolls). 30-minute gap, per-user event
    * count + value total, keyed by the session's first event time.
    *
    * Gap-boundary semantics pinned for the oracle: an event exactly
    * 1800 s after the previous one starts a NEW session (session windows
    * are half-open [start, start+gap)), so the batch oracle breaks
    * sessions on `epoch diff >= 1800` — note q30's batch sessionizer uses
    * `> 1800`; both are valid session definitions, but only `>=` matches
    * the streaming operator's. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev =>
      ev.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total"))
        .select(col("user_id"),
          col("sw.start").cast("long").as("sess_start"),
          col("n_events"), col("total"))
    }

  /** Streaming dedup through the engine:
    * `dropDuplicatesWithinWatermark` on (user, type, minute) — the
    * state-BOUNDED streaming distinct (plain dropDuplicates keeps every
    * key forever; the watermark variant expires keys once the 30-minute
    * horizon passes, the only form that survives an unbounded feed).
    * First occurrence of each key emits immediately in append mode; with
    * the single-file staging (one micro-batch, see [[runToTable]]) the
    * result is exactly the batch DISTINCT, which is the oracle. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    // dropDuplicates emits first-seen rows immediately in append mode
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      ev.withWatermark("ts", "30 minutes")
        .withColumn("bucket", date_trunc("minute", col("ts")))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "bucket")
        .select(col("user_id"), col("event_type"),
          col("bucket").cast("long").as("bucket_sec"))
    }

  /** Custom state through the engine: [[EventStreams.enrichStateful]]
    * (flatMapGroupsWithState) annotating every event with gap-since-
    * previous and running index per user. The one streaming surface that
    * was previously spec-only; with the single-file staging (one
    * micro-batch) the emitted rows equal the batch lag()/row_number()
    * windows, which is the oracle. NoTimeout state => every emission is
    * data-batch-time; the trailing no-data batch is a pure planning
    * cycle, skipped. */
  def streamUserState(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      import spark.implicits._
      EventStreams.enrichStateful(
        ev.select(col("user_id"), col("event_id"), col("ts"))
          .as[EventStreams.Ev2]).toDF()
    }

  /** Streaming EWMA anomaly gate through the engine:
    * [[EventStreams.ewmaStateful]] (flatMapGroupsWithState) — the
    * deployment shape of batch q184: per-user dyadic EWMA baseline
    * carried across micro-batches in O(1) bounded state (last ≤16
    * integer cents), each event flagged against it the moment it
    * arrives. With the single-file staging (one micro-batch) the
    * emitted rows equal the batch trailing-frame windows, which is the
    * oracle. NoTimeout state => data-batch-time emissions only; no-data
    * batch skipped. */
  def streamEwma(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      import spark.implicits._
      EventStreams.ewmaStateful(
        ev.select(col("user_id"), col("event_id"), col("ts"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
          .as[EventStreams.Ev3]).toDF()
    }

  /** Streaming AS-OF enrichment through the engine:
    * [[EventStreams.asofEnrichStateful]] — the deployment shape of the
    * batch temporal join q189: purchases act as the SCD2 dimension's
    * version updates (the user's current spend level), clicks are the
    * facts, and each click is enriched with the version valid at its own
    * event time, carried per user in flatMapGroupsWithState state. Both
    * flows ride the one staged feed (the CDC one-topic shape); with the
    * single-file staging (one micro-batch, in-batch sort) the emitted
    * rows equal the batch interval-join formulation, which is the
    * oracle. The version ordinal (`ver_seq`) rides along — the field the
    * two-batch spec uses to prove a version change between micro-batches
    * re-routes subsequent facts. NoTimeout state => data-batch-time
    * emissions only; no-data batch skipped. */
  def streamAsofEnrich(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      import spark.implicits._
      EventStreams.asofEnrichStateful(
        ev.filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("usec"),
            when(col("event_type") === "click", 1).otherwise(0)
              .as("is_fact"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
          .as[EventStreams.TagEv]).toDF()
    }

  /** Stream-STATIC join through the engine: the unbounded events feed
    * enriched with the bounded customer dimension — the canonical
    * "enrich a stream with a slowly-changing lookup table" deployment.
    * The static side is broadcast (no state store involved: stream-static
    * joins keep NO join state, each micro-batch probes the static
    * relation), then rolled up per (market segment, event type). At scale
    * the same plan holds — the dimension broadcasts once per batch and
    * the only stateful operator is the final aggregation. */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(
      graft.sources.Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
    runToTable(spark, dir) { ev =>
      ev.join(dim, ev("user_id") === dim("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }
  }

  /** Streaming DECONTAMINATION: stream-static left-anti join — events
    * from a deterministic banned-user set (a hash slice of the customer
    * dimension standing in for the curated denylist) are dropped from the
    * feed in flight, then rolled up per event type. The streaming form of
    * q103's blocklist filter: the denylist broadcasts per micro-batch,
    * the anti-join keeps NO state (stream-static joins are stateless on
    * the stream side), and the only stateful operator is the final
    * aggregation — so the plan survives an unbounded feed at any scale. */
  def streamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val banned = broadcast(
      graft.sources.Tables.load(spark, dir, "customer")
        .filter(graft.functions.TextOps.portableHash(
          concat(lit("ban:"), col("c_custkey").cast("string"))) % 5 === 0)
        .select(col("c_custkey")))
    runToTable(spark, dir) { ev =>
      ev.join(banned, ev("user_id") === banned("c_custkey"), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }
  }

  /** Stream-stream LEFT OUTER join — the semantic inner joins can't
    * express: a click with NO purchase inside the 30-minute horizon must
    * still emit (with NULLs) once the watermark proves no match can
    * arrive. Unmatched-row emission is watermark-FINALIZED — the
    * trailing no-data micro-batch after AvailableNow drains the source
    * advances the watermark past all buffered clicks, flushing the NULL
    * rows; without it an outer join would silently behave inner. Both
    * sides watermarked + time-range condition = bounded state, as q88.
    *
    * The click side stops days before the feed's end (fixed cutoff):
    * an unmatched click only finalizes once the watermark passes its
    * whole match window, so clicks inside the last (delay + horizon) of
    * the stream are inherently un-finalizable in a bounded replay — a
    * boundary the batch oracle cannot portably mirror. Production
    * continuous streams have no end, so no such edge exists there. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append") { ev =>
      // the cutoff filter sits ABOVE the watermark node: the watermark
      // must observe the click stream's full time axis to finalize the
      // last kept clicks (a pre-watermark filter caps the observed max
      // and stalls the watermark at cutoff − delay, silently dropping
      // the final hour's unmatched clicks)
      val c = ev.filter(col("event_type") === "click")
        .withWatermark("ts", "30 minutes")
        .filter(col("ts") < lit(java.sql.Timestamp.valueOf(
          "2024-01-25 00:00:00")))
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts", "30 minutes")
        .select(col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value"))
      c.join(p,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") +
              expr("INTERVAL 30 MINUTES"),
          "left_outer")
        .select(col("user_id"), col("click_id"),
          col("click_ts").cast("long").as("click_sec"),
          col("purchase_ts").cast("long").as("purchase_sec"),
          round(col("value"), 6).as("value"))
    }

  /** Stream-stream FULL OUTER join — the symmetric completion of q147:
    * unmatched CLICKS (no purchase in the 30-minute horizon) and
    * unmatched PURCHASES (no preceding click) both emit NULL-extended
    * rows once the watermark proves no match can arrive. The cutoff now
    * applies to BOTH sides: an unmatched purchase finalizes only when
    * the watermark passes its own match window [ts − horizon, ts], so
    * rows inside the feed's last (delay + horizon) are un-finalizable
    * in a bounded replay on either side — same boundary, both streams.
    * As in q147 the cutoff filters sit ABOVE the watermark nodes so the
    * watermark observes each stream's full time axis. */
  def streamFullOuterJoin(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append") { ev =>
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))
      val c = ev.filter(col("event_type") === "click")
        .withWatermark("ts", "30 minutes")
        .filter(col("ts") < cutoff)
        .select(col("user_id").as("c_user"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts", "30 minutes")
        .filter(col("ts") < cutoff)
        .select(col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value"))
      c.join(p,
          col("c_user") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") +
              expr("INTERVAL 30 MINUTES"),
          "full_outer")
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          col("click_id"),
          col("click_ts").cast("long").as("click_sec"),
          col("purchase_ts").cast("long").as("purchase_sec"),
          round(col("value"), 6).as("value"))
    }

  /** Stream-stream LEFT SEMI join — completes the stream-join family
    * (inner q88 / left outer q147 / full outer q169): each click emits AT
    * MOST ONCE, as soon as any purchase lands in its 30-minute horizon —
    * the "did this impression convert?" dedup that an inner join answers
    * with one row PER purchase. Unlike the outer joins no finalization
    * cutoff is needed: a semi row emits on its first match (never on
    * watermark timeout), and unmatched clicks emit nothing, so the
    * bounded replay's trailing edge has nothing left to finalize. State
    * stays watermark-bounded on both sides exactly as the inner join. */
  def streamSemiJoin(spark: SparkSession, dir: String): DataFrame =
    // semi-join emissions are match-time, not watermark-gated
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      val c = ev.filter(col("event_type") === "click")
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts", "30 minutes")
        .select(col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
      c.join(p,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") +
              expr("INTERVAL 30 MINUTES"),
          "left_semi")
        .select(col("user_id"), col("click_id"),
          col("click_ts").cast("long").as("click_sec"))
    }

  /** CHAINED stateful streaming, join → windowed aggregation: the
    * stream-stream click⋈purchase join feeding a tumbling per-hour
    * conversion rollup — TWO stateful operators in one query, with the
    * event-time watermark PROPAGATED through the join to the window
    * (re-declaring it downstream is an analysis error under chained
    * stateful operators). The click side keeps q147's fixed cutoff
    * ABOVE the watermark node: the global watermark still advances to
    * the feed's end − delay, which is past every kept window's close,
    * so append mode flushes ALL windows and the batch oracle needs no
    * watermark modeling — just the same cutoff. */
  def streamJoinAgg(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append")(joinAggTransform)

  /** The q175 transform body, exposed so `StreamingSpec`'s
    * checkpoint-RESUME test can drive the same chained stateful plan
    * across two separate query runs sharing one checkpoint. */
  private[graft] def joinAggTransform(ev: DataFrame): DataFrame = {
      val c = ev.filter(col("event_type") === "click")
        .withWatermark("ts", "30 minutes")
        .filter(col("ts") < lit(java.sql.Timestamp.valueOf(
          "2024-01-25 00:00:00")))
        .select(col("user_id"), col("ts").as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts", "30 minutes")
        .select(col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value"))
      val joined = c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr("INTERVAL 30 MINUTES"))
      // NO watermark re-declaration here: with chained stateful operators
      // the engine PROPAGATES event time through the join (re-defining it
      // on the joined stream is an analysis error), so click_ts arrives
      // at the window already watermark-tagged
      joined
        .groupBy(window(col("click_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_conversions"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").cast("long").as("hr_start"),
          col("n_conversions"), col("total_value"))
  }

  /** CHAINED stateful streaming: per-hour distinct-user counts computed
    * as a watermark-bounded dedup (stateful op 1: first (user, hour)
    * occurrence wins) feeding a grouped count (stateful op 2) — the
    * streamed form of q133's distinct-user metric and the
    * multi-stateful-operator pipeline shape (dedup → aggregate).
    *
    * The dedup is `dropDuplicatesWithinWatermark`, NOT plain
    * dropDuplicates: the derived `hr` key carries no event-time tag, so
    * a plain dedup would keep every (user, hour) ever seen — unbounded
    * state on an unbounded feed (the q94 lesson). The WithinWatermark
    * form evicts on the watermark unconditionally; its delay (61 min)
    * exceeds the hour-window span, so a (user, hour) entry provably
    * outlives every duplicate that is not already watermark-late —
    * eviction can never re-admit a duplicate, and per-hour counts stay
    * exact. */
  def streamDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev =>
      ev.withWatermark("ts", "61 minutes")
        .withColumn("hr", date_trunc("hour", col("ts")))
        .dropDuplicatesWithinWatermark("user_id", "hr")
        .groupBy(col("hr"))
        .agg(count(lit(1)).as("active_users"))
        .select(col("hr").cast("long").as("hr_start"),
          col("active_users"))
    }

  /** The q134 chained stateful pipeline (watermarked dedup → grouped
    * count) executed on the ROCKSDB state store — the production state
    * backend at scale: the default HDFSBacked provider keeps every
    * version of state on the JVM heap (state size competes with
    * execution memory and GC), while RocksDB keeps it off-heap with
    * incremental checkpointing, which is what lets stream state grow to
    * the watermark bound instead of the heap bound. Same plan, same
    * oracle, different storage engine — the parity result is the
    * evidence the pipeline is not accidentally coupled to the default
    * provider's semantics. Conf is scoped to this query (set before
    * start, restored after termination; the provider is pinned into the
    * query's checkpoint for its lifetime). */
  def streamRocksdb(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try runToTable(spark, dir) { ev =>
      ev.withWatermark("ts", "61 minutes")
        .withColumn("hr", date_trunc("hour", col("ts")))
        .dropDuplicatesWithinWatermark("user_id", "hr")
        .groupBy(col("hr"))
        .agg(count(lit(1)).as("active_users"))
        .select(col("hr").cast("long").as("hr_start"),
          col("active_users"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Sliding 2-hour/1-hour windows, executed as a stream; output epochs
    * so the oracle's unnest-based window expansion aligns exactly
    * (same shape as the batch twin q32). */
  def streamSliding(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev =>
      EventStreams.slidingCounts(ev)
        .select(col("w_start").cast("long").as("w_start"), col("n"),
          col("total"))
    }

  /** SKETCHED streaming distinct: per-day distinct-user estimate through
    * the portable HLL ([[graft.functions.HllAgg]]) running INSIDE a
    * watermarked streaming aggregation. This is the canonical sketch
    * use-case Structured Streaming forces: `COUNT(DISTINCT)` is
    * unsupported on streams (it would need unbounded per-key state), so
    * production pipelines keep a mergeable sketch per window — state is
    * 16 registers per day regardless of user volume, and the watermark
    * still bounds how many windows live in the store. The oracle
    * replicates registers AND estimate from the batch table: stream ==
    * batch == DuckDB, the full triangle (and `StreamingSpec` pins
    * stream == batch-Spark row equality). What this query evidences is
    * determinism + bounded state; ACCURACY of the raw estimator is
    * q160's spec, at cardinalities inside its n ≳ 2.5m range — the
    * smallest fixture's ~13 users/day undershoots that, exactly the
    * regime where real HLLs switch to the linear-counting branch this
    * portable form deliberately omits (ln() is not cross-engine-exact). */
  def streamHll(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev =>
      ev.withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.HllAgg.hllRegs(
            graft.functions.TextOps.portableHash60(
              col("user_id").cast("string")), 16).as("regs"))
        .select(col("window.start").cast("long").as("day_start"),
          col("n_events"),
          expr("aggregate(regs, CAST(0 AS BIGINT), " +
            "(a, r) -> a + shiftleft(CAST(1 AS BIGINT), 57 - r))").as("s"))
        .select(col("day_start"), col("n_events"),
          round(lit(graft.functions.HllAgg.Alpha(16)) * lit(256.0) *
            lit((1L << 57).toDouble) / col("s"), 4).as("hll_users"))
    }

  /** Stateful sessionization WITH event-time timeout through the
    * engine: [[EventStreams.sessionizeTimeout]] — sessions close when a
    * successor event exceeds the gap (as q91's family) AND idle
    * sessions FLUSH when the watermark passes (last + gap), removing
    * their state — the state-hygiene discipline that keeps the live-key
    * count bounded on an unbounded feed. In the bounded replay the
    * trailing AvailableNow batch advances the watermark to the feed's
    * end − delay, so every session idle longer than (gap + delay)
    * before the end flushes; the oracle models exactly that boundary
    * (each user's last session emits iff (end + gap)·1000 < final
    * watermark ms) — the same finalization modeling as q147. The
    * emitted columns are the exact session identity (start/end/count);
    * the float total stays out of the gate by design. */
  def streamSessionTimeout(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append") { ev =>
      import spark.implicits._
      EventStreams.sessionizeTimeout(
        ev.withWatermark("ts", "30 minutes")
          .select(col("user_id"), col("ts"), col("value"))
          .as[EventStreams.Ev], gapSec = 1800).toDF()
        .select(col("user_id"), col("start_sec"), col("end_sec"),
          col("n_events"))
    }

  /** DYNAMIC-gap session windows through the engine: the session gap is
    * an EXPRESSION over the event (purchases hold a session open 60
    * minutes, everything else 30) — the engagement-dependent timeout a
    * fixed-gap sessionizer (q91) can't express, and a capability only
    * the session_window operator has (the state store merges per-event
    * [ts, ts+gap) windows as they overlap). The batch oracle is the
    * running-max formulation: a new session starts exactly when an
    * event's time reaches the max(ts+gap) of ALL its predecessors —
    * equivalent to interval-merge because session ends are monotone
    * across sessions — at full µs resolution. */
  def streamDynamicSessions(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev =>
      ev.groupBy(col("user_id"),
          session_window(col("ts"),
            when(col("event_type") === "purchase", lit("3600 seconds"))
              .otherwise(lit("1800 seconds"))).as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total"))
        .select(col("user_id"),
          col("sw.start").cast("long").as("sess_start"),
          col("n_events"), col("total"))
    }

  /** SKETCHED streaming top-k: per-day top-5 events by value through
    * the bounded mergeable [[graft.functions.TopKAgg]] running INSIDE a
    * watermarked streaming aggregation — the state-correct replacement
    * for the window-rank top-k idiom, which streams cannot run at all
    * (`row_number() OVER (ORDER BY …)` needs the window's full row set;
    * unsupported on unbounded input). State per day-window is ≤ k
    * (key, id) pairs regardless of event volume, merged across
    * micro-batches through partial aggregation — the q161 discipline
    * (HLL) applied to ranking. The post-agg explode is stateless. The
    * oracle is the batch window-rank formulation — the gate proves the
    * bounded buffer reproduces the exact top-k under the total
    * (key desc, id asc) order. */
  def streamTopk(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev =>
      ev.withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 day"))
        .agg(graft.functions.TopKAgg.topK(
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
          col("event_id"), 5).as("tk"))
        .select(col("window.start").cast("long").as("day_start"),
          posexplode(col("tk")))
        .select(col("day_start"), (col("pos") + 1).as("rank"),
          col("col.key").as("cents"), col("col.id").as("event_id"))
    }

  /** Streaming CDC apply through the engine:
    * [[EventStreams.cdcApplyStateful]] — the deployment shape of batch
    * q116: the event feed read as a change bus (signup→I, error→D,
    * rest→U, q116's mapping), applied per user with row presence
    * carried across micro-batches. With the single-file staging (one
    * micro-batch, in-batch sort) the emitted per-event classifications
    * equal the batch lag()/row_number() windows, which is the oracle;
    * the two-batch spec proves presence survives the batch boundary
    * (an I in batch 1 makes batch 2's U an `update`, its D a real
    * `delete`). NoTimeout state => data-batch-time emissions only;
    * no-data batch skipped. */
  def streamCdc(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir, mode = "append", noData = Some(false)) { ev =>
      import spark.implicits._
      EventStreams.cdcApplyStateful(
        ev.select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
          .as[EventStreams.CdcEv]).toDF()
    }

  /** Streaming sample-ratio-mismatch guardrail: [[EventStreams.armCounts]]
    * maintains the per-arm distinct-user counts in the stream; the χ²
    * readout and verdict band are then one batch expression over the
    * 2-row sink table (the alert evaluation a monitor runs per tick).
    * Converges to exactly the batch q286 statistic — same oracle. */
  def streamSrm(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, dir) { ev => EventStreams.armCounts(ev) }
      .agg(sum(when(col("arm") === 0L, col("n_users")).otherwise(0L))
        .as("n0"),
        sum(when(col("arm") === 1L, col("n_users")).otherwise(0L))
          .as("n1"))
      .withColumn("chi2_r",
        round(((col("n0") - col("n1")) * (col("n0") - col("n1")))
          .cast("double") / (col("n0") + col("n1")).cast("double"), 6)
          + lit(0.0))
      .select(col("n0"), col("n1"), col("chi2_r"),
        when(col("chi2_r") > 10.828, "srm_critical")
          .when(col("chi2_r") > 3.841, "srm_warning")
          .otherwise("balanced").as("verdict"))

  val catalog: Seq[Q] = Seq(
    Q("q300_stream_srm", streamSrm _,
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (
        |  SELECT ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)),
        |    1, 8))::BIGINT % 2 AS arm
        |  FROM u),
        |c AS (
        |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1
        |  FROM arms),
        |s AS (
        |  SELECT n0, n1,
        |    round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) /
        |      CAST(n0 + n1 AS DOUBLE), 6) + 0.0 AS chi2_r
        |  FROM c)
        |SELECT n0, n1, chi2_r,
        |  CASE WHEN chi2_r > 10.828 THEN 'srm_critical'
        |       WHEN chi2_r > 3.841 THEN 'srm_warning'
        |       ELSE 'balanced' END AS verdict
        |FROM s""".stripMargin),
    Q("q278_stream_cdc", streamCdc _,
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'error' THEN 'D'
        |         ELSE 'U' END AS op,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, op, cents,
        |    coalesce(lag(op) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'D') <> 'D' AS was_present,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS n_changes
        |  FROM ev)
        |SELECT user_id, event_id, op, was_present,
        |  op <> 'D' AS exists_after,
        |  CASE WHEN op <> 'D' THEN cents END AS value_cents,
        |  CASE WHEN op = 'D' AND was_present THEN 'delete'
        |       WHEN op = 'D' THEN 'noop_delete'
        |       WHEN was_present THEN 'update'
        |       ELSE 'insert' END AS effect,
        |  n_changes
        |FROM w""".stripMargin),
    Q("q221_stream_session_timeout", streamSessionTimeout _,
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    value FROM events),
        |wm AS (
        |  SELECT CAST(max(epoch_ms(ts)) AS BIGINT) - 1800000 AS wm_ms
        |  FROM events),
        |f AS (
        |  SELECT user_id, sec,
        |    CASE WHEN lag(sec) OVER w IS NULL
        |      OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
        |s AS (
        |  SELECT user_id, sec,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id, sid, min(sec) AS start_sec, max(sec) AS end_sec,
        |    CAST(count(*) AS INT) AS n_events
        |  FROM s GROUP BY 1, 2),
        |sess2 AS (
        |  SELECT *, max(sid) OVER (PARTITION BY user_id) AS last_sid
        |  FROM sess)
        |SELECT user_id, start_sec, end_sec, n_events
        |FROM sess2
        |WHERE sid < last_sid
        |  OR (end_sec + 1800) * 1000 < (SELECT wm_ms FROM wm)"""
        .stripMargin),
    Q("q217_stream_dynamic_gap", streamDynamicSessions _,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, value,
        |    CASE WHEN event_type = 'purchase' THEN 3600000000
        |      ELSE 1800000000 END AS gap
        |  FROM events),
        |w AS (
        |  SELECT user_id, us, value, gap,
        |    max(us + gap) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_end
        |  FROM e),
        |f AS (
        |  SELECT user_id, us, value,
        |    CASE WHEN prev_end IS NULL OR us >= prev_end
        |      THEN 1 ELSE 0 END AS ns
        |  FROM w),
        |s AS (
        |  SELECT user_id, us, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, CAST(min(us) // 1000000 AS BIGINT) AS sess_start,
        |  count(*) AS n_events, round(sum(value), 2) AS total
        |FROM s GROUP BY user_id, sid""".stripMargin),
    Q("q204_stream_topk", streamTopk _,
      """WITH e AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
        |  FROM events),
        |r AS (
        |  SELECT day_start, cents, event_id,
        |    CAST(row_number() OVER (PARTITION BY day_start
        |      ORDER BY cents DESC, event_id ASC) AS INT) AS rank
        |  FROM e)
        |SELECT day_start, rank, cents, event_id FROM r
        |WHERE rank <= 5""".stripMargin),
    Q("q161_stream_hll", streamHll _,
      """WITH h AS (
        |  SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
        |    AS day_start,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      ::BIGINT AS h
        |  FROM events),
        |r AS (
        |  SELECT day_start, h >> 56 AS bkt,
        |    max(CASE WHEN (h & ((1::BIGINT << 56) - 1)) = 0 THEN 57
        |        ELSE 57 - len(bin(h & ((1::BIGINT << 56) - 1))) END) AS m
        |  FROM h GROUP BY 1, 2),
        |g AS (
        |  SELECT d.day_start, t.b AS bkt, COALESCE(r.m, 0) AS m
        |  FROM (SELECT DISTINCT day_start FROM h) d
        |  CROSS JOIN range(0, 16) t(b)
        |  LEFT JOIN r ON r.day_start = d.day_start AND r.bkt = t.b),
        |s AS (
        |  SELECT day_start, CAST(sum(1::BIGINT << (57 - m)) AS BIGINT) AS s
        |  FROM g GROUP BY 1),
        |e AS (SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
        |        AS day_start, count(*) AS n_events
        |      FROM events GROUP BY 1)
        |SELECT e.day_start, e.n_events,
        |  round(0.673::DOUBLE * 256.0::DOUBLE
        |    * 144115188075855872.0::DOUBLE / s.s, 4) AS hll_users
        |FROM e JOIN s USING (day_start)""".stripMargin),
    Q("q76_stream_tumbling", streamTumbling _,
      """SELECT date_trunc('minute', ts) AS bucket_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),
    Q("q88_stream_join", streamJoin _,
      """SELECT c.user_id AS user_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec,
        |  round(p.value, 6) AS value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'""".stripMargin),
    Q("q94_stream_dedup", streamDedup _,
      """SELECT DISTINCT user_id, event_type,
        |  CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_sec
        |FROM events""".stripMargin),
    Q("q91_stream_sessionize", streamSessionize _,
      """WITH flagged AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, value, ts,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS sess_start,
        |  count(*) AS n_events, round(sum(value), 2) AS total
        |FROM sess GROUP BY user_id, sid""".stripMargin),
    Q("q102_stream_user_state", streamUserState _,
      """SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |  coalesce(CAST(floor(epoch(ts)) AS BIGINT) -
        |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w, -1) AS gap_sec,
        |  CAST(row_number() OVER w AS BIGINT) AS seq
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)"""
        .stripMargin),
    Q("q191_stream_ewma", streamEwma _,
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |fr AS (
        |  SELECT user_id, event_id, cents,
        |    COALESCE(list(cents) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING),
        |      CAST([] AS BIGINT[])) AS prior
        |  FROM e),
        |h AS (
        |  SELECT user_id, event_id, cents,
        |    CASE WHEN len(prior) > 0 THEN
        |      list_reduce(
        |        list_prepend(CAST(0 AS BIGINT), list_reverse(prior)),
        |        (a, x) -> a * 2 + x)
        |      ELSE CAST(0 AS BIGINT) END AS num,
        |    (CAST(1 AS BIGINT) << len(prior)) - 1 AS denom
        |  FROM fr)
        |SELECT user_id, event_id, num, denom,
        |  (denom > 0 AND cents * denom > num * 3) AS is_spike,
        |  (denom > 0 AND cents * denom * 3 < num) AS is_dip
        |FROM h""".stripMargin),
    Q("q200_stream_asof", streamAsofEnrich _,
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS usec
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS usec,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |pit AS (
        |  SELECT c.user_id, c.event_id, c.usec, p.cents,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY p.usec DESC NULLS LAST, p.event_id DESC) AS rn,
        |    count(p.cents) OVER (PARTITION BY c.user_id, c.event_id)
        |      AS ver_seq
        |  FROM c LEFT JOIN p
        |    ON p.user_id = c.user_id AND p.usec <= c.usec)
        |SELECT user_id, event_id, usec, cents AS valid_cents,
        |  CAST(ver_seq AS BIGINT) AS ver_seq
        |FROM pit WHERE rn = 1""".stripMargin),
    Q("q111_stream_static_join", streamStaticEnrich _,
      """SELECT c.c_mktsegment AS segment, e.event_type,
        |  count(*) AS n, round(sum(e.value), 2) AS total
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin),
    Q("q147_stream_outer_join", streamOuterJoin _,
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec,
        |  round(p.value, 6) AS value
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |  AND c.ts < TIMESTAMP '2024-01-25 00:00:00'""".stripMargin),
    Q("q175_stream_join_agg", streamJoinAgg _,
      """SELECT CAST(epoch(date_trunc('hour', c.ts)) AS BIGINT) AS hr_start,
        |  count(*) AS n_conversions, round(sum(p.value), 2) AS total_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.ts < TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY 1""".stripMargin),
    Q("q173_stream_semi_join", streamSemiJoin _,
      """SELECT c.user_id, c.event_id AS click_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec
        |FROM events c
        |WHERE c.event_type = 'click'
        |  AND EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.event_type = 'purchase'
        |      AND p.user_id = c.user_id
        |      AND p.ts >= c.ts
        |      AND p.ts <= c.ts + INTERVAL 30 MINUTE)""".stripMargin),
    Q("q169_stream_full_outer", streamFullOuterJoin _,
      """SELECT coalesce(c.user_id, p.user_id) AS user_id,
        |  c.event_id AS click_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec,
        |  round(p.value, 6) AS value
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click'
        |        AND ts < TIMESTAMP '2024-01-25 00:00:00') c
        |FULL JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase'
        |        AND ts < TIMESTAMP '2024-01-25 00:00:00') p
        |  ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin),
    Q("q134_stream_distinct_users", streamDistinctUsers _,
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_start,
        |  count(DISTINCT user_id) AS active_users
        |FROM events GROUP BY 1""".stripMargin),
    Q("q181_stream_rocksdb", streamRocksdb _,
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_start,
        |  count(DISTINCT user_id) AS active_users
        |FROM events GROUP BY 1""".stripMargin),
    Q("q124_stream_decontaminate", streamDecontaminate _,
      """WITH banned AS (
        |  SELECT c_custkey FROM customer
        |  WHERE ('0x' || substr(md5('ban:' || CAST(c_custkey AS VARCHAR)),
        |    1, 8))::BIGINT % 5 = 0)
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM banned b WHERE b.c_custkey = e.user_id)
        |GROUP BY 1""".stripMargin),
    Q("q82_stream_sliding", streamSliding _,
      """SELECT CAST(epoch(ws) AS BIGINT) AS w_start, count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM (SELECT value,
        |        unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |                date_trunc('hour', ts)]) AS ws
        |      FROM events)
        |GROUP BY 1""".stripMargin)
  )
}
