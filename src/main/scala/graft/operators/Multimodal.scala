package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Ckpt.CutOps
import graft.Q
import graft.sources.Tables

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, plus a batched decode/feature-extract stage.
  *
  * The container has no image/audio codecs, so `decodeFeatures` runs a
  * clearly-marked DETERMINISTIC STUB decoder (byte histogram) — but the
  * Spark-side plumbing is real: binary column + metadata struct schema,
  * `mapPartitions` batch shape (the Scala analog of `mapInPandas` batches),
  * and narrow per-partition execution with no shuffle. Swapping the stub
  * for a real codec changes one function body, not the plan shape.
  */
object Multimodal {

  /** Media-shaped view over documents: payload = UTF-8 bytes standing in
    * for an image/audio blob; meta = typed metadata struct. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          lit("application/octet-stream").as("mime"),
          length(encode(col("text"), "UTF-8")).as("n_bytes"),
          col("source").as("origin")).as("meta"))

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("byte_hist", ArrayType(LongType)),
    StructField("hist_peak", IntegerType)))

  /** Batched decode / feature-extract over the binary payload column.
    *
    * STUB DECODER: a real deployment would decode the image/audio here
    * (e.g. JPEG → pixels → resize → embed). This container has no codecs,
    * so the "features" are a deterministic 16-bucket byte histogram —
    * same batch shape, schema, and partitioning as the real thing.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select(col("doc_id"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val hist = new Array[Long](16)
          var i = 0
          while (i < bytes.length) {
            hist((bytes(i) & 0xFF) / 16) += 1L
            i += 1
          }
          var peak = 0
          var k = 1
          while (k < 16) { if (hist(k) > hist(peak)) peak = k; k += 1 }
          Row(id, bytes.length, hist.toSeq, peak)
        }
      }
    spark.createDataFrame(rows, featureSchema)
  }

  /** Frame sampling: carve the binary payload into fixed-size "frames"
    * and keep every `stride`-th one — the video-frame-sampling plan shape
    * (explode offsets → binary substring), all narrow, no shuffle.
    * `substring` on BinaryType slices bytes. */
  def frameSample(media: DataFrame, frameBytes: Int,
                  stride: Int): DataFrame =
    media
      .withColumn("n_frames",
        ceil(col("meta.n_bytes") / lit(frameBytes)).cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("doc_id"), col("frame_idx"),
        col("payload").substr(col("frame_idx") * frameBytes + 1,
          lit(frameBytes)).as("frame"))

  /** "Resize": reduce a frame to a coarse fixed-length signature (here:
    * byte-length + first/last bytes via the stub; a real codec would
    * downscale pixels). Keeps the narrow map-only plan shape. */
  def resizeFrames(frames: DataFrame, outBytes: Int): DataFrame =
    frames.select(col("doc_id"), col("frame_idx"),
      substring(col("frame"), 1, outBytes).as("thumb"),
      length(col("frame")).as("frame_bytes"))

  /** Declared query: metadata aggregation over the media view — bytes,
    * distinct-content, and payload-prefix stats per origin. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .groupBy(col("meta.origin").as("origin"))
      .agg(count(lit(1)).as("n_media"),
           sum(col("meta.n_bytes")).as("total_bytes"),
           countDistinct(md5(col("payload"))).as("n_distinct"),
           min(col("meta.n_bytes")).as("min_bytes"),
           max(col("meta.n_bytes")).as("max_bytes"))

  /** Declared query over the frame-sampling + resize path: sample every
    * 2nd 64-byte frame, thumbnail to 16 bytes, aggregate per frame index.
    * Thumbnail CONTENT is pinned via md5, so the oracle verifies exact
    * byte ranges. (The oracle slices VARCHAR where Spark slices bytes —
    * identical on this all-ASCII corpus, which the gate's sf dir is.) */
  def frameStats(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir).filter(col("meta.n_bytes") > 0)
    val thumbs = resizeFrames(frameSample(media, 64, 2), 16)
    thumbs.groupBy(col("frame_idx"))
      .agg(count(lit(1)).as("n_frames"),
           countDistinct(md5(col("thumb"))).as("n_distinct_thumbs"),
           sum(col("frame_bytes")).as("total_bytes"))
  }

  /** Ingest a DIRECTORY OF MEDIA FILES through Spark's built-in
    * `binaryFile` source — the real on-disk shape of a multimodal
    * corpus (one image/audio blob per object-store key) as opposed to
    * [[mediaTable]]'s column-embedded payloads. The source lists files
    * distributed, reads each as one row (path, length, content binary),
    * and supports pushdown on the file metadata. The staged fixture
    * (one .bin per doc_id, payload = the doc's bytes) is written once
    * per (JVM, sf dir) — driver-side ONLY because it simulates the
    * external input; the query itself is fully distributed. Content
    * identity is pinned via md5 so the oracle verifies exact bytes. */
  def binaryFileSource(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Path}
    val base = Relational.stagedDir("binfiles", dir) { b =>
      mediaTable(spark, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("payload")).collect()
        .foreach { r =>
          Files.write(Path.of(b, f"doc_${r.getLong(0)}%05d.bin"),
            r.getAs[Array[Byte]](1))
        }
    }
    spark.read.format("binaryFile").load(base)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
  }

  /** Media near-dup on DECODED FEATURES (the step after [[decodeFeatures]]
    * in a real pipeline: perceptual dedup on extracted image/audio
    * features, not raw bytes): per payload, a 16-bucket codepoint/16
    * histogram (the character-space analog of the stub decoder's byte
    * histogram, as portable expressions so the oracle mirrors it
    * bit-for-bit on any input), candidates = payloads sharing the
    * 1/128-quantized histogram signature (a bucket equi-join — 1.4% of
    * pairs on the gate corpus), verification = exact L1 distance of the
    * normalized histograms ≤ 0.005.
    *
    * Scale shape: feature extraction is narrow per-row; the signature
    * join is the only shuffle; L1 runs on candidates only. Swapping the
    * byte histogram for real embeddings (CLIP etc.) keeps the plan — it's
    * the [[graft.operators.Dedup.embeddingCosine]] discipline on the
    * multimodal path. */
  def mediaHistDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir)
    // histogram over CODEPOINT/16 buckets, normalized by the CHARACTER
    // count — the exact quantity the oracle computes from text[i], so
    // parity holds beyond ASCII too (codepoints ≥ 256 count toward n but
    // land in no bucket, identically on both sides). Shape: explode the
    // characters and take 16 conditional sums in ONE aggregation pass —
    // all whole-stage codegen with map-side partial agg, so the shuffle
    // carries 17 longs per payload, never the characters. The r1–r5 form
    // (transform + 16 filter() lambdas per row) ran every character
    // through 17 INTERPRETED higher-order functions; HOF lambdas never
    // enter codegen, and that interpreted scan dominated the query.
    // r17 (guide §4): one compiled per-doc loop (SegOps.charHist16 — the
    // CdcOps/SegProfile discipline) replaces the per-char explode + 17
    // aggregate expressions; the explicit length > 0 filter reproduces
    // the explode form's empty-doc drop (an empty split exploded to
    // zero rows).
    val hist = media
      .select(col("doc_id"), decode(col("payload"), "UTF-8").as("s"))
      .filter(length(col("s")) > 0)
      .select(col("doc_id"),
        graft.functions.SegOps.charHist16(col("s")).as("pr"))
      .select(col("doc_id"), col("pr.n").as("n"), col("pr.h").as("h"))
    val sig = hist.withColumn("qsig",
      concat_ws("-", transform(col("h"),
        v => (v * 128 / col("n")).cast("long").cast("string"))))
      .cutLineage()
    sig.select(col("qsig"), col("doc_id").as("doc_a"), col("h").as("ha"),
        col("n").as("na"))
      .join(sig.select(col("qsig"), col("doc_id").as("doc_b"),
        col("h").as("hb"), col("n").as("nb")), Seq("qsig"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("l1", round(
        aggregate(zip_with(col("ha"), col("hb"), (x, y) =>
          abs(x.cast("double") / col("na") - y.cast("double") / col("nb"))),
          lit(0.0), (acc, x) => acc + x), 6))
      .filter(col("l1") <= 0.005)
      .select(col("doc_a"), col("doc_b"), col("l1"))
  }

  /** Perceptual near-dup via a dHash-style 60-bit signature (the
    * gradient-hash used for image dedup: downscale, then hash the SIGN of
    * adjacent-cell differences — robust to global brightness/scale shifts
    * where q99's histogram L1 is global-feature only).
    *
    * STUB "downscale": the payload is carved into 61 equal segments and
    * each segment's mean codepoint stands in for a grayscale cell (a real
    * codec would decode pixels first; the signature/LSH plumbing is what
    * this query exercises). Bit j = 1 iff mean(seg j+1) > mean(seg j) —
    * compared EXACTLY via integer cross-multiply (sum_b · cnt_a), no
    * float division, so both engines compute identical bits. The 60-bit
    * packed BIGINT then reuses q36's machinery: 4 × 15-bit chunk keys
    * (any pair at hamming < 4 shares a chunk), candidates from the
    * chunk equi-join, `bit_count(xor)` hamming verify ≤ 3.
    *
    * Scale shape: segment sums are one narrow pass + partial-agg'd
    * groupBy; the only wide ops are the per-doc array assembly and the
    * chunk-keyed candidate join; hamming runs on candidates only — the
    * [[graft.operators.Dedup.simhash]] discipline on the multimodal
    * path. `PlanSpec` pins no-cartesian. */
  def mediaPerceptualHash(spark: SparkSession, dir: String): DataFrame =
    mediaPerceptualHashOn(mediaTable(spark, dir))

  /** [[mediaPerceptualHash]] over an arbitrary (doc_id, payload) frame —
    * spec entry point for the planted near-dup/near-miss fixture (the
    * sf0.01 gate corpus happens to contain zero qualifying pairs, so the
    * unit-level evidence lives here). */
  /** 61-segment (sum, count) profile arrays of each payload — the shared
    * "downscale" stage of [[mediaPerceptualHash]] (q171, adjacent-segment
    * dHash at radius 3) and [[mediaPhashBall]] (q356, two-stride 120-bit
    * signature at radius 9).
    *
    * char → (segment, codepoint): seg = floor(pos·61/n) partitions the
    * payload into 61 runs of ±1 length, identically in integer math on
    * both engines. Explode + conditional-sum aggregation: the shuffle
    * carries 61 (sum, cnt) longs per doc, never the characters. */
  private def segArrays(media: DataFrame): DataFrame =
    // r17 (guide §4): one compiled per-doc loop (SegOps — the CdcOps
    // discipline) replaces split('')-per-char + posexplode + two
    // hash-agg exchanges; for n ≥ 61 (guaranteed by the filter) the
    // arrays equal the old sort_array(collect_list) assembly exactly.
    media
      .select(col("doc_id"), decode(col("payload"), "UTF-8").as("s"))
      .filter(length(col("s")) >= 61) // every segment non-empty
      .select(col("doc_id"),
        graft.functions.SegOps.segProfile(col("s")).as("pr"))
      .select(col("doc_id"), col("pr.ss").as("ss"), col("pr.cs").as("cs"))

  private[graft] def mediaPerceptualHashOn(media: DataFrame): DataFrame = {
    import graft.functions.TextOps
    val arrs = segArrays(media)
    // pack the 60 adjacent-segment comparisons into one BIGINT (0-based
    // array indexing here; the oracle's DuckDB lists are 1-based).
    // CUT HERE, before the chunk explode (r17): InferFiltersFromGenerate
    // plants `size(chunks) > 0` ahead of the explode and predicate
    // pushdown INLINES the whole alias chain into it — the packing HOF
    // (with the segment profile inside) re-evaluated per chunk per
    // lambda step, measured 15 s vs 0.5 s for this build at sf0.1. With
    // fp materialized, the inferred filter only sees cheap shift/concat
    // over an attribute.
    val docs = arrs.select(col("doc_id"),
      expr("""aggregate(sequence(0, 59), CAST(0 AS BIGINT),
             |  (acc, j) -> acc + IF(ss[j+1] * cs[j] > ss[j] * cs[j+1],
             |    shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"""
        .stripMargin).as("fp"))
      .cutLineage()
    val keyed = docs
      .withColumn("chunks", TextOps.simhashChunkKeys(col("fp"), 4, 15))
      .select(col("doc_id"), col("fp"), explode(col("chunks")).as("chunk"))
    keyed.select(col("chunk"), col("doc_id").as("doc_a"), col("fp").as("fa"))
      .join(keyed.select(col("chunk"), col("doc_id").as("doc_b"),
        col("fp").as("fb")), Seq("chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextOps.hamming(col("fa"), col("fb")).as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Radius-9 hamming-ball perceptual near-dup join — q171's dHash
    * discipline at the WIDER radius real image dedup runs at (dHash
    * practice treats ≤ 10/64 differing bits as "same image"). A larger
    * ball can't just relax q171's verify: 4 × 15-bit chunks only
    * guarantee completeness to radius 3 (pigeonhole), and re-banding
    * 60 bits into the 10 bands radius 9 needs would leave 6-bit keys —
    * 64 buckets, i.e. ~n²/64 candidate pairs, quadratic at scale. So the
    * signature WIDENS with the radius: a second 60-bit plane over the
    * same segment profile (stride-2 comparisons with wraparound —
    * gradients at a second scale, the multi-plane trick pHash variants
    * use) makes a 120-bit signature banded as 10 × 12-bit keys: any pair
    * within hamming 9 of the 120 bits shares ≥ 1 intact band
    * (pigeonhole), and 4096-value keys keep buckets ~n/4096 — the
    * candidate join stays near-linear. Verify = exact popcount on the
    * two packed BIGINTs, candidates only; the DuckDB oracle is the same
    * banded form (completeness is a theorem, not a sample). */
  def mediaPhashBall(spark: SparkSession, dir: String): DataFrame =
    mediaPhashBallOn(mediaTable(spark, dir))

  private[graft] def mediaPhashBallOn(media: DataFrame): DataFrame = {
    import graft.functions.TextOps
    val arrs = segArrays(media)
    def plane(cmp: (String, String) => String): String =
      s"""aggregate(sequence(0, 59), CAST(0 AS BIGINT),
         |  (acc, j) -> acc + IF(${cmp("ss", "cs")},
         |    shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"""
        .stripMargin
    // cut at the packed planes, before the band explode — same
    // InferFiltersFromGenerate inlining trap as q171 (see
    // [[mediaPerceptualHashOn]])
    val docs = arrs.select(col("doc_id"),
      expr(plane((ss, cs) =>
        s"$ss[j+1] * $cs[j] > $ss[j] * $cs[j+1]")).as("f1"),
      expr(plane((ss, cs) =>
        s"$ss[(j+2)%61] * $cs[j] > $ss[j] * $cs[(j+2)%61]")).as("f2"))
      .cutLineage()
    val bands = array((0 until 10).map { c =>
      val (src, off) =
        if (c < 5) (col("f1"), c * 12) else (col("f2"), (c - 5) * 12)
      concat_ws(":", lit(c),
        shiftrightunsigned(src, off).bitwiseAND(lit(4095L)))
    }: _*)
    val keyed = docs.select(col("doc_id"), col("f1"), col("f2"),
      explode(bands).as("band"))
    keyed.select(col("band"), col("doc_id").as("doc_a"),
        col("f1").as("fa1"), col("f2").as("fa2"))
      .join(keyed.select(col("band"), col("doc_id").as("doc_b"),
        col("f1").as("fb1"), col("f2").as("fb2")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (TextOps.hamming(col("fa1"), col("fb1")) +
          TextOps.hamming(col("fa2"), col("fb2"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 9)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Cross-media duplicate-FRAME detection — the video-dedup shape
    * ("these two assets share scenes"): carve every payload into
    * aligned 64-byte frames ([[frameSample]] stride 1), hash each frame,
    * and report media pairs sharing ≥ 2 distinct frame hashes. The
    * candidate generator is a frame-hash equi-join with the standard
    * hot-bucket cap (a frame appearing in > 100 media is boilerplate —
    * an intro card / silence block — and emits no pairs; the q35 LSH
    * super-bucket discipline), so candidates stay linear in media at a
    * constant dup rate, never all-pairs. The DuckDB oracle is the same
    * capped form — the cap is part of the declared semantics.
    *
    * Frame identity is md5 over the frame's HEX encoding (not the raw
    * bytes): this DuckDB build has no BLOB substring, so the oracle
    * frames `hex(encode(text))` at 2 hex chars per byte — byte-exact on
    * any UTF-8 input, where a VARCHAR-sliced oracle would silently
    * diverge from the byte-sliced Spark side on multi-byte text. */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir).filter(col("meta.n_bytes") > 0)
    val fd = frameSample(media, 64, 1)
      .select(col("doc_id"), md5(hex(col("frame"))).as("fh"))
    sharedHashPairs(fd)
  }

  /** Shared tail of the piece-hash dedups (q358 aligned frames, q360
    * content-defined chunks): distinct (doc, hash), drop hot buckets
    * (a hash held by > 100 media is boilerplate and emits no pairs —
    * the LSH super-bucket discipline, part of the declared semantics),
    * equi-join pairs, keep pairs sharing ≥ 2 pieces. */
  private def sharedHashPairs(pieces: DataFrame): DataFrame = {
    val fd = pieces.toDF("doc_id", "fh").distinct()
      .cutLineage() // three roles: both pair sides + the bucket census
    val ok = fd.groupBy(col("fh")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= 100).select(col("fh"))
    val fdo = fd.join(ok, Seq("fh"))
    fdo.select(col("fh"), col("doc_id").as("doc_a"))
      .join(fdo.select(col("fh"), col("doc_id").as("doc_b")), Seq("fh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** Content-defined chunk dedup (Muthitacharoen, Chen & Mazières,
    * SOSP 2001 — the LBFS/rsync/backup-dedup discipline): chunk
    * boundaries are declared where the CONTENT's local fingerprint
    * hits a pattern, so an insertion shifts only the chunks it touches
    * and boundaries RE-SYNC right after — the shift-robustness q358's
    * aligned frames structurally lack (one inserted byte there re-keys
    * every downstream frame). Chunks between consecutive boundaries
    * are md5-hashed and pairs sharing ≥ 2 distinct chunk hashes
    * reported, with the same hot-bucket cap.
    *
    * The boundary fingerprint is LBFS's shape but a cheap polynomial
    * instead of a cryptographic hash (exactly rsync's rationale for
    * its rolling checksum): fp(i) = Σⱼ cp[i+j]·Bʲ mod P over the 8
    * codepoints at i (B = 1000003, P = 1000000007 — term ≤ 1.1e6·1e9
    * and the 8-term sum ≤ 8.8e15, exact in BIGINT in both engines),
    * boundary iff fp % 16 = 0 → expected chunk ≈ 16 chars, same rate
    * as the previous md5-prefix rule at ~1/10th the per-position cost.
    * md5 is kept for chunk IDENTITY only, where collision resistance
    * matters. Both engines evaluate the identical integer formula
    * (generated by [[cdcFpSql]]), so the gate re-proves parity.
    *
    * Scale shape: the boundary scan is one codegen'd per-doc loop
    * ([[graft.functions.CdcOps]] — narrow, no shuffle, linear in
    * corpus chars; no per-position explode + groupBy + self-join, and
    * no interpreted HOF in the hot path); chunk carving and hashing
    * are one projection; candidates come from the chunk-hash
    * equi-join, never all-pairs. */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    cdcChunkPairsOn(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** B^j mod P for the CDC boundary polynomial, j = 0..7. */
  private[graft] val cdcPows = Seq(1L, 1000003L, 5993009L, 26937076L,
    156622669L, 137771646L, 58350534L, 708643152L)

  /** The CDC boundary fingerprint as SQL, parameterized over the
    * engine's array-indexing spelling (`at(j)` = "codepoint at
    * position i + j", 1-based): identical term order and integer ops,
    * so the fold is bit-exact across engines. The DuckDB oracle uses
    * this directly; the Spark side runs the SAME formula as the
    * codegen'd [[graft.functions.CdcOps]] loop (the HOF spelling is
    * interpreted per position — CdcBoundariesSpec pins loop ≡ SQL). */
  private[graft] def cdcFpSql(at: Int => String): String =
    cdcPows.zipWithIndex.map { case (p, j) =>
      s"CAST(${at(j)} AS BIGINT) * $p" }
      .mkString("(", "\n      + ", ") % 1000000007")

  /** [[cdcChunkDedup]] over an arbitrary (doc_id, text) frame — spec
    * entry point for the planted insertion-shift fixture. */
  private[graft] def cdcChunkPairsOn(docs: DataFrame): DataFrame =
    sharedHashPairs(cdcChunksOnly(docs))

  /** The (doc_id, chunk-hash) stage of [[cdcChunkDedup]], exposed for
    * the stage-level scale probe. */
  private[graft] def cdcChunksOnly(docs: DataFrame): DataFrame = {
    import graft.functions.CdcOps
    docs
      .filter(length(col("text")) >= 8)
      .withColumn("n", length(col("text")))
      .withColumn("b2", array_sort(array_distinct(concat(
        array(lit(1)), CdcOps.cdcBoundaries(col("text")),
        array(col("n") + 1)))))
      .select(col("doc_id"), explode(expr(
        """filter(transform(sequence(1, size(b2) - 1), k ->
          |  IF(element_at(b2, k + 1) > element_at(b2, k),
          |    md5(substring(text, element_at(b2, k),
          |      element_at(b2, k + 1) - element_at(b2, k))),
          |    NULL)), x -> x IS NOT NULL)""".stripMargin)).as("fh"))
  }

  /** Per-media QUALITY GATE on the decoded-frame axis — the multimodal
    * analog of q41's text-quality rules (and the real shape of audio
    * curation: silence ratio + clipping ratio per clip): decode FIRST,
    * then carve the decoded signal into aligned 64-sample (here: char)
    * frames, each scored with an exact integer "energy" (mean codepoint,
    * `sum div count` — the stub decoder's stand-in for RMS level). A
    * frame is silent below 90 / clipped above 100 (thresholds sit at the
    * corpus P5/P95 so both rules actually fire), and a media item passes
    * iff ≤ 25% of its frames are silent AND ≤ 25% clipped. Reported per
    * origin with corpus-level frame ppms.
    *
    * Framing on the DECODED axis (chars, not payload bytes) is what
    * makes the Spark and DuckDB sides frame identical units on any
    * UTF-8 input — a byte-sliced frame can split a multi-byte char and
    * its decode diverges from the oracle's char slice. One narrow
    * explode (per-frame energy folds inline via `aggregate`, no
    * per-char shuffle) → one per-doc reduce → one per-origin reduce:
    * no joins. */
  def mediaQuality(spark: SparkSession, dir: String): DataFrame = {
    val fm = Tables.load(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("source").as("origin"), col("text"),
        length(col("text")).as("n"))
      .withColumn("frame_idx", explode(
        sequence(lit(0), expr("CAST(ceil(n / 64.0) AS INT)") - 1)))
      .select(col("doc_id"), col("origin"),
        col("text").substr(col("frame_idx") * 64 + 1, lit(64)).as("fr"))
      .select(col("doc_id"), col("origin"), expr(
        """aggregate(split(fr, ''), CAST(0 AS BIGINT), (a, c) ->
          |  a + ascii(c)) div CAST(length(fr) AS BIGINT)"""
          .stripMargin).as("mean_cp"))
    fm.groupBy(col("doc_id"), col("origin"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("mean_cp") < 90, 1L).otherwise(0L)).as("n_silent"),
        sum(when(col("mean_cp") > 100, 1L).otherwise(0L)).as("n_clip"))
      .withColumn("pass",
        expr("n_silent * 1000000 div n_frames") <= 250000 &&
          expr("n_clip * 1000000 div n_frames") <= 250000)
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_media"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(col("n_silent")).as("ts"), sum(col("n_clip")).as("tc"),
        sum(col("n_frames")).as("tf"))
      .select(col("origin"), col("n_media"), col("n_pass"),
        expr("ts * 1000000 div tf").as("silent_frame_ppm"),
        expr("tc * 1000000 div tf").as("clip_frame_ppm"))
  }

  /** Cross-modal decontamination: benchmark leakage found in ONE
    * modality must remove the item from BOTH — the pair (caption,
    * image) is the training example, so a caption that hits the held-out
    * benchmark (q101's 3-shingle rule) poisons its paired embedding, and
    * a CLEAN item whose embedding is near-identical (SemDeDup geometry:
    * same k-means cell, cosine ≥ τ) to a benchmark or caption-hit item
    * is the paraphrased-caption/near-identical-image leak that text-only
    * decontamination misses (Abbas et al. 2023's semantic-dup argument
    * applied to eval leakage). Reports per caption-source: media kept in
    * corpus, direct (caption shingle) hits, semantic (embedding
    * neighborhood) hits, and the combined removal ppm.
    *
    * Scale shape: caption side is q101's exact pipeline (bloom prefilter
    * broadcast over the corpus scan, exact shingle join on survivors);
    * embedding side rides the SHARED stage_kmeans_cells assignment
    * (k grows with n ⇒ cell occupancy constant ⇒ candidate pairs linear
    * in n — never all-pairs); carriers (bench ∪ direct) are a small
    * fraction, so the cell join is skinny on one side. The DuckDB
    * oracle recomputes cells + shingle hits exactly, no bloom. */
  def crossmodalContam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BloomFilterOps, TextOps, VectorOps}
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("eligible", size(split(col("text"), " ")) >= 3)
      .withColumn("is_bench", col("eligible") &&
        (TextOps.portableHash(concat(lit("bench:"),
          col("doc_id").cast("string"))) % 100 < 5))
    val benchSh = Dedup.shingleExploded(docs.filter(col("is_bench")))
      .select(col("s")).distinct()
    // The 512 KiB bitset is collected ONCE and inlined as a BinaryType
    // literal (the InjectRuntimeFilter discipline: one bounded artifact,
    // evaluated on the driver, referenced as a codegen constant). The
    // crossJoin(broadcast(bloom)) spelling plans the probe as a
    // BroadcastNestedLoopJoin condition whose bound bf reference COPIES
    // the 512 KiB bitset out of the joined row per probed shingle —
    // measured 8 s over 247k shingles at sf0.1 (≈127 GB of memcpy)
    // vs 0.3 s for the literal form.
    val bfBytes = benchSh.agg(BloomFilterOps.bloomAgg(
      TextOps.portableHash60(col("s")), 1 << 22, 5).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val direct = Dedup.shingleExploded(
        docs.filter(col("eligible") && !col("is_bench")))
      .filter(BloomFilterOps.bloomContains(
        lit(bfBytes), TextOps.portableHash60(col("s")), 5))
      .join(broadcast(benchSh), Seq("s")) // exact verify: FPs out
      .select(col("doc_id")).distinct()
      .withColumn("is_dir", lit(true))
      .cutLineage() // feeds the media readout AND the carrier side
    val cells = Dedup.embeddingCells(spark, dir) // vec_id, cell, cos_c
    val media = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"))
      .join(docs.select(col("doc_id").as("vec_id"), col("source"),
        col("is_bench")), Seq("vec_id"))
      .filter(!col("is_bench"))
      .join(cells.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(direct.select(col("doc_id").as("vec_id"), col("is_dir")),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("source"), col("cell"),
        coalesce(col("is_dir"), lit(false)).as("dirc"))
      .cutLineage() // three roles: clean side, readout, distinct sem
    val carriers = cells.select(col("vec_id"), col("cell"))
      .join(docs.select(col("doc_id").as("vec_id"), col("is_bench")),
        Seq("vec_id"))
      .join(direct.select(col("doc_id").as("vec_id"), col("is_dir")),
        Seq("vec_id"), "left_outer")
      .filter(col("is_bench") || coalesce(col("is_dir"), lit(false)))
      .select(col("cell"), col("vec_id").as("u"))
    val eAll = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
    val sem = media.filter(!col("dirc"))
      .select(col("cell"), col("vec_id").as("v"))
      .join(carriers, Seq("cell"))
      .filter(col("v") =!= col("u"))
      .join(eAll.select(col("vec_id").as("v"), col("embedding").as("ev"),
        col("nrm").as("nv")), Seq("v"))
      .join(eAll.select(col("vec_id").as("u"), col("embedding").as("eu"),
        col("nrm").as("nu")), Seq("u"))
      // raw bit-identical cosine at q288's τ; rounding only at output
      .filter(VectorOps.cosinePrenormed(
        VectorOps.dot(col("ev"), col("eu")),
        col("nv"), col("nu")) >= 0.5)
      .select(col("v")).distinct()
      .withColumn("is_sem", lit(true))
    media.join(sem, media("vec_id") === sem("v"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        sum(when(col("dirc"), 1L).otherwise(0L)).as("n_direct"),
        sum(when(coalesce(col("is_sem"), lit(false)) && !col("dirc"), 1L)
          .otherwise(0L)).as("n_semantic"))
      .withColumn("contam_ppm",
        expr("(n_direct + n_semantic) * 1000000 div n_media"))
  }

  val catalog: Seq[Q] = Seq(
    Q("q358_frame_dedup", frameDedup _,
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |f AS (
        |  SELECT DISTINCT doc_id, md5(substr(h, i * 128 + 1, 128)) AS fh
        |  FROM (SELECT doc_id, h,
        |          unnest(range(0, CAST(ceil(nb / 64.0) AS INT))) AS i
        |        FROM d)),
        |sz AS (SELECT fh, count(*) AS n FROM f GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM f a JOIN f b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |  JOIN sz ON sz.fh = a.fh
        |  WHERE sz.n <= 100)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM cand GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    Q("q359_media_quality", mediaQuality _,
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE len(text) > 0),
        |f AS (
        |  SELECT doc_id, source, i, substring(text, i * 64 + 1, 64) AS fr
        |  FROM (SELECT doc_id, source, text,
        |          unnest(range(0, CAST(ceil(len(text)
        |            / 64.0) AS INT))) AS i
        |        FROM d)),
        |fm AS (
        |  SELECT doc_id, source, i,
        |    CAST(sum(unicode(fr[j])) AS BIGINT) // count(*) AS mean_cp
        |  FROM (SELECT doc_id, source, i, fr,
        |          unnest(range(1, len(fr) + 1)) AS j FROM f)
        |  GROUP BY 1, 2, 3),
        |pd AS (
        |  SELECT doc_id, source, count(*) AS n_frames,
        |    CAST(sum(CASE WHEN mean_cp < 90 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_silent,
        |    CAST(sum(CASE WHEN mean_cp > 100 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_clip
        |  FROM fm GROUP BY 1, 2)
        |SELECT source AS origin, count(*) AS n_media,
        |  CAST(sum(CASE WHEN n_silent * 1000000 // n_frames <= 250000
        |    AND n_clip * 1000000 // n_frames <= 250000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(n_silent) * 1000000 // sum(n_frames) AS BIGINT)
        |    AS silent_frame_ppm,
        |  CAST(sum(n_clip) * 1000000 // sum(n_frames) AS BIGINT)
        |    AS clip_frame_ppm
        |FROM pd GROUP BY 1""".stripMargin),
    Q("q360_cdc_chunks", cdcChunkDedup _,
      s"""WITH d AS (
        |  SELECT doc_id, text, len(text) AS n,
        |    [unicode(text[i]) for i in range(1, len(text) + 1)] AS cp
        |  FROM documents WHERE len(text) >= 8),
        |bs2 AS (
        |  SELECT doc_id, text,
        |    list_sort(list_distinct([1]
        |      || [CAST(i AS INT) for i in range(1, n - 6)
        |          if (${cdcFpSql(j => s"cp[i + $j]")}) % 16 = 0]
        |      || [n + 1])) AS b2
        |  FROM d),
        |ch AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, b2[k], b2[k + 1] - b2[k])) AS fh
        |  FROM (SELECT doc_id, text, b2,
        |          unnest(range(1, len(b2))) AS k FROM bs2)
        |  WHERE b2[k + 1] > b2[k]),
        |sz AS (SELECT fh, count(*) AS cnt FROM ch GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ch a JOIN ch b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |  JOIN sz ON sz.fh = a.fh
        |  WHERE sz.cnt <= 100)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM cand GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    Q("q356_phash_ball", mediaPhashBall _,
      """WITH d AS (
        |  SELECT doc_id, text, len(text) AS n FROM documents
        |  WHERE len(text) >= 61),
        |ch AS (
        |  SELECT doc_id, ((i - 1) * 61) // n AS seg, unicode(text[i]) AS cp
        |  FROM (SELECT doc_id, text, n, unnest(range(1, n + 1)) AS i
        |        FROM d)),
        |segs AS (
        |  SELECT doc_id, seg, CAST(sum(cp) AS BIGINT) AS sm,
        |    count(*) AS cnt
        |  FROM ch GROUP BY 1, 2),
        |arr AS (
        |  SELECT doc_id, list(sm ORDER BY seg) AS ss,
        |    list(cnt ORDER BY seg) AS cs
        |  FROM segs GROUP BY 1),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_aggregate([CASE WHEN ss[j+2] * cs[j+1]
        |          > ss[j+1] * cs[j+2]
        |        THEN (1::BIGINT << j) ELSE 0::BIGINT END
        |      for j in range(0, 60)], 'sum') AS BIGINT) AS f1,
        |    CAST(list_aggregate([CASE WHEN ss[((j+2)%61)+1] * cs[j+1]
        |          > ss[j+1] * cs[((j+2)%61)+1]
        |        THEN (1::BIGINT << j) ELSE 0::BIGINT END
        |      for j in range(0, 60)], 'sum') AS BIGINT) AS f2
        |  FROM arr),
        |chunks AS (
        |  SELECT doc_id, f1, f2, c,
        |    CASE WHEN c < 5 THEN (f1 >> (c * 12)) & 4095
        |         ELSE (f2 >> ((c - 5) * 12)) & 4095 END AS key
        |  FROM fp, range(0, 10) t(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.f1 AS fa1, a.f2 AS fa2, b.f1 AS fb1, b.f2 AS fb2
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(fa1, fb1)) + bit_count(xor(fa2, fb2))
        |    AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(fa1, fb1)) + bit_count(xor(fa2, fb2)) <= 9"""
        .stripMargin),
    Q("q357_crossmodal_contam", crossmodalContam _,
      s"""WITH ${Dedup.kmeansCtesSql},
        |docs AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |fl AS (
        |  SELECT doc_id, source, len(w) >= 3 AS eligible,
        |    len(w) >= 3 AND
        |      ((('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)),
        |        1, 8))::BIGINT % 100) < 5) AS is_bench,
        |    CASE WHEN len(w) >= 3 THEN
        |      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w) - 1)])
        |    ELSE [] END AS sh
        |  FROM docs),
        |bsh AS (SELECT DISTINCT unnest(sh) AS s FROM fl WHERE is_bench),
        |direct AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(sh) AS s FROM fl
        |    WHERE eligible AND NOT is_bench) c
        |  JOIN bsh USING (s)),
        |media AS (
        |  SELECT e.vec_id, f.source, a2.cell,
        |    (dd.doc_id IS NOT NULL) AS dirc
        |  FROM embeddings e
        |  JOIN fl f ON f.doc_id = e.vec_id
        |  JOIN a2 ON a2.vec_id = e.vec_id
        |  LEFT JOIN direct dd ON dd.doc_id = e.vec_id
        |  WHERE NOT f.is_bench),
        |carriers AS (
        |  SELECT a2.cell, a2.vec_id AS u
        |  FROM a2 JOIN fl f ON f.doc_id = a2.vec_id
        |  LEFT JOIN direct dd ON dd.doc_id = a2.vec_id
        |  WHERE f.is_bench OR dd.doc_id IS NOT NULL),
        |sem AS (
        |  SELECT DISTINCT m.vec_id AS v
        |  FROM media m
        |  JOIN carriers c ON c.cell = m.cell AND c.u <> m.vec_id
        |  JOIN q qv ON qv.vec_id = m.vec_id
        |  JOIN q qu ON qu.vec_id = c.u
        |  WHERE NOT m.dirc AND
        |    (list_aggregate([CAST(qv.embedding[i] AS DOUBLE)
        |        * CAST(qu.embedding[i] AS DOUBLE)
        |      for i in range(1, len(qv.embedding) + 1)], 'sum')
        |     / (qv.nrm * qu.nrm)) >= 0.5)
        |SELECT m.source, count(*) AS n_media,
        |  CAST(sum(CASE WHEN m.dirc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_direct,
        |  CAST(sum(CASE WHEN s.v IS NOT NULL AND NOT m.dirc
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic,
        |  CAST((sum(CASE WHEN m.dirc THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN s.v IS NOT NULL AND NOT m.dirc
        |        THEN 1 ELSE 0 END)) * 1000000
        |    // count(*) AS BIGINT) AS contam_ppm
        |FROM media m LEFT JOIN sem s ON s.v = m.vec_id
        |GROUP BY 1""".stripMargin),
    Q("q182_binaryfile_source", binaryFileSource _,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 50""".stripMargin),
    Q("q171_media_phash", mediaPerceptualHash _,
      """WITH d AS (
        |  SELECT doc_id, text, len(text) AS n FROM documents
        |  WHERE len(text) >= 61),
        |ch AS (
        |  SELECT doc_id, ((i - 1) * 61) // n AS seg, unicode(text[i]) AS cp
        |  FROM (SELECT doc_id, text, n, unnest(range(1, n + 1)) AS i
        |        FROM d)),
        |segs AS (
        |  SELECT doc_id, seg, CAST(sum(cp) AS BIGINT) AS sm,
        |    count(*) AS cnt
        |  FROM ch GROUP BY 1, 2),
        |arr AS (
        |  SELECT doc_id, list(sm ORDER BY seg) AS ss,
        |    list(cnt ORDER BY seg) AS cs
        |  FROM segs GROUP BY 1),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_aggregate([CASE WHEN ss[j+2] * cs[j+1]
        |          > ss[j+1] * cs[j+2]
        |        THEN (1::BIGINT << j) ELSE 0::BIGINT END
        |      for j in range(0, 60)], 'sum') AS BIGINT) AS fp
        |  FROM arr),
        |chunks AS (
        |  SELECT doc_id, fp, c, (fp >> (c * 15)) & 32767 AS key
        |  FROM fp, range(0, 4) t(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.fp AS fa, b.fp AS fb
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin),
    Q("q99_media_histdup", mediaHistDedup _,
      """WITH codes AS (
        |  SELECT doc_id, len(text) AS n,
        |    [unicode(text[i]) // 16 for i in range(1, len(text) + 1)] AS bs
        |  FROM documents WHERE len(text) > 0),
        |hist AS (
        |  SELECT doc_id, n,
        |    [len(list_filter(bs, x -> x = b)) for b in range(0, 16)] AS h
        |  FROM codes),
        |sig AS (
        |  SELECT doc_id, n, h,
        |    list_aggregate([CAST(h[i] * 128 // n AS VARCHAR)
        |      for i in range(1, 17)], 'string_agg', '-') AS qsig
        |  FROM hist),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.h AS ha, a.n AS na, b.h AS hb, b.n AS nb
        |  FROM sig a JOIN sig b
        |    ON a.qsig = b.qsig AND a.doc_id < b.doc_id),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |    round(list_aggregate([abs(CAST(ha[i] AS DOUBLE) / na
        |        - CAST(hb[i] AS DOUBLE) / nb) for i in range(1, 17)],
        |      'sum'), 6) AS l1
        |  FROM cand)
        |SELECT doc_a, doc_b, l1 FROM scored WHERE l1 <= 0.005""".stripMargin),
    Q("q81_frame_stats", frameStats _,
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS nb
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |f AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(nb / 64.0) AS INT), 2)) AS frame_idx
        |  FROM d),
        |fr AS (
        |  SELECT CAST(frame_idx AS INT) AS frame_idx,
        |    substring(text, frame_idx * 64 + 1, 64) AS frame
        |  FROM f)
        |SELECT frame_idx, count(*) AS n_frames,
        |  count(DISTINCT md5(substring(frame, 1, 16)))
        |    AS n_distinct_thumbs,
        |  CAST(sum(length(frame)) AS BIGINT) AS total_bytes
        |FROM fr GROUP BY 1""".stripMargin),
    Q("q44_multimodal_meta", mediaMeta _,
      """SELECT source AS origin, count(*) AS n_media,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  CAST(min(octet_length(encode(text))) AS INT) AS min_bytes,
        |  CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
        |FROM documents GROUP BY 1""".stripMargin)
  )
}
