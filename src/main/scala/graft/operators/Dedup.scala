package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt.CutOps
import graft.Q
import graft.functions.{TextOps, VectorOps}
import graft.sources.Tables

/** Deduplication operators for LLM training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every variant follows the same shape —
  *   (1) narrow per-document sketch (hash / signature / bits / norm),
  *   (2) candidate generation by bucket equi-join (the only shuffle,
  *       keyed on the sketch bucket, never all-pairs),
  *   (3) exact verification on the candidate pairs only.
  * At 100 TB step (2) is what makes dedup tractable: candidates scale with
  * collisions, not documents².
  */
object Dedup {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Exact dedup via content hash: one group per md5(text); keeper = min
    * doc_id (deterministic). Map-side partial agg means the shuffle carries
    * one row per distinct hash. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Incremental ingestion NEAR-dup dedup — the shape every
    * continuously-fed corpus runs per batch: dedup the NEW batch against
    * the EXISTING corpus, never corpus×corpus. Batch = doc_id ≡ 0 (mod 5)
    * simulates the increment. The corpus side is its MinHash band index
    * (16×4 band keys per doc — at 100 TB this is the thing you PERSIST
    * between batches, bucketed by band key); the batch computes its own
    * signatures, probes the index with a band equi-join, and exact
    * Jaccard verifies the candidates. Per batch doc: the lowest matching
    * corpus keeper, the match count, and the best J. Each increment costs
    * one scan of the batch plus one co-located join — never a re-dedup
    * of the corpus. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    // both join sides derive from the same banded frame — checkpoint so
    // the band explode runs once, not once per side (r17: signatures
    // themselves come from the shared 64-perm stage)
    val banded = minhashSigsShared(spark, dir).select(col("doc_id"),
      explode(TextOps.minhashBands(col("sig"), 16, 4)).as("band"))
      .cutLineage(eager = false)
    val corpusIndex = banded.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("corpus_id"), col("band"))
    val cands = banded.filter(col("doc_id") % 5 === 0)
      .join(corpusIndex, Seq("band"))
      .select(col("doc_id").as("doc_a"), col("corpus_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // r17: exact-verify hash sets from the shared hashed-shingle stage
    // (no re-shingle of candidate texts) — Bench prices the stage build
    // separately for its consumer set
    verifyJaccardVia(cands, hashedShingles60(spark, dir))
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min(col("doc_b")).as("keeper"),
        count(lit(1)).as("n_matches"),
        round(max(col("jaccard")), 6).as("best_jaccard"))
  }

  /** Candidate-pair expansion from a (key, doc_id) relation as a SELF-
    * EQUI-JOIN on the checkpointed keyed frame (upstream sketch pipeline
    * still runs exactly once). The r1–r3 form was groupBy(key) +
    * collect_list + in-group enumeration: one shuffle, but a hot key
    * (degenerate band, boilerplate span — unavoidable in crawl data at
    * 100 TB) builds an UNBOUNDED array in a single aggregation buffer and
    * then C(n,2) structs inside one row. SimHash hit exactly this (260-doc
    * chunk buckets) and switched to this expansion in r3; the equi-join
    * streams the identical pair set through whole-stage codegen with O(1)
    * row state — a hot key costs rows, never memory. doc_a < doc_b
    * normalizes pair order (same as the old least/greatest). */
  private[graft] def pairsWithin(keyed: DataFrame, key: String,
      maxBucket: Int = Int.MaxValue, parts: Int = 0): DataFrame = {
    // lazy checkpoint: materialization happens inside the first action's
    // lifecycle (an eager one runs a job at plan-BUILD time, even if the
    // caller never executes the result, and pins executor storage from
    // construction until ContextCleaner GC).
    // r17: callers with an input dir pass parts = Ckpt.scaleParts so the
    // cut carries hashpartitioning(key) — the bucket-cap count join and
    // BOTH sides of the pair self-join then reuse the layout
    // (exchange-free candidate generation).
    val k0 = keyed.select(col(key), col("doc_id"))
    val k = if (parts > 0) k0.cutPartitionedLazy(eager = false, parts, key)
      else k0.cutLineage(eager = false)
    // Hot-bucket cap: the equi-join form streams a degenerate bucket
    // without buffering it, but it still EMITS C(n,2) pairs — one
    // boilerplate shingle shared by 100k crawl docs would flood the
    // verify stage with 5e9 candidates. A bucket that large carries no
    // discriminative signal (every LSH dedup drops super-buckets; same
    // discipline as winnowing's between(2, 50)), so callers opt in to a
    // size cap: per-key counts partial-agg map-side, and the filter join
    // shares the self-join's key partitioning. The cap is mirrored in
    // the DuckDB oracles so parity holds at ANY scale factor.
    val capped = if (maxBucket == Int.MaxValue) k else
      k.join(
        k.groupBy(col(key)).agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= maxBucket).select(col(key)),
        Seq(key))
    capped.select(col(key), col("doc_id").as("doc_a"))
      .join(capped.select(col(key), col("doc_id").as("doc_b")), Seq(key))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Bucket-size cap for the probabilistic candidate generators (q34
    * minhash-bucket, q35 banded-LSH): buckets above this emit no pairs.
    * Mirrored in [[minBucketCandSql]] / [[minhashSql]]. */
  private[graft] val MaxBucket = 1000

  /** (doc_id, shingle) exploded relation — NARROW up to the distinct():
    * split once per doc, explode an offset sequence, pick the three words
    * with codegen'd `element_at`. The r1/r2 window-`lead` formulation was
    * locally faster than an interpreted `transform(...)` lambda, but it
    * SHUFFLED every token (partitionBy doc_id) before the shingle even
    * existed — at 100 TB that's a full-corpus exchange on top of the one
    * the distinct() already needs. This form is scan-local until the
    * distinct, all whole-stage-codegen'd (explode/sequence/element_at are
    * not lambda HOFs); measured local-parity with the window form (the
    * shuffle it removes is cheap at sf0.1 — it is NOT cheap at 100 TB).
    * distinct() mirrors the per-document shingle-SET semantics. */
  private[operators] def shingleExploded(docs: DataFrame): DataFrame =
    shingleRaw(docs).distinct()

  /** Pre-distinct exploded shingles (narrow, scan-local). */
  private def shingleRaw(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 2)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2)).as("s"))

  /** (doc_id, hashed shingle) DISTINCT relation with the hash applied
    * BEFORE the distinct (r16, guide §2.3): the dedup exchange — the
    * first shuffle of every sketch/verify pipeline — carries an 8-byte
    * hash per row instead of the 3-word shingle string. Exactly equal
    * to hash-after-distinct for every consumer: the sig paths take
    * min-aggregates over the hash (insensitive to pre-distinct
    * duplicates) and the verify paths take the hash SET — which is
    * also precisely the oracle's construction
    * (`list_distinct(list_transform(shingles, md5-slice))`). */
  private[operators] def shingleHashed(docs: DataFrame,
      hasher: Column => Column): DataFrame =
    shingleRaw(docs)
      .select(col("doc_id"), hasher(col("s")).as("h"))
      .distinct()

  /** Restrict a documents frame to those appearing in candidate pairs —
    * shingling for verification then runs on candidates only (semi-join
    * pruning; at 100 TB candidates ≪ corpus). */
  private def candidateDocs(docs: DataFrame, cands: DataFrame): DataFrame =
    docs.join(
      cands.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct(),
      Seq("doc_id"), "left_semi")

  /** Exact Jaccard for candidate pairs. Per candidate doc, the shingle SET
    * is materialized once as a sorted-free array of 60-bit portable hashes
    * (strings never cross the verify shuffle); each pair is then one
    * codegen'd `array_intersect` — O(|sh_a|+|sh_b|) per pair, no exploded
    * pair-shingle relation, no wide groupBy. Hashing is md5-derived
    * ([[TextOps.portableHash60]]) so the oracle's hash sets are the
    * identical values — jaccard over hashes equals jaccard over shingles
    * in BOTH engines even in the (≈2⁻⁶⁰) collision case, because the
    * collision would be the same on both sides.
    *
    * The candidate frame and the per-doc set frame are each consumed by
    * two operators downstream; both are tiny relative to the corpus
    * (candidates, not documents), so they're `localCheckpoint`ed to stop
    * the candidate-generation pipeline re-executing per consumer. */
  private def verifyJaccard(cands0: DataFrame, docs: DataFrame): DataFrame = {
    // lazy cuts (r17, verdict item 2): every consumer sits in the ONE
    // final action, so the eager form's two plan-build jobs were pure
    // serial barriers; dedup still happens via the cached RDD blocks
    val cands = cands0.cutLineage(eager = false)
    val shSets = shingleHashed(candidateDocs(docs, cands),
        TextOps.portableHash60)
      .groupBy(col("doc_id")).agg(collect_set(col("h")).as("hs"))
      .cutLineage(eager = false)
    verifyJaccardOnSets(cands, shSets)
  }

  /** [[verifyJaccard]] with the per-doc hash sets taken from the SHARED
    * hashed-shingle stage instead of re-shingling the candidate docs
    * (r17): `sh` is exactly `shingleHashed(shingleCorpus, portableHash60)`
    * — the same (doc_id, h) distinct relation the generic path rebuilds —
    * so the semi-join restriction to candidate ids yields the identical
    * set relation with no second shingle+hash pass over the texts. Only
    * dir-backed callers that already consume the stage use this. */
  private def verifyJaccardVia(cands0: DataFrame, sh: DataFrame): DataFrame = {
    // lazy cuts — same single-action rationale as [[verifyJaccard]]
    val cands = cands0.cutLineage(eager = false)
    val ids = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shSets = sh.join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("h")).as("hs"))
      .cutLineage(eager = false)
    verifyJaccardOnSets(cands, shSets)
  }

  private def verifyJaccardOnSets(cands: DataFrame,
      shSets: DataFrame): DataFrame = {
    cands
      .join(shSets.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        Seq("doc_a"))
      .join(shSets.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      // size-ratio prefilter: J ≤ min(|A|,|B|)/max(|A|,|B|), so pairs with
      // incompatible set sizes can't reach the threshold — pruned BEFORE
      // the per-pair intersect. The downstream filter is on round(J, 6),
      // which admits true J down to 0.4999995, so the bound here uses
      // that exact boundary (integer cross-multiply, no float) to stay a
      // TRUE no-op the oracle needs no mirror for.
      .filter(least(size(col("ha")), size(col("hb"))).cast("long")
          * 10000000L >=
        greatest(size(col("ha")), size(col("hb"))).cast("long") * 4999995L)
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("uni", size(col("ha")) + size(col("hb")) - col("inter"))
      .withColumn("jaccard", round(col("inter") / col("uni"), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Near-dup by exact 3-word-shingle Jaccard. Candidates come from FOUR
    * independent min-shingle-hash buckets (1-row bands of the [[minhash]]
    * hash family): docs agreeing on any of the four per-doc minima are
    * candidates, so recall at J is 1-(1-J)^4 (~94% at J = 0.5, →1 above)
    * REGARDLESS of where in the document the overlap sits — the r01
    * 30-char-prefix bucketing was a recall hole for prefix-divergent
    * near-dups (caught by the spec's divergent-prefix pair). Exact
    * verification is unchanged. Output: pairs with J ≥ 0.5. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    // r17: same candidate pipeline as the generic form, but the exact-
    // verify hash sets come from the shared hashed-shingle stage instead
    // of re-shingling candidate texts (identical relation — see
    // [[verifyJaccardVia]]), and the four min-bucket keys come from rows
    // 0–3 of the SHARED 64-perm signature stage (identical values — the
    // q34 formula IS h_j(x) = (2j+1)x + j·2654435761 mod p, exactly
    // MinHashAgg's permutation j; `DedupSpec` pins pair equality)
    verifyJaccardVia(ngramCandidatesFromSigs(minhashSigsShared(spark, dir)),
      hashedShingles60(spark, dir))

  /** [[ngramJaccard]] over an arbitrary (doc_id, text) frame (spec entry
    * point; docs must already carry ≥3 words). */
  def ngramJaccardOn(docs: DataFrame): DataFrame =
    verifyJaccard(ngramCandidates(docs), docs)

  private def ngramCandidates(docs: DataFrame): DataFrame = {
    val hashed = shingleHashed(docs, TextOps.portableHash)
      .select(col("doc_id"), col("h").as("x"))
    val minsAgg = (0 until 4).map(j =>
      min((lit(2L * j + 1) * col("x") + lit(j * 2654435761L))
        % lit(4294967311L)).as(s"m$j"))
    val keyed = hashed.groupBy(col("doc_id"))
      .agg(minsAgg.head, minsAgg.tail: _*)
      .select(col("doc_id"), explode(array((0 until 4).map(j =>
        concat_ws(":", lit(j), col(s"m$j"))): _*)).as("bucket"))
    pairsWithin(keyed, "bucket", MaxBucket)
  }

  /** [[ngramCandidates]] reading its four min-bucket keys from rows 0–3
    * of the shared 64-perm signature (r17): h_j(x) = (2j+1)x +
    * j·2654435761 mod p is EXACTLY MinHashAgg's permutation j, and a
    * min over the distinct hash relation equals the agg's running min,
    * so bucket strings ("j:m") are value-identical to the groupBy-minima
    * form — one sketch pass feeds q34, q35, q267 and the CC-labels
    * build instead of four. */
  private def ngramCandidatesFromSigs(sigs: DataFrame): DataFrame =
    pairsWithin(sigs.select(col("doc_id"),
      explode(TextOps.minhashBands(col("sig"), 4, 1)).as("bucket")),
      "bucket", MaxBucket)

  /** MinHash + banded LSH near-dup (Broder 1997; k=64 hashes, 16 bands ×
    * 4 rows → catches J ≳ 0.5 with high probability). Signature via the
    * [[graft.functions.MinHashAgg]] typed aggregate (one mergeable buffer,
    * partial agg); candidates from single-pass in-band pair expansion;
    * exact Jaccard verifies. Hashing is [[TextOps.portableHash]], so the
    * ENTIRE sketch→bands→candidates→verify pipeline is replicated in the
    * DuckDB oracle — full cross-engine parity for an LSH operator.
    * `DedupSpec` additionally checks it recovers exactly the q34 pairs. */
  /** Per-doc 64-hash MinHash signatures — the sketch stage of [[minhash]]
    * (exposed so `PlanSpec` can assert partial aggregation on the
    * pre-checkpoint plan: the registered query's final plan starts at the
    * checkpointed candidate RDD, hiding the upstream aggregate). */
  private[graft] def minhashSigs(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
    // explode → one portable hash per shingle (codegen'd), then the
    // MinHashAgg buffer with map-side partial agg: the shuffle carries
    // k values per document.
    shingleHashed(docs, TextOps.portableHash)
      .select(col("doc_id"), col("h").as("x"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhashSig(col("x"), 64).as("sig"))
  }

  def minhash(spark: SparkSession, dir: String): DataFrame = {
    // r17: signatures from the shared 64-perm stage (one sketch pass
    // per pass for q34/q35/q267/CC-labels, not one per consumer)
    val banded = minhashSigsShared(spark, dir).select(col("doc_id"),
      explode(TextOps.minhashBands(col("sig"), 16, 4)).as("band"))
    val cands = pairsWithin(banded, "band", MaxBucket)
    // r17: exact-verify hash sets from the shared hashed-shingle stage
    verifyJaccardVia(cands, hashedShingles60(spark, dir))
  }

  /** SimHash near-dup (Charikar 2002): 60-bit fingerprint of the token
    * multiset; candidates share one of 4 15-bit chunks (any pair at
    * hamming < 4 must collide; looser pairs may still collide and are kept
    * iff hamming ≤ 3). Hashing is the portable 60-bit md5 form
    * ([[TextOps.portableHash60]] — 60 bits so the fingerprint stays a
    * non-negative BIGINT in both engines), which lets the ENTIRE
    * hash→bit-sums→pack→chunk-LSH→hamming pipeline be replicated in the
    * DuckDB oracle; spec additionally cross-checks pairs vs q34. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // explode tokens → one portable hash per token; bit i of the
    // fingerprint = sign of the per-bit ±1 sum over all token hashes.
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("tk"))
      .select(col("doc_id"), TextOps.portableHash60(col("tk")).as("h"))
    // fingerprint aggregated by graft.functions.SimHashAgg: one mergeable
    // 60-counter buffer per doc (decodes each hash once — replaced 60
    // sum(CASE) aggregate expressions, the stage the weak-scaling probe
    // showed dominating at 10x corpus size) packed into ONE long:
    // hamming = bit_count(xor), chunk keys = shift+mask — all scalar
    // codegen, no per-pair array walks.
    val docs = toks.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhashFp(col("h"), 60).as("sim"))
      .withColumn("chunks", TextOps.simhashChunkKeys(col("sim"), 4, 15))
    // In-chunk pair expansion as a SELF-JOIN on the checkpointed keyed
    // frame (sketch pipeline still runs once). SimHash chunk keys are
    // HOT — common tokens bias the fingerprint bits, so single chunk
    // buckets reach hundreds of docs (measured 260 at sf0.1) — and the
    // r01 collect_list + nested-transform expansion materialized
    // C(bucket,2) structs inside one row: GC-heavy and the source of
    // multi-second run-to-run bench variance. The equi-join streams the
    // identical pair set through whole-stage codegen with O(1) row state;
    // hamming filters BEFORE the pair dedup so only near-dups shuffle.
    val keyed = docs
      .select(col("doc_id"), col("sim"), explode(col("chunks")).as("chunk"))
      .cutLineage()
    keyed.select(col("chunk"), col("doc_id").as("doc_a"), col("sim").as("sa"))
      .join(keyed.select(col("chunk"), col("doc_id").as("doc_b"),
        col("sim").as("sb")), Seq("chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextOps.hamming(col("sa"), col("sb")).as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup, candidate-then-verify (the r01 version was
    * an all-pairs BroadcastNestedLoop — O(N²) dot products, dead at 100 TB;
    * kept as [[embeddingCosineAllPairs]] for the spec-side recall check).
    *
    * Candidates come from SemDeDup-style coarse clustering (Abbas et al.
    * 2023; the IVF cell idea of FAISS): vectors in the same k-means cell
    * are candidates, everything else is pruned. Sign-LSH was measured
    * unusable here: any banding loose enough to catch a cos≈0.5 pair
    * admits 40–65% of ALL pairs (bit-agreement ≈ 2/3 at 60°), while
    * k=16 cells admit 6% with full recall on the true pairs.
    *
    * Everything is deterministic and engine-portable by construction:
    * seeds are the k lowest vec_ids; centroids are recomputed in EXACT
    * integer space (vectors quantized to round(1000·x) — summation order
    * can't perturb integer sums), so centroid doubles are identical in
    * both engines; assignment scores are per-row left-to-right folds.
    * Two Lloyd rounds, ties broken by cell id.
    *
    * Scale shape: quantize/assign are narrow per-row passes against a
    * broadcast k-row centroid table; centroid recompute is a mergeable
    * integer aggregate on (cell, dim); candidate generation is the
    * in-cell pair expansion (one shuffle on cell); verify touches
    * candidates only. At 100 TB, k grows with N (cells of ~constant
    * size) and assignment uses an ANN probe instead of the dense k-scan,
    * but the pipeline shape is unchanged. */
  /** Broadcast-scored (vec, cell) relation: every vector against every
    * centroid, with the cosine score — the single k·N pass that both the
    * argmax assignment ([[ecAssign]]) and the top-2 silhouette audit
    * (q324) read. See [[embeddingCells]] for the join-shape rationale. */
  private def ecScored(e: DataFrame, cents: DataFrame): DataFrame =
    e.withColumn("jk", col("vec_id") * 0)
      .join(broadcast(cents
        // per-cell constant — computed k times here instead of N·k times
        // inside the scoring row; same IEEE sequence, same value
        .withColumn("cnorm", VectorOps.l2NormDouble(col("c")))
        .withColumn("jk", col("cell").cast("long") * 0)), Seq("jk"))
      .withColumn("score",
        VectorOps.dotFloatDouble(col("embedding"), col("c")) /
          (col("nrm") * col("cnorm")))

  /** Nearest-centroid argmax over [[ecScored]]: max_by over (score,
    * -cell) is a MERGEABLE aggregate, so the k scored rows per vector
    * collapse map-side and the shuffle carries one row per vector.
    * Ties → lowest cell id, matching the oracle's (score DESC, cell
    * ASC) row_number. */
  private def ecAssign(e: DataFrame, cents: DataFrame): DataFrame =
    ecScored(e, cents)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"),
        struct(col("score"), (-col("cell")).as("nc"))).as("cell"),
        // the winning score IS max(score) (ties differ only in cell),
        // kept so semanticDedup can rank members by centroid proximity
        // without re-scoring; q37 simply doesn't select it
        max(col("score")).as("cos_c"),
        first(col("qv")).as("qv"))

  /** Session-scoped memo for the k-means core and its argmax
    * assignment: FOUR catalog queries consume the identical clustering
    * (q37 embedding dedup, q288 SemDeDup, q324 silhouette, q325
    * Davies–Bouldin), and at 100 TB the fitted centroids + assignment
    * are a materialized intermediate table built once per corpus
    * generation — the [[Graph.support2Pairs]] discipline. Bench prices
    * the build as `stage_kmeans_cells` so each consumer reports
    * marginal cost. */
  private val ecCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (DataFrame, DataFrame)]()
  private val cellsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), DataFrame]()

  /** Bench hook: materialize centroids + assignment OUTSIDE any
    * query's timing (see [[materializeLabels]] for the rationale). */
  private[graft] def materializeCells(spark: SparkSession,
                                      dir: String): Unit =
    embeddingCells(spark, dir).count()

  /** The k-means core shared by [[embeddingCells]] and the
    * clustering-quality audits (q324 silhouette, q325 Davies–Bouldin):
    * the prepared embedding frame `e` (vec_id, embedding, nrm, qv) and
    * the final centroid table `cents` (cell, c) after the one exact-
    * integer Lloyd step. Memoized per (session, dir); both frames are
    * checkpointed so every consumer reads the materialized copy. */
  private[graft] def kmeansEC(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    ecCache.computeIfAbsent(
      (org.apache.spark.sql.GraftBridge.sessionUUID(spark), dir),
      { _ => kmeansECBuild(spark, dir) })

  private def kmeansECBuild(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e0 = t(spark, dir, "embeddings")
    // cells of ~32 vectors: k grows with N so in-cell candidate pairs stay
    // LINEAR in N (perfbench's 500- and 1000-vector inputs get k = 16
    // and 31, sf0.1's 2000 vectors k = 62); floor of 16 keeps small
    // corpora clustered, cap bounds the centroid literal. The oracle
    // computes the identical k from count(*).
    val k = math.max(16L, math.min(4096L, e0.count() / 32)).toInt
    val e = e0
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"),
        transform(col("embedding"), x =>
          floor(lit(1000.0) * x.cast("double") + lit(0.5)).cast("long"))
          .as("qv"))
    // Nearest centroid by cosine. The centroid table (k rows) joins via
    // BroadcastHashJoin on a constant derived key — `vec_id * 0` is
    // deliberately column-derived, NOT a literal: a literal key would
    // constant-fold into a nested-loop cross join, while a non-foldable
    // expression keeps the equi-join (and Catalyst can't fold x*0 under
    // null semantics). Scoring + argmax live in [[ecScored]]/[[ecAssign]].
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("qv"), v => v.cast("double")).as("c"))
    // one Lloyd step in exact integer space: per-(cell, dim) sums are
    // order-invariant bigints, so the recomputed centroid doubles are
    // bit-identical in any engine
    val cents = ecAssign(e, seeds)
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "qx")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("qx")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s"), col("cnt")))),
        x => x.getField("s").cast("double") / x.getField("cnt")).as("c"))
    (e.cutLineage(), cents.cutLineage())
  }

  /** Final (vec_id, cell) assignment of [[embeddingCosine]]'s k-means —
    * exposed for recall/occupancy inspection in specs. Memoized +
    * checkpointed per (session, dir) like [[kmeansEC]]. */
  private[graft] def embeddingCells(spark: SparkSession,
      dir: String): DataFrame =
    cellsCache.computeIfAbsent(
      (org.apache.spark.sql.GraftBridge.sessionUUID(spark), dir), { _ =>
        val (e, cents) = kmeansEC(spark, dir)
        ecAssign(e, cents)
          .select(col("vec_id"), col("cell"), col("cos_c"))
          .cutLineage()
      })

  def embeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
    val cands = pairsWithin(embeddingCells(spark, dir)
      .select(col("cell"), col("vec_id").as("doc_id")), "cell")
    // exact cosine verification on candidate pairs only
    def side(p: String, v: String, en: String, nn: String) =
      e.select(col("vec_id").as(v), col("embedding").as(en),
        col("nrm").as(nn))
    cands.select(col("doc_a").as("v1"), col("doc_b").as("v2"))
      .join(side("a", "v1", "e1", "n1"), Seq("v1"))
      .join(side("b", "v2", "e2", "n2"), Seq("v2"))
      .withColumn("cos", round(
        VectorOps.cosinePrenormed(VectorOps.dot(col("e1"), col("e2")),
          col("n1"), col("n2")), 6))
      .filter(col("cos") >= 0.5)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** All-pairs exact embedding cosine — O(N²), NOT registered as a query;
    * exists solely as the ground truth for [[embeddingCosine]]'s recall
    * check in `DedupSpec` at small sf. */
  def embeddingCosineAllPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("nrm").as("n2"))
    a.join(b, col("v1") < col("v2"))
      .withColumn("cos", round(
        VectorOps.cosinePrenormed(VectorOps.dot(col("e1"), col("e2")),
          col("n1"), col("n2")), 6))
      .filter(col("cos") >= 0.5)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** Simplified (centroid-based) silhouette audit of the embedding
    * clustering (Rousseeuw, J. Comput. Appl. Math. 1987; the centroid
    * variant — a(i) = distance to OWN centroid, b(i) = distance to the
    * NEAREST OTHER centroid — is the O(k·N) form every large-scale
    * clustering job actually runs, since pairwise-member silhouette is
    * O(N²)): the quality gate for the k-means that q37/q288/q324's
    * whole dedup family stands on. Distances are cosine (1 − cos, the
    * metric the assignment itself optimizes). The top-2 centroids per
    * vector come from the SAME broadcast-scored k·N relation the argmax
    * assignment reads ([[ecScored]]) — one row_number window keyed on
    * vec_id (the audit's one shuffle; at 100 TB the dense k-scan is
    * replaced by the q289 IVF probe and the window runs over the ≤
    * probe-width candidate list, partition-local). Per-vector s =
    * (b−a)/max(a,b) is quantized to ppm FIRST (floor(·10⁶ + 0.5) on a
    * non-negative value — b ≥ a by argmax construction, so the centroid
    * variant's s is structurally ≥ 0), making the per-cell mean an
    * order-free integer sum + one integral division. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val (e, cents) = kmeansEC(spark, dir)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cell").asc)
    ecScored(e, cents)
      .select(col("vec_id"), col("cell"), col("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("cell"))).as("cell"),
        max(when(col("rn") === 1, col("score"))).as("s1"),
        max(when(col("rn") === 2, col("score"))).as("s2"))
      .select(col("cell"),
        expr("CASE WHEN 1.0 - s2 <= 0.0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(floor((s1 - s2) / (1.0 - s2) * 1000000 + 0.5) " +
          "AS BIGINT) END").as("sil_ppm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("sil_ppm")).as("sil_sum_ppm"))
      .select(col("cell"), col("n_members"), col("sil_sum_ppm"),
        expr("sil_sum_ppm div n_members").as("mean_sil_ppm"))
  }

  private def silhouetteSql: String = {
    val scoreExpr =
      """(list_aggregate([CAST(q.embedding[i] AS DOUBLE) * cn.c[i]
        |      for i in range(1, len(q.embedding) + 1)], 'sum')
        |     / (q.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
        |      for i in range(1, len(cn.c) + 1)], 'sum'))))""".stripMargin
    s"""WITH $kmeansCtesSql,
      |sc AS (
      |  SELECT vec_id, cell, s, rn FROM (
      |    SELECT q.vec_id, cn.cell, $scoreExpr AS s,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        $scoreExpr DESC, cn.cell ASC) AS rn
      |    FROM q CROSS JOIN cents cn) WHERE rn <= 2),
      |pv AS (
      |  SELECT vec_id,
      |    max(CASE WHEN rn = 1 THEN cell END) AS cell,
      |    max(CASE WHEN rn = 1 THEN s END) AS s1,
      |    max(CASE WHEN rn = 2 THEN s END) AS s2
      |  FROM sc GROUP BY 1),
      |sil AS (
      |  SELECT cell,
      |    CASE WHEN 1.0 - s2 <= 0.0 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor((s1 - s2) / (1.0 - s2) * 1000000 + 0.5)
      |      AS BIGINT) END AS sil_ppm
      |  FROM pv)
      |SELECT cell, count(*) AS n_members,
      |  CAST(sum(sil_ppm) AS BIGINT) AS sil_sum_ppm,
      |  CAST(sum(sil_ppm) // count(*) AS BIGINT) AS mean_sil_ppm
      |FROM sil GROUP BY 1""".stripMargin
  }

  /** Davies–Bouldin clustering validity index (Davies & Bouldin, IEEE
    * TPAMI 1979), the companion audit to q324: silhouette grades
    * per-MEMBER placement, DB grades per-CLUSTER separation — D_i =
    * max_j (S_i + S_j)/M_ij, worst-neighbor scatter-to-separation. Same
    * cosine-distance space as the assignment. Costs: S_i is one integer
    * partial agg over the assignment (per-member distances ppm-quantized
    * FIRST, so the per-cell mean is an order-free integer sum); M_ij is
    * the k×k centroid cross join — bounded by k (≤ 4096 by
    * construction), INDEPENDENT of corpus size, with per-centroid norms
    * precomputed once (k values, not k²). The argmax neighbor is the
    * two-stage max-then-min-id discipline so ties are deterministic in
    * both engines. Coincident centroids (M_ppm = 0) are excluded — a
    * zero separation would be an artifact of the quantization, not a
    * verdict. */
  def daviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    def dotDD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x)
    val (_, cents0) = kmeansEC(spark, dir)
    val cents = cents0
      .withColumn("cn", VectorOps.l2NormDouble(col("c")))
      .cutLineage() // k rows; feeds both pair sides
    // scatter needs only (cell, cos_c) — read the memoized/checkpointed
    // assignment (priced once as stage_kmeans_cells) instead of
    // re-running the k·N ecAssign scoring pass
    val s = embeddingCells(spark, dir)
      .select(col("cell"),
        expr("CAST(floor((1.0 - cos_c) * 1000000 + 0.5) AS BIGINT)")
          .as("dppm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("dppm")).as("dsum"))
      .select(col("cell"), col("n"), expr("dsum div n").as("s_ppm"))
      .cutLineage() // bounded k rows; feeds both r-join sides
    val m = cents.as("ci").join(cents.as("cj"),
        col("ci.cell") =!= col("cj.cell"))
      .select(col("ci.cell").as("i"), col("cj.cell").as("j"),
        floor((lit(1.0) - dotDD(col("ci.c"), col("cj.c")) /
          (col("ci.cn") * col("cj.cn"))) * 1000000 + 0.5)
          .cast("long").as("m_ppm"))
      .filter(col("m_ppm") > 0)
    val r = m
      .join(s.select(col("cell").as("i"), col("s_ppm").as("si")), Seq("i"))
      .join(s.select(col("cell").as("j"), col("s_ppm").as("sj")), Seq("j"))
      .select(col("i"), col("j"),
        expr("(si + sj) * 1000000 div m_ppm").as("r_micro"))
    val rmax = r.groupBy(col("i"))
      .agg(max(col("r_micro")).as("r_max_micro"))
    val worst = r.join(rmax, Seq("i"))
      .filter(col("r_micro") === col("r_max_micro"))
      .groupBy(col("i"))
      .agg(min(col("j")).as("worst_other"), max(col("r_max_micro"))
        .as("r_max_micro"))
    s.select(col("cell"), col("n").as("n_members"), col("s_ppm"))
      .join(worst.select(col("i").as("cell"), col("worst_other"),
        col("r_max_micro")), Seq("cell"))
  }

  private def daviesBouldinSql: String =
    s"""WITH $kmeansCtesSql,
      |cn AS (
      |  SELECT cell, c, sqrt(list_aggregate([c[i] * c[i]
      |    for i in range(1, len(c) + 1)], 'sum')) AS cn
      |  FROM cents),
      |s AS (
      |  SELECT cell, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor((1.0 - cos_c) * 1000000 + 0.5)
      |      AS BIGINT)) // count(*) AS BIGINT) AS s_ppm
      |  FROM a2 GROUP BY 1),
      |m AS (
      |  SELECT ci.cell AS i, cj.cell AS j,
      |    CAST(floor((1.0 - list_aggregate([ci.c[k] * cj.c[k]
      |      for k in range(1, len(ci.c) + 1)], 'sum')
      |      / (ci.cn * cj.cn)) * 1000000 + 0.5) AS BIGINT) AS m_ppm
      |  FROM cn ci JOIN cn cj ON ci.cell <> cj.cell
      |  WHERE floor((1.0 - list_aggregate([ci.c[k] * cj.c[k]
      |      for k in range(1, len(ci.c) + 1)], 'sum')
      |      / (ci.cn * cj.cn)) * 1000000 + 0.5) > 0),
      |r AS (
      |  SELECT m.i, m.j, (si.s_ppm + sj.s_ppm) * 1000000 // m.m_ppm
      |      AS r_micro
      |  FROM m JOIN s si ON si.cell = m.i JOIN s sj ON sj.cell = m.j),
      |rmax AS (
      |  SELECT i, max(r_micro) AS r_max_micro FROM r GROUP BY 1),
      |worst AS (
      |  SELECT r.i, min(r.j) AS worst_other,
      |    max(r.r_micro) AS r_max_micro
      |  FROM r JOIN rmax ON rmax.i = r.i AND r.r_micro = rmax.r_max_micro
      |  GROUP BY 1)
      |SELECT s.cell, s.n AS n_members, s.s_ppm, w.worst_other,
      |  w.r_max_micro
      |FROM s JOIN worst w ON w.i = s.cell""".stripMargin

  /** SemDeDup-style SEMANTIC dedup (Abbas, Tirumala, Simig, Ganguli &
    * Morcos 2023, arXiv:2303.09540): k-means-cluster the embedding
    * corpus, then cut semantic near-duplicates CLUSTER-LOCALLY — the
    * dedup family's complement to MinHash/SimHash (q34–q36 catch
    * LEXICAL near-dups) for documents that share meaning, not tokens.
    * Clustering IS [[embeddingCells]] (deterministic k = max(16,
    * min(4096, n/32)) so cells stay ~32 members at ANY corpus size, one
    * exact-integer-grid Lloyd step), which also yields each member's
    * cosine to its assigned centroid.
    *
    * Removal policy: rank cluster members by (cos-to-centroid ASC,
    * vec_id ASC) — SemDeDup keeps the member FARTHEST from the centroid
    * in each duplicate group — and remove v iff some same-cluster
    * neighbor u with cos(u,v) ≥ τ outranks it; kept_id is v's
    * best-ranked such neighbor. The rule is ONE-SHOT and edge-local (no
    * sequential within-cluster scan, no iteration): one extra mergeable
    * min_by over the verified pairs, so the 100-TB shape is exactly
    * q37's — cluster-keyed candidate equi-join, never all-pairs,
    * candidate pairs LINEAR in N because k grows with N. Every member
    * ships a row (cluster, centroid proximity, keep/remove verdict,
    * kept_id for removed ones): the per-doc decision table a corpus
    * pipeline actually consumes. τ = 0.5 is data-scaled to the
    * synthetic corpus (production SemDeDup uses 1 − ε ≈ 0.95+); both
    * engines filter the RAW bit-identical cosine, rounding only at the
    * output boundary. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = embeddingCells(spark, dir) // vec_id, cell, cos_c
      .cutLineage(eager = false) // four roles in ONE action (r17: lazy)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
    val cands = pairsWithin(
      assigned.select(col("cell"), col("vec_id").as("doc_id")), "cell")
    def side(v: String, en: String, nn: String) =
      e.select(col("vec_id").as(v), col("embedding").as(en),
        col("nrm").as(nn))
    val edges = cands.select(col("doc_a").as("v1"), col("doc_b").as("v2"))
      .join(side("v1", "e1", "n1"), Seq("v1"))
      .join(side("v2", "e2", "n2"), Seq("v2"))
      .withColumn("cos", VectorOps.cosinePrenormed(
        VectorOps.dot(col("e1"), col("e2")), col("n1"), col("n2")))
      .filter(col("cos") >= 0.5)
      .select(col("v1"), col("v2"), col("cos"))
    // orient each qualifying pair loser → winner under the SemDeDup rank
    val winFirst = col("cc1") < col("cc2") ||
      (col("cc1") === col("cc2") && col("v1") < col("v2"))
    val removal = edges
      .join(assigned.select(col("vec_id").as("v1"),
        col("cos_c").as("cc1")), Seq("v1"))
      .join(assigned.select(col("vec_id").as("v2"),
        col("cos_c").as("cc2")), Seq("v2"))
      .select(
        when(winFirst, col("v2")).otherwise(col("v1")).as("loser"),
        when(winFirst, col("v1")).otherwise(col("v2")).as("winner"),
        when(winFirst, col("cc1")).otherwise(col("cc2")).as("wcc"),
        col("cos"))
      .groupBy(col("loser")) // mergeable min_by: collapses map-side
      .agg(min_by(struct(col("winner"), col("cos")),
        struct(col("wcc"), col("winner"))).as("k"))
      .select(col("loser").as("vec_id"),
        col("k.winner").as("kept_id"), col("k.cos").as("kcos"))
    assigned.join(removal, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").as("cluster"),
        (round(col("cos_c"), 6) + lit(0.0)).as("cos_c_r"),
        col("kept_id").isNotNull.as("removed"),
        col("kept_id"),
        (round(col("kcos"), 6) + lit(0.0)).as("pair_cos_r"))
  }

  /** Connected components over an undirected edge list — min-label
    * propagation PLUS pointer jumping (comp := label(comp) each round, the
    * Shiloach–Vishkin shortcut), so convergence is O(log diameter) rounds
    * instead of O(diameter): a 60-hop chain resolves in ~7 rounds where
    * plain propagation needs 59. Each round: one neighbor-min shuffle, one
    * label-of-label hash join, a `localCheckpoint` to truncate lineage
    * (the standard guard for iterative DataFrame algorithms), and an O(1)
    * driver scalar (the label sum — monotonically decreasing, fixed point
    * = converged). Still decreasing at `maxIters` → loud failure, never
    * silently-wrong labels. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50,
      parts: Int = 0): DataFrame = {
    // claimed-cut width: callers with an input dir pass the scale-
    // adaptive Ckpt.scaleParts; 0 falls back to the session's shuffle
    // width (test/ad-hoc callers — claim still exact, just wider)
    val nParts = if (parts > 0) parts
      else edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val e2 = edges.toDF("src", "dst")
    // the edge list is consumed by EVERY propagation round — checkpoint it
    // once so the (possibly expensive) upstream pair pipeline never re-runs.
    // r17: cut WITH its hash layout (cutPartitionedBy, guide §2.4): every
    // round's sym⋈labels probe is keyed on src, so carrying
    // hashpartitioning(src) through the cut makes that join exchange-free
    // in EVERY round — the edge list shuffles once for the whole loop
    // instead of once per round (measured: q274 88 → ~50 jobs; at 100 TB
    // the edge relation is the big side, so this is the dominant saving).
    val sym = e2.unionByName(
      e2.select(col("dst").as("src"), col("src").as("dst")))
      .cutPartitionedBy(nParts, "src")
    // seed with round-0 propagation applied: label = min(self, neighbors) —
    // near-dup components are mostly cliques, which converge immediately
    var labels = sym.groupBy(col("src").as("doc_id"))
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .cutPartitionedLazy(eager = false, nParts, "doc_id")
    // r17: the convergence scalar is ONE RDD-level fold over the round's
    // LAZY cut — materializing the checkpoint and reading the sum in the
    // same job, where the r16 shape ran an eager cut job PLUS a SQL agg
    // action per round (two serial barriers; half the loop's job count
    // was convergence bookkeeping).
    def labelSum(): Long = {
      val i = labels.schema.fieldIndex("comp")
      labels.queryExecution.toRdd
        .aggregate(0L)((a, r) => a + r.getLong(i), _ + _)
    }
    var prevSum = Long.MaxValue
    var curSum = labelSum()
    var iter = 0
    while (curSum < prevSum && iter < maxIters) {
      val prop = sym.join(labels, sym("src") === labels("doc_id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nbr_comp"))
      val stepped = labels
        .join(prop, labels("doc_id") === prop("dst"), "left_outer")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            .as("comp"))
      // pointer jump: chase one level of indirection so label chains halve
      val lol = stepped.select(col("doc_id").as("pj_id"),
        col("comp").as("pj_comp"))
      labels = stepped
        .join(lol, stepped("comp") === lol("pj_id"), "left_outer")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("pj_comp"), col("comp")))
            .as("comp"))
        // r17: carry the doc_id layout through the round cut — the next
        // round's two labels probes (prop join + stepped join) are both
        // keyed on doc_id and reuse it instead of re-exchanging; lazy,
        // because labelSum() below is the materializing action
        .cutPartitionedLazy(eager = false, nParts, "doc_id")
      prevSum = curSum
      curSum = labelSum()
      iter += 1
    }
    if (curSum < prevSum)
      throw new IllegalStateException(
        s"connectedComponents still propagating after $maxIters rounds — " +
          "raise maxIters (graph diameter exceeds 2^rounds)")
    labels
  }

  /** Cluster labels are a genuine pipeline-stage artifact: q53 publishes
    * them, q108 selects canonicals from them, q54 filters the corpus by
    * them. Computing the iterative CC three times per run was q108's
    * entire cost profile (r6 bench: ~3 s of its 3.9 s was the embedded
    * re-clustering), so the labels memoize per (session, dir) — whichever
    * consumer runs first pays, order-independent. The frame is already
    * localCheckpointed by [[connectedComponents]], so the cache holds a
    * materialized RDD, not a lazy lineage. [[graft.Bench]] clears it
    * between timed passes so every pass still pays the full cost once.
    * Keyed by `spark.sessionUUID` (unique per session for the JVM's
    * lifetime) — an identity hash can recur for a new session after an
    * old one is GC'd and would hand out frames bound to a stopped
    * context. */
  private val ccCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** Drop all shared-stage memos (cluster labels + hashed shingles) so a
    * bench pass pays every stage exactly once. */
  private[graft] def clearStageCaches(): Unit = {
    ccCache.clear()
    shCache.clear()
    ecCache.clear()
    cellsCache.clear()
    sigCache.clear()
  }

  /** Bench hooks: materialize a shared stage OUTSIDE any query's timing
    * so each consumer measures its marginal cost only. Without this, the
    * stage's build cost lands on whichever consumer happens to run first
    * in a pass — deterministic for a FULL pass (fixed iteration order)
    * but luck-dependent for the adaptive resample's subsets, which made
    * one consumer's reported min swing 12× between runs of the same
    * binary. The stage itself is timed as its own bench entry (its cost
    * stays in the suite total exactly once), which is also the honest
    * 100-TB accounting: these stages are materialized intermediate
    * tables there, not part of any single downstream query. */
  private[graft] def materializeLabels(spark: SparkSession, dir: String): Unit =
    dupClusters(spark, dir).count()
  private[graft] def materializeShingles(spark: SparkSession, dir: String): Unit =
    hashedShingles60(spark, dir).count()

  /** Duplicate-cluster resolution: connected components over the near-dup
    * pair graph (pairs are transitive in practice — a dedup pipeline keeps
    * one doc per CLUSTER, not per pair). */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    ccCache.computeIfAbsent(
      (org.apache.spark.sql.GraftBridge.sessionUUID(spark), dir), { _ =>
        connectedComponents(
          ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b")),
          parts = graft.Ckpt.scaleParts(spark, dir))
      })

  /** Canonical-document selection: after cluster resolution, a dedup
    * pipeline keeps exactly ONE representative per near-dup cluster — by
    * convention the longest document (most chars), ties to the lowest id.
    * The "which duplicate survives" policy step between clustering and
    * corpus publish.
    *
    * Scale shape: the window partitions by cluster id over CLUSTER MEMBERS
    * only (≪ corpus — only docs that appear in a verified pair), per-key
    * state, no global sort; the n_chars lookup is a hash join keyed on
    * doc_id. */
  def canonicalSelection(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusters(spark, dir)
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labels.join(docs, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("keeper"),
        max(when(col("rk") === 1, col("n_chars"))).as("keeper_chars"))
  }

  /** Golden-record SURVIVORSHIP — the entity-resolution step after
    * cluster detection (q53) and canonical selection (q108): q108 picks
    * ONE representative row; survivorship MERGES fields from different
    * members under per-field rules — the MDM "best of breed" record.
    * Rules here: identity from the smallest id, text from the longest
    * member (ties to the smaller id), source from the most recent
    * member (max id as the recency proxy), volume as the cluster total.
    *
    * Scale shape: strictly better than q108's window — every rule is a
    * MERGEABLE aggregate (min / max_by over a (n_chars, −id) struct /
    * sum), so the whole merge is one partial-agg'd shuffle keyed on the
    * cluster id over cluster MEMBERS only (≪ corpus); no window, no
    * per-cluster sort. Labels come from the memoized CC stage. */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusters(spark, dir)
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("source"))
    labels.join(docs, Seq("doc_id"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("golden_id"),
        max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("nid")))
          .as("text_from"),
        max_by(col("source"), col("doc_id")).as("latest_source"),
        sum(col("n_chars")).as("total_chars"))
  }

  /** EXACT set-similarity self-join (prefix filtering — SSJoin/PPJoin,
    * Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) on the same predicate
    * as [[ngramJaccard]]: 3-word-shingle Jaccard ≥ 0.5. Where q34's
    * minhash buckets are probabilistic (recall 1-(1-J)^4), the prefix
    * filter is a GUARANTEE: order every shingle by global (frequency,
    * shingle) — rarest first — and keep each document's first
    * |s| − ⌈t·|s|⌉ + 1 shingles; any pair with J ≥ t must share a prefix
    * shingle, so candidates ⊇ true pairs by construction and the verified
    * output EQUALS the brute-force join (spec-pinned vs
    * [[ngramJaccardOn]]'s ground truth and q34's output).
    *
    * Scale shape: frequency table is one partial-agg'd count keyed on the
    * shingle; the rank-and-slice window partitions per document (bounded
    * by doc length, never corpus); candidates come from the equi-join on
    * prefix shingles — rare-first ordering makes prefix buckets the
    * SMALLEST buckets in the corpus (the hot boilerplate shingles that
    * would explode a naive shingle-join are exactly the ones prefix
    * filtering skips); verification touches candidates only. ⌈t·n⌉ is
    * computed as (n+1) div 2 — integer-only, no float boundary. */
  /** The (doc_id, 60-bit shingle hash) relation both prefix-filter joins
    * (q150 setsim, q172 containment) run on. A pipeline-stage artifact
    * like the CC labels: shingle-and-hash the corpus ONCE per (session,
    * sf dir) — whichever consumer runs first pays; [[graft.Bench]]
    * clears between passes. The whole prefix pipeline runs on HASHES,
    * not strings: the frequency shuffle, the per-doc rank sort, and the
    * candidate equi-join all carry 8 bytes instead of ~20-char strings
    * (measured 6.0 s string form, ~3 s hashed at sf0.1). Any FIXED
    * total order preserves the prefix-filter guarantee; (freq, hash) is
    * one both engines compute identically ([[TextOps.portableHash60]] =
    * the oracle's md5-slice — the same no-collision assumption the
    * verify stage already documents). Keyed by `spark.sessionUUID` like
    * [[ccCache]]; the filtered corpus is derived INSIDE the builder so
    * the cache key fully determines the cached relation (a `docs`
    * parameter would invite callers to pass a different corpus and
    * silently receive the first caller's shingles). */
  private val shCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** The ≥3-words corpus both prefix-filter consumers shingle over. */
  private def shingleCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)

  private def hashedShingles60(spark: SparkSession, dir: String): DataFrame =
    shCache.computeIfAbsent((org.apache.spark.sql.GraftBridge.sessionUUID(spark), dir), { _ =>
      // r17: claimed layout on the shingle hash — the frequency agg, the
      // sh(x)freq join (both consumers) and q172's index-side probe are
      // all keyed on h and reuse it instead of re-exchanging
      shingleHashed(shingleCorpus(spark, dir), TextOps.portableHash60)
        .cutLineage()
    })

  /** The 64-perm MinHash signature relation as a shared pipeline stage
    * (r17): q34's min-bucket candidates are rows 0–3 of the SAME
    * signature q35 bands and q267 audits, so the sketch pass (shingle +
    * hash + distinct + MinHashAgg) runs once per (session, dir) instead
    * of once per consumer. Memo discipline identical to [[ccCache]] /
    * [[shCache]]; [[graft.Bench]] clears it between passes and prices
    * the build as its own stage entry. */
  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def minhashSigsShared(spark: SparkSession,
      dir: String): DataFrame =
    sigCache.computeIfAbsent(
      (org.apache.spark.sql.GraftBridge.sessionUUID(spark), dir), { _ =>
        minhashSigs(spark, dir).cutLineage()
      })

  private[graft] def materializeSigs(spark: SparkSession, dir: String): Unit =
    minhashSigsShared(spark, dir).count()

  def setsimExact(spark: SparkSession, dir: String): DataFrame = {
    val sh = hashedShingles60(spark, dir)
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), col("h"))
    // per-doc set size via an unbounded frame over the SAME window sort —
    // one Window node, no second exchange and no count-join
    val prefix = sh.join(freq, Seq("h"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(
        wOrd.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter(expr("rn <= n - (n + 1) div 2 + 1"))
      .select(col("doc_id"), col("h"))
    // r17: hash sets for the verify come from the shared stage (no
    // re-shingle of candidate texts), and the candidate self-join runs
    // on a claimed h layout
    verifyJaccardVia(pairsWithin(prefix, "h"), sh)
  }

  /** EXACT containment-similarity join: C(A,B) = |A∩B| / |A| ≥ 0.8 over
    * 3-word-shingle sets — the ASYMMETRIC near-dup case Jaccard misses: a
    * short document quoted inside a much longer one has tiny J (union is
    * dominated by B) but containment ≈ 1. The dedup signal for
    * quote/excerpt/boilerplate-inclusion chains in crawl corpora.
    *
    * Prefix-filter guarantee, asymmetric form: C ≥ t admits (after the
    * rounded-threshold boundary, true C down to 0.7999995) at most
    * |A| − ⌈0.7999995·|A|⌉ misses from A, so A's first
    * p = |A| − ⌈0.7999995·|A|⌉ + 1 shingles under the global rare-first
    * order must intersect B — the PROBE side slices to p rarest shingles,
    * while the INDEX side stays the full shingle relation (B is
    * unbounded: anything can contain A). The ceiling is exact integer
    * arithmetic ((7999995·n + 9999999) div 10⁷) — no float boundary.
    * Pairs are ORDERED (doc_a contained-in doc_b), not a<b normalized.
    *
    * Scale shape: candidates = prefix-probe ⋈ full-index equi-join on the
    * 60-bit shingle hash; rare-first prefixes hit the SMALLEST buckets
    * (hot boilerplate shingles are skipped by construction, exactly as
    * q150); an integer size prefilter (|B| can't be smaller than the
    * required intersection) prunes before the per-pair intersect; exact
    * verify touches candidates only. Spec pins equality to the
    * brute-force all-ordered-pairs join at sf0.001. */
  def containmentJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingleCorpus(spark, dir)
    containmentFrom(docs, hashedShingles60(spark, dir))
  }

  /** [[containmentJoin]] over an arbitrary (doc_id, text) frame (spec
    * entry point for the synthetic short-in-long asymmetry fixture —
    * builds its own shingle relation, never the shared cache). */
  private[graft] def containmentJoinOn(docs0: DataFrame): DataFrame = {
    val docs = docs0.filter(size(split(col("text"), " ")) >= 3)
    containmentFrom(docs, shingleHashed(docs, TextOps.portableHash60)
      .cutLineage())
  }

  private def containmentFrom(docs: DataFrame, sh: DataFrame): DataFrame = {
    val _ = docs // sets now come from sh (r17) — kept for the On-variant ABI
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), col("h"))
    val prefix = sh.join(freq, Seq("h"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(
        wOrd.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter(expr(
        "rn <= n - (7999995L * n + 9999999L) div 10000000L + 1"))
      .select(col("doc_id"), col("h"))
    val cands = prefix.select(col("h"), col("doc_id").as("doc_a"))
      .join(sh.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .cutLineage(eager = false)
    // r17: the per-doc hash sets come from sh itself (the same
    // (doc_id, h) DISTINCT relation shingleHashed(candidateDocs)
    // rebuilt from the texts — a semi-join restriction is identical,
    // with no second shingle+hash pass)
    val ids = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shSets = sh.join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("h")).as("hs"))
      .cutLineage(eager = false)
    cands
      .join(shSets.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        Seq("doc_a"))
      .join(shSets.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      // |A∩B| ≤ |B|, so C ≥ t needs |B|·10⁷ ≥ |A|·7999995 — integer
      // cross-multiply, a TRUE no-op the oracle needs no mirror for
      .filter(size(col("hb")).cast("long") * 10000000L >=
        size(col("ha")).cast("long") * 7999995L)
      .withColumn("containment",
        round(size(array_intersect(col("ha"), col("hb"))) /
          size(col("ha")), 6))
      .filter(col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Edit-distance similarity self-join on part names (Ed-Join shape,
    * Xiao et al. VLDB'08): find name pairs within Levenshtein distance
    * d = 2. A single edit disturbs at most q = 2 of a string's q-grams,
    * so under a global (frequency, bigram) total order any pair within
    * distance d shares at least one of each side's q·d + 1 = 5 RAREST
    * bigrams — the candidate join is on those prefix bigrams only, and a
    * codegen'd `levenshtein` verifies. A length filter (|len_a − len_b| ≤
    * d, a Levenshtein lower bound) prunes before the O(len²) DP runs.
    * Names are first collapsed to distincts with their part counts, so
    * the similarity join runs on the NAME DOMAIN (≪ rows at 100 TB — the
    * dedup-then-join discipline every entity-resolution pipeline uses).
    * Recall is spec-pinned against the brute-force all-pairs join. */
  def editJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = 2
    // consumed by the bigram pipeline and both final join-backs
    val names = t(spark, dir, "part")
      .groupBy(col("p_name").as("nm"))
      .agg(count(lit(1)).as("n_parts"))
      .cutLineage()
    // length >= 2 before the gram explode (as bpePairs does): for a
    // 1-char name Spark's sequence(1, 0) DESCENDS to [1, 0] and would
    // emit spurious grams, while the oracle's range(1, len) is empty —
    // a latent engine divergence even though degenerate grams can't
    // pair two distinct names today.
    val grams = names
      .filter(length(col("nm")) >= 2)
      .select(col("nm"),
        explode(sequence(lit(1), length(col("nm")) - 1)).as("i"))
      .select(col("nm"), col("nm").substr(col("i"), lit(2)).as("bg"))
      .distinct()
    val freq = grams.groupBy(col("bg")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("nm")).orderBy(col("f"), col("bg"))
    val prefix = grams.join(freq, Seq("bg"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 * d + 1)
      .select(col("bg"), col("nm"))
      .cutLineage()
    val hits = prefix.select(col("bg"), col("nm").as("name_a"))
      .join(prefix.select(col("bg"), col("nm").as("name_b")), Seq("bg"))
      .filter(col("name_a") < col("name_b"))
      .dropDuplicates("name_a", "name_b")
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= d)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= d)
    hits
      .join(names.select(col("nm").as("name_a"),
        col("n_parts").as("n_parts_a")), Seq("name_a"))
      .join(names.select(col("nm").as("name_b"),
        col("n_parts").as("n_parts_b")), Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"),
        col("n_parts_a"), col("n_parts_b"))
  }

  /** Shared candidate-generation SQL: four independent min-shingle-hash
    * buckets over the `docs` CTE (which must expose doc_id, sh). */
  private val minBucketCandSql =
    """shx AS (
      |  SELECT doc_id, ('0x' || substr(md5(u), 1, 8))::BIGINT AS x
      |  FROM (SELECT doc_id, unnest(sh) AS u FROM docs)),
      |mins AS (
      |  SELECT doc_id, j,
      |    min(((2 * j + 1) * x + j * 2654435761) % 4294967311) AS m
      |  FROM shx, range(0, 4) t(j) GROUP BY 1, 2),
      |bsz AS (
      |  SELECT j, m, count(*) AS n FROM mins GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM mins a JOIN mins b
      |    ON a.j = b.j AND a.m = b.m AND a.doc_id < b.doc_id
      |  JOIN bsz ON bsz.j = a.j AND bsz.m = a.m
      |  WHERE bsz.n <= 1000)""".stripMargin

  private val ngramJaccardSql =
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh,
      |    list_distinct(list_transform(
      |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |       for i in range(1, len(w) - 1)],
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |$minBucketCandSql
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(da.hs, db.hs)) /
      |        (len(da.hs) + len(db.hs)
      |         - len(list_intersect(da.hs, db.hs))), 6) AS jaccard
      |FROM cand
      |  JOIN docs da ON da.doc_id = doc_a
      |  JOIN docs db ON db.doc_id = doc_b
      |WHERE round(len(list_intersect(da.hs, db.hs)) /
      |      (len(da.hs) + len(db.hs)
      |       - len(list_intersect(da.hs, db.hs))), 6) >= 0.5""".stripMargin

  /** Shared deterministic-k-means oracle prefix: integer quantize → seed →
    * assign → exact-integer centroid → re-assign (`a2`, which also carries
    * each member's cosine to its assigned centroid). Dimension comes from
    * the arrays themselves, never a hardcoded 64. q37 appends in-cell pair
    * verification; q288 appends the SemDeDup removal policy. */
  private[operators] val kmeansCtesSql =
    """q AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
      |    [CAST(floor(1000.0 * CAST(x AS DOUBLE) + 0.5) AS BIGINT)
      |     for x in embedding] AS qv
      |  FROM embeddings),
      |seeds AS (
      |  SELECT CAST(vec_id AS INT) AS cell,
      |    list_transform(qv, v -> CAST(v AS DOUBLE)) AS c
      |  FROM q WHERE vec_id <
      |    (SELECT greatest(16, least(4096, count(*) // 32)) FROM q)),
      |a1 AS (
      |  SELECT vec_id, qv, cell FROM (
      |    SELECT q.vec_id, q.qv, s.cell,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        (list_aggregate([CAST(q.embedding[i] AS DOUBLE) * s.c[i]
      |          for i in range(1, len(q.embedding) + 1)], 'sum')
      |         / (q.nrm * sqrt(list_aggregate([s.c[i] * s.c[i]
      |          for i in range(1, len(s.c) + 1)], 'sum')))) DESC,
      |        s.cell ASC) AS rn
      |    FROM q CROSS JOIN seeds s) WHERE rn = 1),
      |sums AS (
      |  SELECT cell, u.pos AS pos, sum(u.qx) AS s, count(*) AS cnt
      |  FROM (SELECT cell, unnest([{'pos': i, 'qx': qv[i]}
      |        for i in range(1, len(qv) + 1)]) AS u FROM a1)
      |  GROUP BY 1, 2),
      |cents AS (
      |  SELECT cell, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
      |  FROM sums GROUP BY 1),
      |a2 AS (
      |  SELECT vec_id, cell, sc AS cos_c FROM (
      |    SELECT q.vec_id, cn.cell,
      |      (list_aggregate([CAST(q.embedding[i] AS DOUBLE) * cn.c[i]
      |        for i in range(1, len(q.embedding) + 1)], 'sum')
      |       / (q.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
      |        for i in range(1, len(cn.c) + 1)], 'sum')))) AS sc,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        (list_aggregate([CAST(q.embedding[i] AS DOUBLE) * cn.c[i]
      |          for i in range(1, len(q.embedding) + 1)], 'sum')
      |         / (q.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
      |          for i in range(1, len(cn.c) + 1)], 'sum')))) DESC,
      |        cn.cell ASC) AS rn
      |    FROM q CROSS JOIN cents cn) WHERE rn = 1)""".stripMargin

  private val embeddingCosineSql =
    s"""WITH $kmeansCtesSql,
      |pairs AS (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2
      |  FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT v1, v2,
      |    round(list_aggregate([CAST(x.embedding[i] AS DOUBLE)
      |        * CAST(y.embedding[i] AS DOUBLE)
      |      for i in range(1, len(x.embedding) + 1)], 'sum')
      |      / (x.nrm * y.nrm), 6) AS cos
      |  FROM pairs JOIN q x ON x.vec_id = v1 JOIN q y ON y.vec_id = v2)
      |SELECT v1, v2, cos FROM scored WHERE cos >= 0.5""".stripMargin

  /** Shared CC oracle CTE chain: shingled docs → min-bucket candidates →
    * verified pairs → symmetric edges → recursive reachability. Ends at
    * `reach`; consumers add their own final SELECT (q53 labels, q108
    * canonical selection). */
  private[operators] val ccCtesSql =
    s"""docs AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh,
      |    list_distinct(list_transform(
      |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |       for i in range(1, len(w) - 1)],
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |$minBucketCandSql,
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM cand
      |    JOIN docs da ON da.doc_id = doc_a
      |    JOIN docs db ON db.doc_id = doc_b
      |  WHERE round(len(list_intersect(da.hs, db.hs)) /
      |        (len(da.hs) + len(db.hs)
      |         - len(list_intersect(da.hs, db.hs))), 6) >= 0.5),
      |sym AS (
      |  SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT s AS v, s AS r FROM sym
      |  UNION
      |  SELECT sym.d AS v, reach.r AS r
      |  FROM sym JOIN reach ON sym.s = reach.v)""".stripMargin

  private val dupClustersSql =
    s"""WITH RECURSIVE $ccCtesSql
      |SELECT v AS doc_id, min(r) AS comp FROM reach GROUP BY 1""".stripMargin

  private val canonicalSelectionSql =
    s"""WITH RECURSIVE $ccCtesSql,
      |labels AS (SELECT v AS doc_id, min(r) AS comp FROM reach GROUP BY 1),
      |ranked AS (
      |  SELECT l.comp, l.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY l.comp
      |      ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk
      |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
      |SELECT comp, count(*) AS n_members,
      |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keeper,
      |  CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
      |    AS keeper_chars
      |FROM ranked GROUP BY 1""".stripMargin

  /** Shared minhash CTE chain: docs (shingles + hash sets) -> per-shingle
    * hashes -> 64-perm signatures -> 16x4 band keys. */
  private val minhashCtesSql =
    """docs AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                                for i in range(1, len(w) - 1)]) AS sh,
      |    list_distinct(list_transform(
      |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |       for i in range(1, len(w) - 1)],
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |shx AS (
      |  SELECT doc_id, ('0x' || substr(md5(u), 1, 8))::BIGINT AS x
      |  FROM (SELECT doc_id, unnest(sh) AS u FROM docs)),
      |sig AS (
      |  SELECT doc_id, i,
      |    min(((2 * i + 1) * x + i * 2654435761) % 4294967311) AS m
      |  FROM shx, range(0, 64) t(i) GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, i // 4 AS b,
      |    string_agg(m::VARCHAR, '-' ORDER BY i) AS key
      |  FROM sig GROUP BY 1, 2)""".stripMargin

  private val minhashSql =
    s"""WITH $minhashCtesSql,
      |bsz AS (
      |  SELECT b, key, count(*) AS n FROM bands GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
      |  JOIN bsz ON bsz.b = a.b AND bsz.key = a.key
      |  WHERE bsz.n <= 1000)
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(da.hs, db.hs)) /
      |        (len(da.hs) + len(db.hs)
      |         - len(list_intersect(da.hs, db.hs))), 6) AS jaccard
      |FROM cand
      |  JOIN docs da ON da.doc_id = doc_a
      |  JOIN docs db ON db.doc_id = doc_b
      |WHERE round(len(list_intersect(da.hs, db.hs)) /
      |      (len(da.hs) + len(db.hs)
      |       - len(list_intersect(da.hs, db.hs))), 6) >= 0.5""".stripMargin

  /** Prefix-filter similarity-join oracle: identical global ordering
    * (frequency asc, shingle asc), identical integer prefix length,
    * identical hashed-shingle verification as [[ngramJaccardSql]]. */
  private val setsimExactSql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh,
      |    list_distinct(list_transform(
      |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |       for i in range(1, len(w) - 1)],
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |u AS (SELECT doc_id, unnest(hs) AS h, len(hs) AS n FROM docs),
      |f AS (SELECT h, count(*) AS f FROM u GROUP BY 1),
      |r AS (
      |  SELECT doc_id, h, n,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY f.f, h) AS rn
      |  FROM u JOIN f USING (h)),
      |p AS (SELECT doc_id, h FROM r WHERE rn <= n - (n + 1) // 2 + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(da.hs, db.hs)) /
      |        (len(da.hs) + len(db.hs)
      |         - len(list_intersect(da.hs, db.hs))), 6) AS jaccard
      |FROM cand
      |  JOIN docs da ON da.doc_id = doc_a
      |  JOIN docs db ON db.doc_id = doc_b
      |WHERE round(len(list_intersect(da.hs, db.hs)) /
      |      (len(da.hs) + len(db.hs)
      |       - len(list_intersect(da.hs, db.hs))), 6) >= 0.5""".stripMargin

  /** Asymmetric prefix-filter oracle: probe side sliced to the rarest
    * p = n − ⌈0.7999995·n⌉ + 1 shingles, index side the FULL shingle
    * relation, ordered pairs, containment normalized by |A|. */
  private val containmentJoinSql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh,
      |    list_distinct(list_transform(
      |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |       for i in range(1, len(w) - 1)],
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |u AS (SELECT doc_id, unnest(hs) AS h, len(hs) AS n FROM docs),
      |f AS (SELECT h, count(*) AS f FROM u GROUP BY 1),
      |r AS (
      |  SELECT doc_id, h, n,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY f.f, h) AS rn
      |  FROM u JOIN f USING (h)),
      |p AS (SELECT doc_id, h FROM r
      |      WHERE rn <= n - (7999995 * n + 9999999) // 10000000 + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM p a JOIN u b ON a.h = b.h AND a.doc_id <> b.doc_id)
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(da.hs, db.hs)) / len(da.hs), 6)
      |    AS containment
      |FROM cand
      |  JOIN docs da ON da.doc_id = doc_a
      |  JOIN docs db ON db.doc_id = doc_b
      |WHERE round(len(list_intersect(da.hs, db.hs)) / len(da.hs), 6)
      |  >= 0.8""".stripMargin

  private val editJoinSql =
    """WITH names AS (
      |  SELECT p_name AS nm, count(*) AS n_parts FROM part GROUP BY 1),
      |g AS (
      |  SELECT nm, unnest(list_distinct([substr(nm, i, 2)
      |    for i in range(1, len(nm))])) AS bg FROM names),
      |f AS (SELECT bg, count(*) AS f FROM g GROUP BY 1),
      |r AS (
      |  SELECT nm, bg,
      |    row_number() OVER (PARTITION BY nm ORDER BY f.f, bg) AS rn
      |  FROM g JOIN f USING (bg)),
      |p AS (SELECT bg, nm FROM r WHERE rn <= 5),
      |cand AS (
      |  SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
      |  FROM p a JOIN p b ON a.bg = b.bg AND a.nm < b.nm),
      |hits AS (
      |  SELECT name_a, name_b,
      |    CAST(levenshtein(name_a, name_b) AS INT) AS dist
      |  FROM cand
      |  WHERE abs(len(name_a) - len(name_b)) <= 2
      |    AND levenshtein(name_a, name_b) <= 2)
      |SELECT name_a, name_b, dist,
      |  na.n_parts AS n_parts_a, nb.n_parts AS n_parts_b
      |FROM hits
      |  JOIN names na ON na.nm = name_a
      |  JOIN names nb ON nb.nm = name_b""".stripMargin

  private val survivorshipSql =
    s"""WITH RECURSIVE $ccCtesSql,
      |labels AS (SELECT v AS doc_id, min(r) AS comp FROM reach GROUP BY 1),
      |j AS (
      |  SELECT l.comp, l.doc_id, d.n_chars, d.source,
      |    row_number() OVER (PARTITION BY l.comp
      |      ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk
      |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
      |SELECT comp, count(*) AS n_members,
      |  min(doc_id) AS golden_id,
      |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS text_from,
      |  arg_max(source, doc_id) AS latest_source,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM j GROUP BY 1""".stripMargin

  /** Empirical LSH S-curve / pooled-recall audit — the evaluation of
    * the sketch layer ITSELF, the number a pipeline owner needs before
    * trusting any probabilistic dedup at 100 TB: pool the candidate
    * pairs of two independent generators (q35's 16×4 banded MinHash;
    * q34's four 1-row-band min-buckets — the TREC pooling method:
    * ground truth ≈ union of independent retrievers), compute each
    * pooled pair's EXACT Jaccard once, and tabulate per J-decile how
    * many pooled pairs each generator caught. The result is the
    * S-curve made measurable: 1-row bands catch low-J pairs at
    * 1−(1−J)⁴ while the 16×4 bands stay near zero below J ≈ 0.5 and
    * saturate above it. Both generators read ONE shared 64-perm
    * signature stage (the 4-perm buckets ARE rows 0–3 of the q35
    * signature — same formula, same values), so the audit adds no
    * second sketch pass; J verification runs on pooled candidates
    * only, the verify-on-candidates discipline. The decile is exact
    * integer arithmetic (10·|∩| div |∪|, capped at 9). */
  def lshScurve(spark: SparkSession, dir: String): DataFrame = {
    // r17: signatures from the shared stage (q34/q35/CC-labels ride the
    // same relation), and the exact-J hash sets from the shared
    // hashed-shingle stage (semi-join restriction — no per-query
    // re-shingle of candidate texts; identical relation, the
    // [[verifyJaccardVia]] argument)
    val sigs = minhashSigsShared(spark, dir)
    val candsMh = pairsWithin(sigs.select(col("doc_id"),
      explode(TextOps.minhashBands(col("sig"), 16, 4)).as("band")),
      "band", MaxBucket)
    val candsNg = pairsWithin(sigs.select(col("doc_id"),
      explode(TextOps.minhashBands(col("sig"), 4, 1)).as("bucket")),
      "bucket", MaxBucket)
    val pooled = candsMh.withColumn("from_mh", lit(true))
      .join(candsNg.withColumn("from_ng", lit(true)),
        Seq("doc_a", "doc_b"), "full_outer")
      .na.fill(false, Seq("from_mh", "from_ng"))
      .cutLineage(eager = false)
    val ids = pooled
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shSets = hashedShingles60(spark, dir)
      .join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("h")).as("hs"))
      .cutLineage(eager = false)
    pooled
      .join(shSets.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        Seq("doc_a"))
      .join(shSets.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("uni",
        (size(col("ha")) + size(col("hb"))).cast("long") - col("inter"))
      .withColumn("j_decile", least(expr("inter * 10 div uni"), lit(9L)))
      .groupBy(col("j_decile"))
      .agg(count(lit(1)).as("n_pooled"),
        sum(when(col("from_mh"), 1L).otherwise(0L)).as("n_minhash"),
        sum(when(col("from_ng"), 1L).otherwise(0L)).as("n_minbucket"))
      .select(col("j_decile"), col("n_pooled"), col("n_minhash"),
        col("n_minbucket"),
        expr("n_minhash * 1000000 div n_pooled").as("mh_rate_ppm"),
        expr("n_minbucket * 1000000 div n_pooled").as("ng_rate_ppm"))
  }

  private val lshScurveSql =
    s"""WITH $minhashCtesSql,
      |bszm AS (
      |  SELECT b, key, count(*) AS n FROM bands GROUP BY 1, 2),
      |cand_mh AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
      |  JOIN bszm ON bszm.b = a.b AND bszm.key = a.key
      |  WHERE bszm.n <= 1000),
      |mins AS (SELECT doc_id, i AS j, m FROM sig WHERE i < 4),
      |bszn AS (SELECT j, m, count(*) AS n FROM mins GROUP BY 1, 2),
      |cand_ng AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM mins a JOIN mins b
      |    ON a.j = b.j AND a.m = b.m AND a.doc_id < b.doc_id
      |  JOIN bszn ON bszn.j = a.j AND bszn.m = a.m
      |  WHERE bszn.n <= 1000),
      |pooled AS (
      |  SELECT coalesce(m.doc_a, g.doc_a) AS doc_a,
      |    coalesce(m.doc_b, g.doc_b) AS doc_b,
      |    (m.doc_a IS NOT NULL) AS from_mh,
      |    (g.doc_a IS NOT NULL) AS from_ng
      |  FROM cand_mh m FULL OUTER JOIN cand_ng g
      |    ON m.doc_a = g.doc_a AND m.doc_b = g.doc_b),
      |dec AS (
      |  SELECT from_mh, from_ng,
      |    least(len(list_intersect(da.hs, db.hs)) * 10 //
      |      (len(da.hs) + len(db.hs)
      |       - len(list_intersect(da.hs, db.hs))), 9) AS j_decile
      |  FROM pooled
      |    JOIN docs da ON da.doc_id = doc_a
      |    JOIN docs db ON db.doc_id = doc_b)
      |SELECT j_decile, count(*) AS n_pooled,
      |  CAST(sum(CASE WHEN from_mh THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_minhash,
      |  CAST(sum(CASE WHEN from_ng THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_minbucket,
      |  CAST(sum(CASE WHEN from_mh THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS mh_rate_ppm,
      |  CAST(sum(CASE WHEN from_ng THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS ng_rate_ppm
      |FROM dec GROUP BY 1""".stripMargin

  /** Exact-substring decontamination (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 §4.1's
    * ExactSubstr; the eval-set form of Brown et al. 2020 App. C): a
    * TRAINING document is contaminated iff it shares a VERBATIM run of
    * L=8 tokens with any EVAL document (eval slice = doc_id ≡ 0 mod
    * 10). This is the family member q34/q35 (document-level near-dup)
    * and q109 (intra-doc span dedup) cannot express: a short copied
    * span in an otherwise-novel document moves set-Jaccard almost
    * nothing, yet is exactly what leaks benchmark answers into a
    * pretraining corpus.
    *
    * Shape — the standard three-phase dedup discipline at its most
    * literal:
    *   (1) narrow sketch: every document explodes to its L-token
    *       positional windows, carried as (doc_id, pos, h) where h is
    *       the 32-bit portable hash of the window text — the shuffle
    *       key is a fixed-width long, never the L tokens themselves
    *       (the reference impl's suffix array answers the same query;
    *       the hash-join form is the shuffle-native equivalent, and
    *       unlike a suffix array it needs no global sort);
    *   (2) candidates: train-windows ⋈ eval-windows on h — an
    *       equi-join whose cost tracks true shared spans plus the
    *       O(n²/2³²) birthday collisions of the 32-bit key, never
    *       train×eval pairs. Longer L only SHRINKS buckets: verbatim
    *       L-runs get rarer as L grows, so the hot-bucket flood q34
    *       caps against cannot occur here by construction;
    *   (3) verify on candidates only: the window TEXT is fetched back
    *       by (doc_id, pos) equi-joins for the surviving pairs alone
    *       and compared exactly, so 32-bit collisions cost a lookup,
    *       not a false positive.
    * Output: one row per contaminated (train_id, eval_id) pair with
    * the exact count of matching L-window position pairs — overlapping
    * windows of a longer shared run all count, so n_spans also ranks
    * contamination severity. All-integer output. */
  def substringDecontam(spark: SparkSession, dir: String): DataFrame =
    substringDecontamOn(t(spark, dir, "documents"))

  /** Same, over an explicit (doc_id, text) frame — spec entry point for
    * constructed span-overlap cases. */
  private[graft] def substringDecontamOn(raw: DataFrame): DataFrame = {
    val L = 8
    val docs = raw
      .select(col("doc_id"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("tk"))
      .filter(size(col("tk")) >= L)
    // (doc_id, pos, wt): 1-based window start, window text. Built once;
    // projected narrow for the candidate join, consulted with text only
    // for verification.
    val wFull = docs.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(tk) - ${L - 1}), " +
          "i -> array_join(slice(tk, i, " + L + "), ' '))"))
          .as(Seq("p0", "wt")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("wt"))
      .cutLineage() // the hash side + BOTH verify joins read it
    val w = wFull.select(col("doc_id"), col("pos"),
      TextOps.portableHash(col("wt")).as("h"))
    val cand = w.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("train_id"), col("pos").as("t_pos"),
        col("h"))
      .join(w.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_id"), col("pos").as("e_pos"),
          col("h")), Seq("h"))
    cand
      .join(wFull.select(col("doc_id").as("train_id"),
        col("pos").as("t_pos"), col("wt").as("t_wt")),
        Seq("train_id", "t_pos"))
      .join(wFull.select(col("doc_id").as("eval_id"),
        col("pos").as("e_pos"), col("wt").as("e_wt")),
        Seq("eval_id", "e_pos"))
      .filter(col("t_wt") === col("e_wt"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_spans"))
  }

  private def substringDecontamSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |wp AS (
      |  SELECT doc_id, unnest(range(1, len(tk) - 6)) AS pos, tk
      |  FROM toks),
      |w AS (
      |  SELECT doc_id, pos,
      |    array_to_string(tk[pos : pos + 7], ' ') AS wt
      |  FROM wp)
      |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
      |  CAST(count(*) AS BIGINT) AS n_spans
      |FROM w t JOIN w e ON t.wt = e.wt
      |WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
      |GROUP BY 1, 2""".stripMargin

  /** Exact-substring DEDUP proper (Lee et al., ACL 2022 — the
    * intra-corpus half of the ExactSubstr pair; q315 is the train×eval
    * decontamination half): a document's L=8-token window is DUPLICATED
    * iff the identical window text occurs in ANY lower-id document —
    * the "first occurrence keeps, later copies lose" policy Lee et al.
    * apply when cutting repeated spans from a pretraining corpus. Where
    * q34/q35 ask "are these two DOCUMENTS near-identical?" and q109
    * finds repeats INSIDE one document, this finds short verbatim
    * cross-document spans — boilerplate, licenses, templated headers —
    * that document-level Jaccard cannot see.
    *
    * Shape: windows → one (h, window-text) partial-agg'd groupBy
    * electing the min-doc owner per DISTINCT window text (map-side
    * combine collapses repeated windows, so the shuffle carries each
    * distinct window once — ~L× corpus bytes, LINEAR, the same O(corpus)
    * budget as Lee et al.'s suffix array and never pairs²) → an equi-join
    * of the window relation back onto the owner table → one per-doc
    * counting agg. Output is the per-document verdict table a corpus
    * pipeline consumes: window census, duplicated-window count, dup
    * fraction, and the prune flag at the 50% policy threshold. q315's
    * asymmetric hash-candidate form exists for the train×eval case where
    * shuffling the small eval side's text is free; here both sides are
    * the corpus, so the grouped-owner form wins. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupOn(t(spark, dir, "documents"), 8)

  /** q348: the same pipeline at L=25 — Lee et al. operate on ~50-token
    * spans; a second gated length proves the recipe is parametrized,
    * not tuned to the fixture corpus (r13 verdict №5). A duplicated
    * 25-window implies duplicated 8-subwindows (the earlier owner doc
    * contains them all), so any doc q348 flags dup-positive is
    * dup-positive under q317 — asserted in the spec. */
  def substringDedup25(spark: SparkSession, dir: String): DataFrame =
    substringDedupOn(t(spark, dir, "documents"), 25)

  /** Same, over an explicit (doc_id, text) frame at window length `l` —
    * spec entry point and the shared parametrized pipeline. */
  private[graft] def substringDedupOn(raw: DataFrame, l: Int): DataFrame = {
    val L = l
    val docs = raw
      .select(col("doc_id"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("tk"))
      .filter(size(col("tk")) >= L)
    // r16 (guide §2.3 — shuffle keys, not payloads): the election and
    // probe exchanges carried the WINDOW TEXT (~8-25 tokens per row);
    // the q109 span-election discipline replaces it with the 120-bit
    // two-halves-of-one-md5 key — ~5-20× fewer shuffle bytes at
    // production window lengths, and collision-exact in practice
    // (~1e12 distinct windows at the 100 TB design point → n²/2^121
    // ≈ 4e-13 expected collisions; the oracle groups by the SAME key,
    // so both engines agree bit-for-bit regardless).
    val w = docs.select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(tk) - ${L - 1}), " +
          s"i -> array_join(slice(tk, i, $L), ' '))")).as("wt"))
      .select(col("doc_id"), TextOps.portableHash60(col("wt")).as("h1"),
        TextOps.portableHash60b(col("wt")).as("h2"))
      .cutLineage() // owner election AND the probe side read it
    val owner = w.groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("owner"))
    w.join(owner, Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("doc_id") > col("owner"), 1L).otherwise(0L))
          .as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        expr("n_dup * 1000000 div n_windows").as("dup_ppm"),
        (expr("n_dup * 1000000 div n_windows") >= 500000).as("prune"))
  }

  private def substringDedupSql: String = substringDedupSqlAt(8)

  private def substringDedupSqlAt(l: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= $l),
      |w AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(wt), 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(md5(wt), 17, 15))::BIGINT AS h2
      |  FROM (
      |  SELECT doc_id, array_to_string(tk[pos : pos + ${l - 1}], ' ')
      |    AS wt
      |  FROM (SELECT doc_id, unnest(range(1, len(tk) - ${l - 2}))
      |          AS pos, tk
      |        FROM toks))),
      |own AS (SELECT h1, h2, min(doc_id) AS owner FROM w GROUP BY 1, 2)
      |SELECT doc_id, count(*) AS n_windows,
      |  CAST(sum(CASE WHEN doc_id > owner THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup,
      |  CAST(sum(CASE WHEN doc_id > owner THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS dup_ppm,
      |  (CAST(sum(CASE WHEN doc_id > owner THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) >= 500000) AS prune
      |FROM w JOIN own USING (h1, h2)
      |GROUP BY 1""".stripMargin

  val catalog: Seq[Q] = Seq(
    Q("q315_substring_decontam", substringDecontam _,
      substringDecontamSql),
    Q("q317_substring_dedup", substringDedup _, substringDedupSql),
    Q("q348_substring_dedup_l25", substringDedup25 _,
      substringDedupSqlAt(25)),
    Q("q324_silhouette", silhouette _, silhouetteSql),
    Q("q325_davies_bouldin", daviesBouldin _, daviesBouldinSql),
    Q("q267_lsh_scurve", lshScurve _, lshScurveSql),
    Q("q213_survivorship", survivorship _, survivorshipSql),
    Q("q150_setsim_exact", setsimExact _, setsimExactSql),
    Q("q172_containment_join", containmentJoin _, containmentJoinSql),
    Q("q151_edit_join", editJoin _, editJoinSql),
    Q("q53_dup_clusters", dupClusters _, dupClustersSql),
    Q("q108_canonical_selection", canonicalSelection _, canonicalSelectionSql),
    Q("q93_incremental_dedup", incrementalDedup _,
      s"""WITH $minhashCtesSql,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
        |j AS (
        |  SELECT doc_a, doc_b,
        |    round(len(list_intersect(da.hs, db.hs)) /
        |          (len(da.hs) + len(db.hs)
        |           - len(list_intersect(da.hs, db.hs))), 6) AS jaccard
        |  FROM cand
        |    JOIN docs da ON da.doc_id = doc_a
        |    JOIN docs db ON db.doc_id = doc_b
        |  WHERE round(len(list_intersect(da.hs, db.hs)) /
        |        (len(da.hs) + len(db.hs)
        |         - len(list_intersect(da.hs, db.hs))), 6) >= 0.5)
        |SELECT doc_a AS doc_id, min(doc_b) AS keeper,
        |  count(*) AS n_matches, round(max(jaccard), 6) AS best_jaccard
        |FROM j GROUP BY 1""".stripMargin),
    Q("q33_dedup_exact", exact _,
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    Q("q34_dedup_ngram_jaccard", ngramJaccard _, ngramJaccardSql),
    Q("q35_dedup_minhash", minhash _, minhashSql),
    Q("q36_dedup_simhash", simhash _,
      """WITH toks AS (
        |  SELECT doc_id, ('0x' || substr(md5(u), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS u
        |        FROM documents)),
        |bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM toks, range(0, 60) t(i) GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << i) ELSE 0 END)
        |      AS BIGINT) AS sim
        |  FROM bits GROUP BY 1),
        |chunks AS (
        |  SELECT doc_id, sim, c, (sim >> (c * 15)) & 32767 AS key
        |  FROM fp, range(0, 4) t(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.sim AS sa, b.sim AS sb
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin),
    Q("q37_dedup_embedding", embeddingCosine _, embeddingCosineSql),
    Q("q288_semantic_dedup", semanticDedup _,
      s"""WITH $kmeansCtesSql,
        |pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    a.cos_c AS cc1, b.cos_c AS cc2
        |  FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |edges AS (
        |  SELECT v1, v2, cc1, cc2,
        |    list_aggregate([CAST(x.embedding[i] AS DOUBLE)
        |        * CAST(y.embedding[i] AS DOUBLE)
        |      for i in range(1, len(x.embedding) + 1)], 'sum')
        |      / (x.nrm * y.nrm) AS cos
        |  FROM pairs JOIN q x ON x.vec_id = v1 JOIN q y ON y.vec_id = v2
        |  WHERE list_aggregate([CAST(x.embedding[i] AS DOUBLE)
        |        * CAST(y.embedding[i] AS DOUBLE)
        |      for i in range(1, len(x.embedding) + 1)], 'sum')
        |      / (x.nrm * y.nrm) >= 0.5),
        |oriented AS (
        |  SELECT
        |    CASE WHEN cc1 < cc2 OR (cc1 = cc2 AND v1 < v2)
        |      THEN v2 ELSE v1 END AS loser,
        |    CASE WHEN cc1 < cc2 OR (cc1 = cc2 AND v1 < v2)
        |      THEN v1 ELSE v2 END AS winner,
        |    CASE WHEN cc1 < cc2 OR (cc1 = cc2 AND v1 < v2)
        |      THEN cc1 ELSE cc2 END AS wcc,
        |    cos
        |  FROM edges),
        |removal AS (
        |  SELECT loser AS vec_id, winner AS kept_id, cos FROM (
        |    SELECT loser, winner, wcc, cos,
        |      row_number() OVER (PARTITION BY loser
        |        ORDER BY wcc ASC, winner ASC) AS rn
        |    FROM oriented) WHERE rn = 1)
        |SELECT a2.vec_id, a2.cell AS cluster,
        |  round(a2.cos_c, 6) + 0.0 AS cos_c_r,
        |  r.kept_id IS NOT NULL AS removed,
        |  r.kept_id,
        |  round(r.cos, 6) + 0.0 AS pair_cos_r
        |FROM a2 LEFT JOIN removal r ON r.vec_id = a2.vec_id""".stripMargin)
  )
}
