package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt.CutOps
import graft.Q
import graft.functions.{BloomFilterOps, TextOps}
import graft.sources.Tables

/** Text-analysis operators for LLM training-data pipelines: language ID
  * (stopword n-gram heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting. All narrow
  * per-row expressions over `documents.text` — embarrassingly parallel at
  * any scale, aggregation is the only shuffle.
  */
object TextAnalysis {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Public common-word lists per language (top stopwords). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "un", "por"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "he", "zai"))

  private[graft] val langOrder = Seq("en", "de", "es", "fr", "zh")

  private[graft] def stopHits(tokens: Column, lang: String): Column =
    size(filter(tokens, tk => tk.isInCollection(stopwords(lang))))

  /** Language-ID heuristic: per-language stopword hit counts; prediction =
    * first language (in fixed priority order) achieving the max score —
    * deterministic argmax. Output: labeled-vs-predicted confusion counts. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val withScores = langOrder.foldLeft(
      t(spark, dir, "documents")
        .withColumn("tk", split(col("text"), " "))) {
      case (df, l) => df.withColumn(s"s_$l", stopHits(col("tk"), l))
    }
    val best = greatest(langOrder.map(l => col(s"s_$l")): _*)
    val pred = langOrder.foldRight(lit("unknown"): Column) {
      case (l, other) => when(col(s"s_$l") === best, lit(l)).otherwise(other)
    }
    // foldRight builds en-first priority: en wins ties, then de, ...
    withScores.withColumn("pred", when(best === 0, "unknown").otherwise(pred))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"),
           round(avg(col(s"s_en")), 4).as("avg_en_hits"))
  }

  /** Quality scoring: token counts, word length, short-word ratio, and a
    * composite score — the length/stopword-ratio family of heuristic
    * filters used to pre-screen LLM corpora. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("short_ratio",
        size(filter(col("tk"), tk => length(tk) <= 3)) / col("n_tokens"))
      .withColumn("avg_word_len",
        (col("n_chars") - (col("n_tokens") - 1)) / col("n_tokens"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens") / lit(200.0)) -
          lit(0.5) * col("short_ratio"), 6))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("n_chars")), 4).as("avg_chars"),
           round(avg(col("n_tokens")), 4).as("avg_tokens"),
           round(avg(col("short_ratio")), 6).as("avg_short_ratio"),
           round(avg(col("avg_word_len")), 6).as("avg_word_len"),
           round(avg(col("quality_score")), 6).as("avg_quality"))

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenizer
    * (letter runs / digit runs / single punctuation), histogrammed by
    * whitespace-token-count bucket. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws_tokens", size(split(col("text"), " ")))
      .withColumn("re_tokens",
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
      .groupBy(expr("CAST(ws_tokens div 20 AS INT)").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("re_tokens")), 4).as("avg_re_tokens"),
           round(avg(col("re_tokens") / col("ws_tokens")), 6)
             .as("avg_ratio"))

  /** Document fingerprinting: content-defined canonical fingerprint =
    * md5 of the whitespace-normalized lowercase text. Groups share a
    * fingerprint iff byte-identical after normalization. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("fp",
        md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"),
           min(col("source")).as("first_source"))

  /** Corpus-level span deduplication (the C4 / RefinedWeb line-dedup
    * primitive, adapted to span granularity): split every document into
    * non-overlapping 10-token spans, keep only the globally-first
    * occurrence of each distinct span (ordered by doc_id, then span
    * index), and rebuild documents from their surviving spans. At 100 TB
    * this is the exact-substring dedup pass that runs before fuzzy
    * (MinHash) dedup: one shuffle keyed on the span text to elect
    * keepers, one shuffle keyed on doc_id to reassemble — both
    * hash-partitioned, no global sort, no driver state. Span formation
    * is scan-local (explode an index sequence + array slice, same shape
    * as [[chunkDocuments]]).
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOn(t(spark, dir, "documents"))

  /** [[spanDedup]] over an arbitrary (doc_id, text) frame — spec entry
    * point (the >100k-span-document election case needs a synthetic doc). */
  private[graft] def spanDedupOn(documents: DataFrame): DataFrame = {
    val span = 10
    // Materialize the token array BEFORE the explode: without the barrier
    // the optimizer inlines split(text) into the per-span projection (and
    // an inferred join-key filter), re-splitting the whole document for
    // every span — O(tokens × spans) per doc (see functions.Materialize).
    val spans = documents
      .select(col("doc_id"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          ceil(size(col("w")) / lit(span.toDouble)).cast("int") - 1))
          .as("idx"))
      .select(col("doc_id"), col("idx").cast("int").as("idx"),
        array_join(slice(col("w"), col("idx") * span + 1, lit(span)), " ")
          .as("span"))
      // 120-bit portable election key: two disjoint 60-bit halves of ONE
      // md5 — still ~5-10x fewer shuffle bytes than the 10-token span
      // string at production span lengths, and engine-portable. 120 bits
      // matters: a single 60-bit key at the 100 TB design point (~1e12
      // distinct spans) expects n²/2^61 ≈ 1e5 birthday collisions, each
      // silently merging two distinct spans (and the oracle, using the
      // same hash, could never surface it); at 120 bits the expectation
      // is ~4e-13 — the operator is exact in practice.
      .withColumn("sh", TextOps.portableHash60(col("span")))
      .withColumn("sh2", TextOps.portableHash60b(col("span")))
    // Keeper election: lexicographic min over struct(doc_id, idx) — a
    // mergeable partial aggregate with NO encoding bound. The r3 form
    // min(doc_id * 100000 + idx) silently mis-elected keepers once a
    // document exceeded 100k spans (a 1M-token doc — plausible in crawl
    // data); the struct min is exact at any span count.
    val keepers = spans
      .groupBy(col("sh"), col("sh2"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("keep_pos"))
    val kept = spans
      .join(keepers, Seq("sh", "sh2"))
      .where(struct(col("doc_id"), col("idx")) === col("keep_pos"))
    val nSpans = documents
      .select(col("doc_id"),
        ceil(size(split(col("text"), " ")) / lit(span.toDouble))
          .cast("int").as("n_spans"))
    nSpans
      .join(
        kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("kept_spans"),
               md5(array_join(transform(
                 array_sort(collect_list(struct(col("idx"), col("span")))),
                 s => s.getField("span")), " ")).as("rebuilt_hash")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("kept_spans"), lit(0)).as("kept_spans"),
        coalesce(col("rebuilt_hash"), md5(lit(""))).as("rebuilt_hash"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models", table A1 subset): word-count bounds, mean word
    * length bounds, and a minimum stopword-hit count. Emits the
    * per-source rejection profile — the monitoring view a filtering
    * pipeline tracks per ingestion batch. All rules are scan-local row
    * expressions; the per-source rollup is the only shuffle.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    t(spark, dir, "documents")
      .select(col("source"), col("n_chars"),
        size(tk).as("n_words"), stopHits(tk, "en").as("stop_hits"))
      .withColumn("f_wc",
        when(col("n_words") < 40 || col("n_words") > 100000, 1)
          .otherwise(0))
      .withColumn("mwl",
        (col("n_chars") - (col("n_words") - 1)) / col("n_words"))
      .withColumn("f_mwl",
        when(col("mwl") < 3 || col("mwl") > 10, 1).otherwise(0))
      .withColumn("f_stop", when(col("stop_hits") < 2, 1).otherwise(0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("f_wc")).as("fail_word_count"),
           sum(col("f_mwl")).as("fail_mean_word_len"),
           sum(col("f_stop")).as("fail_stopwords"),
           sum(when(col("f_wc") + col("f_mwl") + col("f_stop") === 0, 1)
             .otherwise(0)).as("n_pass"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every positional 5-word
    * shingle, slide a window of w=3 hashes, record each window's minimum.
    * Any shared word-run of ≥ w+5-1 = 7 words between two documents is
    * guaranteed to share a fingerprint. Output: candidate pairs ranked by
    * shared-fingerprint count. Hashing is the engine-portable
    * [[graft.functions.TextOps.portableHash]], so the whole
    * shingle→window-min→pair pipeline is oracle-replicated in DuckDB;
    * spec additionally checks the pairs cover all Jaccard near-dups.
    *
    * Scale shape: positional shingles via posexplode+lead (codegen), the
    * sliding min via a row-frame window, pair generation via groupBy on
    * fingerprint (never all-pairs). */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = 3
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // 5-word positional shingles: winnowing needs k-grams long enough to
    // be document-discriminating (Schleimer et al. use k ~ guarantee
    // threshold; short shingles make fingerprints globally common)
    val shingled = t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .select(col("doc_id"), col("pos"), col("w0"),
        lead(col("w0"), 1).over(byPos).as("w1"),
        lead(col("w0"), 2).over(byPos).as("w2"),
        lead(col("w0"), 3).over(byPos).as("w3"),
        lead(col("w0"), 4).over(byPos).as("w4"))
      .filter(col("w4").isNotNull)
      .select(col("doc_id"), col("pos"),
        graft.functions.TextOps.portableHash(
          concat_ws(" ", col("w0"), col("w1"), col("w2"), col("w3"),
            col("w4"))).as("h"))
    val slide = byPos.rowsBetween(-(w - 1), Window.currentRow)
    val fps = shingled
      .withColumn("fp", min(col("h")).over(slide))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("fp")).distinct()
    // pairs sharing a fingerprint, ranked by overlap count
    fps.groupBy(col("fp")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, 50)) // drop degenerate hot fps
      .select(explode(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(least(x, y).as("a"), greatest(x, y).as("b")))))
        .as("ps"))
      .select(explode(col("ps")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** End-to-end corpus preparation — the flagship LLM-data-prep chain,
    * composing the library's operators in one declared query:
    * quality gate (≥ 20 tokens) → near-dup removal (keep only each
    * cluster's min-id doc, via [[Dedup.dupClusters]]) → per-language
    * corpus stats. The at-scale shape: the anti-join removes cluster
    * losers without ever materializing the kept corpus twice. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val losers = Dedup.dupClusters(spark, dir)
      .filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id"))
    t(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens") >= 20)
      .join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           round(avg(col("n_chars")), 4).as("avg_chars"))
  }

  /** Edit-distance (Levenshtein) similarity over part names — identical
    * integer semantics in Spark and DuckDB, an exact cross-engine oracle
    * for string-similarity search. Pair space bounded by key range +
    * same-type bucket (the candidate-generation discipline again). */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").filter(col("p_partkey") < 200)
    val a = p.select(col("p_partkey").as("k1"), col("p_name").as("n1"),
      col("p_type").as("p_type"))
    val b = p.select(col("p_partkey").as("k2"), col("p_name").as("n2"),
      col("p_type").as("p_type"))
    a.join(b, Seq("p_type"))
      .filter(col("k1") < col("k2"))
      .withColumn("lev", levenshtein(col("n1"), col("n2")))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("lev") <= 5, 1).otherwise(0)).as("n_close"),
           min(col("lev")).as("min_lev"),
           round(avg(col("lev")), 4).as("avg_lev"))
  }

  /** Bigram language-model scoring (the CCNet-style corpus quality
    * filter): P(w2|w1) estimated from corpus bigram counts; a document's
    * score is its mean bigram log-probability. Two count aggregations +
    * one join — the LM "training" and "scoring" are the same distributed
    * pass shape at any corpus size. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    // Narrow bigram formation (explode an offset sequence + element_at,
    // same discipline as Dedup.shingleExploded): no token shuffle before
    // the count aggregations — scan-local until the partial aggs.
    val bg = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"), col("lang"),
        element_at(col("ws"), col("i")).as("w0"),
        concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1)).as("bg"))
    val bgc = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val w1c = bg.groupBy(col("w0")).agg(count(lit(1)).as("c_w1"))
    bg.join(bgc, Seq("bg")).join(w1c, Seq("w0"))
      .withColumn("lp", log(col("c_bg") / col("c_w1")))
      .groupBy(col("doc_id"), col("lang"))
      .agg(avg(col("lp")).as("doc_score"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("doc_score")), 4).as("avg_lm"),
           round(min(col("doc_score")), 4).as("min_lm"))
  }

  /** Interpolated Kneser–Ney bigram smoothing (Kneser & Ney, ICASSP
    * 1995; Chen & Goodman 1998 — the LM smoothing that beat everything
    * for 20 years and still backs n-gram quality filters): P(w₂|w₁) =
    * (c(w₁w₂) − d)/c(w₁·) + λ(w₁)·P_cont(w₂), d = 0.75, λ(w₁) =
    * d·N₁₊(w₁·)/c(w₁·), P_cont(w₂) = N₁₊(·w₂)/N₁₊(··). Where q59's ML
    * estimate asks "how often does w₂ follow w₁", the continuation
    * distribution asks "in how many CONTEXTS does w₂ appear" — the
    * fix for high-frequency-but-single-context tokens. All five
    * statistics come from ONE bigram census (a census row IS a distinct
    * bigram type, so N₁₊ counts are row counts): vocab-domain
    * everything, corpus touched once. The discount never clips here
    * (census counts ≥ 1 > d). Output: the top-20 bigrams by count with
    * the probability as one shared double fragment quantized micro. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    val bg = t(spark, dir, "documents")
      .select(graft.functions.Barrier.materialized(
        split(col("text"), " ")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
    val census = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
      .cutLineage() // vocab-domain; feeds top-20 + three count views
    val w1c = census.groupBy(col("w1"))
      .agg(sum(col("c_bg")).as("c_w1"), count(lit(1)).as("n_follow"))
    val w2c = census.groupBy(col("w2")).agg(count(lit(1)).as("n_prec"))
    val tot = census.agg(count(lit(1)).as("n_types"))
    census.orderBy(col("c_bg").desc, col("w1").asc, col("w2").asc)
      .limit(20)
      .join(w1c, Seq("w1")).join(w2c, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_bg"), col("c_w1"),
        col("n_follow"), col("n_prec"), col("n_types"),
        expr(knProbSql).as("p_kn_micro"))
      .withColumn("p_kn_r",
        round(col("p_kn_micro").cast("double") / 1000000.0, 6) + lit(0.0))
  }

  /** The interpolated-KN probability in integer micro — ONE double
    * sequence shared verbatim by both engines. */
  private def knProbSql: String =
    "CAST(floor(((CAST(c_bg AS DOUBLE) - 0.75) / c_w1 + " +
      "(0.75 * n_follow / c_w1) * " +
      "(CAST(n_prec AS DOUBLE) / n_types)) * 1000000 + 0.5) AS BIGINT)"

  private def kneserNeySql: String =
    s"""WITH bg AS (
      |  SELECT tk[i] AS w1, tk[i + 1] AS w2
      |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
      |        FROM (SELECT string_split(text, ' ') AS tk FROM documents
      |              WHERE len(string_split(text, ' ')) >= 2))),
      |census AS MATERIALIZED (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
      |  FROM bg GROUP BY 1, 2),
      |w1c AS (
      |  SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_w1,
      |    CAST(count(*) AS BIGINT) AS n_follow
      |  FROM census GROUP BY 1),
      |w2c AS (
      |  SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
      |  FROM census GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM census),
      |top AS (
      |  SELECT w1, w2, c_bg FROM census
      |  ORDER BY c_bg DESC, w1 ASC, w2 ASC LIMIT 20)
      |SELECT w1, w2, c_bg, c_w1, n_follow, n_prec, n_types,
      |  $knProbSql AS p_kn_micro,
      |  round(CAST($knProbSql AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS p_kn_r
      |FROM top JOIN w1c USING (w1) JOIN w2c USING (w2), tot"""
      .stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with the corpus bigram LM, then split each language into
    * head/middle/tail terciles — the quality-stratification step that
    * decides which slice of a crawl is worth training on.
    *
    * Determinism: the per-doc score is INTEGER arithmetic end-to-end —
    * mean scaled conditional probability `Σ (c_bg·10⁶ div c_w1) div n` —
    * so scores are exact and order-independent (a float log-prob mean
    * would wobble in the last ulp and could flip tercile boundaries);
    * ntile then runs over the total order (score desc, doc_id). Scale
    * shape: same two count aggregations + join as [[bigramLm]]; the
    * ntile window partitions per language over one row per document. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"), col("lang"),
        element_at(col("ws"), col("i")).as("w0"),
        concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1)).as("bg"))
    val bgc = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val w1c = bg.groupBy(col("w0")).agg(count(lit(1)).as("c_w1"))
    val doc = bg.join(bgc, Seq("bg")).join(w1c, Seq("w0"))
      .withColumn("p6", expr("(c_bg * 1000000) div c_w1"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("CAST(sum(p6) div count(1) AS BIGINT)").as("score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id").asc)
    doc.withColumn("bucket", ntile(3).over(w))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score")), 4).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
  }

  /** TF-IDF top terms per document (bounded to doc_id < 50): exact term
    * frequencies, document frequencies, and ln(N/df) weighting; the N
    * scalar is a broadcast 1-row aggregate — no driver-side action. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, Seq("w")).crossJoin(broadcast(n))
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("w").as("term"),
        round(col("tf") * log(col("n") / col("df")), 4).as("tfidf"))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= 3)
  }

  /** Corpus-level top-k n-grams by document frequency — the vocabulary /
    * contamination-screen primitive (e.g. finding benchmark phrases that
    * leak into a training corpus). Per-doc distinct bigrams explode into a
    * count aggregation; the top-k runs as sort-limit over the
    * ALREADY-aggregated (bigram, df) pairs — Spark plans orderBy+limit as
    * TakeOrderedAndProject (per-partition heaps, merge of 20-row tops), so
    * no single-partition sort of the vocabulary ever happens. The rank
    * window only numbers the final 20 rows.
    *
    * Bigrams come from posexplode + lead() (codegen'd scalar exprs), not an
    * interpreted `transform` lambda — measured ~4x faster on this corpus;
    * Catalyst cannot codegen or CSE through higher-order-function scopes.
    * The doc-frequency distinct folds into one countDistinct aggregation
    * rather than a separate per-doc dedup pass. */
  def topNgrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val rank = Window.orderBy(col("df").desc, col("ngram").asc)
    t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .withColumn("w1", lead(col("w0"), 1).over(byPos))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w0"), col("w1")).as("ngram"))
      .groupBy(col("ngram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("ngram").asc)
      .limit(20)
      .withColumn("rk", row_number().over(rank))
  }

  /** Text normalization + scrubbing — the canonicalize-before-dedup pass:
    * lowercase, digit runs → `<num>` placeholder, whitespace collapsed,
    * trimmed. Reports per-language how much the corpus shrank and how many
    * documents changed at all. Pure per-row regex map (codegen'd, no
    * shuffle before the final stats). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("norm",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[0-9]+", "<num>"),
          "\\s+", " ")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("norm") =!= col("text"), 1).otherwise(0))
             .as("n_changed"),
           round(avg(length(col("text"))), 4).as("avg_len_raw"),
           round(avg(length(col("norm"))), 4).as("avg_len_norm"),
           sum(length(col("text")) - length(col("norm")))
             .as("chars_removed"))

  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap method,
    * Brown et al. 2020 §C): a deterministic 5% of documents stand in for
    * the held-out benchmark set (md5 bucket, same discipline as
    * `Sampling`); any OTHER document sharing ≥1 3-word shingle with a
    * benchmark document is flagged as contaminated, with the shared-shingle
    * count and the lowest matching benchmark doc.
    *
    * Scale shape: the benchmark side is small by construction (benchmarks
    * are fixed-size while the corpus grows), so its shingle set
    * broadcasts; the corpus side streams through one codegen'd explode →
    * broadcast-hash join → partial-agg count. No pair expansion at all —
    * the join key is the shingle. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("is_bench",
        TextOps.portableHash(
          concat(lit("bench:"), col("doc_id").cast("string"))) % 100 < 5)
    val benchSh = Dedup.shingleExploded(docs.filter(col("is_bench")))
      .select(col("doc_id").as("bench_id"), col("s"))
    Dedup.shingleExploded(docs.filter(!col("is_bench")))
      .join(broadcast(benchSh), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_shared"),
        min(col("bench_id")).as("bench_doc"))
  }

  /** Bloom-prefiltered benchmark decontamination — same contract as
    * [[decontaminate]] (q92) but the broadcast artifact is a fixed-size
    * 512 KiB bloom BITSET ([[graft.functions.BloomAgg]]) instead of the
    * benchmark's full shingle-string set. The corpus side probes the
    * bitset with a codegen'd expression ([[graft.functions.BloomMightContain]])
    * and only survivors (true matches + the small false-positive residue)
    * reach the exact shingle join, which removes the false positives — the
    * result is EXACTLY the n-gram-overlap semantics, so the oracle is the
    * exact SQL with no bloom in it.
    *
    * Scale rationale: benchmark suites are fixed-size while the corpus
    * grows without bound, so the broadcast side must not scale with
    * benchmark text volume. The bitset is O(#shingles) BITS (~1.2 bytes/
    * element at 1% FP with 5 hashes) vs ~40+ bytes/element for broadcast
    * strings, and the probe runs inside whole-stage codegen on the scan
    * side — at 100 TB the exact join then processes ~1% of shingles
    * instead of all of them. Reports per-source contamination shares, the
    * publish-gate view a curation pipeline acts on. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("is_bench",
        TextOps.portableHash(
          concat(lit("bench:"), col("doc_id").cast("string"))) % 100 < 5)
    val benchSh = Dedup.shingleExploded(docs.filter(col("is_bench")))
      .select(col("s")).distinct()
    val bloom = benchSh.agg(BloomFilterOps.bloomAgg(
      TextOps.portableHash60(col("s")), 1 << 22, 5).as("bf"))
    val hits = Dedup.shingleExploded(docs.filter(!col("is_bench")))
      .crossJoin(broadcast(bloom))
      .filter(BloomFilterOps.bloomContains(
        col("bf"), TextOps.portableHash60(col("s")), 5))
      .join(broadcast(benchSh), Seq("s")) // exact verify: false positives out
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1))
    docs.filter(!col("is_bench"))
      .join(hits, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("contam_share",
        round(col("n_contaminated") / col("n_docs"), 6))
  }

  /** Decontamination against an EXTERNAL versioned benchmark manifest —
    * the production shape of q92/q101: the held-out eval sets arrive as
    * a second parquet input (benchmark name, entry id, text — staged
    * once per (kind, sf) like the schema-evolution/ORC simulation
    * inputs, standing in for the curated manifest a leakage-review
    * process publishes), and the report is PER-BENCHMARK hit rates —
    * the table a release gate signs off on ("this corpus touches qa_v1
    * at 212 ppm"). Contamination predicate is the q92 n-gram method
    * (shares ≥1 3-word shingle with any manifest entry).
    *
    * Scale shape: one 512 KiB bloom over ALL manifests' shingles
    * prefilters the corpus stream (manifests are fixed-size while the
    * corpus grows), survivors reach the exact shingle join which both
    * removes false positives AND attaches the benchmark name — so the
    * per-benchmark split costs nothing extra over q101's single-set
    * path, and the oracle is the exact SQL with no bloom in it. */
  def manifestDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("mh", TextOps.portableHash(
        concat(lit("mani:"), col("doc_id").cast("string"))))
    val base = Relational.stagedDir("eval_manifest", dir) { b =>
      docs.filter(col("mh") % 100 < 6)
        .select(expr("CASE mh % 3 WHEN 0 THEN 'qa_v1' " +
            "WHEN 1 THEN 'summarize_v2' ELSE 'cloze_v1' END")
            .as("benchmark"),
          col("doc_id").as("bench_id"), col("text"))
        .write.mode("overwrite").parquet(s"$b/manifest")
    }
    val manifest = spark.read.parquet(s"$base/manifest")
    val mSh = Dedup.shingleExploded(
        manifest.select(col("bench_id").as("doc_id"), col("text")))
      .join(broadcast(manifest.select(col("bench_id").as("doc_id"),
        col("benchmark"))), Seq("doc_id"))
      .select(col("benchmark"), col("s"))
      .distinct()
    val bloom = mSh.select(col("s")).distinct()
      .agg(BloomFilterOps.bloomAgg(
        TextOps.portableHash60(col("s")), 1 << 22, 5).as("bf"))
    val corpus = docs.filter(col("mh") % 100 >= 6)
    val nCorpus = corpus.agg(count(lit(1)).as("n_corpus"))
    val hits = Dedup.shingleExploded(corpus)
      .crossJoin(broadcast(bloom))
      .filter(BloomFilterOps.bloomContains(
        col("bf"), TextOps.portableHash60(col("s")), 5))
      .join(broadcast(mSh), Seq("s")) // exact verify + benchmark attach
      .groupBy(col("benchmark"))
      .agg(countDistinct(col("doc_id")).as("n_hits"))
    manifest.groupBy(col("benchmark"))
      .agg(count(lit(1)).as("n_entries"))
      .join(hits, Seq("benchmark"), "left_outer")
      .crossJoin(broadcast(nCorpus))
      .select(col("benchmark"), col("n_entries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("coalesce(n_hits, CAST(0 AS BIGINT)) * 1000000 " +
          "div greatest(n_corpus, 1)").as("hit_ppm"))
  }

  /** Terms a curation pipeline blocks (stand-in for a 100k-term list). */
  val blocklist: Seq[String] = Seq("slow", "leak", "broken")

  /** Blocklist filtering — flag documents containing any blocked term and
    * report per-source block shares (the wordlist-filter stage of corpus
    * curation, e.g. toxicity/spam term lists).
    *
    * Scale shape: the blocklist is joined as a BROADCAST TABLE, not
    * inlined as an `isin` literal — real blocklists run to 10^5 terms,
    * which would blow up the plan as literals but broadcast fine as a
    * frame. Corpus side is one codegen'd explode → broadcast-hash
    * semi-join → distinct doc ids; no shuffle carries tokens. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bl = blocklist.toDF("w")
    val docs = t(spark, dir, "documents")
    val blocked = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(bl), Seq("w"))
      .select(col("doc_id")).distinct()
      .withColumn("blocked", lit(1))
    docs.join(blocked, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("blocked")).as("n_blocked"))
      .withColumn("block_share",
        round(col("n_blocked") / col("n_docs"), 6))
  }

  /** BM25 ranking (Robertson-Spärck Jones; k1 = 1.2, b = 0.75) for a fixed
    * 3-term query — the keyword-retrieval primitive next to the embedding
    * ANN path. Exact tf/df/dl statistics; corpus scalars (N, avgdl) ride a
    * broadcast 1-row aggregate. Per-term contributions are pivoted to
    * fixed columns and summed in a FIXED order (s_join + s_filter +
    * s_scan) so both engines run the identical IEEE sequence; top-10 is
    * TakeOrderedAndProject — no global sort. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "filter", "scan")
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = tok.filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("part",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    def termCol(w: String) =
      coalesce(max(when(col("w") === w, col("part"))), lit(0.0))
    scored.groupBy(col("doc_id"))
      .agg(termCol("join").as("s1"), termCol("filter").as("s2"),
        termCol("scan").as("s3"))
      .select(col("doc_id"),
        round(col("s1") + col("s2") + col("s3"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Sequence PACKING: assemble documents into fixed-token-budget training
    * sequences (the "pack to context length" prep step). Greedy linear
    * packing per (lang, shard): documents stream in doc_id order, a
    * running token count assigns each doc to the sequence where it starts
    * (floor(cum_before / budget) — the standard streaming approximation
    * of bin packing). Sharding by doc_id % 16 is what makes it
    * DISTRIBUTED: each shard packs independently after one hash exchange,
    * no global order; at scale shards ≫ cores and the window state is one
    * running sum per shard. Budget = 128 tokens. Output: per-language
    * packing statistics. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), (col("doc_id") % 16).as("shard"),
        size(split(col("text"), " ")).as("toks"))
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("seq_id", floor((col("cum") - col("toks")) / lit(128)))
      .groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_seqs"),
        round(avg(col("n_docs")), 4).as("avg_docs_per_seq"),
        round(avg(col("toks")), 4).as("avg_tokens_per_seq"),
        max(col("toks")).as("max_tokens"))
  }

  /** Repetition-based quality metrics (the Gopher/MassiveText repetition
    * filters, Rae et al. 2021 §A1.1): per document, the fraction of tokens
    * taken by the single most frequent word, the distinct/total token
    * ratio, and the most-frequent-bigram fraction — high values flag
    * boilerplate and degenerate (looping) text before it poisons a
    * training corpus. Reported per language with a flagged-document count.
    *
    * Scale shape: two explode→count aggregations (both partial-agg'd, keyed
    * by doc_id so they shuffle corpus-bounded counts, never pairs) joined
    * back on doc_id; no window over the whole corpus. */
  def repetitionQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
    val uni = tok.groupBy(col("doc_id"), col("lang"), col("w0"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_c"),
           count(lit(1)).as("n_distinct"))
    val bg = tok
      .withColumn("w1", lead(col("w0"), 1).over(byPos))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w0"), col("w1")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bg"), max(col("c")).as("top_bg_c"))
    uni.join(bg, Seq("doc_id"))
      .withColumn("twf", col("top_c") / col("n_tokens"))
      .withColumn("dr", col("n_distinct") / col("n_tokens"))
      .withColumn("tbf", col("top_bg_c") / col("n_bg"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("twf")), 6).as("avg_top_word_frac"),
           round(avg(col("dr")), 6).as("avg_distinct_ratio"),
           round(avg(col("tbf")), 6).as("avg_top_bigram_frac"),
           sum(when(col("tbf") >= 0.05, 1).otherwise(0)).as("n_flagged"))
  }

  /** BPE-style pair counting — the inner loop of tokenizer vocabulary
    * induction (Sennrich et al. 2016): count every adjacent character
    * pair across the corpus, weighted by word frequency; the top pair is
    * the next merge. Output: the 20 most frequent pairs.
    *
    * Scale shape: exactly how production BPE trainers decompose the
    * problem — aggregate the corpus to a (word, count) VOCABULARY first
    * (one partial-agg'd shuffle; vocab ≪ corpus by Heaps' law), then
    * expand pairs over vocabulary entries only, so the pair-count pass
    * costs O(|vocab|·word_len) regardless of corpus size. The top-20 is
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wc = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
    wc.select(col("word"), col("n"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  }

  // ---- iterative BPE vocabulary induction + greedy encode (q344/q345) ----
  //
  // Sennrich, Haddow & Birch, "Neural Machine Translation of Rare Words
  // with Subword Units" (ACL 2016): repeat k times {count adjacent symbol
  // pairs over the (word, freq) vocabulary; merge the most frequent pair
  // everywhere}. q89_bpe_pairs computes ONE pair-count generation; this is
  // the full loop (merge → re-segment → recount) plus the encode pass that
  // applies the learned merge table to documents.
  //
  // Representation: each vocab word is a SPACE-joined symbol string where
  // every symbol is wrapped in \u0001…\u0002 sentinels, so one literal
  // (non-regex) replace of "\u0001a\u0002 \u0001b\u0002" →
  // "\u0001ab\u0002" is exactly the left-to-right non-overlapping merge
  // pass of the reference implementation — the sentinels make a suffix of
  // one symbol unable to false-match the left half of a pair. Both
  // engines' replace() is replace-all, left-to-right, non-overlapping, so
  // the pass semantics are identical; ties in pair counts break on
  // (cnt DESC, wa ASC, wb ASC) under binary string order in both.
  //
  // Scale shape: exactly how production BPE trainers shard — the corpus
  // collapses ONCE to the (word, count) vocabulary (Heaps' law: vocab ≪
  // corpus); all k generations are vocab-domain (one vocab-sized shuffle
  // per generation plus a 1-row argmax collect — the same bounded driver
  // scalar discipline as the CC convergence check). The encode pass costs
  // one replace-chain over the vocabulary + one (word)-keyed join back to
  // the token stream; nothing per-generation ever touches the corpus.

  /** Merge generations to learn. 10 is enough to be genuinely iterative
    * (the fixture's merged symbols reach length 4+) while keeping the
    * unrolled oracle CTE chain readable. */
  private val BpeK = 10

  private def bpeSent(x: String): String = "\u0001" + x + "\u0002"
  private def bpeStrip(x: String): String =
    x.filterNot(c => c == '\u0001' || c == '\u0002')

  /** (word, n, s): whitespace-token frequencies with the word segmented
    * into sentinel-wrapped characters — the generation-0 vocabulary. */
  private def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"),
        rtrim(regexp_replace(col("word"), "(.)", "\u0001$1\u0002 "))
          .as("s"))

  /** The learned merge table (gen, left, right, pair_cnt), gen 1..k in
    * merge order. A shared stage ([[graft.SessionMemo]]): q344 reports
    * it and q345 applies it, and at 100 TB the merge table is THE
    * tokenizer artifact — built once, shipped everywhere. Bench prices
    * the build as `stage_bpe_merges`. */
  private[graft] val bpeMerges = graft.SessionMemo("stage_bpe_merges",
    graft.SessionMemo.dirStamp)((spark, dir) =>
      bpeMergeLoop(spark, dir, BpeK)._1)

  /** The merge-learning loop, parameterized on generation count so the
    * K=20 plan-size spec can exercise the re-checkpoint guard beyond the
    * catalog's K=10; returns the merges plus the final vocab frame's
    * logical-plan node count (the guard's observable — without the cut
    * it grows one `replace` Project per generation). */
  private[graft] def bpeMergeLoop(spark: SparkSession, dir: String,
      k: Int): (Seq[(Int, String, String, Long)], Int) = {
        // checkpoint ONCE: the corpus-scale word count; every generation
        // after this is vocab-domain work on the materialized copy
        var v = bpeVocab(spark, dir).select(col("s"), col("n")).cutLineage()
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, String, Long)]
        var g = 1
        var exhausted = false
        while (g <= k && !exhausted) {
          val top = v
            .select(col("n"), split(col("s"), " ").as("sy"))
            .filter(size(col("sy")) >= 2)
            .select(col("n"), explode(transform(
              sequence(lit(1), size(col("sy")) - 1), i =>
                struct(element_at(col("sy"), i).as("wa"),
                  element_at(col("sy"), i + 1).as("wb")))).as("p"))
            .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
            .agg(sum(col("n")).as("cnt"))
            .orderBy(col("cnt").desc, col("wa").asc, col("wb").asc)
            .limit(1).collect()
          if (top.isEmpty) exhausted = true // all words fully merged
          else {
            val wa = top(0).getString(0); val wb = top(0).getString(1)
            val a = bpeStrip(wa); val b = bpeStrip(wb)
            buf += ((g, a, b, top(0).getLong(2)))
            v = v.withColumn("s",
              replace(col("s"), lit(wa + " " + wb), lit(bpeSent(a + b))))
            // re-checkpoint every 8 generations: v otherwise accumulates
            // one replace per generation, so generation g replays g
            // replaces — O(K²) narrow work on the vocab frame. Harmless
            // at K=10, quadratic if K is ever raised to tokenizer-real
            // 30k; the cut keeps each generation's job O(vocab).
            if (g % 8 == 0) v = v.cutLineage()
          }
          g += 1
        }
        val planNodes = v.queryExecution.logical.map(_ => 1).sum
        (buf.toSeq, planNodes)
  }

  /** Clears every stage memo (see [[graft.SessionMemo.clearAll]]). */
  private[graft] def clearStageCaches(): Unit = graft.SessionMemo.clearAll()

  /** q344: the learned merge table itself — one row per generation in
    * merge order, with the corpus-weighted count that elected the pair. */
  def bpeMergeTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, dir)
      .map { case (g, a, b, c) => (g.toLong, a, b, c) }
      .toDF("gen", "left_sym", "right_sym", "pair_cnt")
  }

  /** q345: greedy-encode every document with the learned merge table and
    * report per-doc whitespace-token / BPE-token / character counts plus
    * tokens-per-word (the compression-vs-whitespace gauge — 1.0 means the
    * merges reassembled every word; chars/word is the un-merged celling).
    * The replace chain runs over the VOCABULARY (one row per distinct
    * word), then joins back to the token stream on word — encode cost is
    * O(|vocab|·k), corpus cost is one hash join + one partial agg. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(spark, dir)
    val enc = merges.foldLeft(col("s")) { case (c, (_, a, b, _)) =>
      replace(c, lit(bpeSent(a) + " " + bpeSent(b)), lit(bpeSent(a + b)))
    }
    val wordLen = bpeVocab(spark, dir)
      .select(col("word"), size(split(enc, " ")).as("bpe_len"),
        length(col("word")).cast("long").as("n_chars_w"))
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(wordLen, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws_tokens"),
        sum(col("bpe_len")).as("n_bpe_tokens"),
        sum(col("n_chars_w")).as("n_chars"))
      .withColumn("tokens_per_word_r",
        round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6)
          + lit(0.0))
  }

  /** Unrolled k-generation CTE chain shared by both BPE oracles: v0 is
    * the segmented vocabulary; each generation g contributes p{g} (pair
    * counts), t{g} (the elected merge + its literal pattern), v{g} (the
    * vocabulary after the merge pass). Word is carried through for the
    * encode oracle's join-back. v{g} LEFT-JOINs its (0-or-1-row) t{g}
    * with a coalesce fallback to the previous segmentation: on a
    * degenerate corpus whose pair census exhausts before generation K,
    * t{g} is empty and a plain cross join would zero out every later
    * vocab CTE while the operator (which stops its merge loop on
    * exhaustion) still encodes with the shorter merge list. */
  private def bpeCtesSql: String = {
    val v0 =
      """v0 AS (
        |  SELECT word, n, rtrim(regexp_replace(word, '(.)',
        |      chr(1) || '\1' || chr(2) || ' ', 'g')) AS s
        |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS n
        |        FROM (SELECT unnest(string_split_regex(text, '\s+'))
        |                AS word FROM documents)
        |        WHERE word <> '' GROUP BY 1))""".stripMargin
    val gens = (1 to BpeK).map { g =>
      s"""p$g AS (
         |  SELECT u.wa AS wa, u.wb AS wb, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, unnest([{'wa': l[i], 'wb': l[i + 1]}
         |          for i in range(1, len(l))]) AS u
         |        FROM (SELECT string_split(s, ' ') AS l, n FROM v${g - 1}))
         |  GROUP BY 1, 2),
         |t$g AS (
         |  SELECT wa, wb, cnt FROM p$g
         |  ORDER BY cnt DESC, wa ASC, wb ASC LIMIT 1),
         |v$g AS (
         |  SELECT v.word, v.n, coalesce(replace(v.s, t.wa || ' ' || t.wb,
         |      chr(1) || replace(replace(t.wa || t.wb, chr(1), ''),
         |        chr(2), '') || chr(2)), v.s) AS s
         |  FROM v${g - 1} v LEFT JOIN t$g t ON true)""".stripMargin
    }
    (v0 +: gens).mkString(",\n")
  }

  private def bpeMergeTableSql: String = {
    val rows = (1 to BpeK).map { g =>
      s"""  SELECT CAST($g AS BIGINT) AS gen,
         |    replace(replace(wa, chr(1), ''), chr(2), '') AS left_sym,
         |    replace(replace(wb, chr(1), ''), chr(2), '') AS right_sym,
         |    cnt AS pair_cnt FROM t$g""".stripMargin
    }
    s"WITH $bpeCtesSql\n" + rows.mkString("\nUNION ALL\n")
  }

  private def bpeEncodeSql: String =
    s"""WITH $bpeCtesSql,
      |enc AS (
      |  SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS bpe_len,
      |    CAST(length(word) AS BIGINT) AS n_chars_w
      |  FROM v$BpeK),
      |tok AS (
      |  SELECT doc_id, word
      |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+'))
      |          AS word FROM documents)
      |  WHERE word <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
      |  CAST(sum(bpe_len) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(n_chars_w) AS BIGINT) AS n_chars,
      |  round(CAST(sum(bpe_len) AS DOUBLE) / count(*), 6) + 0.0
      |    AS tokens_per_word_r
      |FROM tok JOIN enc USING (word)
      |GROUP BY 1""".stripMargin

  /** Vocabulary-coverage / OOV-rate profiling: build the corpus top-K
    * token vocabulary (K=20 here; the fixture corpus has ~31 distinct
    * tokens so the tail is genuinely out-of-vocabulary), then measure
    * each source's token coverage against it — the go/no-go check before
    * committing a tokenizer vocab to a training run.
    *
    * Determinism: per-source OOV rate is computed as exact integer sums
    * (Σ oov tokens / Σ tokens) with ONE final division — not an average
    * of per-document float ratios — so the result is bit-identical on
    * any partition count. Scale shape: vocab is top-K via
    * TakeOrderedAndProject and broadcast to the token stream; the only
    * corpus-sized shuffle is the final per-source partial agg. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tk"))
      .filter(col("tk") =!= "")
    val vocab = tok.groupBy(col("tk")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tk").asc)
      .limit(20)
      .select(col("tk"), lit(1).as("iv"))
    tok.join(broadcast(vocab), Seq("tk"), "left_outer")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_tokens"), 6) + lit(0.0))
  }

  /** URL canonicalization — the crawl-dedup prerequisite (the same page
    * arrives as `HTTP://Host/path/?utm_source=x` and `http://host/path`):
    * lowercase scheme+host, strip tracking params, drop a trailing
    * slash, then count how many raw variants collapse per canonical
    * URL. Deterministic synthetic URLs are derived per row (the fixture
    * carries none — same synthesis pattern as [[piiRedact]]), with case
    * and utm noise keyed off doc_id so collisions are real. All
    * scan-local regex/string expressions in the RE2-safe subset; the
    * only shuffle is the final canonical-URL aggregation. */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      when(col("doc_id") % 3 === 0, "HTTP://WWW.").otherwise("http://www."),
      col("source"), lit(".example.com/docs/"),
      (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 0, "/").otherwise(""),
      when(col("doc_id") % 4 === 0,
        concat(lit("?utm_source=feed&utm_campaign=c"),
          (col("doc_id") % 7).cast("string"))).otherwise(lit("")))
    t(spark, dir, "documents")
      .withColumn("raw_url", raw)
      .withColumn("canon",
        regexp_replace(
          regexp_replace(
            // lowercase scheme://host, keep the path's case
            concat(lower(regexp_extract(col("raw_url"),
              "^([a-zA-Z]+://[^/]+)", 1)),
              regexp_extract(col("raw_url"), "^[a-zA-Z]+://[^/]+(.*)$", 1)),
            "\\?utm_[a-z_]+=[a-z0-9]+(&utm_[a-z_]+=[a-z0-9]+)*$", ""),
          "/$", ""))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("raw_url")).as("n_variants"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_variants") >= 2)
  }

  /** Document chunking: split each document into fixed-size token windows
    * (50 words here) — the pre-tokenization pass that turns a long-document
    * corpus into training-sized pieces. One output row per (doc, chunk);
    * chunk content is pinned by hash so the oracle verifies exact chunk
    * boundaries, not just counts. Narrow shape: explode over the per-doc
    * chunk index, then array-slice — no shuffle until the (tiny) output;
    * each task chunks its own documents independently at any corpus size. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    val chunk = 50
    t(spark, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          ceil(size(col("w")) / lit(chunk.toDouble)).cast("int") - 1))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("w"), col("chunk_id") * chunk + 1, lit(chunk)))
          .as("n_tokens"),
        md5(array_join(
          slice(col("w"), col("chunk_id") * chunk + 1, lit(chunk)), " "))
          .as("chunk_hash"))
  }

  private[operators] def hitsSql(lang: String): String = {
    val lst = stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(string_split(text, ' '), tk -> list_contains($lst, tk)))"
  }

  /** PII detection + redaction — the scrub pass every training-data
    * pipeline runs before packing. Deterministic PII is synthesized per
    * row (an email and a phone derived from doc_id — the fixture corpus
    * carries none), then detected with `regexp_count` and redacted with
    * `regexp_replace`, all scan-local row expressions (no shuffle at any
    * scale). Patterns stay inside the RE2-compatible subset (character
    * classes + bounded repeats, no lookaround) so Java and DuckDB regex
    * semantics coincide. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val phoneRe = "\\+1-555-[0-9]{4}"
    t(spark, dir, "documents").filter(col("doc_id") < 20)
      .withColumn("aug", concat(col("text"), lit(" contact doc"),
        col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .withColumn("n_email",
        regexp_count(col("aug"), lit(emailRe)).cast("int"))
      .withColumn("n_phone",
        regexp_count(col("aug"), lit(phoneRe)).cast("int"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      .select(col("doc_id"), col("n_email"), col("n_phone"),
        substring(col("redacted"), -40, 40).as("tail"))
  }

  /** Inverted index build (token → document frequency + first-5 posting
    * list): the retrieval-side artifact next to TF-IDF/BM25 scoring. The
    * posting list is rank-truncated BEFORE collection (row_number ≤ 5 over
    * the per-token doc order), so no aggregation buffer ever holds a hot
    * token's full posting set — the same bounded-state discipline as
    * q79's lateral top-k; df still counts the full set. One shuffle keyed
    * on token. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    tok.withColumn("rn", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(
          sort_array(collect_list(when(col("rn") <= 5, col("doc_id")))),
          x => x.cast("string")), ",").as("postings"))
  }

  /** Shingle-novelty scoring — the curation signal DUAL to dedup: the
    * share of a document's 3-shingles that appear NOWHERE else in the
    * corpus (corpus frequency 1). Near-dups score ≈0, templated/
    * boilerplate text scores low, genuinely novel text scores high —
    * the ranking a data-mixing pipeline uses to up-weight fresh content
    * after dedup has removed the copies. Cost shape is q150's first
    * half verbatim: one partial-agg'd frequency count keyed on the
    * 60-bit shingle hash, one join back, one per-doc aggregate; the
    * ratio is exact integer ppm (one `div`, no float accumulation). */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
    // r16: hash before the distinct — the dedup exchange carries the
    // 8-byte key, not the shingle string (see Dedup.shingleHashed)
    val sh = Dedup.shingleHashed(docs, TextOps.portableHash60)
      .cutLineage()
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("f"))
    sh.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("n_unique * 1000000 div n_shingles").as("novelty_ppm"))
  }

  /** Bigram association ("lift", the log-free core of PMI): how much more
    * often two tokens co-occur adjacently than independence predicts —
    * lift(x,y) = P(xy) / (P(x)·P(y)) = c_xy·U² / (N·c_x·c_y). The score a
    * collocation extractor / tokenizer-merge pass ranks candidate pairs
    * by (BPE merges are exactly "highest adjacent-pair count"; lift adds
    * the independence correction so "of the" doesn't beat "New York").
    * Everything before the final division is an exact integer tally —
    * two partial-agg'd counts off ONE scan-local bigram formation (the
    * q59 narrow explode) — and the division multiplies in a fixed
    * left-to-right order both engines replicate bit-identically. No log:
    * lift ranks identically to PMI (log is monotone) without the
    * cross-engine libm hazard. Min-support filter keeps noise pairs out;
    * the top-20 cut is totally ordered (lift desc, bigram asc). */
  def bigramLift(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("ws"))
      .filter(size(col("ws")) >= 2)
      .cutLineage() // unigram + bigram passes share the scan
    val uni = toks
      .select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      .cutLineage()
    val totals = uni.agg(sum(col("c_w")).as("u_total")).cutLineage()
    val bg = toks
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(element_at(col("ws"), col("i")).as("w0"),
        element_at(col("ws"), col("i") + 1).as("w1"))
    val bgc = bg.groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("c_xy"))
    val nbg = bg.agg(count(lit(1)).as("n_bg"))
    bgc.filter(col("c_xy") >= 20)
      .join(uni.withColumnRenamed("w", "w0").withColumnRenamed("c_w", "c_x"),
        Seq("w0"))
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_y"),
        Seq("w1"))
      .crossJoin(broadcast(nbg))
      .crossJoin(broadcast(totals))
      // fixed evaluation order: ((c_xy·U)·U) / ((N·c_x)·c_y)
      .withColumn("lift",
        round(col("c_xy").cast("double") * col("u_total") * col("u_total") /
          (col("n_bg").cast("double") * col("c_x") * col("c_y")), 6))
      .select(concat_ws(" ", col("w0"), col("w1")).as("bigram"),
        col("c_xy"), col("c_x"), col("c_y"), col("lift"))
      .orderBy(col("lift").desc, col("bigram").asc)
      .limit(20)
  }

  /** SHARDED posting lists — the scale-hardened companion to q118's
    * inverted index. q118's shape (one posting list per token) has an
    * unbounded aggregation buffer: a stopword's postings at 100 TB are
    * the whole corpus in one collect. Here postings are built per
    * (token, shard) with shard = doc_id div 100 — each collect bounded
    * by the shard width, the layout real indexes use (a term's postings
    * split across segment files). Global document frequency
    * re-aggregates from the shard partials (q155 mergeability
    * discipline: the raw token explode is scanned once). Postings ship
    * delta-encoded (head + gaps), the on-disk encoding search engines
    * use — and the gap arithmetic doubles as an order check the hash
    * gate verifies. */
  def invertedIndexSharded(spark: SparkSession, dir: String): DataFrame = {
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " ")))
        .as("token"))
      .cutLineage() // shard postings + global df share the pass
    val shard = tok
      .groupBy(col("token"), (col("doc_id") / 100).cast("int").as("shard"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
    val df_ = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    shard.join(df_, Seq("token")).filter(col("df") >= 40)
      .select(col("token"), col("shard"), col("df"),
        size(col("ids")).as("shard_df"),
        element_at(col("ids"), 1).as("head"),
        // size==1 guard: Spark sequence(2,1) DESCENDS ([2,1]) rather than
        // yielding an empty range, and DuckDB's string_agg over an empty
        // list is NULL — both sides pin the singleton case to ''
        when(size(col("ids")) < 2, lit("")).otherwise(concat_ws(",",
          transform(sequence(lit(2), size(col("ids"))),
            i => element_at(col("ids"), i) - element_at(col("ids"), i - 1))))
          .as("gaps"))
  }

  /** Within-document repetition signals (the Gopher repetition rules of
    * Rae et al. 2021 §A1.1 the suite did not yet cover): the share of
    * word-trigram OCCURRENCES that repeat an earlier trigram of the same
    * document, and the share of bigram occurrences claimed by the
    * document's single most frequent bigram. Complements q110 (length /
    * stopword rules) and q158 (cross-corpus novelty): these are the
    * in-doc boilerplate detectors — a doc that loops one phrase scores
    * high here while still passing every length rule.
    *
    * One scan: both gram sizes are tagged into one exploded stream, so
    * the per-doc tallies ride a single (doc_id, k, gram) shuffle and
    * collapse to O(1) per doc. Ratios are exact integer ppm (`div`). */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val n3 = greatest(size(w) - 2, lit(0))
    val n2 = greatest(size(w) - 1, lit(0))
    val tris = zip_with(
      zip_with(slice(w, lit(1), n3), slice(w, lit(2), n3),
        (a, b) => concat_ws(" ", a, b)),
      slice(w, lit(3), n3),
      (ab, c) => concat_ws(" ", ab, c))
    val bis = zip_with(slice(w, lit(1), n2), slice(w, lit(2), n2),
      (a, b) => concat_ws(" ", a, b))
    t(spark, dir, "documents")
      .filter(size(w) >= 3)
      .select(col("doc_id"), explode(concat(
        transform(tris, s => struct(lit(3).as("k"), s.as("g"))),
        transform(bis, s => struct(lit(2).as("k"), s.as("g"))))).as("t"))
      .select(col("doc_id"), col("t.k").as("k"), col("t.g").as("g"))
      .groupBy(col("doc_id"), col("k"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum(col("c")).as("occ"), count(lit(1)).as("dis"),
        max(col("c")).as("top"))
      .groupBy(col("doc_id"))
      .agg(max(when(col("k") === 3, col("occ"))).as("n_tri"),
        max(when(col("k") === 3, col("occ") - col("dis"))).as("dup_tri"),
        max(when(col("k") === 2, col("top"))).as("top_bi"),
        max(when(col("k") === 2, col("occ"))).as("n_bi"))
      .select(col("doc_id"), col("n_tri"),
        expr("dup_tri * 1000000 div n_tri").as("dup_tri_ppm"),
        expr("top_bi * 1000000 div n_bi").as("top_bi_ppm"))
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009): map
    * each document to a fixed 1024-dimension sparse vector with NO
    * vocabulary pass — feature index = hash(token) mod dim, value
    * accumulated with a second-hash ±1 sign (the signed variant that
    * makes collision noise zero-mean). The featurizer behind
    * vocabulary-free linear models / n-gram classifiers at corpus
    * scale: one narrow map per token, one (doc, idx) shuffle, no global
    * dictionary to build, broadcast or keep consistent across runs.
    * The emitted per-doc summary pins the ENTIRE sparse vector: nnz,
    * L1 mass, and an order-independent integer checksum Σ idx·value —
    * any divergence in any component moves it. */
  def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    val dim = 1024
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .cutLineage() // token stream feeds the count and the feature aggs
    val counts = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val feats = tok
      .withColumn("hv", TextOps.portableHash(concat(lit("fh:"), col("w"))))
      .select(col("doc_id"), (col("hv") % dim).as("idx"),
        when(expr(s"hv div $dim % 2") === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(col("sgn")).as("val"))
      .groupBy(col("doc_id"))
      .agg(count(when(col("val") =!= 0, 1)).as("nnz"),
        sum(abs(col("val"))).as("l1"),
        sum(col("idx") * col("val")).as("checksum"))
    counts.join(feats, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("nnz"), col("l1"),
        col("checksum"))
  }

  /** Zipf's-law fit of the token frequency census — the corpus-health
    * statistic every tokenizer/corpus audit reports (natural language
    * sits near slope −1 on log-log rank-frequency; synthetic, templated
    * or boilerplate-heavy corpora bend away from it): closed-form OLS
    * of ln(freq) on ln(rank) over the top-1000 tokens. Float
    * portability by the established two-step: ln values are quantized
    * PER ROW to integer micro-units (`floor(ln·10⁶ + 0.5)` — a last-ulp
    * libm divergence sits ~10⁻⁹ from any rounding boundary), so all
    * five OLS sufficient statistics are EXACT integer sums
    * (order-free, partial-agg'd; decimal(38) == HUGEINT for the n·Σxy
    * − Σx·Σy composites), and the final slope/intercept/R² are one
    * fixed-order double expression each — bit-identical cross-engine
    * (the q208/q229 discipline). Scale shape: token census partial-aggs
    * map-side; top-1000 via TakeOrderedAndProject (per-partition heaps,
    * no global sort); the rank window and the OLS run over 1000 rows
    * regardless of corpus size. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = Window.orderBy(col("freq").desc, col("tok").asc)
    val pts = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc).limit(1000)
      .withColumn("rk", row_number().over(rank).cast("long"))
      .select(
        expr("CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000 + 0.5)" +
          " AS BIGINT)").as("xq"),
        expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5)" +
          " AS BIGINT)").as("yq"))
    pts.agg(count(lit(1)).as("n"),
        sum(col("xq").cast("decimal(38,0)")).as("sx"),
        sum(col("yq").cast("decimal(38,0)")).as("sy"),
        sum((col("xq") * col("yq")).cast("decimal(38,0)")).as("sxy"),
        sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("sxx"),
        sum((col("yq") * col("yq")).cast("decimal(38,0)")).as("syy"))
      .withColumn("num",
        expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy"))
      .withColumn("denx",
        expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"))
      .withColumn("deny",
        expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy"))
      .select(col("n"),
        (round(expr("CAST(num AS DOUBLE) / CAST(denx AS DOUBLE)"), 6)
          + lit(0.0)).as("slope_r"),
        (round(expr("(CAST(sy AS DOUBLE) / 1000000.0 - " +
          "(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE)) * " +
          "(CAST(sx AS DOUBLE) / 1000000.0)) / CAST(n AS DOUBLE)"), 6)
          + lit(0.0)).as("intercept_r"),
        (round(expr("(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) / " +
          "(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE))"), 6)
          + lit(0.0)).as("r2_r"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyword scorer built on the SAME stopword lists the language-ID
    * heuristic uses: candidate phrases are maximal stopword-free token
    * runs (phrase id = running stopword count per doc), each word
    * scores degree/frequency where freq counts phrase occurrences and
    * degree sums the lengths of the phrases containing it — words that
    * ride long multi-word phrases outrank bare frequent words. Score is
    * exact integer ppm (deg·10⁶ div freq), top-20 by (score, word) is
    * a TakeOrderedAndProject. Scale shape: the running stopword count
    * and phrase length are per-doc windows (bounded by doc length,
    * never corpus-wide); the only corpus shuffle is the final word
    * aggregation. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = stopwords("en")
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("is_stop", col("tok").isInCollection(stops))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLen = Window.partitionBy(col("doc_id"), col("phrase_id"))
    toks
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(byPos))
      .filter(!col("is_stop"))
      .withColumn("phrase_len", count(lit(1)).over(wLen))
      .groupBy(col("tok").as("word"))
      .agg(count(lit(1)).as("freq"), sum(col("phrase_len")).as("deg"))
      .select(col("word"), col("freq"), col("deg"),
        expr("deg * 1000000 div freq").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("word").asc)
      .limit(20)
  }

  /** Reciprocal-rank fusion of two retrieval rankings (Cormack, Clarke
    * & Büttcher, SIGIR 2009 — the ensemble that wins TREC pools with
    * no tuned weights): per query term, retriever A ranks matching
    * docs by raw term frequency, retriever B by length-normalized
    * density (tf·10⁶ div dl — the two disagree exactly where document
    * length distorts relevance), each keeps its top-50, and the fused
    * score is RRF(d) = Σ_r 1/(60 + rank_r(d)) in exact integer ppm —
    * a doc missing from one list contributes 0 from it (the COALESCE
    * arm), which is RRF's built-in pool handling. Ranks are
    * deterministic (tie → doc_id). The per-term candidate relations
    * are posting-list sized, never corpus-sized — the only corpus scan
    * is tokenization; at pathological posting lengths the top-50 cut
    * switches to the q204/q224 bounded-heap TopKAgg, same algebra. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "filter", "scan")
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tfd = tok.filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
      .withColumn("dens_ppm", expr("tf * 1000000 div dl"))
    val wA = Window.partitionBy(col("w"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    val wB = Window.partitionBy(col("w"))
      .orderBy(col("dens_ppm").desc, col("doc_id").asc)
    val topA = tfd
      .withColumn("rank_a", row_number().over(wA).cast("long"))
      .filter(col("rank_a") <= 50)
      .select(col("w"), col("doc_id"), col("rank_a"))
    val topB = tfd
      .withColumn("rank_b", row_number().over(wB).cast("long"))
      .filter(col("rank_b") <= 50)
      .select(col("w"), col("doc_id"), col("rank_b"))
    val wF = Window.partitionBy(col("term"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    topA.join(topB, Seq("w", "doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + rank_a)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_b)"), lit(0L)))
      .withColumnRenamed("w", "term")
      .withColumn("fused_rank", row_number().over(wF).cast("long"))
      .filter(col("fused_rank") <= 10)
      .select(col("term"), col("doc_id"), col("rank_a"), col("rank_b"),
        col("rrf_ppm"), col("fused_rank"))
  }

  /** Encoding / mojibake audit — the ftfy-style screen a pretraining
    * pipeline runs per source before tokenization: double-decoded
    * UTF-8 ("Ã©" — an é that went UTF-8 → Latin-1 → UTF-8), U+FFFD
    * replacement characters (lossy transcoding upstream), and bare
    * control characters all poison a tokenizer vocabulary, and their
    * RATE per source decides which crawl slices need re-decoding. The
    * corpus is clean synthetic text, so the fixtures are injected
    * deterministically by doc_id residue (the q198 tableDiff
    * discipline — both engines corrupt identically, so the gate
    * proves the DETECTOR, not the luck of the data); detection is a
    * codegen'd substring containment per marker — scan-local, no
    * shuffle before the per-source rollup. */
  def encodingAudit(spark: SparkSession, dir: String): DataFrame = {
    val moji = "\u00C3\u00A9" // 'e-acute' double-decoded: U+00C3 U+00A9
    val repl = "\uFFFD"
    val ctrl = "\u0007"
    val flagged = t(spark, dir, "documents")
      .withColumn("t2", concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" caf" + moji))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" x" + repl))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(ctrl)).otherwise(lit(""))))
      .select(col("source"),
        col("t2").contains(moji).as("f_moji"),
        col("t2").contains(repl).as("f_repl"),
        col("t2").contains(ctrl).as("f_ctrl"))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_moji"), 1L).otherwise(0L)).as("n_mojibake"),
        sum(when(col("f_repl"), 1L).otherwise(0L)).as("n_replacement"),
        sum(when(col("f_ctrl"), 1L).otherwise(0L)).as("n_control"),
        sum(when(!col("f_moji") && !col("f_repl") && !col("f_ctrl"), 1L)
          .otherwise(0L)).as("n_clean"))
      .select(col("source"), col("n_docs"), col("n_mojibake"),
        col("n_replacement"), col("n_control"), col("n_clean"),
        expr("n_clean * 1000000 div n_docs").as("clean_ppm"))
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore &
    * Lewis, ACL 2010 — the classic "which general-corpus documents
    * look most like my target domain?" scorer, still the baseline
    * every LLM data-selection paper compares against): score(d) =
    * H_general(d) − H_in(d) per token under two add-one-smoothed
    * unigram LMs (in-domain = source 'src0'; general = the rest).
    * Every per-token log-ratio is quantized to integer MICRO-NATS at
    * the VOCABULARY ROW (the q313 discipline: ln is correctly-rounded
    * IEEE in both engines, the per-word floor(·10⁶ + 0.5) is exact),
    * so the per-document sum is ORDER-FREE integer arithmetic; the
    * word-independent normalizer ln(N_in+V) − ln(N_gen+V) folds into
    * one constant × n_tok. Cost: one token-count shuffle (the LM), one
    * broadcast of the bounded vocabulary, one per-doc partial agg, and
    * a TakeOrderedAndProject top-20 — never a global sort. At 100 TB
    * the vocabulary join switches from broadcast to shuffle at ~10⁸
    * distinct words; everything else is scan-shaped. */
  def mooreLewis(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), (col("source") === "src0").as("ind"),
        explode(split(col("text"), " ")).as("tok"))
      .cutLineage() // feeds the LM census AND the per-doc scoring
    val counts = toks.groupBy(col("tok"))
      .agg(sum(when(col("ind"), 1L).otherwise(0L)).as("cin"),
        sum(when(!col("ind"), 1L).otherwise(0L)).as("cgen"))
      .cutLineage() // feeds the totals AND the weight table
    val tot = counts.agg(sum(col("cin")).as("nin"),
      sum(col("cgen")).as("ngen"), count(lit(1)).as("v"))
    val wtab = counts.select(col("tok"),
      expr("CAST(floor((ln(cin + 1.0) - ln(cgen + 1.0)) * 1000000" +
        " + 0.5) AS BIGINT)").as("wm"))
    val perDoc = toks.join(broadcast(wtab), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wm")).as("sw"))
    perDoc.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tok"),
        (col("sw") - col("n_tok") *
          expr("CAST(floor((ln(nin + v) - ln(ngen + v)) * 1000000" +
            " + 0.5) AS BIGINT)")).as("score_micronat"))
      .withColumn("ratio",
        col("score_micronat").cast("double") / col("n_tok"))
      .orderBy(col("ratio").desc, col("doc_id").asc)
      .limit(20)
      .withColumn("rank", row_number().over( // bounded 20-row window
        Window.orderBy(col("ratio").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("n_tok"), col("score_micronat"),
        (round(col("score_micronat").cast("double") /
          (col("n_tok") * lit(1000000.0)), 6) + lit(0.0))
          .as("per_tok_r"),
        col("rank").cast("long").as("rank"))
  }

  private def mooreLewisSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source = 'src0' AS ind,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |counts AS (
      |  SELECT tok,
      |    CAST(sum(CASE WHEN ind THEN 1 ELSE 0 END) AS BIGINT) AS cin,
      |    CAST(sum(CASE WHEN ind THEN 0 ELSE 1 END) AS BIGINT) AS cgen
      |  FROM toks GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(cin) AS BIGINT) AS nin,
      |    CAST(sum(cgen) AS BIGINT) AS ngen, count(*) AS v
      |  FROM counts),
      |w AS (
      |  SELECT tok, CAST(floor((ln(cin + 1.0) - ln(cgen + 1.0))
      |    * 1000000 + 0.5) AS BIGINT) AS wm
      |  FROM counts),
      |ds AS (
      |  SELECT doc_id, count(*) AS n_tok,
      |    CAST(sum(wm) AS BIGINT) AS sw
      |  FROM toks JOIN w USING (tok) GROUP BY 1),
      |sc AS (
      |  SELECT doc_id, n_tok,
      |    sw - n_tok * CAST(floor((ln(nin + v) - ln(ngen + v))
      |      * 1000000 + 0.5) AS BIGINT) AS score_micronat
      |  FROM ds, tot)
      |SELECT doc_id, n_tok, score_micronat,
      |  round(CAST(score_micronat AS DOUBLE) / (n_tok * 1000000.0), 6)
      |    + 0.0 AS per_tok_r,
      |  CAST(row_number() OVER (ORDER BY
      |    CAST(score_micronat AS DOUBLE) / n_tok DESC, doc_id ASC)
      |    AS BIGINT) AS rank
      |FROM sc
      |ORDER BY CAST(score_micronat AS DOUBLE) / n_tok DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  /** DSIR hashed n-gram importance weights (Xie, Santurkar, Ma &
    * Liang, NeurIPS 2023 "Data Selection for Language Models via
    * Importance Resampling"): [[mooreLewis]] in the HASHED feature
    * space DSIR actually ships — unigrams + bigrams hashed into
    * B = 1024 buckets (the fixed-dimension trick that makes the LM a
    * bounded 1024-row table at ANY corpus size, where word-level
    * Moore–Lewis's vocabulary grows unboundedly), log importance
    * weight log(p_target/p_raw) summed over a doc's features with
    * add-one smoothing over the B buckets. Same micro-nat-at-the-
    * bucket-row quantization (order-free integer sums); the bucket
    * table is ALWAYS broadcastable by construction — that is the
    * point of the hash. Output is the resampling census: docs
    * histogrammed by per-feature log weight in 0.1-nat bins (bin 1000
    * = weight 0, via the q305 positive-shift — +100 nats, unreachable
    * by any finite corpus — so truncating/floor division agree across
    * engines on negative scores). */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = t(spark, dir, "documents")
      .select(col("doc_id"), (col("source") === "src0").as("tgt"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("tgt"),
        explode(concat(col("tk"),
          expr("transform(sequence(1, size(tk) - 1), " +
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))")))
          .as("f"))
      .select(col("doc_id"), col("tgt"),
        pmod(TextOps.portableHash(col("f")), lit(1024L)).as("b"))
      .cutLineage() // feeds the bucket LM census AND per-doc scoring
    val counts = bucketed.groupBy(col("b"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
      .cutLineage() // bounded ≤ 1024 rows; feeds totals AND weights
    val tot = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val w = counts.select(col("b"),
      expr("CAST(floor((ln(ct + 1.0) - ln(cr + 1.0)) * 1000000 + 0.5)" +
        " AS BIGINT)").as("wm"))
    bucketed.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"), sum(col("wm")).as("sw"))
      .crossJoin(broadcast(tot))
      .select(
        expr("((sw - n_feat * CAST(floor((ln(nt + 1024.0) - " +
          "ln(nr + 1024.0)) * 1000000 + 0.5) AS BIGINT) " +
          "+ n_feat * 100000000) div n_feat) div 100000").as("bin"),
        (col("sw") - col("n_feat") *
          expr("CAST(floor((ln(nt + 1024.0) - ln(nr + 1024.0)) " +
            "* 1000000 + 0.5) AS BIGINT)")).as("sm"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sm"))
        .as("sum_score_micronat"))
  }

  private def dsirWeightsSql: String =
    """WITH feats AS (
      |  SELECT doc_id, tgt, unnest(
      |    tk || [tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))])
      |    AS f
      |  FROM (SELECT doc_id, source = 'src0' AS tgt,
      |          string_split(text, ' ') AS tk
      |        FROM documents WHERE len(string_split(text, ' ')) >= 2)),
      |bkt AS (
      |  SELECT doc_id, tgt,
      |    ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
      |  FROM feats),
      |counts AS (
      |  SELECT b,
      |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
      |  FROM bkt GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(sum(cr) AS BIGINT) AS nr
      |  FROM counts),
      |w AS (
      |  SELECT b, CAST(floor((ln(ct + 1.0) - ln(cr + 1.0)) * 1000000
      |    + 0.5) AS BIGINT) AS wm
      |  FROM counts),
      |ds AS (
      |  SELECT doc_id, count(*) AS n_feat,
      |    CAST(sum(wm) AS BIGINT) AS sw
      |  FROM bkt JOIN w USING (b) GROUP BY 1),
      |sc AS (
      |  SELECT doc_id, n_feat,
      |    sw - n_feat * CAST(floor((ln(nt + 1024.0) - ln(nr + 1024.0))
      |      * 1000000 + 0.5) AS BIGINT) AS sm
      |  FROM ds, tot)
      |SELECT (sm + n_feat * 100000000) // n_feat // 100000 AS bin,
      |  count(*) AS n_docs,
      |  CAST(sum(sm) AS BIGINT) AS sum_score_micronat
      |FROM sc GROUP BY 1""".stripMargin

  /** Heaps'-law vocabulary-growth fit (Heaps 1978; Herdan 1960):
    * V = K·N^β across the per-source corpora — the sizing law a
    * tokenizer-training pipeline consults to predict vocabulary growth
    * before scaling the corpus 100×. Each source contributes one exact
    * (N = tokens, V = distinct tokens) point from a single partial-agg
    * pass; ln N / ln V are quantized to integer micro-nats AT THE
    * SOURCE ROW (the q313 discipline — the 20-point OLS then runs in
    * exact integer arithmetic: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    * on decimal(38)/HUGEINT cross products), β and ln K are the final
    * fixed-order doubles. This corpus draws every source from ONE
    * vocabulary, so the honest expectation the gate pins is a
    * saturated fit (β near 0), exactly what Heaps' law predicts once
    * N outruns a closed vocabulary. */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val pts = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), countDistinct(col("tok")).as("v"))
      .select(
        expr("CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(ln(v) * 1000000 + 0.5) AS BIGINT)").as("y"))
    pts.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .select(col("k").as("n_sources"),
        // nullif: a single-source corpus has one regression point —
        // the Heaps fit is undefined, NULL in both engines (r16 sweep)
        (round(expr("CAST(CAST(k AS DECIMAL(38,0)) * sxy - " +
          "CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE) / " +
          "nullif(CAST(CAST(k AS DECIMAL(38,0)) * sxx - " +
          "CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 0.0)"), 6)
          + lit(0.0))
          .as("beta_r"),
        (round(expr("(CAST(sy AS DOUBLE) - (CAST(CAST(k AS " +
          "DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy " +
          "AS DOUBLE) / nullif(CAST(CAST(k AS DECIMAL(38,0)) * sxx - " +
          "CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 0.0)) * sx) " +
          "/ k / 1000000.0"), 6) + lit(0.0)).as("lnk_r"))
  }

  private def heapsLawSql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(ln(count(*)) * 1000000 + 0.5) AS BIGINT)
      |      AS x,
      |    CAST(floor(ln(count(DISTINCT tok)) * 1000000 + 0.5)
      |      AS BIGINT) AS y
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY source),
      |s AS (
      |  SELECT count(*) AS k, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM pts)
      |SELECT k AS n_sources,
      |  round(CAST(CAST(k AS HUGEINT) * sxy -
      |    CAST(sx AS HUGEINT) * sy AS DOUBLE) /
      |    nullif(CAST(CAST(k AS HUGEINT) * sxx -
      |    CAST(sx AS HUGEINT) * sx AS DOUBLE), 0.0), 6) + 0.0 AS beta_r,
      |  round((CAST(sy AS DOUBLE) - (CAST(CAST(k AS HUGEINT) * sxy -
      |    CAST(sx AS HUGEINT) * sy AS DOUBLE) /
      |    nullif(CAST(CAST(k AS HUGEINT) * sxx -
      |    CAST(sx AS HUGEINT) * sx AS DOUBLE), 0.0)) * sx) / k /
      |    1000000.0, 6) + 0.0 AS lnk_r
      |FROM s""".stripMargin

  /** Vocabulary-coverage estimators from the token frequency census:
    * Chao1 richness (Chao, Scand. J. Stat. 1984 — V + F₁²/(2F₂), the
    * lower bound on how many word types the corpus has NOT yet seen)
    * and the Good–Turing unseen-probability mass (Good, Biometrika
    * 1953 — P₀ = F₁/N, the probability the next token is a new type).
    * The pair answers the tokenizer-pipeline question "is this corpus
    * big enough that the vocabulary has converged?". One token-count
    * shuffle collapses the corpus to the count census; F₁/F₂/V/N are
    * one more bounded agg; both estimators are exact integer
    * arithmetic with integral milli/ppm divisions (the bias-corrected
    * F₁(F₁−1)/(2(F₂+1)) form is used when F₂ = 0, as Chao prescribes).
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        // F₁² rides decimal(38)/HUGEINT: ~10⁸ singletons at real
        // corpus scale put F₁²·10³ past 2⁶³
        expr("CASE WHEN f2 > 0 THEN vocab * 1000 + " +
          "CAST(f1 AS DECIMAL(38,0)) * f1 * 1000 div (2 * f2) " +
          "ELSE vocab * 1000 + CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) " +
          "* 1000 div (2 * (f2 + 1)) END").cast("long")
          .as("chao1_milli"),
        expr("f1 * 1000000 div n_tokens").as("gt_unseen_ppm"))

  private def vocabCoverageSql: String =
    """WITH c AS (
      |  SELECT tok, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1),
      |s AS (
      |  SELECT count(*) AS vocab, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM c)
      |SELECT n_tokens, vocab, f1, f2,
      |  CAST(CASE WHEN f2 > 0 THEN vocab * 1000 +
      |      CAST(f1 AS HUGEINT) * f1 * 1000 // (2 * f2)
      |    ELSE vocab * 1000 + CAST(f1 AS HUGEINT) * (f1 - 1) * 1000
      |      // (2 * (f2 + 1)) END AS BIGINT) AS chao1_milli,
      |  f1 * 1000000 // n_tokens AS gt_unseen_ppm
      |FROM s""".stripMargin

  /** Jensen–Shannon divergence between the in-domain (source 'src0')
    * and general unigram distributions (Lin, IEEE Trans. IT 1991) —
    * the SYMMETRIC, always-finite companion to q258's PSI and q239's
    * EMD that corpus-mixing dashboards plot per source: JSD = ½KL(P‖M)
    * + ½KL(Q‖M), M = ½(P+Q), bounded by ln 2. Each vocabulary row
    * contributes its two KL terms as ONE double sequence quantized to
    * integer micro-nats at that row (q313 discipline: the Σ over the
    * vocabulary is then order-free); zero-count sides contribute 0 by
    * the 0·ln0 convention, spelled as an explicit CASE so both engines
    * agree. Cost: the same single token-count shuffle every LM op here
    * pays; the readout is one integral division. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select((col("source") === "src0").as("ind"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("ind"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("ind"), 1L).otherwise(0L)).as("cq"))
      .cutLineage() // feeds the totals AND the per-row terms
    val tot = counts.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
    // greatest(np|nq, 1): a one-sided corpus has nq = 0, but then
    // every cq is 0 too, so cq/1 = 0 and the term reduces to the
    // divergence against an empty distribution — identical arithmetic
    // in both engines, never an ANSI divide-by-zero (r16 sweep)
    val term = "CAST(floor((" +
      "CASE WHEN cp > 0 THEN 0.5 * (CAST(cp AS DOUBLE) / np) * " +
      "ln((CAST(cp AS DOUBLE) / np) / " +
      "(0.5 * (CAST(cp AS DOUBLE) / np + " +
      "CAST(cq AS DOUBLE) / greatest(nq, 1)))) " +
      "ELSE 0.0 END + " +
      "CASE WHEN cq > 0 THEN 0.5 * (CAST(cq AS DOUBLE) / nq) * " +
      "ln((CAST(cq AS DOUBLE) / nq) / " +
      "(0.5 * (CAST(cp AS DOUBLE) / greatest(np, 1) + " +
      "CAST(cq AS DOUBLE) / nq))) " +
      "ELSE 0.0 END) * 1000000000 + 0.5) AS BIGINT)"
    counts.crossJoin(broadcast(tot))
      .select(expr(term).as("t"))
      .agg(count(lit(1)).as("vocab"), sum(col("t")).as("jsd_nanonat"))
      .crossJoin(broadcast(tot))
      .select(col("vocab"), col("np").as("n_in_tokens"),
        col("nq").as("n_gen_tokens"), col("jsd_nanonat"),
        (round(col("jsd_nanonat").cast("double") / 1.0e9, 6) + lit(0.0))
          .as("jsd_r"))
  }

  private def jsDivergenceSql: String = {
    // greatest(np|nq, 1): a one-sided corpus has nq = 0, but then
    // every cq is 0 too, so cq/1 = 0 and the term reduces to the
    // divergence against an empty distribution — identical arithmetic
    // in both engines, never an ANSI divide-by-zero (r16 sweep)
    val term = "CAST(floor((" +
      "CASE WHEN cp > 0 THEN 0.5 * (CAST(cp AS DOUBLE) / np) * " +
      "ln((CAST(cp AS DOUBLE) / np) / " +
      "(0.5 * (CAST(cp AS DOUBLE) / np + " +
      "CAST(cq AS DOUBLE) / greatest(nq, 1)))) " +
      "ELSE 0.0 END + " +
      "CASE WHEN cq > 0 THEN 0.5 * (CAST(cq AS DOUBLE) / nq) * " +
      "ln((CAST(cq AS DOUBLE) / nq) / " +
      "(0.5 * (CAST(cp AS DOUBLE) / greatest(np, 1) + " +
      "CAST(cq AS DOUBLE) / nq))) " +
      "ELSE 0.0 END) * 1000000000 + 0.5) AS BIGINT)"
    s"""WITH counts AS (
      |  SELECT tok,
      |    CAST(sum(CASE WHEN ind THEN 1 ELSE 0 END) AS BIGINT) AS cp,
      |    CAST(sum(CASE WHEN ind THEN 0 ELSE 1 END) AS BIGINT) AS cq
      |  FROM (SELECT source = 'src0' AS ind,
      |          unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(cp) AS BIGINT) AS np,
      |    CAST(sum(cq) AS BIGINT) AS nq
      |  FROM counts),
      |terms AS (SELECT $term AS t FROM counts, tot)
      |SELECT (SELECT count(*) FROM terms) AS vocab,
      |  np AS n_in_tokens, nq AS n_gen_tokens,
      |  (SELECT CAST(sum(t) AS BIGINT) FROM terms) AS jsd_nanonat,
      |  (SELECT round(CAST(sum(t) AS DOUBLE) / 1000000000.0, 6) + 0.0
      |    FROM terms) AS jsd_r
      |FROM tot""".stripMargin
      // scalar-subquery form, not GROUP BY np, nq: on an empty corpus
      // the grouped form returns ZERO rows while Spark's global
      // aggregate (correctly) returns the one vocab=0 row — the
      // ungrouped form agrees at every corpus size (r16 sweep)
  }

  /** distinct-n generation-diversity ratios per source (Li, Galley,
    * Brockett, Gao & Dolan, NAACL 2016 — the dedup-adjacent diversity
    * gauge generation pipelines track: distinct-1 = unique unigrams /
    * total unigrams, distinct-2 likewise for bigrams; a collapsing
    * generator or an over-duplicated corpus slice drives both toward
    * 0). Per-source exact integer tallies in two partial-agg'd
    * shuffles (unigram and bigram census), ratios as integral ppm.
    * Complements [[vocabCoverage]] (corpus-global richness) with the
    * per-slice view that catches WHICH source went degenerate.
    *
    * The distinct key is the 120-bit portable-hash PAIR of the n-gram,
    * not the n-gram string (the span-dedup election precedent): the
    * census shuffle then carries two fixed longs per gram instead of
    * arbitrary-length text — the r14 100× probe measured the string
    * variant at 51→96 s (spill-degrading across rounds) vs a 13.5-14 s
    * hashed steady state at 100× corpus AND 100× vocabulary — while
    * 120 bits keeps the
    * count exact-in-practice at the 100-TB design point (n²/2¹²¹).
    * Both engines hash with the same md5 substrings, so even a
    * collision would be shared and the gate stays bit-identical. */
  def distinctN(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val toks = t(spark, dir, "documents")
      .select(col("source"),
        graft.functions.Barrier.materialized(split(col("text"), " "))
          .as("tk"))
      .filter(size(col("tk")) >= 2)
    val uni = toks.select(col("source"), explode(col("tk")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n1"),
        countDistinct(TextOps.portableHash60(col("g")),
          TextOps.portableHash60b(col("g"))).as("d1"))
    val bi = toks.select(col("source"),
        explode(expr("transform(sequence(1, size(tk) - 1), " +
          "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
          .as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n2"),
        countDistinct(TextOps.portableHash60(col("g")),
          TextOps.portableHash60b(col("g"))).as("d2"))
    uni.join(bi, Seq("source"))
      .select(col("source"), col("n1"), col("d1"), col("n2"), col("d2"),
        expr("d1 * 1000000 div n1").as("distinct1_ppm"),
        expr("d2 * 1000000 div n2").as("distinct2_ppm"))
  }

  private def distinctNSql: String =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |uni AS (
      |  SELECT source, count(*) AS n1,
      |    count(DISTINCT [('0x' || substr(md5(g), 1, 15))::BIGINT,
      |                    ('0x' || substr(md5(g), 17, 15))::BIGINT])
      |      AS d1
      |  FROM (SELECT source, unnest(tk) AS g FROM toks)
      |  GROUP BY 1),
      |bi AS (
      |  SELECT source, count(*) AS n2,
      |    count(DISTINCT [('0x' || substr(md5(g), 1, 15))::BIGINT,
      |                    ('0x' || substr(md5(g), 17, 15))::BIGINT])
      |      AS d2
      |  FROM (SELECT source, unnest([tk[i] || ' ' || tk[i + 1]
      |          for i in range(1, len(tk))]) AS g
      |        FROM toks)
      |  GROUP BY 1)
      |SELECT source, n1, d1, n2, d2,
      |  d1 * 1000000 // n1 AS distinct1_ppm,
      |  d2 * 1000000 // n2 AS distinct2_ppm
      |FROM uni JOIN bi USING (source)""".stripMargin

  val catalog: Seq[Q] = Seq(
    Q("q329_heaps_law", heapsLaw _, heapsLawSql),
    Q("q330_vocab_coverage", vocabCoverage _, vocabCoverageSql),
    Q("q334_js_divergence", jsDivergence _, jsDivergenceSql),
    Q("q335_distinct_n", distinctN _, distinctNSql),
    Q("q318_moore_lewis", mooreLewis _, mooreLewisSql),
    Q("q319_dsir_weights", dsirWeights _, dsirWeightsSql),
    Q("q344_bpe_merges", bpeMergeTable _, bpeMergeTableSql),
    Q("q345_bpe_encode", bpeEncode _, bpeEncodeSql),
    Q("q355_kneser_ney", kneserNey _, kneserNeySql),
    Q("q269_encoding_audit", encodingAudit _,
      """WITH c AS (
        |  SELECT source, text ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' caf' || chr(195) || chr(169) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' x' || chr(65533) ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END AS t2
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    contains(t2, chr(195) || chr(169)) AS f_moji,
        |    contains(t2, chr(65533)) AS f_repl,
        |    contains(t2, chr(7)) AS f_ctrl
        |  FROM c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN f_moji THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mojibake,
        |  CAST(sum(CASE WHEN f_repl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_replacement,
        |  CAST(sum(CASE WHEN f_ctrl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_control,
        |  CAST(sum(CASE WHEN NOT f_moji AND NOT f_repl AND NOT f_ctrl
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN NOT f_moji AND NOT f_repl AND NOT f_ctrl
        |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |    AS clean_ppm
        |FROM f GROUP BY 1""".stripMargin),
    Q("q265_rrf_fusion", rrfFusion _,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM tok
        |  WHERE w IN ('join', 'filter', 'scan') GROUP BY 1, 2),
        |tfd AS (
        |  SELECT tf.doc_id, w, tf.tf,
        |    tf.tf * 1000000 // dl.dl AS dens_ppm
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id),
        |ta AS (
        |  SELECT w, doc_id,
        |    CAST(row_number() OVER (PARTITION BY w
        |      ORDER BY tf DESC, doc_id ASC) AS BIGINT) AS rank_a
        |  FROM tfd QUALIFY rank_a <= 50),
        |tb AS (
        |  SELECT w, doc_id,
        |    CAST(row_number() OVER (PARTITION BY w
        |      ORDER BY dens_ppm DESC, doc_id ASC) AS BIGINT) AS rank_b
        |  FROM tfd QUALIFY rank_b <= 50),
        |f AS (
        |  SELECT coalesce(ta.w, tb.w) AS term,
        |    coalesce(ta.doc_id, tb.doc_id) AS doc_id, rank_a, rank_b,
        |    CAST(coalesce(1000000 // (60 + rank_a), 0) +
        |      coalesce(1000000 // (60 + rank_b), 0) AS BIGINT) AS rrf_ppm
        |  FROM ta FULL OUTER JOIN tb
        |    ON ta.w = tb.w AND ta.doc_id = tb.doc_id)
        |SELECT term, doc_id, rank_a, rank_b, rrf_ppm,
        |  CAST(row_number() OVER (PARTITION BY term
        |    ORDER BY rrf_ppm DESC, doc_id ASC) AS BIGINT) AS fused_rank
        |FROM f QUALIFY fused_rank <= 10""".stripMargin),
    Q("q260_rake_keywords", rakeKeywords _, {
      val lst = stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |toks AS (
         |  SELECT doc_id, u.pos AS pos, u.tok AS tok,
         |    list_contains($lst, u.tok) AS is_stop
         |  FROM (SELECT doc_id,
         |          unnest([{'pos': i, 'tok': ws[i]}
         |                  for i in range(1, len(ws) + 1)]) AS u
         |        FROM d)),
         |ph AS (
         |  SELECT doc_id, pos, tok, is_stop,
         |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
         |  FROM toks),
         |w AS (
         |  SELECT tok,
         |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
         |  FROM ph WHERE NOT is_stop),
         |ag AS (
         |  SELECT tok AS word, count(*) AS freq,
         |    CAST(sum(phrase_len) AS BIGINT) AS deg
         |  FROM w GROUP BY 1)
         |SELECT word, freq, deg,
         |  CAST(deg * 1000000 // freq AS BIGINT) AS score_ppm
         |FROM ag ORDER BY score_ppm DESC, word LIMIT 20""".stripMargin
    }),
    Q("q249_zipf_fit", zipfFit _,
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |freqs AS (
        |  SELECT tok, count(*) AS freq FROM toks GROUP BY 1
        |  ORDER BY freq DESC, tok ASC LIMIT 1000),
        |pts AS (
        |  SELECT
        |    CAST(floor(ln(CAST(row_number() OVER
        |      (ORDER BY freq DESC, tok ASC) AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS xq,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS yq
        |  FROM freqs),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(xq::HUGEINT) AS sx, sum(yq::HUGEINT) AS sy,
        |    sum((xq * yq)::HUGEINT) AS sxy,
        |    sum((xq * xq)::HUGEINT) AS sxx,
        |    sum((yq * yq)::HUGEINT) AS syy
        |  FROM pts),
        |d AS (
        |  SELECT n, sx, sy,
        |    n::HUGEINT * sxy - sx * sy AS num,
        |    n::HUGEINT * sxx - sx * sx AS denx,
        |    n::HUGEINT * syy - sy * sy AS deny
        |  FROM s)
        |SELECT n,
        |  round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 6) + 0.0
        |    AS slope_r,
        |  round((CAST(sy AS DOUBLE) / 1000000.0 -
        |    (CAST(num AS DOUBLE) / CAST(denx AS DOUBLE)) *
        |    (CAST(sx AS DOUBLE) / 1000000.0)) / CAST(n AS DOUBLE), 6)
        |    + 0.0 AS intercept_r,
        |  round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) /
        |    (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6) + 0.0
        |    AS r2_r
        |FROM d""".stripMargin),
    Q("q194_feature_hashing", featureHashing _,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1),
        |f AS (
        |  SELECT doc_id, hv % 1024 AS idx,
        |    CASE WHEN (hv // 1024) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5('fh:' || w), 1, 8))::BIGINT AS hv
        |        FROM tok)),
        |v AS (
        |  SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS val
        |  FROM f GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id,
        |    count(CASE WHEN val <> 0 THEN 1 END) AS nnz,
        |    CAST(sum(abs(val)) AS BIGINT) AS l1,
        |    CAST(sum(idx * val) AS BIGINT) AS checksum
        |  FROM v GROUP BY 1)
        |SELECT s.doc_id AS doc_id, t.n_tokens, s.nnz, s.l1, s.checksum
        |FROM s JOIN t ON s.doc_id = t.doc_id""".stripMargin),
    Q("q186_doc_repetition", docRepetition _,
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT doc_id, 3 AS k,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |            for i in range(1, len(w) - 1)]) AS g
        |  FROM docs
        |  UNION ALL
        |  SELECT doc_id, 2 AS k,
        |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
        |  FROM docs),
        |c AS (SELECT doc_id, k, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |s AS (SELECT doc_id, k, sum(c) AS occ, count(*) AS dis,
        |        max(c) AS top
        |      FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(max(CASE WHEN k = 3 THEN occ END) AS BIGINT) AS n_tri,
        |  CAST(max(CASE WHEN k = 3 THEN occ - dis END) * 1000000
        |    // max(CASE WHEN k = 3 THEN occ END) AS BIGINT) AS dup_tri_ppm,
        |  CAST(max(CASE WHEN k = 2 THEN top END) * 1000000
        |    // max(CASE WHEN k = 2 THEN occ END) AS BIGINT) AS top_bi_ppm
        |FROM s GROUP BY 1""".stripMargin),
    Q("q165_bigram_lift", bigramLift _,
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |uni AS (
        |  SELECT w, count(*) AS c_w
        |  FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY 1),
        |ut AS (SELECT CAST(sum(c_w) AS BIGINT) AS u_total FROM uni),
        |bg AS (
        |  SELECT ws[i] AS w0, ws[i + 1] AS w1
        |  FROM toks, unnest(range(1, len(ws))) AS u(i)),
        |bgc AS (SELECT w0, w1, count(*) AS c_xy FROM bg GROUP BY 1, 2),
        |nbg AS (SELECT count(*) AS n_bg FROM bg)
        |SELECT w0 || ' ' || w1 AS bigram, c_xy,
        |  ux.c_w AS c_x, uy.c_w AS c_y,
        |  round(CAST(c_xy AS DOUBLE) * u_total * u_total /
        |    (CAST(n_bg AS DOUBLE) * ux.c_w * uy.c_w), 6) AS lift
        |FROM bgc
        |JOIN uni ux ON ux.w = bgc.w0
        |JOIN uni uy ON uy.w = bgc.w1
        |CROSS JOIN nbg CROSS JOIN ut
        |WHERE c_xy >= 20
        |ORDER BY lift DESC, bigram ASC
        |LIMIT 20""".stripMargin),
    Q("q166_sharded_postings", invertedIndexSharded _,
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
        |    AS token
        |  FROM documents),
        |shard AS (
        |  SELECT token, CAST(doc_id // 100 AS INT) AS shard,
        |    list_sort(list(DISTINCT doc_id)) AS ids
        |  FROM tok GROUP BY 1, 2),
        |gdf AS (
        |  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |SELECT shard.token, shard.shard, df,
        |  CAST(len(ids) AS INT) AS shard_df,
        |  ids[1] AS head,
        |  CASE WHEN len(ids) < 2 THEN '' ELSE
        |    list_aggregate(
        |      list_transform(range(2, len(ids) + 1),
        |                     i -> CAST(ids[i] - ids[i - 1] AS VARCHAR)),
        |      'string_agg', ',') END AS gaps
        |FROM shard JOIN gdf ON gdf.token = shard.token
        |WHERE df >= 40""".stripMargin),
    Q("q158_shingle_novelty", shingleNovelty _,
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |       for i in range(1, len(w) - 1)],
        |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |u AS (SELECT doc_id, unnest(hs) AS h FROM docs),
        |f AS (SELECT h, count(*) AS f FROM u GROUP BY 1)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  CAST(sum(CASE WHEN f.f = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS novelty_ppm
        |FROM u JOIN f USING (h) GROUP BY 1""".stripMargin),
    Q("q146_url_normalize", urlNormalize _,
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://WWW.'
        |          ELSE 'http://www.' END)
        |    || source || '.example.com/docs/'
        |    || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0
        |          THEN '?utm_source=feed&utm_campaign=c'
        |            || CAST(doc_id % 7 AS VARCHAR)
        |          ELSE '' END) AS raw_url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(raw_url, '^([a-zA-Z]+://[^/]+)', 1))
        |        || regexp_extract(raw_url, '^[a-zA-Z]+://[^/]+(.*)$', 1),
        |      '\?utm_[a-z_]+=[a-z0-9]+(&utm_[a-z_]+=[a-z0-9]+)*$', ''),
        |      '/$', '') AS canon
        |  FROM raw)
        |SELECT canon, count(*) AS n_raw,
        |  count(DISTINCT raw_url) AS n_variants,
        |  min(doc_id) AS first_doc
        |FROM c GROUP BY 1
        |HAVING count(DISTINCT raw_url) >= 2""".stripMargin),
    Q("q120_bpe_pairs", bpePairs _,
      """WITH wc AS (
        |  SELECT u AS word, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS u FROM documents)
        |  WHERE u <> '' GROUP BY 1),
        |p AS (
        |  SELECT substr(word, i, 2) AS pair, n
        |  FROM (SELECT word, n, unnest(range(1, len(word))) AS i
        |        FROM wc WHERE len(word) >= 2))
        |SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
        |FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin),
    Q("q123_oov_rate", oovRate _,
      """WITH tok AS (
        |  SELECT doc_id, source, u AS tk
        |  FROM (SELECT doc_id, source,
        |          unnest(string_split(text, ' ')) AS u FROM documents)
        |  WHERE u <> ''),
        |vocab AS (
        |  SELECT tk FROM (
        |    SELECT tk, count(*) AS n FROM tok GROUP BY 1)
        |  ORDER BY n DESC, tk ASC LIMIT 20),
        |m AS (
        |  SELECT source, doc_id,
        |    CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok LEFT JOIN vocab v USING (tk))
        |SELECT source,
        |  count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) + 0.0 AS oov_rate
        |FROM m GROUP BY 1""".stripMargin),
    Q("q125_perplexity_buckets", perplexityBuckets _,
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents),
        |bgrel AS (
        |  SELECT doc_id, lang, u.w0 AS w0, u.bg AS bg
        |  FROM (SELECT doc_id, lang,
        |          unnest([{'w0': ws[i], 'bg': ws[i] || ' ' || ws[i+1]}
        |                  for i in range(1, len(ws))]) AS u
        |        FROM w)),
        |bgc AS (SELECT bg, count(*) AS c_bg FROM bgrel GROUP BY 1),
        |w1c AS (SELECT w0, count(*) AS c_w1 FROM bgrel GROUP BY 1),
        |doc AS (
        |  SELECT doc_id, lang,
        |    CAST(sum((c_bg * 1000000) // c_w1) // count(*) AS BIGINT)
        |      AS score
        |  FROM bgrel JOIN bgc USING (bg) JOIN w1c USING (w0)
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT lang, doc_id, score,
        |    CAST(ntile(3) OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id ASC) AS INT) AS bucket
        |  FROM doc)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(avg(score), 4) AS avg_score,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM b GROUP BY 1, 2""".stripMargin),
    Q("q117_pii_redact", piiRedact _,
      """WITH a AS (
        |  SELECT doc_id,
        |    text || ' contact doc' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents WHERE doc_id < 20)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(aug,
        |    '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
        |  right(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g'), 40) AS tail
        |FROM a""".stripMargin),
    Q("q118_inverted_index", invertedIndex _,
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, u AS token FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS u
        |     FROM documents)
        |  WHERE u <> ''),
        |r AS (
        |  SELECT token, doc_id,
        |    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |  FROM tok)
        |SELECT token, count(*) AS df,
        |  string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
        |    ',' ORDER BY doc_id) AS postings
        |FROM r GROUP BY 1""".stripMargin),
    Q("q98_pack_sequences", packSequences _,
      """WITH d AS (
        |  SELECT doc_id, lang, doc_id % 16 AS shard,
        |    len(string_split(text, ' ')) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT lang, shard, toks,
        |    sum(toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |s AS (
        |  SELECT lang, shard, floor((cum - toks) / 128) AS seq_id,
        |    count(*) AS n_docs, sum(toks) AS toks
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT lang, count(*) AS n_seqs,
        |  round(avg(n_docs), 4) AS avg_docs_per_seq,
        |  round(avg(toks), 4) AS avg_tokens_per_seq,
        |  CAST(max(toks) AS BIGINT) AS max_tokens
        |FROM s GROUP BY 1""".stripMargin),
    Q("q92_decontaminate", decontaminate _,
      """WITH docs AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 100) < 5 AS is_bench,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w) - 1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |bsh AS (
        |  SELECT doc_id AS bench_id, unnest(sh) AS s FROM docs
        |  WHERE is_bench),
        |csh AS (
        |  SELECT doc_id, unnest(sh) AS s FROM docs WHERE NOT is_bench)
        |SELECT doc_id, count(DISTINCT s) AS n_shared,
        |  min(bench_id) AS bench_doc
        |FROM csh JOIN bsh USING (s)
        |GROUP BY 1""".stripMargin),
    // Oracle is the EXACT overlap query — the bloom prefilter has no
    // false negatives and the exact join removes its false positives, so
    // the bloom is invisible in the result.
    Q("q101_bloom_decontaminate", bloomDecontaminate _,
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    (('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 100) < 5 AS is_bench,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w) - 1)]) AS sh
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |bsh AS (
        |  SELECT DISTINCT unnest(sh) AS s FROM docs WHERE is_bench),
        |hits AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM docs
        |        WHERE NOT is_bench) c
        |  JOIN bsh USING (s))
        |SELECT source, count(*) AS n_docs,
        |  count(h.doc_id) AS n_contaminated,
        |  round(count(h.doc_id) / count(*), 6) AS contam_share
        |FROM docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE NOT d.is_bench
        |GROUP BY 1""".stripMargin),
    // Oracle derives the manifest inline from the same deterministic
    // rules the staged parquet was written with; the bloom prefilter is
    // invisible in the result (no false negatives, exact join removes
    // false positives), as q101.
    Q("q202_manifest_decontaminate", manifestDecontaminate _,
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('mani:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT AS mh,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w) - 1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |mani AS (
        |  SELECT CASE mh % 3 WHEN 0 THEN 'qa_v1' WHEN 1 THEN 'summarize_v2'
        |    ELSE 'cloze_v1' END AS benchmark, doc_id, sh
        |  FROM d WHERE mh % 100 < 6),
        |msh AS (SELECT DISTINCT benchmark, unnest(sh) AS s FROM mani),
        |corpus AS (SELECT doc_id, sh FROM d WHERE mh % 100 >= 6),
        |n AS (SELECT count(*) AS n_corpus FROM corpus),
        |hits AS (
        |  SELECT m.benchmark, count(DISTINCT c.doc_id) AS n_hits
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM corpus) c
        |  JOIN msh m USING (s)
        |  GROUP BY 1),
        |ent AS (SELECT benchmark, count(*) AS n_entries FROM mani GROUP BY 1)
        |SELECT e.benchmark, e.n_entries,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) * 1000000 //
        |    greatest((SELECT n_corpus FROM n), 1) AS BIGINT) AS hit_ppm
        |FROM ent e LEFT JOIN hits h USING (benchmark)""".stripMargin),
    Q("q103_blocklist_filter", blocklistFilter _,
      """WITH b AS (
        |  SELECT doc_id
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w IN ('slow', 'leak', 'broken') GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        |  count(b.doc_id) AS n_blocked,
        |  round(count(b.doc_id) / count(*), 6) AS block_share
        |FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id
        |GROUP BY 1""".stripMargin),
    Q("q95_bm25", bm25 _,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM tok
        |  WHERE w IN ('join', 'filter', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.w,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS part
        |  FROM tf JOIN dfreq USING (w)
        |    JOIN dl ON tf.doc_id = dl.doc_id
        |    CROSS JOIN stats)
        |SELECT doc_id,
        |  round(coalesce(max(CASE WHEN w = 'join' THEN part END), 0.0)
        |      + coalesce(max(CASE WHEN w = 'filter' THEN part END), 0.0)
        |      + coalesce(max(CASE WHEN w = 'scan' THEN part END), 0.0), 6)
        |    AS score
        |FROM scored GROUP BY 1
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin),
    Q("q52_winnowing", winnowing _,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id, u.pos AS pos,
        |    ('0x' || substr(md5(u.s), 1, 8))::BIGINT AS h
        |  FROM (SELECT doc_id,
        |          unnest([{'pos': i,
        |                   's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                     || ' ' || ws[i+3] || ' ' || ws[i+4]}
        |                  for i in range(1, len(ws) - 3)]) AS u
        |        FROM w)),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, pos,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS fp
        |    FROM sh)
        |  WHERE pos >= 3),
        |ok_fp AS (
        |  SELECT fp FROM fps GROUP BY 1
        |  HAVING count(*) BETWEEN 2 AND 50)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |WHERE a.fp IN (SELECT fp FROM ok_fp)
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    Q("q59_bigram_lm", bigramLm _,
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents),
        |bgrel AS (
        |  SELECT doc_id, lang, u.w0 AS w0, u.bg AS bg
        |  FROM (SELECT doc_id, lang,
        |          unnest([{'w0': ws[i], 'bg': ws[i] || ' ' || ws[i+1]}
        |                  for i in range(1, len(ws))]) AS u
        |        FROM w)),
        |bgc AS (SELECT bg, count(*) AS c_bg FROM bgrel GROUP BY 1),
        |w1c AS (SELECT w0, count(*) AS c_w1 FROM bgrel GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, lang, ln(c_bg / c_w1) AS lp
        |  FROM bgrel JOIN bgc USING (bg) JOIN w1c USING (w0)),
        |doc AS (
        |  SELECT doc_id, lang, avg(lp) AS s FROM scored GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(s), 4) AS avg_lm, round(min(s), 4) AS min_lm
        |FROM doc GROUP BY 1""".stripMargin),
    Q("q60_tfidf", tfidf _,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, w AS term, round(tf * ln(n / df), 4) AS tfidf
        |  FROM tf JOIN df USING (w) CROSS JOIN n
        |  WHERE doc_id < 50),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term ASC) AS INT) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3""".stripMargin),
    Q("q54_corpus_pipeline", corpusPipeline _,
      // the loser filter replicates the Spark path structurally: the
      // SAME candidate CTE chain as the q53/q108 oracles (min-bucket
      // candidates + hot-bucket cap + hashed-set verify + recursive CC),
      // not the r1 30-char-prefix scheme that matched only by
      // coincidence of verified pairs
      s"""WITH RECURSIVE ${graft.operators.Dedup.ccCtesSql},
        |comp AS (
        |  SELECT v AS doc_id, min(r) AS comp FROM reach GROUP BY 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents dd
        |WHERE len(string_split(text, ' ')) >= 20
        |  AND NOT EXISTS (SELECT 1 FROM comp
        |    WHERE comp.doc_id = dd.doc_id AND comp.comp <> comp.doc_id)
        |GROUP BY 1""".stripMargin),
    Q("q55_edit_distance", editDistance _,
      """SELECT a.p_type, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) <= 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
        |  CAST(min(levenshtein(a.p_name, b.p_name)) AS INT) AS min_lev,
        |  round(avg(levenshtein(a.p_name, b.p_name)), 4) AS avg_lev
        |FROM part a JOIN part b
        |  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 200 AND b.p_partkey < 200
        |GROUP BY 1""".stripMargin),
    Q("q40_lang_id", langId _, {
      val scoreCols = langOrder.map(l => s"${hitsSql(l)} AS s_$l")
        .mkString(",\n    ")
      val best = s"greatest(${langOrder.map(l => s"s_$l").mkString(", ")})"
      val chain = langOrder.map(l => s"WHEN s_$l = $best THEN '$l'")
        .mkString("\n      ")
      s"""WITH scored AS (
         |  SELECT lang,
         |    $scoreCols
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN $best = 0 THEN 'unknown'
         |      $chain
         |      ELSE 'unknown' END AS pred,
         |  count(*) AS n,
         |  round(avg(s_en), 4) AS avg_en_hits
         |FROM scored GROUP BY 1, 2""".stripMargin
    }),
    Q("q41_text_quality", quality _,
      """WITH d AS (
        |  SELECT source, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |      tk -> length(tk) <= 3)) / len(string_split(text, ' '))
        |      AS short_ratio
        |  FROM documents),
        |d2 AS (
        |  SELECT source, n_chars, n_tokens, short_ratio,
        |    (n_chars - (n_tokens - 1)) / n_tokens AS avg_word_len,
        |    round(least(CAST(1.0 AS DOUBLE),
        |      n_tokens / CAST(200.0 AS DOUBLE))
        |      - CAST(0.5 AS DOUBLE) * short_ratio, 6) AS quality_score
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(avg(n_tokens), 4) AS avg_tokens,
        |  round(avg(short_ratio), 6) AS avg_short_ratio,
        |  round(avg(avg_word_len), 6) AS avg_word_len,
        |  round(avg(quality_score), 6) AS avg_quality
        |FROM d2 GROUP BY 1""".stripMargin),
    Q("q42_token_count", tokenCount _,
      """WITH d AS (
        |  SELECT len(string_split(text, ' ')) AS ws_tokens,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS re_tokens
        |  FROM documents)
        |SELECT CAST(ws_tokens // 20 AS INT) AS bucket,
        |  count(*) AS n_docs,
        |  round(avg(re_tokens), 4) AS avg_re_tokens,
        |  round(avg(re_tokens / ws_tokens), 6) AS avg_ratio
        |FROM d GROUP BY 1""".stripMargin),
    Q("q77_chunk_documents", chunkDocuments _,
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, CAST(ceil(len(ws) / 50.0) AS INT))) AS chunk_id
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(len(list_slice(ws, chunk_id * 50 + 1, chunk_id * 50 + 50))
        |    AS INT) AS n_tokens,
        |  md5(array_to_string(
        |    list_slice(ws, chunk_id * 50 + 1, chunk_id * 50 + 50), ' '))
        |    AS chunk_hash
        |FROM c""".stripMargin),
    Q("q70_top_ngrams", topNgrams _,
      """WITH bg AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([ws[i] || ' ' || ws[i+1]
        |                          for i in range(1, len(ws))])) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents)),
        |counted AS (
        |  SELECT ngram, count(*) AS df FROM bg GROUP BY 1),
        |ranked AS (
        |  SELECT ngram, df,
        |    CAST(row_number() OVER (ORDER BY df DESC, ngram ASC) AS INT)
        |      AS rk
        |  FROM counted)
        |SELECT ngram, df, rk FROM ranked WHERE rk <= 20""".stripMargin),
    Q("q71_text_normalize", textNormalize _,
      """WITH d AS (
        |  SELECT lang, text,
        |    trim(regexp_replace(
        |      regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  round(avg(length(text)), 4) AS avg_len_raw,
        |  round(avg(length(norm)), 4) AS avg_len_norm,
        |  CAST(sum(length(text) - length(norm)) AS BIGINT)
        |    AS chars_removed
        |FROM d GROUP BY 1""".stripMargin),
    Q("q85_repetition_quality", repetitionQuality _,
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w0
        |  FROM documents),
        |uni AS (
        |  SELECT doc_id, lang, sum(c) AS n_tokens, max(c) AS top_c,
        |    count(*) AS n_distinct
        |  FROM (SELECT doc_id, lang, w0, count(*) AS c
        |        FROM tok GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |bgl AS (
        |  SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
        |      AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents)),
        |bg AS (
        |  SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg_c
        |  FROM (SELECT doc_id, bg, count(*) AS c FROM bgl GROUP BY 1, 2)
        |  GROUP BY 1),
        |per_doc AS (
        |  SELECT lang, top_c / n_tokens AS twf,
        |    n_distinct / n_tokens AS dr, top_bg_c / n_bg AS tbf
        |  FROM uni JOIN bg USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(twf), 6) AS avg_top_word_frac,
        |  round(avg(dr), 6) AS avg_distinct_ratio,
        |  round(avg(tbf), 6) AS avg_top_bigram_frac,
        |  CAST(sum(CASE WHEN tbf >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged
        |FROM per_doc GROUP BY 1""".stripMargin),
    Q("q43_fingerprint", fingerprint _,
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keeper, count(*) AS n,
        |  min(source) AS first_source
        |FROM documents GROUP BY 1""".stripMargin),
    Q("q109_span_dedup", spanDedup _,
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (
        |  SELECT doc_id, CAST(idx AS INT) AS idx,
        |    array_to_string(
        |      list_slice(ws, idx * 10 + 1, idx * 10 + 10), ' ') AS span
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, CAST(ceil(len(ws) / 10.0) AS INT)))
        |            AS idx
        |        FROM d)),
        |sph AS (
        |  SELECT doc_id, idx, span,
        |    ('0x' || substr(md5(span), 1, 15))::BIGINT AS sh,
        |    ('0x' || substr(md5(span), 17, 15))::BIGINT AS sh2
        |  FROM sp),
        |keeper AS (
        |  SELECT sh, sh2,
        |    min(struct_pack(d := doc_id, i := idx)) AS keep_pos
        |  FROM sph GROUP BY 1, 2),
        |kept AS (
        |  SELECT sph.doc_id, sph.idx, sph.span
        |  FROM sph JOIN keeper
        |    ON sph.sh = keeper.sh AND sph.sh2 = keeper.sh2
        |  WHERE struct_pack(d := sph.doc_id, i := sph.idx)
        |          = keeper.keep_pos)
        |SELECT d.doc_id,
        |  CAST(ceil(len(d.ws) / 10.0) AS INT) AS n_spans,
        |  CAST(count(kept.idx) AS INT) AS kept_spans,
        |  md5(coalesce(
        |    string_agg(kept.span, ' ' ORDER BY kept.idx), ''))
        |    AS rebuilt_hash
        |FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
        |GROUP BY 1, 2""".stripMargin),
    Q("q110_gopher_rules", gopherRules _,
      """WITH d AS (
        |  SELECT source, len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '),
        |      tk -> list_contains(['the', 'and', 'of', 'to', 'a', 'in',
        |        'is', 'for', 'on'], tk))) AS stop_hits,
        |    n_chars
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    CASE WHEN n_words < 40 OR n_words > 100000
        |      THEN 1 ELSE 0 END AS f_wc,
        |    CASE WHEN (n_chars - (n_words - 1)) / n_words < 3
        |           OR (n_chars - (n_words - 1)) / n_words > 10
        |      THEN 1 ELSE 0 END AS f_mwl,
        |    CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END AS f_stop
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(f_wc) AS BIGINT) AS fail_word_count,
        |  CAST(sum(f_mwl) AS BIGINT) AS fail_mean_word_len,
        |  CAST(sum(f_stop) AS BIGINT) AS fail_stopwords,
        |  CAST(sum(CASE WHEN f_wc + f_mwl + f_stop = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pass
        |FROM f GROUP BY 1""".stripMargin)
  )
}
