package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(EngineDefaults.read)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    EngineDefaults(spark)
    // r16: physical-plan conf A/B hook — `GRAFT_BENCH_CONF="k=v;k=v"`
    // applies runtime-settable SQL confs before warmup, so candidate
    // scale settings (AQE coalescing targets, join-strategy preferences)
    // can be measured on subsets without rebuilding. Unset = shipped
    // defaults; the driver's bench always runs the shipped defaults.
    sys.env.get("GRAFT_BENCH_CONF").foreach { conf =>
      // r17 (ADVICE fix): shout when experiment confs are active so a
      // hook run can never be mistaken for shipped-default results —
      // the stderr banner brackets the run and the JSON line itself is
      // tagged via calib_kind below being left untouched (the driver's
      // runs never set this env).
      System.err.println(s"WARN: GRAFT_BENCH_CONF is SET ($conf) — " +
        "timings below are an EXPERIMENT, not shipped defaults")
      conf.split(";").foreach { kv =>
        val i = kv.indexOf('=')
        if (i > 0) spark.conf.set(kv.take(i).trim, kv.drop(i + 1).trim)
      }
    }
    // Silence WindowExec's "No Partition Defined" WARN: every
    // unpartitioned window in the catalog is PROVEN bounded by the
    // executable lint (BoundedWindowSpec enumerates all such sites from
    // the optimized plans and bounds-checks their input growth across
    // sf0.001→sf0.01), which also catches any NEW unbounded window —
    // strictly stronger detection than a WARN line in the bench tail,
    // where ~50 known-bounded sites flooded dozens of identical lines
    // that would have masked a real one.
    if (sys.env.contains("GRAFT_KEEP_WINDOW_WARN")) () else org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // SPARK_GRAFT_ONLY=q108_canonical_selection,q53_dup_clusters narrows
    // the run for isolated steady-state measurement of one query (regression
    // triage without the other 167 sharing the JVM); unset = full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // Warm the JVM/codegen/parquet-footer paths outside any query's timing
    // (otherwise Map iteration order decides which query absorbs the
    // first-action JIT/codegen warmup — measured ~8s of pure cold-start on
    // the minhash pipeline alone). Running every query once at sf0.001
    // compiles every operator's generated code and JITs window/agg/join
    // paths, so the timed pass below measures steady-state throughput.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Two warm rounds: sf0.001 compiles every operator's generated code;
    // sf0.01 is big enough that AQE picks the same physical-plan shapes
    // (join strategies, partial-agg paths) the timed sf0.1 pass will run,
    // so their codegen + C2 JIT also happens outside the timing.
    // The timed dir itself is part of the warmup (measured: without it,
    // two back-to-back full runs disagreed 9% on the SUITE total and 41%
    // of queries moved >10% — all in the same direction, i.e. differing
    // pre-timing JIT/page-cache state, not per-query noise; with it the
    // timed passes start from the same steady state in every run).
    if (sys.env.getOrElse("SPARK_GRAFT_WARM", "1") != "0") {
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", sfDir)
        .foreach { wd =>
          selected.foreach { case (_, fn) =>
            try fn(spark, wd).count() catch { case _: Throwable => }
          }
          SessionMemo.clearAll()
        }
    }
    // Platform-speed calibration: a fixed, deterministic work unit timed
    // around the suite (3 before + 3 after, min = the window's best-case
    // platform speed). Two consecutive full runs of the SAME binary
    // measured a uniform ×1.17 and ×1.31 whole-suite offset with guest
    // load ≈ 0 — host-level contention a VM guest cannot see or control;
    // calib_sec makes that factor explicit so cross-round comparisons can
    // separate "the code got slower" from "the box was slower".
    // r16 (verdict item 4): calib_sec is now DIAGNOSTIC ONLY — no path
    // normalizes by it anymore. The r16 calib study (SCALE.md) measured
    // a candidate shuffle+scan replacement probe side-by-side with the
    // ALU probe and a fixed suite-query mix across quiet AND loaded
    // windows: the shuffle probe spread 45% across quiet windows
    // (worse than ALU's 10% under the same back-to-back protocol) and
    // tracked the mix WORSE (73% vs 40% probe/mix ratio spread), while
    // the suite mix itself spread only 6% — i.e. the only trustworthy
    // platform signal is the suite's own shared-query ratio, which
    // benchdiff already computes. So: probe kept (ALU, for series
    // continuity with every existing pin), normalization dropped
    // everywhere, calib_kind stamps the protocol for honesty.
    val calibThreads = cpus.toInt
    val calibKind = "alu-v1"
    def calibProbe(): Double = Calib.probe(calibThreads)
    val calibPre = (1 to 3).map(_ => calibProbe())
    // queries that localCheckpoint intermediate frames: their dead blocks
    // linger until the ContextCleaner's next GC and were measured adding
    // multi-second variance to LATER queries — collect right after each
    val ckptHeavy = Set("q34_dedup_ngram_jaccard", "q35_dedup_minhash",
      "q36_dedup_simhash", "q37_dedup_embedding", "q53_dup_clusters",
      "q54_corpus_pipeline", "q93_incremental_dedup",
      "q150_setsim_exact", "q153_triangles", "q158_shingle_novelty",
      "q171_media_phash", "q172_containment_join",
      "q267_lsh_scurve", "q268_hard_negatives",
      "q272_pca_power", "q273_acf", "q274_dbscan", "q280_isotonic",
      "q282_seasonal_decompose", "q288_semantic_dedup",
      "q356_phash_ball", "q357_crossmodal_contam", "q358_frame_dedup",
      "q360_cdc_chunks")
    // Shared pipeline stages (cluster labels; hashed shingles) are
    // memoized per (session, dir) and consumed by several queries. Each
    // pass clears the memo and materializes the stage OUTSIDE any
    // query's timing, reporting it as its own entry: every consumer then
    // measures its marginal cost deterministically. (Leaving the build
    // inside whichever consumer ran first was stable for full passes but
    // luck-dependent in the adaptive resample's subsets — one consumer's
    // min swung 0.25 s ↔ 2.9 s between runs of the same binary.) At
    // 100 TB these stages are materialized intermediate tables, so a
    // stage-priced bench line is also the truthful accounting.
    val stageOf: Map[String, Set[String]] = Map(
      "stage_cc_labels" -> Set("q53_dup_clusters", "q54_corpus_pipeline",
        "q108_canonical_selection", "q213_survivorship"),
      "stage_hashed_shingles" -> Set("q150_setsim_exact",
        "q172_containment_join",
        // r17: the exact-verify hash sets of the Jaccard family now come
        // from this stage instead of a per-query re-shingle of candidate
        // texts, so its consumers (and the CC-labels stage, whose
        // ngramJaccard build verifies through it — hence the cc-labels
        // CONSUMERS here too, so subset passes price it outside their
        // timing exactly like full passes) join the group
        "q34_dedup_ngram_jaccard", "q35_dedup_minhash",
        "q93_incremental_dedup", "q53_dup_clusters", "q54_corpus_pipeline",
        "q108_canonical_selection", "q213_survivorship",
        // r17: q267's exact-J verify now reads the stage too
        "q267_lsh_scurve"),
      // r17: the 64-perm MinHash signature relation — q34's min-buckets
      // are rows 0–3 of the q35/q267 signature (same permutation
      // formula), so ONE sketch pass serves all three plus the CC-labels
      // build (whose ngramJaccard candidates ride it — hence the
      // cc-labels consumers here, the stage_hashed_shingles pattern)
      "stage_minhash_sigs" -> Set("q34_dedup_ngram_jaccard",
        "q35_dedup_minhash", "q93_incremental_dedup", "q267_lsh_scurve",
        "q53_dup_clusters", "q54_corpus_pipeline",
        "q108_canonical_selection", "q213_survivorship"),
      "stage_support2_pairs" -> Set("q185_copurchase", "q192_kcore",
        "q197_label_propagation", "q203_bfs_hops", "q223_cheapest_path",
        "q227_item_similarity", "q241_feature_propagation",
        // r12: the stage's r11 consumers were never added, so whether
        // they paid the stage build depended on Map iteration order —
        // q256's r11 ×1.16 flag and this round's ×1.17/isolated-4.9s
        // were exactly that, not code
        "q256_modularity", "q259_clustering_coeff", "q285_next_item_eval",
        "q291_link_prediction", "q301_ndcg", "q302_mrr",
        "q307_rec_coverage",
        // r14: the Louvain levels ride the same pair relation
        "q347_louvain_level", "q353_louvain_two_level"),
      "stage_pc1" -> Set("q272_pca_power", "q309_embedding_drift"),
      // the resident IVF-PQ serving index (loaded and reconstructed once
      // per index version): without the stage, whichever of its two
      // consumers ran first would pay the load, and pass 2 would time
      // memo hits for both
      "stage_ivfpq_index" -> Set("q289_ann_serve", "q316_ann_recall"),
      // r13: the k-means centroids + assignment four queries share
      // (r15: + the cross-modal contamination readout)
      "stage_kmeans_cells" -> Set("q37_dedup_embedding",
        "q288_semantic_dedup", "q324_silhouette", "q325_davies_bouldin",
        "q357_crossmodal_contam"),
      // r14: the learned BPE merge table both BPE queries consume
      "stage_bpe_merges" -> Set("q344_bpe_merges", "q345_bpe_encode"),
      // r14: level-1 Louvain labels shared by the census and level 2
      "stage_louvain_l1" -> Set("q347_louvain_level",
        "q353_louvain_two_level"))
    // building a shared stage materializes it; the resident index's
    // hook also ensures the persisted index it loads
    def runStage(sname: String): Unit =
      if (sname == "stage_ivfpq_index")
        graft.operators.Similarity.materializeIvfpqIndex(spark, sfDir)
      else SessionMemo.named(sname)(spark, sfDir)
    // Two timed passes, min per query: a single pass is exposed to
    // one-off GC/JIT/checkpoint-cleaner pauses (a 3.5 s query was
    // measured once at 12.6 s purely from a pause landing inside it);
    // min-of-2 reports reproducible steady-state cost.
    // A failed query records the sentinel -1.0, never its failure latency
    // (a fast exception would otherwise win the min and report as a
    // legitimate timing with no error signal in the JSON).
    def pass(sel: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]):
        Map[String, Double] = {
      SessionMemo.clearAll()
      def time(body: => Unit): Double = {
        val t0 = System.nanoTime()
        val ok = try { body; true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -1.0
      }
      // r17: FIXED materialization order (was Map iteration order) —
      // stage_cc_labels' build now verifies through the hashed-shingle
      // stage, so shingles must materialize first or the cc entry would
      // absorb the shingle build in subset passes; support2 likewise
      // precedes louvain_l1 (an existing dependency).
      val stageOrder = Seq("stage_hashed_shingles", "stage_minhash_sigs",
        "stage_support2_pairs", "stage_cc_labels", "stage_pc1",
        "stage_ivfpq_index",
        "stage_kmeans_cells", "stage_bpe_merges", "stage_louvain_l1")
      val stages = stageOrder.collect {
        case sname if stageOf(sname).exists(sel.contains) =>
          val v = sname -> time(runStage(sname))
          // outside the timing, mirroring the ckptHeavy treatment: the
          // PREVIOUS pass's stage checkpoints died at SessionMemo.clearAll()
          // above, and their lingering executor blocks were the measured
          // multi-second variance source for whatever query ran first
          System.gc()
          v
      }
      stages.toMap ++ sel.map { case (name, fn) =>
        val v = time(fn(spark, sfDir).count())
        if (ckptHeavy(name)) System.gc() // outside the timing
        name -> v
      }
    }
    val p1 = pass(selected)
    val p2 = pass(selected)
    var samples: Map[String, Seq[Double]] =
      p1.map { case (k, v) => k -> Seq(v, p2(k)) }
    // Adaptive resampling: a query whose two best timings disagree by
    // >10% (and >50 ms — a 0.2 s query cannot be pinned tighter than
    // scheduler jitter) caught a one-off pause (GC, checkpoint cleaner,
    // JIT recompile) — min-of-2 would still report whichever run was
    // luckier, and cross-ROUND comparisons then swing by that luck.
    // Up to two extra rounds re-time JUST the still-unstable queries
    // (a handful each — cheap) until their min rests on two agreeing
    // samples; this is what makes per-query numbers adjudicable across
    // rounds.
    def unstable(ss: Seq[Double]): Boolean = {
      val good = ss.filter(_ >= 0).sorted
      good.size < 2 ||
        (good(1) > good(0) * 1.10 && good(1) - good(0) > 0.05)
    }
    var extra = 0
    while (extra < 2 && samples.values.exists(unstable)) {
      val un = samples.filter(kv => unstable(kv._2)).keys.toSet
      // an unstable STAGE entry can only be re-timed by re-running its
      // group's members; expand so the subset re-prices it
      val want = un ++ stageOf.collect {
        case (s, grp) if un(s) => grp }.flatten
      val sel = selected.filter(kv => want(kv._1))
      val px = pass(sel)
      samples = samples ++ px.map { case (k, v) => k -> (samples(k) :+ v) }
      extra += 1
    }
    val calib = (calibPre ++ (1 to 3).map(_ => calibProbe())).min
    // min over SUCCESSFUL samples only; -1.0 survives iff all failed.
    val results = samples.map { case (k, ss) =>
      val good = ss.filter(_ >= 0)
      k -> (if (good.isEmpty) -1.0 else good.min)
    }
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // SELF-CLEARING OUTLIERS (r10 verdict №2, trigger widened per r11
    // №6): the official window can carry concentrated suite-interaction
    // spikes (r10 shipped q178 ×4.0 / q184 ×3.9 phantoms a judge had to
    // clear by hand with SPARK_GRAFT_ONLY). Automate that adjudication:
    // any entry benchdiff would flag REGRESSED (calib-normalized when
    // thread widths match) whose flag is isolation-adjudicable — pinned
    // baseline <0.5 s or ratio >1.3 — plus the standing small-query
    // watch-list, is re-timed ALONE — 3 samples, median recorded in an
    // "isolated" map — so benchdiff can downgrade flags the isolated
    // number clears, no prose adjudication needed. Skipped under
    // SPARK_GRAFT_ONLY (that IS the isolation run).
    // q224 (r14): its SOLO steady state (0.39-0.59 s across fresh-JVM
    // 3-samples, a 12-run in-JVM loop, and end-of-window re-times) sits
    // ~2x its in-suite min-of-2 (~0.25 s, stable across four r11-r13
    // windows) — co-residency warmth the solo context never reaches, not
    // a regression. Keeping it on the watchlist makes every window (and
    // so every pin) carry its isolated median, which benchdiff's
    // isolation-PAIR rule compares like-for-like.
    // r15: the three-window study's same-HEAD spike queries (442%/408%/
    // 329%/100% spreads — suite-interaction GC landings on sub-second
    // queries) join the standing list so every pin carries their solo
    // medians and benchdiff's isolation-PAIR rule adjudicates them
    // like-for-like.
    val watchlist = Set("q184_ewma_anomaly", "q141_jsonl_source",
      "q224_priority_sample", "q33_dedup_exact", "q236_spatial_join",
      "q106_kmv_distinct", "q321_mann_whitney", "q41_text_quality")
    val isolated: Map[String, Double] = if (only.nonEmpty) Map.empty else {
      val base = try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JsonMethods.parse(new java.io.File("tools/bench_baseline.json"))
        val bq = (j \ "queries") match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty[String, Double]
        }
        val bc = (j \ "calib_sec") match {
          case JDouble(v) => Some(v); case JInt(v) => Some(v.toDouble)
          case _ => None }
        val bt = (j \ "calib_threads") match {
          case JInt(v) => Some(v.toInt); case _ => None }
        // pre-r16 pins carry no calib_kind: they probed pure ALU
        val bk = (j \ "calib_kind") match {
          case JString(v) => v; case _ => "alu-v1" }
        Some((bq, bc, bt, bk))
      } catch { case _: Throwable => None }
      base match {
        case None => Map.empty
        case Some((bq, bc, bt, bk)) =>
          // UNDERSIZED-PIN TRIPWIRE (r12 verdict №1): commit 30efa02
          // pinned a 6-entry isolation run as the baseline, and this
          // trigger — which can only flag queries PRESENT in the pin —
          // went silently blind for ~307 of 313 queries. tools/repin.py
          // now guards the write path; this guard catches a bad file
          // that got in anyway, loudly, at the moment it matters.
          val pinned = bq.keys.count(!_.startsWith("stage_"))
          if (pinned < selected.size * 9 / 10)
            System.err.println(s"WARN: tools/bench_baseline.json covers " +
              s"only $pinned of ${selected.size} catalog queries — " +
              "undersized pin (isolation/subset run?); the isolation " +
              "trigger is blind for the absent queries. Re-pin via " +
              "tools/repin.py from a full quiet window.")
          // RAW comparison (r16: probe normalization dropped — the
          // calib study showed no probe tracks the suite better than the
          // suite itself; same-box spike detection was always raw in
          // effect anyway, since the decoupling guard fired on nearly
          // every same-box pair). bc/bt/bk still parsed so the pin's
          // probe protocol is visible in diagnostics.
          val _ = (bc, bt, bk)
          val norm = 1.0
          // trigger = WOULD benchdiff flag it REGRESSED (>10% and >50 ms,
          // its exact rule) AND the flag is one isolation can adjudicate:
          // a sub-0.5 s pinned baseline (the floor population, where
          // suite-interaction noise dominates) or a normalized ratio
          // above ×1.3 (real enough to need a machine verdict). This
          // extends r10's ×1.8-only trigger (r11 verdict №6: 18 flags in
          // the 1.1–1.8 band shipped with no isolated verdict and needed
          // prose adjudication). Cap at 20 most-inflated: more than that
          // is a UNIFORM host shift (isolation can't clear it, and 3
          // samples each would balloon the run) — benchdiff's decoupling
          // guard owns that case
          val spikes = results.toSeq.collect {
            case (k, v) if v >= 0 && !k.startsWith("stage_") &&
              bq.get(k).exists { b =>
                val r = v * norm
                b > 0 && r > b * 1.10 && r - b > 0.05 &&
                  (b < 0.5 || r > b * 1.3)
              } =>
              k -> (v * norm / bq(k))
          }.sortBy(-_._2).take(20).map(_._1)
          val flagged = spikes.toSet ++
            results.keys.filter(k => watchlist(k) && results(k) >= 0)
          flagged.toSeq.sorted.map { k =>
            val sel = selected.filter(_._1 == k)
            val ss = (1 to 3).map(_ => pass(sel).getOrElse(k, -1.0))
              .filter(_ >= 0).sorted
            k -> (if (ss.isEmpty) -1.0 else ss(ss.size / 2))
          }.toMap
      }
    }
    // The stdout line must survive a bounded ~2,000-char tail-capture of
    // the sbt log: r02's line with 100 full query names was ~2.9 kB and
    // r06's with 168 short keys was ~4 kB — both captured mid-line
    // ("parsed": null). The stdout line is therefore COMPACT: totals +
    // failed list + only the top-8 slowest per-query entries (the contract
    // shape survives, the size cannot grow with query count). The full
    // per-query map goes to bench_out.json as the durable copy.
    def f(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // per-category subtotals: bounded by the CATEGORY count (8), never
    // the query count, so they are safe in the compact stdout line too —
    // successive rounds diff these to see where a total-time shift lives
    // stage entries price shared pipeline stages — count each in its
    // owning category so category sums still cover the whole total
    val stageCat = Map("stage_cc_labels" -> "dedup",
      "stage_hashed_shingles" -> "dedup",
      "stage_minhash_sigs" -> "dedup",
      "stage_support2_pairs" -> "graph",
      "stage_pc1" -> "dedup")
    val cats = SparkEntry.categories.toSeq.sortBy(_._1).map { case (c, qs0) =>
      val qs = qs0 ++ stageCat.collect { case (s, sc) if sc == c => s }
      c -> results.collect { case (k, v) if qs(k) && v >= 0 => v }.sum
    }
    def jsonLine(kv: Iterable[(String, Double)], fl: Seq[String]): String = {
      val qs = kv.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      val total = results.values.filter(_ >= 0).sum
      val fj = fl.map("\"" + _ + "\"").mkString("[", ",", "]")
      val cj = cats.map { case (c, v) => "\"" + c + "\":" + f(v) }
        .mkString("{", ",", "}")
      // n_queries counts DECLARED queries; the per-query map additionally
      // carries the stage_* entries pricing shared pipeline stages
      val nq = results.keys.count(!_.startsWith("stage_"))
      // isolated = post-suite solo re-times (3-sample medians) of entries
      // >1.8x the pinned baseline + the standing watch-list: the
      // self-clearing evidence benchdiff consumes to downgrade
      // suite-interaction phantoms
      val ij = isolated.toSeq.sorted
        .map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":$nq,"calib_sec":${f(calib)},"calib_threads":$calibThreads,"calib_kind":"$calibKind","queries":$qs,"categories":$cj,"failed":$fj,"isolated":$ij,"sf":"$sfDir"}"""
    }
    // SPARK_GRAFT_ONLY subset runs write a SEPARATE file: a subset
    // output overwriting bench_out.json is how round 13 lost a full
    // window's artifact minutes after recording it (and how round 12's
    // isolation run got hand-pinned as the baseline — tools/repin.py
    // guards the pin, this guards the artifact)
    val outFile = if (only.nonEmpty) "bench_only_out.json"
      else "bench_out.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), jsonLine(results, failed) + "\n")
    catch { case _: Throwable => }
    def shortKey(k: String): String =
      if (k.startsWith("stage_")) k else k.takeWhile(_ != '_')
    val topSlow = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => shortKey(k) -> v }
    // stop Spark FIRST so its shutdown logging cannot land after the
    // metric line — the driver parses the last stdout lines; fork's
    // StdoutOutput (build.sbt) keeps the line free of "[info] " prefixes.
    spark.stop()
    println(jsonLine(topSlow, failed.map(shortKey)))
    System.out.flush()
  }
}
