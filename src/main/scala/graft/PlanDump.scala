package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans of representative queries to
  * PLANS.md, the whole file (run: `sbt "runMain graft.PlanDump"`). Not
  * driver contract. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // the dumps exist to SHOW scan metadata (PushedFilters etc.) —
      // don't let the 100-char default cut a filter list mid-entry
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config(EngineDefaults.read)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    EngineDefaults(spark)
    val picks = Seq(
      "q01_star_fact" -> "star join: pushdown + broadcast dims + partial agg",
      "q12_topk" -> "top-k: TakeOrderedAndProject, no global sort",
      "q35_dedup_minhash" -> "MinHash: ObjectHashAggregate partial+final, band candidates",
      "q37_dedup_embedding" ->
        ("cell-bucketed near-dup: in-cell candidates from the " +
          "checkpointed k-means cells stage (one narrow nearest-centroid " +
          "map), exact verify on candidates only"),
      "q48_ann_ivf" ->
        ("IVF ANN: label centroids collected into the driver-side " +
          "quantizer, one narrow probe map, exact search within the " +
          "probed cell"),
      "q61_ntile" -> "quartiles from order statistics: no window, no sort",
      "q31_tumbling_window" -> "event-time tumbling window",
      "q68_range_join" -> "range join: equi-key hash join + interval post-filter",
      "q65_train_test_split" -> "deterministic split: narrow hash map, one agg exchange",
      "q101_bloom_decontaminate" ->
        ("bloom decontamination: ObjectHashAggregate bitset build, " +
          "broadcast bitset, codegen'd probe prefilter, exact verify join"),
      "q103_blocklist_filter" -> "blocklist: broadcast term table semi-join",
      "q104_zorder_cluster" -> "z-order key: codegen'd interleave + TakeOrderedAndProject",
      "q109_span_dedup" ->
        ("span dedup: hash-partitioned keeper election + doc reassembly, " +
          "pruned scans, no global sort"),
      "q119_pagerank" ->
        ("integer PageRank: checkpointed edge list, per-round hash join + " +
          "partial-agg'd sum, TakeOrderedAndProject top-20"),
      "q99_media_histdup" ->
        ("media histogram dedup: explode + 16 codegen'd conditional sums " +
          "(one partial-agg pass), signature equi-join candidates"),
      "q125_perplexity_buckets" ->
        ("perplexity terciles: two count aggs + join, integer score, " +
          "per-lang ntile window over one row per doc"),
      "q137_interval_index" ->
        ("pure-interval lookup via interval bucketing: broadcast hash " +
          "join on the bucket key + exact interval verify, no nested loop"),
      "q132_equidepth_bins" ->
        ("equi-depth bins: one mergeable percentile agg, broadcast " +
          "boundaries, codegen'd bin assignment — no global sort"),
      "q150_setsim_exact" ->
        ("exact set-similarity join: hashed rare-first prefix filter, " +
          "candidate equi-join, exact verify on candidates only"),
      "q152_group_sample" ->
        ("per-group sampling as a bounded-heap ObjectHashAggregate — " +
          "no window, no per-group sort"),
      "q153_triangles" ->
        ("triangle census: degree-oriented adjacency arrays + codegen'd " +
          "array_intersect — edges shuffle twice, wedges never"),
      "q171_media_phash" ->
        ("perceptual dHash dedup: one partial-agg'd segment pass, 60-bit " +
          "packed signature, chunk-LSH candidate equi-join, hamming verify"),
      "q356_phash_ball" ->
        ("radius-9 hamming ball: 120-bit two-plane signature, 10 x 12-bit " +
          "pigeonhole bands, popcount verify on candidates only"),
      "q357_crossmodal_contam" ->
        ("cross-modal decontamination: literal-inlined bloom prefilter + " +
          "exact shingle verify on the caption side, shared k-means cell " +
          "candidates + skinny carrier join on the embedding side"),
      "q360_cdc_chunks" ->
        ("content-defined chunking: codegen'd per-position boundary scan " +
          "(no shuffle), per-doc chunk reassembly, capped chunk-hash " +
          "equi-join candidates - never all-pairs"),
      "q170_cbo_join_reorder" ->
        ("catalog stats + CBO: ANALYZE'd tables, CostBasedJoinReorder " +
          "moves the selective dims ahead of the text-first fact join"),
      "q183_time_slice" ->
        ("event time-slice (THE 100-TB event-table access pattern): ts " +
          "range + event_type both in the scan's PushedFilters — " +
          "row-group min/max pruning live, no cast Project over the scan"),
      "q184_ewma_anomaly" ->
        ("dyadic EWMA + anomaly gate: one user_id exchange, bounded " +
          "16-row frame, integer Horner in codegen'd HOFs"),
      "q185_copurchase" ->
        ("market-basket pairs: self-equi-join on the basket key (never " +
          "all-pairs over parts), broadcast margins, integer lift"),
      "q186_doc_repetition" ->
        ("in-doc repetition: both gram sizes tagged into ONE exploded " +
          "stream — a single (doc_id,k,gram) shuffle, partial-agg'd"),
      "q188_runtime_bloom_join" ->
        ("runtime bloom-filter join: InjectRuntimeFilter builds the dim " +
          "bloom as a subquery and probes might_contain ABOVE the fact " +
          "scan, pre-shuffle"),
      "q189_temporal_join" ->
        ("point-in-time AS-OF join via the asof-union trick: versions + " +
          "facts in one per-customer window stream — no range join"),
      "q190_global_ordinals" ->
        ("window-free global ordinals: bucketed windows + 64-row offset " +
          "prefix sum — the only SinglePartition exchange is 64 rows"),
      "q193_rank_transform" ->
        ("sort-free global rank/percentile: width_bucket slices + " +
          "bounded windows + O(1) offset prefix sum — no corpus-wide " +
          "single-partition sort"),
      "q195_ks_drift" ->
        ("two-sample KS drift: distributed ECDF via the two-phase " +
          "prefix-sum recipe, integer cross-multiplied CDF comparison"),
      "q198_table_diff" ->
        ("snapshot reconciliation: scan-local md5 fingerprints, " +
          "full-outer hash join shuffles (key, fp, cents) — never rows"),
      "q201_ann_pq" ->
        ("product-quantization ANN: the q245 kernel probing every cell " +
          "(flat ADC over all codes, exact rerank of the top-10); the " +
          "plan is a LocalRelation of the Q*k result rows"),
      "q202_manifest_decontaminate" ->
        ("external-manifest decontamination: one bloom over all " +
          "manifests' shingles prefilters the corpus stream, exact join " +
          "attaches the benchmark — per-benchmark split costs nothing"),
      "q203_bfs_hops" ->
        ("bounded multi-source BFS over the shared support-2 stage: one " +
          "hash join + partial-agg'd min per round, O(edges)/round"),
      "q205_scd2_merge" ->
        ("SCD2 merge: both sides reduce to one row per key (window " +
          "compression / mergeable min_by) before the full-outer join — " +
          "dimension keys shuffle, order rows never"),
      "q231_not_in_semantics" ->
        ("NOT IN vs NOT EXISTS: the null-aware anti join (LeftAnti " +
          "flag `true`) and the plain LeftAnti side by side in ONE plan"),
      "q235_lateness_histogram" ->
        ("lateness histogram: two-phase prefix-max — bounded per-bucket " +
          "windows, the only SinglePartition work is 64 bucket maxima"),
      "q236_spatial_join" ->
        ("spatial radius join: 3x3 grid-cell equi-join candidates, " +
          "exact integer verify on candidates — no cross product"),
      "q244_sketch_rollup" ->
        ("sketch rollup: one scan builds daily HLL registers " +
          "(ObjectHashAggregate), range answers are register merges " +
          "over the tiny sketch table"),
      "q245_ann_ivfpq" ->
        ("IVF x PQ composed ANN: training and per-cell blocks built at " +
          "call time, top-nprobe probe on the driver, one task per probed " +
          "partition runs ADC + exact rerank of its top-10; the plan is " +
          "a LocalRelation of the Q*k result rows"),
      "q247_merkle_sync" ->
        ("Merkle sync audit: partial-agg'd BIT_XOR bucket digests both " +
          "sides (64-row exchange), digest compare, row census only in " +
          "differing buckets via broadcast semi-joins"),
      "q248_quantile_normalize" ->
        ("quantile normalization: value-range-bucketed pooled ordinals " +
          "(64-row offset prefix sum — no global sort), integer target " +
          "ranks, one hash equi-join lookup on the ordinal"),
      "q251_roc_auc" ->
        ("exact ROC AUC: corpus collapses to the score domain in one " +
          "partial-agg'd shuffle BEFORE the cumulative window — the " +
          "rank-sum identity, never a per-pair join"),
      "q255_spearman" ->
        ("Spearman rho: two two-phase midrank maps (64-bucket offsets), " +
          "broadcast join for the bounded qty map + shuffle equi-join " +
          "for the cents map, decimal(38) sufficient stats in one agg"),
      "q257_kmv_retention" ->
        ("stored per-week KMV sketch table: ObjectHashAggregate bounded " +
          "64-long state, consecutive-week self-join, set algebra on " +
          "sorted arrays — overlap questions never rescan the corpus"),
      "q259_clustering_coeff" ->
        ("per-node triangles: degree-oriented adjacency intersection " +
          "with per-corner explode — output-bounded, no wedge shuffle"),
      "q261_strat_allocation" ->
        ("stratified allocation: one scan builds moments, broadcast " +
          "allocation joins back, per-stratum row_number selection"),
      "q262_cuped" ->
        ("CUPED: one conditional-sum pass to the per-user relation, " +
          "then two shrinking partial aggs (pooled theta + per-arm " +
          "readout) and a broadcast of the 1-row theta fraction"),
      "q264_poisson_bootstrap" ->
        ("Poisson bootstrap: ALL 32 replicates as 64 conditional sums " +
          "in ONE partial-agg'd scan — map-side combine to a single " +
          "row, order statistics on a 32-slot array, no shuffle"),
      "q266_hits" ->
        ("HITS: distinct edge relation checkpointed once, four " +
          "edge-keyed equi-join + partial-agg half-rounds, top-15 via " +
          "TakeOrderedAndProject"),
      "q267_lsh_scurve" ->
        ("LSH S-curve audit: ONE shared 64-perm signature stage feeds " +
          "both generators, pooled full-outer join, verify-on-" +
          "candidates only — never an all-pairs J"),
      "q272_pca_power" ->
        ("PCA power iteration: one corpus pass to the 64x64 integer " +
          "Gram (per-vec self-join, partial-agg'd), four mat-vec " +
          "rounds as broadcast joins over the bounded relation"),
      "q274_dbscan" ->
        ("DBSCAN: eps-grid candidate equi-join (never n^2), " +
          "checkpointed near relation feeds counts, core edges and " +
          "border assignment; CC pointer-jumping rounds"),
      "q275_ring_rebalance" ->
        ("consistent-hash ring: broadcast nested-loop range join " +
          "against the bounded 144-vnode ring, collapsed map-side by " +
          "mergeable min aggregates"),
      "q280_isotonic" ->
        ("isotonic minimax: bounded 64-bin prefix relation, " +
          "triple-join fit entirely on bounded data — corpus " +
          "contributes one partial-agg'd scan"),
      "q281_policy_replay" ->
        ("policy replay: five per-type running sums share ONE window " +
          "spec (single exchange + sort), integer CASE-chain argmax, " +
          "one final partial agg"),
      "q284_shapley_r2" ->
        ("Shapley R2: one partial-agg'd pass to the bounded 550-cell " +
          "relation, four coalition rollups + scalar broadcasts — no " +
          "second corpus scan"),
      "q285_next_item_eval" ->
        ("next-item eval: per-customer window split, shared support-2 " +
          "pair stage probed by the candidate join, top-3 window on " +
          "candidate-sized input, broadcast popularity baseline"),
      "q288_semantic_dedup" ->
        ("SemDeDup semantic dedup: shared exact-grid k-means stage, " +
          "cluster-keyed candidate equi-join (never all-pairs), one " +
          "mergeable min_by removal election, left join emits the " +
          "per-doc keep/remove verdict"),
      "q289_ann_serve" ->
        ("IVF-PQ served from the RESIDENT per-cell blocks and query " +
          "vectors of the persisted index in one job (the fused probe/" +
          "ADC/rerank pass); the plan is a LocalRelation of the Q*k " +
          "result rows, computed at call time"),
      "q290_ann_append" ->
        ("incremental index append: the frozen quantizer assigns and " +
          "encodes the delta in one narrow map (nearest cell + argmin " +
          "codes), code union into call-time per-cell blocks, then the " +
          "q245 serving kernel; the plan is a LocalRelation of the Q*k " +
          "result rows"),
      "q291_link_prediction" ->
        ("link prediction: wedge self-join on the shared support-2 " +
          "stage, partial-agg'd cn/ra rollup, one anti-join against " +
          "existing edges, two bounded degree joins, " +
          "TakeOrderedAndProject top-20 — no global sort"),
      "q293_pr_auc" ->
        ("PR AUC: corpus collapses to the bounded score-group " +
          "relation first (partial-agg'd), single bounded window, " +
          "ppb quantization then one decimal-sum aggregate"),
      "q294_tree_depth2" ->
        ("depth-2 tree: ONE corpus pass to the 64x50 contingency " +
          "(partial agg), checkpointed; root and child split " +
          "enumerations are joins over bounded marginals only"),
      "q296_knn_eval" ->
        ("kNN eval: brute-force audit join at gate scale (swap for " +
          "the q289 probe at 100 TB), bounded per-query vote window, " +
          "bounded confusion rollup"),
      "q303_rp_jl" ->
        ("JL projection: explode + 1024-row broadcast sign join + " +
          "integer partial agg (order-free), bounded 20x50 audit " +
          "joins; no float accumulation anywhere"),
      "q308_bh_fdr" ->
        ("BH step-up: one dim-join partial agg to 25 cells, " +
          "shared-fragment z/p, bounded rank window — corpus " +
          "contributes exactly one scan"),
      "q309_embedding_drift" ->
        ("embedding drift: shared memoized PC1 stage, one projection " +
          "join + 10-key partial agg; PSI readout on the bounded bin " +
          "relation"),
      "q310_retrieval_agreement" ->
        ("retrieval agreement: 20-query token posting join + bounded " +
          "per-query windows on both retrievers, bounded overlap " +
          "rollup"),
      "q311_kaplan_meier" ->
        ("Kaplan-Meier: per-customer partial agg, bounded duration " +
          "census, two bounded windows (risk cumulative + ln-sum " +
          "survival) — the collapse-then-window shape"),
      "q312_anova" ->
        ("one-way ANOVA: one partial-agg'd pass to per-group integer " +
          "moments (bounded groups), exact SS decomposition on the " +
          "bounded relation"),
      "q313_hill_tail" ->
        ("Hill tail index: top-101 as TakeOrderedAndProject (never a " +
          "global sort), 101-row bounded window, order-free integer " +
          "micro-nat sum"),
      "q314_wilcoxon" ->
        ("Wilcoxon signed-rank: per-nation partial agg to a bounded " +
          "25-row paired relation; ranks/midranks on bounded windows"),
      "q315_substring_decontam" ->
        ("exact-substring decontamination: positional L-token window " +
          "hash as the only corpus-wide shuffle key, train x eval " +
          "candidate equi-join, text verify joins on candidates only"),
      "q316_ann_recall" ->
        ("ANN recall audit: the resident-index top-5 (a LocalRelation " +
          "computed at call time) vs one linear QxN exact pass; " +
          "scalar-broadcast readout join"),
      "q317_substring_dedup" ->
        ("exact-substring dedup: (hash, window-text) grouped owner " +
          "election — each distinct window shuffles once, map-side " +
          "combined — then one equi-join probe + per-doc counting agg"),
      "q318_moore_lewis" ->
        ("Moore-Lewis selection: token-count shuffle to the LM, " +
          "broadcast vocabulary join, per-doc partial agg, " +
          "TakeOrderedAndProject top-20"),
      "q319_dsir_weights" ->
        ("DSIR importance weights: hashed features into the FIXED " +
          "1024-bucket LM (always broadcastable), per-doc partial agg, " +
          "bounded histogram"),
      "q320_logrank" ->
        ("log-rank test: per-customer partial agg to the span-days " +
          "census; risk sets on the bounded window; order-free integer " +
          "micro terms"),
      "q321_mann_whitney" ->
        ("Mann-Whitney U: collapse to the 50-value quantity domain " +
          "first; bounded cumulative; tie-corrected z off exact " +
          "integers"),
      "q323_logistic_irls" ->
        ("logistic IRLS: ONE scan to the <=36-cell contingency; both " +
          "Newton steps are cell-local integer sums + exact Cramer " +
          "solve, beta broadcast back"),
      "q324_silhouette" ->
        ("silhouette audit: the top-2 centroids per vector from one " +
          "narrow map over the driver-side quantizer, ppm-quantized " +
          "per-cell integer means"),
      "q325_davies_bouldin" ->
        ("Davies-Bouldin: assignment partial agg (scatter) + k x k " +
          "centroid pair join over the quantizer's local relation " +
          "(separation) — corpus-size-independent pair stage"),
      "q326_bradley_terry" ->
        ("Bradley-Terry MM: in-row pair expansion over the sorted " +
          "per-order brand array (one groupBy shuffle), bounded " +
          "checkpointed MM iterates"),
      "q327_conformal" ->
        ("split conformal: collapse calibration residuals to the " +
          "dollar domain, bounded cumulative for the order statistic, " +
          "broadcast q-hat scoring pass"),
      "q331_ipw_ate" ->
        ("IPW ATE: one dim-join partial agg to nation cells; exact " +
          "rational terms quantized with the positive shift; bounded " +
          "readout"),
      "q333_levene" ->
        ("Levene: group stats broadcast back for row-quantized " +
          "absolute deviations, then the wide 5-segment pivot agg — " +
          "two scans, no joins beyond broadcasts"),
      "q336_kfold_cv" ->
        ("k-fold CV: one pass to the fold x segment grid, leave-one-" +
          "fold-out predictors derived on the bounded grid, broadcast " +
          "scoring join"),
      "q337_partial_corr" ->
        ("partial correlation: ONE scan to nine exact integer " +
          "sufficient statistics; all three r's and the partial from " +
          "the single row"),
      "q340_changepoint" ->
        ("changepoint: day census collapse, bounded prefix windows, " +
          "exact integer gain argmax with deterministic tiebreak"),
      "q341_theil_sen" ->
        ("Theil-Sen: bounded month census self-join for pair slopes, " +
          "exact rank counting for the lower median — never a global " +
          "sort"),
      "q342_mase" ->
        ("MASE: day census + dense spine (sequence explode), bounded " +
          "lag window, integer absolute-error sums"),
      "q343_eb_shrinkage" ->
        ("EB shrinkage: dim-join partial agg to 25 cells, ppm-" +
          "quantized prior moments, broadcast prior onto the bounded " +
          "readout"),
      "q344_bpe_merges" ->
        ("BPE merge table: built from the memoized vocab-domain merge " +
          "loop (one corpus collapse, then k vocab-sized generations); " +
          "the emitted table is the k-row driver-local artifact"),
      "q345_bpe_encode" ->
        ("BPE encode: learned replace-chain over the vocabulary, " +
          "word-keyed join back to the token stream, per-doc partial " +
          "agg"),
      "q346_avro_roundtrip" ->
        ("avro round-trip: DSv2 scan (one InputPartition per container " +
          "file, streaming decode), partial agg over the decoded rows"),
      "q347_louvain_level" ->
        ("louvain level: parity-damped sweeps — edge-keyed join + " +
          "partial agg per sweep, label-domain degree-mass aggs, " +
          "struct-key argmax; per-sweep lineage cut"),
      "q348_substring_dedup_l25" ->
        ("parametrized substring dedup: distinct-window owner election " +
          "at L=25, same grouped-owner shape as q317"),
      "q349_mann_kendall" ->
        ("Mann-Kendall: bounded month census self-join for the sign " +
          "sum, tie census, broadcast scalars into the one-row readout"),
      "q353_louvain_two_level" ->
        ("louvain two-level: level-1 sweeps, coarsen to weighted " +
          "supernodes (community-keyed aggs), two weighted sweeps on " +
          "the coarse graph, census on the composed labels"),
      "q354_mmr_rerank" ->
        ("MMR rerank: one N-scan query scoring + TakeOrdered top-20; " +
          "bounded 20x19 pairwise matrix; greedy over collected " +
          "integer state"),
      "q355_kneser_ney" ->
        ("Kneser-Ney: one bigram census feeds all five statistics " +
          "(census rows ARE distinct types); top-20 TakeOrdered, " +
          "broadcast totals"))
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` at sf dir `$sf`.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sf)
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // q170's reorder evidence lives in the OPTIMIZED LOGICAL join order
    // (the physical plan broadcasts the dims either way): dump it with
    // statistics + CBO active, then the text-order baseline without.
    // Both run on cloned sessions inside starQuery — the CBO conf never
    // touches this session.
    sb.append("\n## q170 — optimized logical join order WITH catalog " +
      "stats + CBO\n\n```\n")
    sb.append(graft.operators.Stats.starQuery(spark, sf, cbo = true)
      .queryExecution.optimizedPlan.toString)
    sb.append("```\n")
    sb.append("\n## q170 — CBO disabled: optimizer keeps the " +
      "(deliberately bad) text order\n\n```\n")
    sb.append(graft.operators.Stats.starQuery(spark, sf, cbo = false)
      .queryExecution.optimizedPlan.toString)
    sb.append("```\n")
    // AQE skew-join: the final adaptive plan AFTER execution, showing
    // the hot partition split (skew=true on the SortMergeJoin and skew
    // slices in the big-side AQEShuffleRead) — the automatic counterpart
    // to q45's explicit salting.
    val skew = graft.operators.SkewJoin.aqeSkewJoin(spark)
    skew.collect() // finalize THIS Dataset's adaptive plan
    sb.append("\n## AQE skew-join — runtime split of a deliberately " +
      "skewed partition (vs q45's manual salting)\n\n```\n")
    sb.append(skew.queryExecution.executedPlan.toString)
    sb.append("```\n")
    // the audit is BoundedWindowSpec's measurement, not a plan dump
    sb.append("\n## Bounded-window audit\n\nEvery unpartitioned Window " +
      "site of the catalog and its measured row bound: " +
      "[plans/bounded_windows.md](plans/bounded_windows.md).\n")
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"wrote $outPath")
    spark.stop()
  }
}
