package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt.CutOps
import graft.Q
import graft.sources.Tables

/** Model-evaluation + label-quality operators — the scoring half of a
  * training pipeline: once a model (or a heuristic annotator) emits
  * per-row scores, the pipeline must grade them at corpus scale.
  * Exact ROC AUC (Mann–Whitney rank-sum form), calibration/reliability
  * bins with a Brier decomposition, inter-annotator agreement
  * (Cohen's kappa), k-anonymity/l-diversity privacy census, and
  * Spearman rank correlation on the two-phase ordinal recipe.
  *
  * House discipline throughout: every statistic is exact integer
  * arithmetic up to one final fixed-order division (emitted both as the
  * exact integer pieces and a round(·,6) double), so the DuckDB gate
  * hash-matches bit-for-bit. No global sorts: rank statistics collapse
  * to the value domain first (bounded feature domains here) or ride the
  * q190 64-bucket two-phase prefix sum (unbounded domains — Spearman's
  * price ranks).
  */
object MlEval {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** The deterministic stand-in "model score" for lineitem return
    * prediction: an integer feature combination (quantity, discount
    * cents, tax cents) with a bounded domain (≤ 50·11·9 distinct
    * values). A real model would emit float scores with unbounded
    * cardinality — then the rank statistics below switch from
    * collapse-to-domain to the q190 two-phase bucket recipe (same
    * algebra, see [[spearman]] which demonstrates it on an
    * ~unbounded domain). */
  private def scoreCol: Column =
    col("l_quantity").cast("long") * 1000 +
      expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)") * 10 +
      expr("CAST(floor(l_tax * 100 + 0.5) AS BIGINT)")

  private val scoreSql: String =
    "CAST(l_quantity AS BIGINT) * 1000 + " +
      "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * 10 + " +
      "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"

  /** Exact ROC AUC via the Mann–Whitney rank-sum identity, never a
    * per-pair join: AUC·(2·n₁·n₀) = Σ_s n_pos(s)·(2·cumneg_<(s) +
    * n_neg(s)) — positives at score s beat every negative strictly
    * below (weight 2) and half-win ties at s (weight 1). The corpus
    * collapses to one (score → n_pos, n_neg) relation FIRST (one
    * partial-agg'd shuffle, ≤ |score domain| rows), then the cumulative
    * runs over that bounded relation — at 100 TB the per-row work is
    * the groupBy; the window never sees corpus-sized input. Label =
    * lineitem returned flag; score = [[scoreCol]]. Everything through
    * `auc_num2` is exact integers; `auc_ppm` is one integral division
    * (all-positive), `auc_r` the one fixed-order double. */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "lineitem")
      .select(scoreCol.as("s"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("n_pos"),
        (count(lit(1)) - sum(col("y"))).as("n_neg"))
    // bounded relation (≤ ~5k rows): single-partition window is the
    // collapse-then-window house shape (q163/q235), not a corpus sort
    val wLt = Window.orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    scored
      .withColumn("cumneg_lt", coalesce(sum(col("n_neg")).over(wLt), lit(0L)))
      .agg(sum(col("n_pos")).as("n1"), sum(col("n_neg")).as("n0"),
        sum(col("n_pos") * (lit(2) * col("cumneg_lt") + col("n_neg")))
          .as("auc_num2"))
      .select(col("n1"), col("n0"), col("auc_num2"),
        // decimal intermediate: auc_num2·10⁶ and 2·n1·n0 both cross
        // 2⁶³ near ~8× sf0.1, where Spark's LONG would wrap silently
        // while DuckDB raises — the engines must agree, so the product
        // rides decimal(38) and `div` returns the BIGINT ppm directly
        // nullif: a one-class slice (n1 or n0 = 0) has no ranking
        // pairs — AUC undefined, NULL in both engines (r16 sweep)
        expr("CAST(auc_num2 AS DECIMAL(38,0)) * 1000000 div " +
          "nullif(2 * CAST(n1 AS DECIMAL(38,0)) * n0, 0)").as("auc_ppm"),
        (round(col("auc_num2").cast("double") /
          nullif(lit(2.0) * col("n1") * col("n0"), lit(0.0)), 6)
          + lit(0.0)).as("auc_r"))
  }

  /** Calibration / reliability diagram + per-bin Brier score: the
    * deterministic predicted probability p_ppm (a monotone clamp of the
    * score into [0, 10⁶]) buckets into 10 fixed bins; each bin reports
    * count, mean prediction, observed positive rate, signed gap, and
    * mean Brier contribution — all exact integer sums with integral
    * divisions (gap is a subtraction of two already-divided ppms, no
    * negative division). One partial-agg'd shuffle of ≤ 10 keys. The
    * squared-error term is ~10¹² PER ROW for most of the corpus
    * (p_ppm saturates at 10⁶ once qty ≥ 50), so a LONG se2 sum would
    * cross 2⁶³ near ~25× sf0.1 — well inside the design envelope —
    * hence se2 rides decimal(38) from the start (oracle: HUGEINT);
    * the `div` readout still lands BIGINT so the output schema stays
    * decimal-free (the q262 dtype-portability rule). */
  def calibration(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(scoreCol.as("s"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .withColumn("p_ppm", least(col("s") * 20, lit(1000000L)))
      .withColumn("bin", least(expr("p_ppm div 100000"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("p_ppm")).as("sum_p"),
        sum((col("p_ppm") - col("y") * 1000000L).cast("decimal(38,0)") *
          (col("p_ppm") - col("y") * 1000000L)).as("se2"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("sum_p div n").as("mean_pred_ppm"),
        expr("n_pos * 1000000 div n").as("pos_rate_ppm"),
        (expr("sum_p div n") - expr("n_pos * 1000000 div n"))
          .as("gap_ppm"),
        expr("se2 div (n * 1000000)").as("brier_ppm"))

  /** Cumulative gains / lift table at deciles (the model-triage chart
    * of Provost & Fawcett, "Data Science for Business" ch. 8 — "how
    * much of the positive class do the top-k% scored rows capture?").
    * The corpus collapses to the bounded (score → n, pos) relation
    * first (the q251 discipline); decile depths T_i = i·N div 10 land
    * inside exactly one score group, and ties at the boundary are
    * allocated PROPORTIONALLY (the straddling group contributes
    * (T_i − N_<)·p_g/n_g of its positives — the standard convention,
    * exact as the integer rational cap = P_<·n_g + (T_i − N_<)·p_g over
    * denominator n_g). Every readout is one integral ppm division over
    * decimal(38) intermediates (cap·10⁶ crosses 2⁶³ near ~30× sf0.1;
    * oracle mirrors in HUGEINT): gain_ppm = share of positives
    * captured at depth, prec_ppm = precision at depth, lift_ppm =
    * gain/depth-fraction — lift 1e6 = random. The 10-row decile probe
    * joins the bounded cumulative relation broadcast, never the
    * corpus. */
  def liftGains(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "lineitem")
      .select(scoreCol.as("s"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val wLt = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = scored // bounded ≤ |score domain| rows (q251 note)
      .withColumn("nlt", coalesce(sum(col("n")).over(wLt), lit(0L)))
      .withColumn("plt", coalesce(sum(col("p")).over(wLt), lit(0L)))
    val tot = scored.agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"))
    cum.crossJoin(broadcast(tot))
      .join(broadcast(spark.range(1, 11).toDF("decile")),
        expr("nlt < (decile * nt) div 10") &&
          expr("(decile * nt) div 10 <= nlt + n"))
      .select(col("decile"),
        expr("(decile * nt) div 10").as("depth"),
        expr("CAST(plt AS DECIMAL(38,0)) * n + " +
          "((decile * nt) div 10 - nlt) * p").as("cap"),
        col("n"), col("nt"), col("pt"))
      .select(col("decile"), col("depth"),
        // nullif(pt/depth, 0): a positive-free (or tiny) slice leaves
        // gain/lift undefined — NULL in both engines (r16 sweep)
        expr("cap * 1000000 div " +
          "nullif(n * CAST(pt AS DECIMAL(38,0)), 0)")
          .as("gain_ppm"),
        expr("cap * 1000000 div " +
          "nullif(n * CAST(depth AS DECIMAL(38,0)), 0)")
          .as("prec_ppm"),
        expr("cap * nt * 1000000 div " +
          "nullif(n * CAST(pt AS DECIMAL(38,0)) * depth, 0)")
          .as("lift_ppm"),
        (round(col("cap").cast("double") /
          nullif(col("n").cast("double") * col("pt"), lit(0.0)), 6)
          + lit(0.0))
          .as("gain_r"))
  }

  /** Step-wise precision–recall AUC, a.k.a. average precision over
    * score thresholds (Davis & Goadrich, ICML 2006 on why PR beats ROC
    * under class imbalance; the Σ (R_n − R_{n−1})·P_n threshold
    * convention of scikit-learn's average_precision_score): each
    * DISTINCT score is one retrieval step — ties form atomic blocks,
    * so the metric needs no within-tie order and collapses to the
    * bounded (score → n, pos) relation like q251. Per threshold,
    * precision is quantized to exact ppb FIRST (P_≥·10⁹ div N_≥, one
    * integral division on the bounded relation), each block then
    * contributes p_s·prec_ppb, and AP = Σ div P — the quantization
    * order is pinned so both engines agree bit-for-bit; term sums ride
    * decimal(38)/HUGEINT (Σ ≤ P·10⁹ crosses 2⁶³ once P ≳ 9.2e9).
    * `prevalence_ppb` (= random-classifier AP) rides along as the
    * floor every AP must clear. */
  def prAuc(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "lineitem")
      .select(scoreCol.as("s"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val wGe = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    scored // bounded relation: inclusive-from-top cumulative (q251 note)
      .withColumn("nge", sum(col("n")).over(wGe))
      .withColumn("pge", sum(col("p")).over(wGe))
      .withColumn("prec_ppb",
        expr("CAST(pge AS DECIMAL(38,0)) * 1000000000 div nge"))
      .agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"),
        count(lit(1)).as("n_thresholds"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * prec_ppb")).as("apn"))
      .select(col("pt").as("n1"), (col("nt") - col("pt")).as("n0"),
        col("n_thresholds"),
        expr("CAST(pt AS DECIMAL(38,0)) * 1000000000 div nt")
          .as("prevalence_ppb"),
        // nullif(pt, 0): no positives -> AP undefined (r16 sweep)
        expr("apn div nullif(CAST(pt AS DECIMAL(38,0)), 0)").as("ap_ppb"),
        (round(col("apn").cast("double") /
          nullif(col("pt").cast("double") * 1.0e9, lit(0.0)), 6)
          + lit(0.0)).as("ap_r"))
  }

  /** Inter-annotator agreement (Cohen 1960): annotator A = the corpus'
    * stored `lang` label, annotator B = the engine's own stopword
    * language-ID heuristic (q40's predictor, reused verbatim) — the
    * label-quality audit a pipeline runs before trusting either source
    * of labels. κ = (p_o − p_e)/(1 − p_e) from the confusion margins;
    * emitted as the exact integer numerator n·Σdiag − Σ_k row_k·col_k
    * and denominator n² − Σ_k row_k·col_k (either may approach zero —
    * NO integral division on possibly-negative values, the double is
    * the one fixed-order divide). Confusion collapses to ≤ 6×6 cells
    * in one partial-agg'd pass over the corpus. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val lo = TextAnalysis.langOrder
    val withScores = lo.foldLeft(
      t(spark, dir, "documents")
        .withColumn("tk", split(col("text"), " "))) {
      case (df, l) => df.withColumn(s"s_$l",
        TextAnalysis.stopHits(col("tk"), l))
    }
    val best = greatest(lo.map(l => col(s"s_$l")): _*)
    val pred = lo.foldRight(lit("unknown"): Column) {
      case (l, other) => when(col(s"s_$l") === best, lit(l)).otherwise(other)
    }
    val conf = withScores
      .withColumn("pred", when(best === 0, "unknown").otherwise(pred))
      .groupBy(col("lang").as("a"), col("pred").as("b"))
      .agg(count(lit(1)).as("c"))
    val rows = conf.groupBy(col("a")).agg(sum(col("c")).as("row_n"))
    val cols = conf.groupBy(col("b")).agg(sum(col("c")).as("col_n"))
    val pe = rows.join(cols, rows("a") === cols("b"))
      .agg(sum(col("row_n") * col("col_n")).as("pe_num"))
    conf
      .agg(sum(col("c")).as("n"),
        sum(when(col("a") === col("b"), col("c")).otherwise(0L))
          .as("n_agree"))
      .crossJoin(broadcast(pe))
      .select(col("n"), col("n_agree"), col("pe_num"),
        expr("n_agree * 1000000 div n").as("po_ppm"),
        (col("n") * col("n_agree") - col("pe_num")).as("kappa_num"),
        (col("n") * col("n") - col("pe_num")).as("kappa_den"),
        (round((col("n") * col("n_agree") - col("pe_num")).cast("double") /
          (col("n") * col("n") - col("pe_num")).cast("double"), 6)
          + lit(0.0)).as("kappa_r"))
  }

  /** k-anonymity / l-diversity census (Sweeney 2002; Machanavajjhala
    * 2007) — the privacy screen a pipeline runs before releasing
    * quasi-identifiable records: customers project onto the
    * quasi-identifier (nation, market segment, $1000 balance band;
    * band via floor on DOUBLE so negative balances bucket identically
    * in both engines), equivalence classes census by size, and within
    * each size class the minimum l-diversity of the sensitive exact
    * balance. Re-identification risk = rows in classes smaller than
    * k=5. Two partial-agg'd shuffles (rows→classes, classes→size
    * census), both shrinking; no sort. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("bal_band"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("cls_n"),
        countDistinct(col("cents")).as("l_div"))
      .groupBy(col("cls_n"))
      .agg(count(lit(1)).as("n_classes"),
        (count(lit(1)) * col("cls_n").cast("long")).as("n_rows"),
        min(col("l_div")).as("min_l"),
        sum(when(col("cls_n") < 5, 1L).otherwise(0L))
          .as("n_risky_classes"))
      .withColumnRenamed("cls_n", "class_size")

  /** 2·midrank per distinct value of `v` in `df`, WITHOUT a global
    * sort: the q190/q193 two-phase recipe on the VALUE order — 64
    * monotone `width_bucket` slices, per-slice cumulative over the
    * collapsed (value → count) relation, slice offsets lifted by the
    * 64-row prefix sum. 2·midrank = 2·cum_< + cnt + 1 stays integer.
    * Ties are whole buckets' worth of identical values — they collapse
    * BEFORE the window, so the window input is |distinct values in
    * slice|, never corpus rows. */
  private def midrank2(df: DataFrame, v: String): DataFrame = {
    val counts = df.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
    val bounds = counts.agg(min(col(v)).as("mn"), max(col(v)).as("mx"))
    val bucketed = counts.crossJoin(broadcast(bounds))
      .withColumn("b", expr(s"width_bucket($v, mn, mx + 1, 64)"))
    val wIn = Window.partitionBy(col("b")).orderBy(col(v).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy(col("b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("b"))
      .agg(sum(col("cnt")).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("b"), col("off"))
    bucketed
      .withColumn("cum_in", coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("b"))
      .select(col(v),
        (lit(2L) * (col("off") + col("cum_in")) + col("cnt") + 1L)
          .as("r2"))
  }

  /** Spearman rank correlation between lineitem quantity and price —
    * the monotone-dependence screen that, unlike Pearson, survives
    * arbitrary monotone feature transforms: ρ = Pearson on midranks.
    * Both variables' midranks come from [[midrank2]] (the two-phase
    * ordinal recipe — price cents are ~per-row distinct, so this is
    * the unbounded-domain path the bounded-domain q251/q252 note), the
    * integer 2·midranks join back value-keyed (quantity's ≤ 50-row map
    * broadcast; cents' map a plain shuffle equi-join), and the five
    * sufficient statistics accumulate as decimal(38) (Σr²·r² overflows
    * 2⁶³ past ~10× this SF) in ONE partial-agg'd pass. The oracle IS
    * the one-sort global midrank, so the gate proves the decomposition.
    * ρ in [-1,1]: no integral division — the double is the one
    * fixed-order expression. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("qty"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
    val rx = midrank2(base, "qty").withColumnRenamed("r2", "r2x")
    val ry = midrank2(base, "cents").withColumnRenamed("r2", "r2y")
    base
      .join(broadcast(rx), Seq("qty"))
      .join(ry, Seq("cents"))
      .agg(count(lit(1)).as("n"),
        sum(col("r2x").cast("decimal(38,0)")).as("sx"),
        sum(col("r2y").cast("decimal(38,0)")).as("sy"),
        // cast BEFORE the multiply (the cuped discipline): a LONG
        // r2x*r2y product wraps once 2·midrank crosses ~3e9 (n ≳
        // 1.5e9 rows) — the decimal must protect the product, not
        // just the sum. Oracle mirrors with HUGEINT per-row products.
        sum(col("r2x").cast("decimal(38,0)") * col("r2y")).as("sxy"),
        sum(col("r2x").cast("decimal(38,0)") * col("r2x")).as("sxx"),
        sum(col("r2y").cast("decimal(38,0)") * col("r2y")).as("syy"))
      .select(col("n"),
        // nullif: a single-row (or constant-rank) slice has zero rank
        // variance — rho is undefined, surfaced as NULL in BOTH
        // engines, never an ANSI divide-by-zero (r16 sweep)
        (round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          nullif(sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))),
            lit(0.0)), 6)
          + lit(0.0)).as("rho_r"))
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    * Walker, WSDM 2013) — the standard trick that makes A/B tests on
    * heavy-tailed metrics decidable in days instead of months: regress
    * the experiment-period metric y on the PRE-period covariate x
    * (same user, before assignment — independent of treatment by
    * construction) and read out means of ỹ = y − θ·x instead of y.
    * Units are users (arm = 50/50 portable-hash split, exactly q216's
    * discipline); the period split is the data midpoint timestamp
    * (q258's recipe); x and y are the user's pre/post activity cents,
    * collected in ONE conditional-sum pass over the corpus — at 100 TB
    * the per-user relation is the only corpus-scaled stage, and the
    * pooled θ statistics plus the per-arm readout are two further
    * SHRINKING partial aggs on top of it. θ = cov(x,y)/var(x) is kept
    * as the exact integer fraction (cov_num, var_num) — decimal(38)
    * products since n·Σxy crosses 2⁶³ near 100× this SF, and NO
    * integral division (cov may be negative); the adjusted per-arm
    * mean is ONE fixed-order double expression over exact integers:
    * (var·Σy_a − cov·Σx_a)/(var·n_a) = ȳ_a − θ·x̄_a (the constant
    * θ·x̄_pool shift cancels in the arm delta, so it is omitted). */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("long").as("sec"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val bounds = ev.agg(min(col("sec")).as("mn_s"),
      max(col("sec")).as("mx_s"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .withColumn("late", col("sec") >= expr("(mn_s + mx_s) div 2"))
      .groupBy(col("user_id"))
      .agg(sum(when(!col("late"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("late"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm",
        TextOps.portableHash(
          concat(lit("arm:"), col("user_id").cast("string"))) % 2)
    val pooled = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .select(
        (col("n") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).as("cov_num"),
        (col("n") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx")).as("var_num"))
    perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_x_cents"), sum(col("y")).as("sum_y_cents"))
      .crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_users"), col("sum_x_cents"),
        col("sum_y_cents"),
        // output boundary: BIGINT, never decimal — Spark decimal(38,0)
        // hashes as a Decimal object while DuckDB's HUGEINT lands as a
        // different dtype, so equal VALUES hash-mismatch (r11 verdict
        // №1). cov/var numerators are ~n²·cents² ≈ 4e17 at sf1 — BIGINT
        // holds to ~sf5; past that move the OUTPUT to a rounded ratio,
        // keeping decimal only for the intermediates above.
        col("cov_num").cast("long").as("cov_num"),
        col("var_num").cast("long").as("var_num"),
        (round(col("sum_y_cents").cast("double") / col("n_users"), 6)
          + lit(0.0)).as("raw_mean_r"),
        // nullif: a single-user slice has zero covariate variance —
        // theta/adjustment undefined, NULL in both engines (r16 sweep)
        (round((col("var_num").cast("double") * col("sum_y_cents") -
          col("cov_num").cast("double") * col("sum_x_cents")) /
          nullif(col("var_num").cast("double") * col("n_users"),
            lit(0.0)), 6)
          + lit(0.0)).as("adj_mean_r"),
        (round(col("cov_num").cast("double") /
          nullif(col("var_num").cast("double"), lit(0.0)), 6)
          + lit(0.0)).as("theta_r"))
  }

  /** Mutual information of the customer market-segment × nation grid —
    * the feature-selection / redundancy screen that complements q159's
    * χ² independence audit (χ² asks "is the deviation noise?", MI asks
    * "how many nats does knowing one buy about the other?"). The
    * corpus collapses to the ≤ |segments|·|nations| cell relation in
    * ONE partial-agg'd shuffle; margins and the grand total re-derive
    * from those cells by three windows over the BOUNDED relation
    * (the q155 mergeability discipline — the corpus is scanned once,
    * and the window input is ~125 rows at any corpus size). Per-cell
    * contribution (n_xy/n)·ln(n_xy·n/(n_x·n_y)) is one fixed-order
    * double over exact integer tallies; empty cells contribute exactly
    * 0 to MI (0·ln0 → 0) so only observed cells are emitted — unlike
    * χ², where q159 must materialize the full grid. Σ over rows = the
    * total MI in nats. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "customer")
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("n_xy"))
    cells
      .withColumn("n_x",
        sum(col("n_xy")).over(Window.partitionBy(col("seg"))))
      .withColumn("n_y",
        sum(col("n_xy")).over(Window.partitionBy(col("nat"))))
      .withColumn("n", sum(col("n_xy")).over(Window.partitionBy()))
      .select(col("seg"), col("nat"), col("n_xy"), col("n_x"), col("n_y"),
        (round((col("n_xy").cast("double") / col("n")) *
          log(col("n_xy").cast("double") * col("n") /
            (col("n_x").cast("double") * col("n_y"))), 6) + lit(0.0))
          .as("mi_contrib_r"))
  }

  /** Leakage-safe temporal churn labeling — the step that turns an
    * event log into supervised training data without future leakage
    * (Kaufman, Rosset & Perlich, KDD 2011 on leakage): features come
    * STRICTLY from before the cut (the 70% point of the global time
    * span, exact integer arithmetic on epoch seconds — the q262 period
    * discipline), the label (churn = zero post-cut activity) STRICTLY
    * from after, and users unseen before the cut get no row at all —
    * no label, no leak. The entity is the CUSTOMER over orders (10
    * orders per customer across ~7 years at every SF — so the churn
    * tail is a stable ~5%; the events table's 67-events-per-30-days
    * density makes "no post-cut event" structurally impossible, the
    * degenerate label this operator exists to avoid). One
    * conditional-sum corpus pass builds the per-customer relation; the
    * readout buckets customers by floor(log₂ n_pre) computed as
    * len(bin(n)) − 1 — STRING-length integer log, because float log2
    * at exact powers of two is an engine-divergence boundary — and
    * prices churn rate and pre-window spend per bucket (the "do light
    * buyers churn more?" readout). */
  def churnLabels(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp_ltz").cast("long").as("sec"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
    val bounds = ev.agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .withColumn("cut", expr("mn + (mx - mn) * 7 div 10"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("sec") < col("cut"), 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("sec") < col("cut"), col("cents")).otherwise(0L))
          .as("cents_pre"),
        max(when(col("sec") >= col("cut"), 1L).otherwise(0L))
          .as("has_post"))
      .filter(col("n_pre") > 0)
    perUser
      .withColumn("ev_bucket",
        (length(expr("bin(n_pre)")) - 1).cast("long"))
      .groupBy(col("ev_bucket"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("has_post") === 0L, 1L).otherwise(0L))
          .as("n_churned"),
        sum(col("cents_pre")).as("cents_pre"))
      .select(col("ev_bucket"), col("n_users"), col("n_churned"),
        col("cents_pre"),
        (round(col("n_churned").cast("double") / col("n_users"), 6)
          + lit(0.0)).as("churn_rate_r"),
        (round(col("cents_pre").cast("double") / col("n_users"), 6)
          + lit(0.0)).as("avg_cents_r"))
  }

  /** Sequential probability ratio test (Wald 1945) on the daily
    * conversion stream — the experimentation member q216/q262 lack: a
    * FIXED-horizon test must wait for its sample size, SPRT reads the
    * evidence as it accumulates and stops the moment the log-likelihood
    * random walk exits (B, A). Design constants are data-free: H₀
    * p=0.20 vs H₁ p=0.25 (the corpus's five uniform event types make
    * purchase ≈ 0.2, so the H₀ drift is gently negative — arms should
    * accept H₀ once enough days accrue), α=β=0.05. Everything is exact
    * integer micro-nats: a conversion adds ln(p₁/p₀)=223144 µn, a
    * non-conversion ln((1−p₁)/(1−p₀))=−64539 µn, boundaries ±ln 19 =
    * ±2944439 µn — so the cumulative walk, the crossing days and the
    * verdict are bit-portable with NO float in the loop. The corpus
    * collapses to a per-(arm, day) partial agg in one pass; the walk is
    * a window over the bounded daily relation (the q237 discipline). */
  def sprt(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val (w1, w0) = (223144L, -64539L)
    val (hiB, loB) = (2944439L, -2944439L)
    val daily = t(spark, dir, "events")
      .select(
        (TextOps.portableHash(concat(lit("sprtarm:"),
          col("user_id").cast("string"))) % 2).as("arm"),
        expr("unix_timestamp(ts) DIV 86400").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("conv"))
      .groupBy(col("arm"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val w = Window.partitionBy(col("arm")).orderBy(col("d"))
    daily
      .withColumn("llr", sum(col("c") * w1 +
        (col("n") - col("c")) * w0).over(w))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_days"),
        min(when(col("llr") >= hiB, col("d"))).as("d_hi"),
        min(when(col("llr") <= loB, col("d"))).as("d_lo"),
        max_by(col("llr"), col("d")).as("final_llr"))
      .select(col("arm"), col("n_days"), col("final_llr"),
        expr("""CASE
          WHEN d_hi IS NOT NULL AND (d_lo IS NULL OR d_hi <= d_lo)
            THEN 'accept_h1'
          WHEN d_lo IS NOT NULL THEN 'accept_h0'
          ELSE 'continue' END""").as("decision"),
        expr("""CASE
          WHEN d_hi IS NOT NULL AND (d_lo IS NULL OR d_hi <= d_lo)
            THEN d_hi
          WHEN d_lo IS NOT NULL THEN d_lo END""").as("decision_day"))
  }

  /** Shared entropy fragment — Shannon H of a (positives, total) tally
    * in nats with the 0·ln 0 = 0 convention, written ONCE and spliced
    * into both the Spark expression and the DuckDB oracle so the IEEE
    * operation sequence is identical by construction. */
  private def entSql(p0: String, n0: String): String = {
    // parenthesize the splice points: compound args like "pt - p_l"
    // must stay atomic inside "$n - $p"
    val (p, n) = (s"($p0)", s"($n0)")
    s"(CASE WHEN $n = 0 THEN 0.0 ELSE " +
      s"(CASE WHEN $p = 0 THEN 0.0 ELSE " +
      s"-(CAST($p AS DOUBLE) / $n) * ln(CAST($p AS DOUBLE) / $n) END) + " +
      s"(CASE WHEN $n - $p = 0 THEN 0.0 ELSE " +
      s"-(CAST($n - $p AS DOUBLE) / $n) * ln(CAST($n - $p AS DOUBLE) / $n)" +
      s" END) END)"
  }

  /** Decision-stump split selection by information gain (Quinlan, ML
    * 1986 — ID3's split criterion): which single price threshold best
    * separates returned lineitems? The classic feature-evaluation
    * primitive (top of every tree ensemble, and the screening statistic
    * feature stores rank by). One corpus pass bins the price into 64
    * equi-width integer bins ((cents−mn)·64 div (mx−mn+1), all
    * non-negative so div is floor in both engines); every one of the 63
    * candidate splits is then a prefix of the BOUNDED 64-row bin
    * relation (a 63×64 join-and-sum — free at any corpus size, the
    * 64-bucket-recipe discipline). Gain = H(parent) − weighted child
    * entropies, each entropy one [[entSql]] splice over exact integer
    * tallies; degenerate splits (an empty side) yield NULL. The winner
    * is the two-stage argmax over the ROUNDED gain (max, then min split
    * matching it — the ksDrift discipline), and every row carries it so
    * the stump's decision is part of the gate. */
  def infoGain(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
        .as("cents"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val bounds = li.agg(min(col("cents")).as("mn"),
      max(col("cents")).as("mx"))
    val bins = li.crossJoin(broadcast(bounds))
      .withColumn("bin",
        expr("least(63, (cents - mn) * 64 div (mx - mn + 1))"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val tot = bins.agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"))
    val hp = entSql("pt", "nt")
    val hl = entSql("p_l", "n_l")
    val hr = entSql("pt - p_l", "nt - n_l")
    val w = Window.partitionBy() // 63 rows by construction
    spark.range(0, 63).toDF("split")
      .join(broadcast(bins), col("bin") <= col("split"))
      .groupBy(col("split"))
      .agg(sum(col("n")).as("n_l"), sum(col("p")).as("p_l"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(bounds))
      .select(col("split"), col("n_l"), col("p_l"),
        expr("mn + (split + 1) * (mx - mn + 1) div 64").as("thr_cents"),
        expr(s"""CASE WHEN n_l = 0 OR nt - n_l = 0 THEN NULL ELSE
          round($hp - (CAST(n_l AS DOUBLE) / nt) * $hl -
            (CAST(nt - n_l AS DOUBLE) / nt) * $hr, 6) + 0.0 END""")
          .as("gain_r"))
      .withColumn("best_gain_r", max(col("gain_r")).over(w))
      .withColumn("best_split",
        min(when(col("gain_r") === col("best_gain_r"), col("split")))
          .over(w))
  }

  /** The difference-in-differences readout, spliced verbatim into BOTH
    * engines over the four cell sums/counts (q279's shared-fragment
    * discipline — one fixed-order IEEE expression). */
  private def didSql: String =
    "round(((CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tq AS DOUBLE) / n_tq)" +
      " - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_cq AS DOUBLE) / n_cq))" +
      " / 100.0, 6) + 0.0"

  /** Difference-in-differences estimator (Card & Krueger, AER 1994 —
    * the quasi-experimental workhorse when randomization is
    * impossible): treatment = BUILDING-segment customers, the
    * pre/post cut is fixed calendar time (1996-01-01), outcome = mean
    * order value. DiD = (ΔT) − (ΔC) nets out both the group baseline
    * and the common time trend — the parallel-trends identification.
    * One corpus pass: orders join the customer dim (broadcast-sized
    * here; the standard dim equi-join at scale), partial-agg to the
    * FOUR (treat, post) cells, and every readout is a fixed-order
    * double over exact integer cell sums — the 2×2 means table plus
    * the [[didSql]] estimate carried on every row so the gate pins the
    * whole estimator. */
  def did(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        (col("c_mktsegment") === "BUILDING").as("treat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"),
        (col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
          .as("post"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val wide = cells.agg(
      sum(when(col("treat") && col("post"), col("s"))).as("s_tp"),
      sum(when(col("treat") && col("post"), col("n"))).as("n_tp"),
      sum(when(col("treat") && !col("post"), col("s"))).as("s_tq"),
      sum(when(col("treat") && !col("post"), col("n"))).as("n_tq"),
      sum(when(!col("treat") && col("post"), col("s"))).as("s_cp"),
      sum(when(!col("treat") && col("post"), col("n"))).as("n_cp"),
      sum(when(!col("treat") && !col("post"), col("s"))).as("s_cq"),
      sum(when(!col("treat") && !col("post"), col("n"))).as("n_cq"))
    cells.crossJoin(broadcast(wide))
      .select(col("treat"), col("post"), col("n"), col("s").as("sum_cents"),
        (round(col("s").cast("double") / col("n") / 100.0, 6) + lit(0.0))
          .as("mean_dollars_r"),
        expr(didSql).as("did_dollars_r"))
  }

  /** t-closeness census of the customer quasi-identifier classes (Li,
    * Li & Venkatasubramanian, ICDE 2007 — the refinement after q254's
    * k-anonymity/l-diversity: a class can be large AND diverse yet
    * still leak if its sensitive DISTRIBUTION deviates from the
    * global one). QI = (nation, market segment); sensitive = the $2000
    * account-balance band (an ordered domain, so t = the
    * equal-spacing earth-mover's distance = Σᵢ |CumP_i − CumQ_i| /
    * (m−1) over the m-band grid — the q239 EMD identity). Exactness:
    * per-step mass difference is the integer cross product
    * |cum_cb·N − cum_gb·n_c| over denominator n_c·N, summed then ONE
    * integral ppm division (decimal(38)/HUGEINT — the cross products
    * cross 2⁶³ near ~30× sf0.1). Everything after the two partial-agg
    * shuffles runs on the bounded class×band grid (≤ 125·8 rows). */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(floor(c_acctbal / 2000.0) AS BIGINT)").as("band"))
    val cb = cust.groupBy(col("nat"), col("seg"), col("band"))
      .agg(count(lit(1)).as("n_cb"))
      .cutLineage() // bounded grid feeds class totals, global AND cums
    val ct = cb.groupBy(col("nat"), col("seg"))
      .agg(sum(col("n_cb")).as("n_c"))
    val gb = cb.groupBy(col("band")).agg(sum(col("n_cb")).as("g_b"))
    val nTot = gb.agg(sum(col("g_b")).as("nn"), count(lit(1)).as("m"))
    val wB = Window.orderBy(col("band").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val gcum = gb.withColumn("cum_g", sum(col("g_b")).over(wB))
      .select(col("band"), col("cum_g"))
    val grid = ct.crossJoin(broadcast(gcum))
      .join(cb, Seq("nat", "seg", "band"), "left_outer")
      .na.fill(0L, Seq("n_cb"))
    val wC = Window.partitionBy(col("nat"), col("seg"))
      .orderBy(col("band").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("cum_c", sum(col("n_cb")).over(wC))
      .crossJoin(broadcast(nTot))
      .withColumn("is_last", col("cum_g") === col("nn"))
      .filter(!col("is_last")) // EMD sums the m−1 interior steps
      .groupBy(col("nat"), col("seg"))
      .agg(max(col("n_c")).as("cls_n"), max(col("m")).as("m"),
        max(col("nn")).as("nn"),
        sum(abs(col("cum_c").cast("decimal(38,0)") * col("nn") -
          col("cum_g").cast("decimal(38,0)") * col("n_c"))).as("dsum"))
      .select(col("nat").as("c_nationkey"), col("seg").as("c_mktsegment"),
        col("cls_n"),
        expr("dsum * 1000000 div ((m - 1) * CAST(cls_n AS DECIMAL(38,0))" +
          " * nn)").as("t_ppm"))
  }

  /** Two-feature ordinary least squares by exact normal equations
    * (price ~ quantity + discount on lineitem — the hedonic readout
    * q284's Shapley decomposition prices by GROUP means; this is the
    * coefficient view): nine integer sufficient statistics in ONE
    * partial-agg'd pass, centered second moments S_ab = n·Σab − Σa·Σb
    * as decimal(38) cross products, then Cramer's rule — det =
    * S_qq·S_dd − S_qd², numerators likewise — still inside
    * decimal(38)/HUGEINT (the numerators cross 10³⁸ near ~10× sf0.1:
    * the documented switch point, same class as q284's scaladoc
    * bound). β̂, intercept and R² = (b1n·S_qy + b2n·S_dy)/(det·S_yy)
    * are fixed-order double readouts over the exact integers (shared
    * expression shape in both engines). The 100-TB shape is the
    * textbook distributed OLS: sufficient statistics are one
    * mergeable partial agg; the 2×2 solve is constant work. */
  def olsMulti(spark: SparkSession, dir: String): DataFrame = {
    val st = t(spark, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("q"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("d"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("y"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("d")).as("sd"), sum(col("y")).as("sy"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("q") * col("d")).as("sqd"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("q") * col("y")).as("sqy"),
        sum(col("d") * col("y")).as("sdy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    st.select(col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sqq - CAST(sq AS DECIMAL(38,0))" +
          " * sq").as("cqq"),
        expr("CAST(n AS DECIMAL(38,0)) * sqd - CAST(sq AS DECIMAL(38,0))" +
          " * sd").as("cqd"),
        expr("CAST(n AS DECIMAL(38,0)) * sdd - CAST(sd AS DECIMAL(38,0))" +
          " * sd").as("cdd"),
        expr("CAST(n AS DECIMAL(38,0)) * sqy - CAST(sq AS DECIMAL(38,0))" +
          " * sy").as("cqy"),
        expr("CAST(n AS DECIMAL(38,0)) * sdy - CAST(sd AS DECIMAL(38,0))" +
          " * sy").as("cdy"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0))" +
          " * sy").as("cyy"),
        col("sq"), col("sd"), col("sy"))
      .select(col("n"),
        expr("cqq * cdd - cqd * cqd").as("det"),
        expr("cqy * cdd - cdy * cqd").as("b1n"),
        expr("cdy * cqq - cqy * cqd").as("b2n"),
        col("cqy"), col("cdy"), col("cyy"), col("sq"), col("sd"),
        col("sy"))
      .select(col("n"),
        // nullif(det, 0): a single-row (or collinear) slice has a
        // singular normal matrix — coefficients undefined, NULL in
        // both engines, never an ANSI divide-by-zero (r16 sweep)
        (round(col("b1n").cast("double") /
          nullif(col("det").cast("double"), lit(0.0)), 6)
          + lit(0.0)).as("b_qty_r"),
        (round(col("b2n").cast("double") /
          nullif(col("det").cast("double"), lit(0.0)), 6)
          + lit(0.0)).as("b_disc_r"),
        expr("round(CAST(sy AS DOUBLE) / n - " +
          "(CAST(b1n AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0.0)) * " +
          "(CAST(sq AS DOUBLE) / n) - " +
          "(CAST(b2n AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0.0)) * " +
          "(CAST(sd AS DOUBLE) / n), 6) + 0.0").as("intercept_r"),
        expr("round((CAST(b1n AS DOUBLE) * CAST(cqy AS DOUBLE) + " +
          "CAST(b2n AS DOUBLE) * CAST(cdy AS DOUBLE)) / " +
          "nullif(CAST(det AS DOUBLE) * CAST(cyy AS DOUBLE), 0.0), 6)" +
          " + 0.0")
          .as("r2_r"))
  }

  /** Stratified treatment-effect estimate (Cochran, Biometrics 1968 —
    * post-stratification: when treatment correlates with a covariate,
    * the raw mean difference is confounded; stratify on the covariate
    * and weight per-stratum differences by stratum size). Treatment =
    * BUILDING segment, strata = customer nation, outcome = mean order
    * value. ATE_strat = Σ_s (n_s/N)·(ȳ_Ts − ȳ_Cs) over strata carrying
    * BOTH arms (single-arm strata are excluded and N renormalizes — the
    * standard convention, stated in the output via n_strata_used).
    * Exactness: the per-stratum term is quantized to 10⁻⁴ dollars as
    * ONE integral division of exact integer cross products —
    * n_s·(s_T·n_C − s_C·n_T) over N·n_T·n_C·10⁴·... all decimal(38)/
    * HUGEINT (the cross product crosses 2⁶³ at gate scale already) — so
    * the stratum terms SUM exactly (a per-stratum double would be
    * order-dependent under partial aggregation). Corpus work: one dim
    * join + one partial agg to ≤ 2·25 cells; everything after is
    * bounded. */
  def stratEffect(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"),
        (col("c_mktsegment") === "BUILDING").as("treat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("nat"), col("treat"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val strata = cells // bounded ≤ 50 cells
      .groupBy(col("nat"))
      .agg(sum(when(col("treat"), col("n"))).as("n_t"),
        sum(when(col("treat"), col("s"))).as("s_t"),
        sum(when(!col("treat"), col("n"))).as("n_c"),
        sum(when(!col("treat"), col("s"))).as("s_c"))
      .filter(col("n_t").isNotNull && col("n_c").isNotNull)
      .withColumn("n_s", col("n_t") + col("n_c"))
    val tot = strata.agg(sum(col("n_s")).as("nn"),
      count(lit(1)).as("n_strata_used"))
    strata.crossJoin(broadcast(tot))
      // term_e4 = per-stratum weighted diff in 1e-4 dollars; the diff
      // can be NEGATIVE, and Spark's div truncates where DuckDB's //
      // floors — so the quotient is positive-shifted by OFF = 10¹³
      // before the nearest-int floor div and shifted back (the q282
      // seasonal-mean idiom); |term_e4| ≪ 10¹³ at any plausible SF
      .withColumn("term_e4",
        expr("(2 * CAST(n_s AS DECIMAL(38,0)) * " +
          "(CAST(s_t AS DECIMAL(38,0)) * n_c - " +
          "CAST(s_c AS DECIMAL(38,0)) * n_t) * 100 + " +
          "CAST(nn AS DECIMAL(38,0)) * n_t * n_c + " +
          "2 * CAST(10000000000000 AS DECIMAL(38,0)) * nn * n_t * n_c)" +
          " div (2 * CAST(nn AS DECIMAL(38,0)) * n_t * n_c)" +
          " - 10000000000000"))
      .groupBy(col("nn"), col("n_strata_used"))
      .agg(sum(col("term_e4")).as("ate_e4"))
      .select(col("nn").as("n_orders_used"), col("n_strata_used"),
        col("ate_e4"),
        (round(col("ate_e4").cast("double") / 10000.0, 6) + lit(0.0))
          .as("ate_dollars_r"))
  }

  /** Welch's unequal-variance t-test on order value, BUILDING-segment
    * customers vs the rest (Welch, Biometrika 1947 — the two-sample
    * significance test every A/B readout ends with; unlike Student's t
    * it does not assume equal variances, which real revenue metrics
    * never satisfy). Sufficient statistics are exact integers (n, Σy,
    * Σy² per arm in ONE partial-agg'd pass; Σy² rides decimal(38)/
    * HUGEINT), and t, the Welch–Satterthwaite df and the verdict are
    * ONE shared fixed-order double expression over those integers
    * ([[welchSql]], spliced into both engines — the q279 discipline).
    * Sample variance uses the exact centered form n·Σy² − (Σy)² over
    * n·(n−1). */
  def welchT(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        (col("c_mktsegment") === "BUILDING").as("treat"))
    t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(cust), Seq("ck"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("treat"), col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("treat"), col("cents").cast("decimal(38,0)") *
          col("cents")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("q1"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("treat"), col("cents")).otherwise(0L)).as("s2"),
        sum(when(!col("treat"), col("cents").cast("decimal(38,0)") *
          col("cents")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("q2"))
      .select(col("n1"), col("n2"),
        expr(s"round($meanDiffSql, 6) + 0.0").as("mean_diff_dollars_r"),
        expr(s"round($welchTSql, 6) + 0.0").as("t_r"),
        expr(s"round($welchDfSql, 6) + 0.0").as("df_r"),
        expr(s"CASE WHEN abs($welchTSql) > 2.576 THEN 'significant_99'" +
          s" WHEN abs($welchTSql) > 1.96 THEN 'significant_95'" +
          s" ELSE 'not_significant' END").as("verdict"))
  }

  /** Shared Welch fragments (both engines splice these verbatim):
    * va = per-arm sample variance over cents, t, df. */
  private def varSql(n: String, s: String, q: String): String =
    s"((CAST($n AS DOUBLE) * CAST($q AS DOUBLE) - " +
      s"CAST($s AS DOUBLE) * CAST($s AS DOUBLE)) / " +
      s"(CAST($n AS DOUBLE) * ($n - 1)))"
  private def meanDiffSql: String =
    "(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0"
  private def seSql: String =
    s"sqrt(${varSql("n1", "s1", "q1")} / n1 + " +
      s"${varSql("n2", "s2", "q2")} / n2)"
  private def welchTSql: String =
    s"((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / $seSql)"
  private def welchDfSql: String =
    s"(pow(${varSql("n1", "s1", "q1")} / n1 + " +
      s"${varSql("n2", "s2", "q2")} / n2, 2) / " +
      s"(pow(${varSql("n1", "s1", "q1")} / n1, 2) / (n1 - 1) + " +
      s"pow(${varSql("n2", "s2", "q2")} / n2, 2) / (n2 - 1)))"

  /** Two-sided normal p-value fragment p = erfc(|z|/√2) via the
    * Abramowitz & Stegun 7.1.26 rational approximation (|err| < 1.5e-7
    * — far finer than the round-6 output grid), spliced VERBATIM into
    * both engines: exp/mul/div only, one fixed IEEE order. `z` must be
    * an SQL sub-expression yielding the z statistic. */
  private def pTwoSidedSql(z: String): String = {
    val x = s"(abs($z) / 1.4142135623730951)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"((((((1.061405429 * $t - 1.453152027) * $t) + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t * exp(-($x) * ($x)))"
  }

  /** Per-nation two-proportion z against the pooled rest — shared
    * verbatim by [[bhFdr]] and its oracle (identifiers n, c, nt, ct). */
  private def bhZSql: String =
    "((CAST(c AS DOUBLE) / n - " +
      "CAST(ct - c AS DOUBLE) / (nt - n)) / " +
      "sqrt((CAST(ct AS DOUBLE) / nt) * (1.0 - CAST(ct AS DOUBLE) / nt)" +
      " * (1.0 / n + 1.0 / (nt - n))))"

  /** Benjamini–Hochberg FDR control across the per-nation conversion
    * tests (Benjamini & Hochberg, JRSS-B 1995 — the multiple-testing
    * step-up every metrics platform runs when one experiment reads out
    * dozens of segments: per-comparison α inflates the family-wise
    * false-discovery rate). Per nation, the two-proportion z of the
    * nation's high-value-order rate against the pooled rest (exact
    * integer counts in ONE dim-join partial agg; z one fixed-order
    * double), p from the shared [[pTwoSidedSql]] fragment, then the
    * step-up on the BOUNDED 25-row relation: sort by (rounded p,
    * nation), k* = max{i : p_(i) ≤ i·α/m}, reject ranks ≤ k*. Data-free
    * constants; both engines execute the identical IEEE sequence, so
    * verdicts are bit-portable. This corpus draws nations iid — the
    * honest expectation the gate pins is few-to-zero rejections. */
  def bhFdr(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        (col("o_totalprice") >= 300000.0).as("hv"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("nat"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hv"), 1L).otherwise(0L)).as("c"))
      .cutLineage() // bounded 25 rows; feeds totals AND the tests
    val tot = cells.agg(sum(col("n")).as("nt"), sum(col("c")).as("ct"),
      count(lit(1)).as("m"))
    val zSql = bhZSql
    val scored = cells.crossJoin(broadcast(tot))
      .select(col("nat"), col("n"), col("c"), col("m"),
        (round(expr(zSql), 6) + lit(0.0)).as("z_r"),
        (round(expr(pTwoSidedSql(zSql)), 6) + lit(0.0)).as("p_r"))
    val wP = Window.orderBy(col("p_r").asc, col("nat").asc)
    val wAll = Window.partitionBy()
    scored // bounded 25 rows: the windows are the house collapse shape
      .withColumn("i", row_number().over(wP))
      .withColumn("kstar",
        max(when(col("p_r") <= col("i").cast("double") * 0.05 /
          col("m"), col("i"))).over(wAll))
      .select(col("nat").as("c_nationkey"), col("n"), col("c"),
        col("z_r"), col("p_r"), col("i"),
        (col("kstar").isNotNull && col("i") <= col("kstar"))
          .as("bh_reject"))
  }

  /** Wilcoxon signed-rank test on paired per-nation means (Wilcoxon,
    * Biometrics 1945 — the nonparametric paired test completing the
    * family: q251's AUC IS Mann–Whitney for independent groups, q306
    * Welch and q312 ANOVA are the parametric mean tests; this one asks
    * whether the post-1996 per-nation mean order value systematically
    * moved without assuming normality). Pairs = 25 nations; d_i =
    * s₂/n₂ − s₁/n₁ stays an exact RATIONAL (num_i = s₂·n₁ − s₁·n₂ over
    * den_i = n₁·n₂ — never a float mean), zero-diff pairs drop by the
    * exact integer test, and |d| ranks come from the pairwise
    * cross-product comparison |num_i|·den_j vs |num_j|·den_i on the
    * BOUNDED 25-row self-join (decimal(38)/HUGEINT — the product
    * crosses 2⁶³ at gate scale). Midranks ride the integer 2·midrank
    * recipe; W⁺ is an exact integer in half-units; z and the verdict
    * are one fixed-order double from the closed-form null moments. iid
    * feed → the gate pins not-significant honestly. */
  def wilcoxon(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"),
        (col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
          .as("post"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("nat"))
      .agg(sum(when(!col("post"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("post"), col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("post"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("post"), col("cents")).otherwise(0L)).as("s2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      // num rides decimal(38) from the start: s₂·n₁ wraps LONG near
      // ~10× sf0.1 (oracle mirrors in HUGEINT)
      .select(col("nat"),
        expr("CAST(s2 AS DECIMAL(38,0)) * n1 - " +
          "CAST(s1 AS DECIMAL(38,0)) * n2").as("num"),
        (col("n1") * col("n2")).as("den"))
      .filter(col("num") =!= 0L)
      .cutLineage() // bounded ≤ 25 rows; feeds both self-join sides
    // self-inclusive tie count supplies the midrank's +1:
    // 2·midrank = 2·cnt_< + cnt_= (self ∈ cnt_=)
    val ranked = cells.as("a")
      .join(cells.as("b"), lit(true))
      .groupBy(col("a.nat").as("nat"), col("a.num").as("num"))
      .agg(sum(when(expr("abs(b.num) * a.den < abs(a.num) * b.den"), 1L)
        .otherwise(0L)).as("cnt_lt"),
        sum(when(expr("abs(b.num) * a.den = abs(a.num) * b.den"), 1L)
          .otherwise(0L)).as("cnt_eq"))
      .select(col("nat"), col("num"),
        (lit(2L) * col("cnt_lt") + col("cnt_eq")).as("r2"))
    ranked
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("num") > 0, col("r2")).otherwise(0L))
          .as("w_plus_x2"))
      .select(col("n_pairs"), col("w_plus_x2"),
        expr("round((CAST(w_plus_x2 AS DOUBLE) / 2.0 - " +
          "CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0) / " +
          "sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) * " +
          "(2 * n_pairs + 1) / 24.0), 6) + 0.0").as("z_r"),
        expr("CASE WHEN abs((CAST(w_plus_x2 AS DOUBLE) / 2.0 - " +
          "CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0) / " +
          "sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) * " +
          "(2 * n_pairs + 1) / 24.0)) > 1.96 THEN 'significant_95' " +
          "ELSE 'not_significant' END").as("verdict"))
  }

  /** Shared one-way-ANOVA fragments over the wide 5-segment row
    * (identifiers n_a…n_m, s_a…s_m, n_t, s_t, qq) — both engines
    * splice these verbatim, so the IEEE sequence is identical. The
    * segment order is the FIXED alphabetical one; a float Σ over a
    * segment-keyed relation would be partial-agg order-dependent. */
  private def anovaSsbSql: String =
    "((CAST(s_a AS DOUBLE) * s_a / n_a + CAST(s_b AS DOUBLE) * s_b / n_b" +
      " + CAST(s_f AS DOUBLE) * s_f / n_f" +
      " + CAST(s_h AS DOUBLE) * s_h / n_h" +
      " + CAST(s_m AS DOUBLE) * s_m / n_m)" +
      " - CAST(s_t AS DOUBLE) * s_t / n_t)"
  private def anovaSstSql: String =
    "(CAST(qq AS DOUBLE) - CAST(s_t AS DOUBLE) * s_t / n_t)"
  private def anovaFSql: String =
    s"(($anovaSsbSql / 4.0) / (($anovaSstSql - $anovaSsbSql) / (n_t - 5)))"

  /** One-way ANOVA of order value across the five market segments
    * (Fisher 1925 — the k-group generalization of q306's two-group
    * Welch test: does ANY segment's mean differ?). Sufficient
    * statistics are exact integers from ONE dim-join partial-agg pass
    * (per-segment n and Σcents as conditional sums into a single wide
    * row — the bounded 5-value domain is pivoted into FIXED columns so
    * no float ever sums across rows; Σcents² rides decimal(38)/
    * HUGEINT). F, η² and the verdict are the shared fixed-order
    * [[anovaFSql]] fragments; df₁ = 4 and the α = 0.05 critical value
    * 2.372 (df₂ → ∞) are data-free constants. This corpus draws
    * segments iid, so the honest expectation the gate pins is F ≈ 1,
    * not significant. */
  def anova(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    def nOf(s: String) = sum(when(col("seg") === s, 1L).otherwise(0L))
    def sOf(s: String) =
      sum(when(col("seg") === s, col("cents")).otherwise(0L))
    t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(cust), Seq("ck"))
      .agg(nOf("AUTOMOBILE").as("n_a"), sOf("AUTOMOBILE").as("s_a"),
        nOf("BUILDING").as("n_b"), sOf("BUILDING").as("s_b"),
        nOf("FURNITURE").as("n_f"), sOf("FURNITURE").as("s_f"),
        nOf("HOUSEHOLD").as("n_h"), sOf("HOUSEHOLD").as("s_h"),
        nOf("MACHINERY").as("n_m"), sOf("MACHINERY").as("s_m"),
        count(lit(1)).as("n_t"), sum(col("cents")).as("s_t"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("qq"))
      .select(col("n_t").as("n_total"),
        lit(4L).as("df1"), (col("n_t") - 5L).as("df2"),
        expr(s"round($anovaFSql, 6) + 0.0").as("f_r"),
        expr(s"round($anovaSsbSql / $anovaSstSql, 6) + 0.0")
          .as("eta2_r"),
        expr(s"CASE WHEN $anovaFSql > 2.372 THEN 'significant_95'" +
          " ELSE 'not_significant' END").as("verdict"))
  }

  /** The (n_l, p_l | nt, pt) split-gain CASE, spliced verbatim into
    * BOTH engines (q279's shared-fragment discipline) by [[treeDepth2]]
    * and its oracle — the IEEE sequence is identical by construction. */
  private def treeGainSql: String =
    s"""CASE WHEN n_l = 0 OR nt - n_l = 0 THEN NULL ELSE
      round(${entSql("pt", "nt")} -
        (CAST(n_l AS DOUBLE) / nt) * ${entSql("p_l", "n_l")} -
        (CAST(nt - n_l AS DOUBLE) / nt) *
          ${entSql("pt - p_l", "nt - n_l")}, 6) + 0.0 END"""

  /** Depth-2 decision tree induction by information gain (Quinlan, ML
    * 1986 — ID3 grown one level past q279's stump, with a SECOND
    * feature so the children genuinely choose): the root picks the best
    * of 63 price-bin prefix splits, then each child independently picks
    * the best quantity threshold inside its half. The whole tree comes
    * from ONE corpus pass: the (price-bin × quantity) contingency is
    * ≤ 64·50 cells, and every candidate split at every node is a
    * prefix-sum over a marginal of that bounded relation — the
    * recursive-partitioning cost model that makes distributed tree
    * induction feasible at 100 TB (PLANET, Panda et al. VLDB 2009,
    * builds exactly these per-node histograms). Gains use the shared
    * [[entSql]] fragment spliced into BOTH engines (identical IEEE
    * sequence by construction); argmaxes are the two-stage
    * rounded-gain/min-split discipline; degenerate sides yield NULL.
    * Output: one row per node (root/left/right) with its class tallies,
    * winning split and gain. */
  def treeDepth2(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
        .as("cents"), col("l_quantity").cast("long").as("qty"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val bounds = li.agg(min(col("cents")).as("mn"),
      max(col("cents")).as("mx"))
    val cells = li.crossJoin(broadcast(bounds))
      .withColumn("pbin",
        expr("least(63, (cents - mn) * 64 div (mx - mn + 1))"))
      .groupBy(col("pbin"), col("qty"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .cutLineage() // ≤ 3,200 cells; feeds root AND both children
    val binsP = cells.groupBy(col("pbin"))
      .agg(sum(col("n")).as("n"), sum(col("p")).as("p"))
    val tot = binsP.agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"))
    val gainCase = treeGainSql
    val w = Window.partitionBy() // 63 rows by construction
    val rgain = spark.range(0, 63).toDF("split")
      .join(broadcast(binsP), col("pbin") <= col("split"))
      .groupBy(col("split"))
      .agg(sum(col("n")).as("n_l"), sum(col("p")).as("p_l"))
      .crossJoin(broadcast(tot))
      .select(col("split"), expr(gainCase).as("gain_r"))
    val rbest = rgain
      .withColumn("bg", max(col("gain_r")).over(w))
      .withColumn("rsplit",
        min(when(col("gain_r") === col("bg"), col("split"))).over(w))
      .select(col("rsplit"), col("bg")).distinct()
      // r16: one row by construction — without the cut, the whole
      // root-split branch (cells agg + 63-split scan + two windows) was
      // REPLAYED in every consumer: the r16 plan dump showed the subtree
      // 4× (222 nodes, 90 Exchanges for ≤3,200-row data). Guide §2.4.
      .cutLineage()
    val qmarg = cells.crossJoin(broadcast(rbest))
      .withColumn("node",
        when(col("pbin") <= col("rsplit"), lit("left"))
          .otherwise(lit("right")))
      .groupBy(col("node"), col("qty"))
      .agg(sum(col("n")).as("n"), sum(col("p")).as("p"))
      // ≤ 2 nodes × 50 qty values; consumed by stot + the sbest
      // self-join (three plan roles) — same duplication argument
      .cutLineage()
    val stot = qmarg.groupBy(col("node"))
      .agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"))
    val wn = Window.partitionBy(col("node"))
    val sbest = qmarg.select(col("node"), col("qty").as("split"))
      .distinct()
      .join(qmarg, Seq("node"))
      .filter(col("qty") <= col("split"))
      .groupBy(col("node"), col("split"))
      .agg(sum(col("n")).as("n_l"), sum(col("p")).as("p_l"))
      // 2-row side: the estimate-blind planner gave it a SortMergeJoin
      .join(broadcast(stot), Seq("node"))
      .select(col("node"), col("split"), expr(gainCase).as("gain_r"))
      .withColumn("bg", max(col("gain_r")).over(wn))
      .withColumn("bs",
        min(when(col("gain_r") === col("bg"), col("split"))).over(wn))
      .select(col("node"), col("bs").as("best_split"),
        col("bg").as("gain_r"))
      .distinct()
      .join(broadcast(stot), Seq("node"))
    tot.crossJoin(broadcast(rbest))
      .select(lit("root").as("node"), col("nt").as("n"),
        col("pt").as("pos"), col("rsplit").as("best_split"),
        col("bg").as("gain_r"))
      .unionByName(sbest.select(col("node"), col("nt").as("n"),
        col("pt").as("pos"), col("best_split"), col("gain_r")))
  }

  /** Isotonic regression calibration (pool-adjacent-violators fit) via
    * the MINIMAX representation (Barlow, Bartholomew, Bremner & Brunk
    * 1972, §1.2): fit_i = max_{j≤i} min_{k≥i} avg(y[j..k]). PAVA itself
    * is a data-dependent sequential merge loop — unportable across
    * engines — but the minimax closed form is pure joins over the
    * BOUNDED 64-bin relation (≤64³ combinations, free at any corpus
    * size), so both engines compute the identical fit from identical
    * integer prefix tallies with one double division per (j,k) range.
    * This is the calibration map q252 stops short of: q252 DIAGNOSES
    * per-bin miscalibration, the isotonic fit is the monotone
    * correction you apply (Zadrozny & Elkan, KDD 2002). Range averages
    * need no emptiness guards: ranges are anchored at PRESENT bins j,k,
    * so the weight N_k − Nprev_j ≥ n_j > 0 by construction. */
  def isotonic(spark: SparkSession, dir: String): DataFrame = {
    val bins = t(spark, dir, "lineitem")
      .select(scoreCol.as("s"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .withColumn("p_ppm", least(col("s") * 20, lit(1000000L)))
      .withColumn("bin", least(expr("p_ppm div 15625"), lit(63L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wc = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = bins // ≤64 rows: the single-partition window is bounded
      .withColumn("cn", sum(col("n")).over(wc))
      .withColumn("cs", sum(col("pos")).over(wc))
      .cutLineage() // three self-join roles below
    val j = pref.select(col("bin").as("jb"),
      (col("cn") - col("n")).as("npj"), (col("cs") - col("pos")).as("spj"))
    val k = pref.select(col("bin").as("kb"), col("cn").as("nk"),
      col("cs").as("sk"))
    val fit = j.join(k, col("jb") <= col("kb"))
      .withColumn("avg_jk",
        (col("sk") - col("spj")).cast("double") /
          (col("nk") - col("npj")).cast("double"))
      .join(pref.select(col("bin").as("ib")),
        col("jb") <= col("ib") && col("kb") >= col("ib"))
      .groupBy(col("ib"), col("jb"))
      .agg(min(col("avg_jk")).as("minod"))
      .groupBy(col("ib")).agg(max(col("minod")).as("fit"))
    // readout joins back to the CHECKPOINTED pref (which carries
    // bin/n/pos), not the raw `bins` relation — otherwise the 64-bin
    // corpus aggregation would be re-derived a second time and the
    // "corpus contributes one partial-agg'd scan" shape would be a lie
    pref.select(col("bin"), col("n"), col("pos"))
      .join(fit, col("bin") === col("ib"))
      .select(col("bin"), col("n"), col("pos"),
        (round(col("pos").cast("double") / col("n"), 6) + lit(0.0))
          .as("raw_rate_r"),
        (round(col("fit"), 6) + lit(0.0)).as("fit_r"))
  }

  /** Offline policy evaluation by REPLAY (Li, Chu, Langford & Wang,
    * WSDM 2011 — the unbiased way to score a recommendation policy on
    * logged data without deploying it): the candidate policy π
    * recommends, at each logged event, the event type with the highest
    * PRIOR cumulative spend for that user (ties → alphabetical, the
    * cold-start default); only logged events whose action AGREES with
    * π's recommendation count, and their mean reward estimates the
    * policy's online value. The five per-type running sums share ONE
    * window spec (one exchange, one sort — Spark collapses same-spec
    * windows); everything else is exact integer cents with a CASE-chain
    * argmax over the five columns (the cohensKappa greatest+fold
    * discipline — no float, no engine-specific argmax). Readout per
    * recommended type: match rate (the replay estimator's effective
    * sample size) and matched-vs-all mean reward. */
  def policyReplay(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // all five window columns in ONE projection so Catalyst collapses
    // them into a single Window operator (sequential withColumns left
    // five stacked Window nodes — same one exchange + sort, but five
    // operator passes; the collapsed form is one)
    val withCums = ev.select(col("*") +: types.map(t0 =>
      coalesce(sum(when(col("event_type") === t0, col("cents")))
        .over(w), lit(0L)).as(s"c_$t0")): _*)
    val mx = greatest(types.map(t0 => col(s"c_$t0")): _*)
    val pi = types.foldRight(lit("?"): Column) { case (t0, rest) =>
      when(col(s"c_$t0") === mx, lit(t0)).otherwise(rest) }
    withCums.withColumn("pi", pi)
      .groupBy(col("pi"))
      .agg(count(lit(1)).as("n_logged"),
        sum(when(col("event_type") === col("pi"), 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(col("event_type") === col("pi"), col("cents"))
          .otherwise(0L)).as("matched_cents"),
        sum(col("cents")).as("all_cents"))
      .select(col("pi"), col("n_logged"), col("n_matched"),
        (round(col("n_matched").cast("double") / col("n_logged"), 6)
          + lit(0.0)).as("match_rate_r"),
        when(col("n_matched") > 0,
          round(col("matched_cents").cast("double") / col("n_matched"), 6)
            + lit(0.0)).as("matched_mean_r"),
        (round(col("all_cents").cast("double") / col("n_logged"), 6)
          + lit(0.0)).as("logged_mean_r"))
  }

  /** Sample-ratio mismatch guardrail (Fabijan et al., KDD 2019 calls
    * SRM "the most useful A/B alarm"): a 50/50 hash split whose
    * realized arm sizes differ beyond chance means the assignment or
    * logging pipeline is broken and EVERY downstream readout (q216,
    * q262, q277) is invalid — so this check runs first. The unit is
    * the RANDOMIZATION unit (distinct users, not events — event-level
    * counting would let one heavy user fake a mismatch). For two equal
    * expected cells the χ² statistic collapses to (n₀−n₁)²/(n₀+n₁):
    * exact integers, one double division, verdict banded on the
    * rounded value against the 1-df 95%/99.9% critical values. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    t(spark, dir, "events")
      .select(col("user_id")).distinct()
      .select((TextOps.portableHash(concat(lit("arm:"),
        col("user_id").cast("string"))) % 2).as("arm"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"))
      .withColumn("chi2_r",
        round(((col("n0") - col("n1")) * (col("n0") - col("n1")))
          .cast("double") / (col("n0") + col("n1")).cast("double"), 6)
          + lit(0.0))
      .select(col("n0"), col("n1"), col("chi2_r"),
        when(col("chi2_r") > 10.828, "srm_critical")
          .when(col("chi2_r") > 3.841, "srm_warning")
          .otherwise("balanced").as("verdict"))
  }

  /** A/B test power planning (the standard two-proportion sample-size
    * formula, e.g. Fleiss, Levin & Paik §2.5): how many users per arm
    * to detect a 10% relative lift on the user-level conversion rate
    * at α = 0.05 (two-sided), power 0.8 — and is THIS corpus big
    * enough? Observed p₀ = users-with-a-purchase / users, kept ppm-
    * exact; the normal quantiles are data-free constants (1.959964,
    * 0.841621), so the only data-dependent floats derive from one
    * exact integer ratio — both engines compute the identical n. The
    * corpus collapses to two scalars in one distinct-agg pass;
    * `powered` states whether the available users reach the
    * requirement (the go/no-go a real experiment review asks). */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    // conversion = a HIGH-VALUE purchase (>= $200): every user fires
    // a plain purchase inside this corpus's 30-day window, which would
    // degenerate p0 to 1.0 and the lift formula to n = 0
    val perUser = t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)") >= 20000L, 1L)
        .otherwise(0L)).as("conv"))
    perUser
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .withColumn("p0_ppm", expr("n_conv * 1000000 div n_users"))
      .withColumn("n_required", expr(powerNSql))
      .select(col("n_users"), col("n_conv"), col("p0_ppm"),
        col("n_required"),
        // coalesce: zero users make n_required NULL and the comparison
        // UNKNOWN — "insufficient data" is declared NOT powered, in
        // both engines (r16 adversarial sweep)
        coalesce(col("n_users") >= col("n_required") * 2, lit(false))
          .as("powered"))
  }

  /** Shared two-proportion sample-size fragment (per arm, detecting a
    * 10% relative lift at α=0.05 two-sided / power 0.8) — spliced into
    * both engines so the IEEE sequence is identical. Reads `p0_ppm`. */
  private[operators] val powerNSql: String = {
    val p0 = "(CAST(p0_ppm AS DOUBLE) / 1000000.0)"
    val p1 = s"($p0 * 1.1)"
    val pbar = s"(($p0 + $p1) / 2.0)"
    s"""CAST(ceil(
       |  (1.959964 * sqrt(2.0 * $pbar * (1.0 - $pbar)) +
       |   0.841621 * sqrt($p0 * (1.0 - $p0) + $p1 * (1.0 - $p1))) *
       |  (1.959964 * sqrt(2.0 * $pbar * (1.0 - $pbar)) +
       |   0.841621 * sqrt($p0 * (1.0 - $p0) + $p1 * (1.0 - $p1))) /
       |  nullif(($p1 - $p0) * ($p1 - $p0), 0.0)) AS BIGINT)""".stripMargin
  }

  /** Exact Shapley decomposition of explained variance across two
    * features (the LMG / Shapley-value relative-importance statistic,
    * Grömping 2007; the closed-form 2-player case of SHAP's coalition
    * game): how much of the price variance does quantity vs discount
    * deserve credit for, counting their overlap fairly? v(S) = the
    * between-group sum of squares of the group-mean predictor over
    * feature set S; φ_qty = ½[(v{q}−v∅) + (v{q,d}−v{d})], the exact
    * Shapley average over both join orders. The corpus collapses to
    * the ≤550-cell (quantity × discount) relation in ONE partial-agg'd
    * pass; every coalition's v is a rollup of that bounded relation.
    * Exactness: each group term is the integer quantization s²_g div
    * n_g (positive, so div ≡ //; ≤1 cent² error per group — identical
    * in both engines, documented), sums stay < 2⁶³ here with HUGEINT/
    * decimal(38) intermediates for s²; TSS = Σy² − S²/N rides
    * decimal(38). φ is emitted as the exact integer 2·φ plus one
    * rounded share; the spec pins the efficiency identity
    * φ_q + φ_d = v{q,d}. */
  def shapleyR2(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("q"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("d"),
        // whole DOLLARS, not cents: the S² div N quotient must stay
        // far from 2⁶³ (at cents it crosses it near this very SF, and
        // Spark's decimal IntegralDivide wraps the long silently)
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)" +
          " div 100").as("y"))
      .groupBy(col("q"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("s2"))
      .cutLineage() // rolled up four ways below
    def w(groups: Seq[String]): DataFrame = {
      val g = if (groups.isEmpty)
        cells.agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      else cells.groupBy(groups.map(col): _*)
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      // the per-group quotient fits a long to ~sf0.3 but the SUM of
      // quotients crosses 2⁶³ already at sf0.1 — accumulate decimal(38)
      g.agg(sum(expr("CAST(CAST(s AS DECIMAL(38,0)) * s div n" +
        " AS DECIMAL(38,0))")).as("w"))
    }
    // integral-div quantization, matching the W terms (S² div N stays
    // < 2⁶³ to ~sf0.3; beyond, the quotient itself moves to decimal —
    // the q261 precedent)
    val tss = cells.agg(
      (sum(col("s2")) - expr(
        "CAST(sum(s) AS DECIMAL(38,0)) * sum(s) div sum(n)"))
        .as("tss"))
    val parts = w(Seq("q", "d")).select(col("w").as("w_qd"))
      .crossJoin(broadcast(w(Seq("q")).select(col("w").as("w_q"))))
      .crossJoin(broadcast(w(Seq("d")).select(col("w").as("w_d"))))
      .crossJoin(broadcast(w(Nil).select(col("w").as("w0"))))
      .crossJoin(broadcast(tss))
    parts.select(
      expr("stack(2, 'quantity', " +
        "(w_q - w0) + (w_qd - w_d), (w_q - w0), " +
        "'discount', (w_d - w0) + (w_qd - w_q), (w_d - w0)) " +
        "AS (feature, phi2, v_alone)"),
      (col("w_qd") - col("w0")).as("v_joint"), col("tss"))
      .select(col("feature"),
        // output boundary: BIGINT, never decimal (r11 verdict №2 — the
        // q262 dtype-portability rule). Dollar-quantized W terms keep
        // 2φ ≲ 4e15 at sf1; BIGINT holds to ~sf10, past which the
        // exact-integer columns would drop in favor of the shares.
        col("phi2").cast("long").as("phi2"),
        col("v_alone").cast("long").as("v_alone"),
        // nullif(tss, 0): a single-row slice has zero total variance —
        // the shares are undefined, NULL in both engines (r16 sweep)
        (round(col("phi2").cast("double") /
          nullif(lit(2.0) * col("tss").cast("double"), lit(0.0)), 6)
          + lit(0.0))
          .as("shapley_share_r"),
        (round(col("v_alone").cast("double") /
          nullif(col("tss").cast("double"), lit(0.0)), 6) + lit(0.0))
          .as("alone_share_r"),
        (round(col("v_joint").cast("double") /
          nullif(col("tss").cast("double"), lit(0.0)), 6) + lit(0.0))
          .as("joint_share_r"))
  }

  /** Shared Mann–Whitney z fragment over (u2 = 2·U₁, n1, n0, tt =
    * Σ(t³−t)) — spliced verbatim into BOTH engines so the IEEE sequence
    * is identical. Variance carries the tie correction of Kendall's
    * rank-methods treatment: Var U = n1·n0/12·((n+1) − Σ(t³−t)/(n(n−1))).
    */
  private def mwuZSql: String =
    // nullif guards (shared fragment -> both engines): a one-group or
    // single-observation slice has zero U variance and the tie-term
    // denominator (n)(n-1) is zero at n = 1 — z is undefined there,
    // surfaced as NULL, never an ANSI divide-by-zero (r16 sweep)
    "((CAST(u2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * n0 / 2.0) / " +
      "nullif(sqrt(CAST(n1 AS DOUBLE) * n0 / 12.0 * " +
      "((CAST(n1 AS DOUBLE) + n0 + 1.0) - CAST(tt AS DOUBLE) / " +
      "nullif((CAST(n1 AS DOUBLE) + n0) * " +
      "(CAST(n1 AS DOUBLE) + n0 - 1.0), 0.0))), 0.0))"

  /** Mann–Whitney U test (Mann & Whitney, Ann. Math. Stat. 1947) on
    * line-item quantity between the two line statuses — the UNPAIRED
    * nonparametric location test completing the family: q314 Wilcoxon
    * is the paired form, q251's AUC is numerically U/(n1·n0) but
    * reports no inference; this one reports the tie-corrected normal
    * z and a verdict. The corpus collapses to the (quantity → n1, n0)
    * relation FIRST (one partial-agg'd shuffle, ≤ 50 rows — quantity's
    * bounded domain), so 2·U₁ = Σ_s n1(s)·(2·cumn0_<(s) + n0(s)) is an
    * exact integer from a bounded window, and the tie term Σ(t³−t)
    * rides decimal(38) (t³ crosses 2⁶³ near ~10× sf0.1; oracle
    * HUGEINT). With a 50-value domain the tie correction is not a
    * refinement but most of the variance — the uncorrected z would be
    * ~misscaled, which is exactly why the corrected form is the one
    * worth gating. z is the one fixed-order [[mwuZSql]] double. iid
    * statuses → the gate pins not-significant honestly. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val g = t(spark, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("s"),
        when(col("l_linestatus") === "F", 1L).otherwise(0L).as("y1"))
      .groupBy(col("s"))
      .agg(sum(col("y1")).as("m1"), (count(lit(1)) - sum(col("y1"))).as("m0"))
    val wLt = Window.orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    g // bounded ≤ 50 rows: the collapse-then-window house shape
      .withColumn("cum0lt", coalesce(sum(col("m0")).over(wLt), lit(0L)))
      .agg(sum(col("m1")).as("n1"), sum(col("m0")).as("n0"),
        sum(col("m1") * (lit(2L) * col("cum0lt") + col("m0"))).as("u2"),
        sum((col("m1") + col("m0")).cast("decimal(38,0)") *
          (col("m1") + col("m0")) * (col("m1") + col("m0")) -
          (col("m1") + col("m0"))).as("tt"))
      .select(col("n1"), col("n0"), col("u2"),
        (round(expr(mwuZSql), 6) + lit(0.0)).as("z_r"),
        expr(s"CASE WHEN abs($mwuZSql) > 1.96 THEN 'significant_95' " +
          "ELSE 'not_significant' END").as("verdict"))
  }

  private def mannWhitneySql: String =
    s"""WITH g AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS s,
      |    CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS m1,
      |    CAST(sum(CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END)
      |      AS BIGINT) AS m0
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT m1, m0,
      |    CAST(coalesce(sum(m0) OVER (ORDER BY s ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum0lt
      |  FROM g),
      |agg AS (
      |  SELECT CAST(sum(m1) AS BIGINT) AS n1,
      |    CAST(sum(m0) AS BIGINT) AS n0,
      |    CAST(sum(m1 * (2 * cum0lt + m0)) AS BIGINT) AS u2,
      |    sum(CAST(m1 + m0 AS HUGEINT) * (m1 + m0) * (m1 + m0)
      |      - (m1 + m0)) AS tt
      |  FROM c)
      |SELECT n1, n0, u2,
      |  round($mwuZSql, 6) + 0.0 AS z_r,
      |  CASE WHEN abs($mwuZSql) > 1.96 THEN 'significant_95'
      |       ELSE 'not_significant' END AS verdict
      |FROM agg""".stripMargin

  /** Shared Kendall τ-b fragment over (c, d, np, tx, ty) — identical
    * IEEE sequence in both engines. */
  private def tauBSql: String =
    "(CAST(c - d AS DOUBLE) / " +
      "nullif(sqrt(CAST(np - tx AS DOUBLE) * CAST(np - ty AS DOUBLE))," +
      " 0.0))"

  /** Kendall rank correlation τ-b (Kendall, Biometrika 1938; τ-b is
    * the tie-adjusted form) between per-nation order volume and
    * per-nation revenue — the concordance complement to q255's
    * Spearman: Spearman squares rank GAPS, Kendall counts pairwise
    * ORDER AGREEMENTS, and the two disagree exactly when a few large
    * rank swaps hide among many small ones. The corpus collapses to
    * the 25-nation (x = n_orders, y = Σcents) relation in ONE dim-join
    * partial agg; concordant / discordant / tie tallies are exact
    * integers off the bounded 25×25 self-join (the q314 pairwise
    * shape); τ-b is the one fixed-order [[tauBSql]] double. The
    * sign products ride decimal(38): (x_a−x_b)·(y_a−y_b) crosses 2⁶³
    * near ~10× sf0.1 (y gaps are cents-scale), oracle HUGEINT. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("nat"))
      .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
      .cutLineage() // bounded 25 rows; feeds both self-join sides
    cells.as("a").join(cells.as("b"), col("a.nat") < col("b.nat"))
      .select(
        (col("a.x") - col("b.x")).cast("decimal(38,0)")
          .multiply((col("a.y") - col("b.y")).cast("decimal(38,0)"))
          .as("prod"),
        (col("a.x") === col("b.x")).as("tiex"),
        (col("a.y") === col("b.y")).as("tiey"))
      .agg(count(lit(1)).as("np"),
        sum(when(col("prod") > 0, 1L).otherwise(0L)).as("c"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).as("d"),
        sum(when(col("tiex"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("tiey"), 1L).otherwise(0L)).as("ty"))
      .select(col("np").as("n_pairs"), col("c").as("n_conc"),
        col("d").as("n_disc"), col("tx").as("ties_x"),
        col("ty").as("ties_y"),
        (round(expr(tauBSql), 6) + lit(0.0)).as("tau_b_r"))
  }

  private def kendallTauSql: String =
    s"""WITH cells AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nat,
      |    CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |p AS (
      |  SELECT CAST(a.x - b.x AS HUGEINT) * (a.y - b.y) AS prod,
      |    a.x = b.x AS tiex, a.y = b.y AS tiey
      |  FROM cells a JOIN cells b ON a.nat < b.nat),
      |agg AS (
      |  SELECT count(*) AS np,
      |    CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c,
      |    CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d,
      |    CAST(sum(CASE WHEN tiex THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |    CAST(sum(CASE WHEN tiey THEN 1 ELSE 0 END) AS BIGINT) AS ty
      |  FROM p)
      |SELECT np AS n_pairs, c AS n_conc, d AS n_disc, tx AS ties_x,
      |  ty AS ties_y, round($tauBSql, 6) + 0.0 AS tau_b_r
      |FROM agg""".stripMargin

  /** Split-conformal prediction-interval coverage (Vovk's inductive
    * conformal; Lei, G'Sell, Rinaldo, Tibshirani & Wasserman, JASA
    * 2018 — the distribution-free coverage guarantee every model
    * serving layer can wrap around ANY point predictor): fit on the
    * train folds (o_orderkey mod 5 ∈ {2,3,4} — here the deterministic
    * stand-in predictor is the per-segment mean, the house convention
    * for "a model" since [[rocAuc]]), take the ⌈0.9·(n+1)⌉-th smallest
    * absolute residual on the calibration fold (mod 5 = 0) as the
    * interval half-width q̂, then audit empirical coverage on the test
    * fold (mod 5 = 1) — finite-sample theory guarantees ≥ 90%, and
    * the gate pins the observed rate. Everything is exact integers:
    * ŷ = Σcents div n (integral), residuals dollar-quantized
    * (div 100), the order statistic comes from a cumulative over the
    * COLLAPSED (residual-dollar → count) relation — one partial-agg'd
    * shuffle, never a corpus sort — and coverage is one more counting
    * pass with q̂ broadcast. At 100 TB: two scans + a ≤|residual
    * domain| window; the quantile never touches corpus-sized input. */
  def conformal(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val base = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"),
        (col("o_orderkey") % 5).cast("long").as("fold"))
      .join(broadcast(cust), Seq("ck"))
      .cutLineage() // three folds consume it: train, cal, test
    val segMean = base.filter(col("fold") >= 2)
      .groupBy(col("seg"))
      .agg(expr("sum(cents) div count(1)").as("yhat"))
    def resid(fold: Int): DataFrame = base.filter(col("fold") === fold)
      .join(broadcast(segMean), Seq("seg"))
      .select(expr("abs(cents - yhat) div 100").as("rd"))
    // the residual-dollar domain saturates at the FIXED price range
    // (~600k values), not a small constant — the r15 bounded-window lint
    // flagged the single-partition cumulative growing 300 -> 2985 across
    // a 10x corpus. Two-level prefix sum instead: a partitioned
    // cumulative within 1000-dollar blocks (parallel, each block ≤ 1000
    // rows) plus ONE unpartitioned pass over the block totals (≤ ~600
    // rows at saturation — genuinely domain-bounded). cum values are
    // identical, so q_hat and the oracle are unchanged.
    val calCnt = resid(0).groupBy(col("rd"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bk", expr("rd div 1000"))
      .cutLineage() // three consumers: block prefix, main cum, n_cal
    val wBk = Window.orderBy(col("bk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bkPrefix = calCnt.groupBy(col("bk"))
      .agg(sum(col("cnt")).as("bsum"))
      .withColumn("prev", coalesce(sum(col("bsum")).over(wBk), lit(0L)))
      .select(col("bk"), col("prev"))
    val wIn = Window.partitionBy(col("bk")).orderBy(col("rd").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val qhat = calCnt
      .withColumn("cum_in", sum(col("cnt")).over(wIn))
      .join(bkPrefix, Seq("bk"))
      .withColumn("cum", col("cum_in") + col("prev"))
      .crossJoin(broadcast(calCnt.agg(sum(col("cnt")).as("n_cal"))))
      .filter(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"))
      .agg(min(col("rd")).as("q_hat_dollars"),
        max(col("n_cal")).as("n_cal"))
    resid(1).crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"),
        max(expr("(9 * (n_cal + 1) + 9) div 10")).as("k_rank"),
        max(col("q_hat_dollars")).as("q_hat_dollars"),
        count(lit(1)).as("n_test"),
        sum(when(col("rd") <= col("q_hat_dollars"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_cal"), col("k_rank"), col("q_hat_dollars"),
        col("n_test"), col("n_covered"),
        expr("n_covered * 1000000 div n_test").as("coverage_ppm"))
  }

  private def conformalSql: String =
    """WITH base AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(o_orderkey % 5 AS BIGINT) AS fold, c.c_mktsegment AS seg
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |sm AS (
      |  SELECT seg, CAST(sum(cents) // count(*) AS BIGINT) AS yhat
      |  FROM base WHERE fold >= 2 GROUP BY 1),
      |cal AS (
      |  SELECT abs(cents - yhat) // 100 AS rd
      |  FROM base JOIN sm USING (seg) WHERE fold = 0),
      |cc AS (SELECT rd, count(*) AS cnt FROM cal GROUP BY 1),
      |nc AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_cal FROM cc),
      |cum AS (
      |  SELECT rd, sum(cnt) OVER (ORDER BY rd ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM cc),
      |qh AS (
      |  SELECT min(rd) AS q_hat_dollars, max(n_cal) AS n_cal
      |  FROM cum, nc WHERE cum >= (9 * (n_cal + 1) + 9) // 10),
      |tst AS (
      |  SELECT abs(cents - yhat) // 100 AS rd
      |  FROM base JOIN sm USING (seg) WHERE fold = 1)
      |SELECT max(n_cal) AS n_cal,
      |  CAST(max((9 * (n_cal + 1) + 9) // 10) AS BIGINT) AS k_rank,
      |  max(q_hat_dollars) AS q_hat_dollars,
      |  count(*) AS n_test,
      |  CAST(sum(CASE WHEN rd <= q_hat_dollars THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_covered,
      |  CAST(sum(CASE WHEN rd <= q_hat_dollars THEN 1 ELSE 0 END)
      |    * 1000000 // count(*) AS BIGINT) AS coverage_ppm
      |FROM tst, qh""".stripMargin

  /** Cramer 3×3 determinant fragments over the IRLS sufficient
    * statistics (g1..g3, h11..h33), parameterized on the wide-integer
    * cast (`DECIMAL(38,0)` Spark-side, `HUGEINT` oracle-side — the
    * dets are EXACT integers either way, so engine parity needs no
    * shared IEEE sequence until the final double division). */
  private def irlsDetSqls(ct: String): (String, String, String, String) = {
    def c(x: String) = s"CAST($x AS $ct)"
    val det = s"${c("h11")} * (${c("h22")} * h33 - ${c("h23")} * h23)" +
      s" - ${c("h12")} * (${c("h12")} * h33 - ${c("h23")} * h13)" +
      s" + ${c("h13")} * (${c("h12")} * h23 - ${c("h22")} * h13)"
    val d1 = s"${c("g1")} * (${c("h22")} * h33 - ${c("h23")} * h23)" +
      s" - ${c("h12")} * (${c("g2")} * h33 - ${c("h23")} * g3)" +
      s" + ${c("h13")} * (${c("g2")} * h23 - ${c("h22")} * g3)"
    val d2 = s"${c("h11")} * (${c("g2")} * h33 - ${c("g3")} * h23)" +
      s" - ${c("g1")} * (${c("h12")} * h33 - ${c("h23")} * h13)" +
      s" + ${c("h13")} * (${c("h12")} * g3 - ${c("g2")} * h13)"
    val d3 = s"${c("h11")} * (${c("h22")} * g3 - ${c("h23")} * g2)" +
      s" - ${c("h12")} * (${c("h12")} * g3 - ${c("g2")} * h13)" +
      s" + ${c("g1")} * (${c("h12")} * h23 - ${c("h22")} * h13)"
    (det, d1, d2, d3)
  }

  /** β_k = 0.1·det_k/det — the one double division per parameter; the
    * 0.1 restores the w7 (1e-7) / g (1e-6) unit split. Shared verbatim
    * by both engines over identically-named det columns. */
  private def irlsBetaSql(dk: String): String =
    s"CASE WHEN det = 0 THEN 0.0 ELSE " +
      s"0.1 * (CAST($dk AS DOUBLE) / CAST(det AS DOUBLE)) END"

  /** Per-cell predicted probability in micro units from a β row —
    * the ONE shared IEEE fragment of the whole operator. */
  private def irlsSigSql: String =
    "CAST(floor(1000000.0 / (1.0 + exp(-(b0 + b1 * x1 + b2 * x2)))" +
      " + 0.5) AS BIGINT)"

  /** The nine IRLS sufficient statistics of one Newton step, over a
    * (x1, x2, n, pos, pm) cell relation: g = X'(y − n·p) in micro
    * units, H = X'WX with w7 = p(1−p) quantized to 1e-7 units at the
    * CELL row — all ORDER-FREE integer sums. */
  private def irlsSums(cells: DataFrame): DataFrame = {
    val w7 = "(pm * (1000000 - pm) div 10000000)"
    cells.agg(
      sum(expr("pos * 1000000 - n * pm")).as("g1"),
      sum(expr("x1 * (pos * 1000000 - n * pm)")).as("g2"),
      sum(expr("x2 * (pos * 1000000 - n * pm)")).as("g3"),
      sum(expr(s"n * $w7")).as("h11"),
      sum(expr(s"x1 * n * $w7")).as("h12"),
      sum(expr(s"x2 * n * $w7")).as("h13"),
      sum(expr(s"x1 * x1 * n * $w7")).as("h22"),
      sum(expr(s"x1 * x2 * n * $w7")).as("h23"),
      sum(expr(s"x2 * x2 * n * $w7")).as("h33"))
  }

  /** Distributed logistic regression by two exact Newton/IRLS steps on
    * BINNED features (McCullagh & Nelder, Generalized Linear Models
    * ch. 4; the histogram/contingency formulation is the PLANET trick
    * q294 uses for trees, applied to GLM fitting — Spark MLlib's own
    * LogisticRegression aggregates the same X'WX sufficient statistics
    * per partition): predict lineitem return from quantity decile ×
    * discount band. The corpus collapses to the ≤ 36-cell contingency
    * in ONE partial-agg pass; each Newton step is then cell-local
    * arithmetic — per-cell p quantized to micro FIRST ([[irlsSigSql]],
    * the only shared IEEE fragment), w = p·(10⁶−p) an exact integer,
    * so X'WX and the gradient are order-free integer sums, the 3×3
    * normal equations solve by exact-integer Cramer determinants
    * ([[irlsDetSqls]] — decimal(38)/HUGEINT; the dets cross 10³⁸ near
    * ~100× sf0.1, the documented switch point where the h-scale
    * quantization drops a digit), and β is one double division per
    * parameter. Output: both steps' β (the second step moves little —
    * the gate pins Newton's quadratic convergence honestly). At 100 TB
    * the cost is exactly one scan + one 36-key shuffle per step. */
  def logisticIrls(spark: SparkSession, dir: String): DataFrame = {
    val cells0 = t(spark, dir, "lineitem")
      .select(expr("CAST(l_quantity AS BIGINT) div 10").as("x1"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT) div 2")
          .as("x2"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("x1"), col("x2"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .cutLineage() // ≤ 36 rows; feeds both Newton steps
    val (det, d1, d2, d3) = irlsDetSqls("DECIMAL(38,0)")
    def beta(sums: DataFrame): DataFrame = sums
      .select(expr(det).as("det"), expr(d1).as("dd1"),
        expr(d2).as("dd2"), expr(d3).as("dd3"))
      .select(expr(irlsBetaSql("dd1")).as("b0"),
        expr(irlsBetaSql("dd2")).as("b1"),
        expr(irlsBetaSql("dd3")).as("b2"))
    val b1r = beta(irlsSums(cells0.withColumn("pm", lit(500000L))))
      .cutLineage() // 1 row; feeds step 2's p AND the output
    val cells2 = cells0.crossJoin(broadcast(b1r))
      .withColumn("pm", expr(irlsSigSql))
    // Newton step 2 is CUMULATIVE: β₂ = β₁ + H₂⁻¹g₂ (the delta alone
    // would be the convergence residual, not the estimate)
    val b2r = beta(irlsSums(cells2))
      .select(col("b0").as("e0"), col("b1").as("e1"),
        col("b2").as("e2"))
      .crossJoin(broadcast(b1r))
      .select((col("b0") + col("e0")).as("c0"),
        (col("b1") + col("e1")).as("c1"),
        (col("b2") + col("e2")).as("c2"))
    b1r.crossJoin(broadcast(b2r))
      .crossJoin(broadcast(cells0.agg(sum(col("n")).as("n_total"))))
      .select(col("n_total"),
        (round(col("b0"), 6) + lit(0.0)).as("b0_step1_r"),
        (round(col("b1"), 6) + lit(0.0)).as("b1_step1_r"),
        (round(col("b2"), 6) + lit(0.0)).as("b2_step1_r"),
        (round(col("c0"), 6) + lit(0.0)).as("b0_step2_r"),
        (round(col("c1"), 6) + lit(0.0)).as("b1_step2_r"),
        (round(col("c2"), 6) + lit(0.0)).as("b2_step2_r"))
  }

  private def logisticIrlsSql: String = {
    val (det, d1, d2, d3) = irlsDetSqls("HUGEINT")
    val w7 = "(pm * (1000000 - pm) // 10000000)"
    def sums(src: String) =
      s"""SELECT
        |    CAST(sum(pos * 1000000 - n * pm) AS BIGINT) AS g1,
        |    CAST(sum(x1 * (pos * 1000000 - n * pm)) AS BIGINT) AS g2,
        |    CAST(sum(x2 * (pos * 1000000 - n * pm)) AS BIGINT) AS g3,
        |    CAST(sum(n * $w7) AS BIGINT) AS h11,
        |    CAST(sum(x1 * n * $w7) AS BIGINT) AS h12,
        |    CAST(sum(x2 * n * $w7) AS BIGINT) AS h13,
        |    CAST(sum(x1 * x1 * n * $w7) AS BIGINT) AS h22,
        |    CAST(sum(x1 * x2 * n * $w7) AS BIGINT) AS h23,
        |    CAST(sum(x2 * x2 * n * $w7) AS BIGINT) AS h33
        |  FROM $src""".stripMargin
    s"""WITH cells AS (
      |  SELECT CAST(l_quantity AS BIGINT) // 10 AS x1,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) // 2 AS x2,
      |    count(*) AS n,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM lineitem GROUP BY 1, 2),
      |s1 AS (
      |  ${sums("(SELECT *, CAST(500000 AS BIGINT) AS pm FROM cells)")}),
      |dt1 AS (
      |  SELECT $det AS det, $d1 AS dd1, $d2 AS dd2, $d3 AS dd3
      |  FROM s1),
      |b1 AS (
      |  SELECT ${irlsBetaSql("dd1")} AS b0,
      |    ${irlsBetaSql("dd2")} AS b1, ${irlsBetaSql("dd3")} AS b2
      |  FROM dt1),
      |cells2 AS (
      |  SELECT x1, x2, n, pos, $irlsSigSql AS pm FROM cells, b1),
      |s2 AS (
      |  ${sums("cells2")}),
      |dt2 AS (
      |  SELECT $det AS det, $d1 AS dd1, $d2 AS dd2, $d3 AS dd3
      |  FROM s2),
      |b2 AS (
      |  SELECT b0 + (${irlsBetaSql("dd1")}) AS c0,
      |    b1 + (${irlsBetaSql("dd2")}) AS c1,
      |    b2 + (${irlsBetaSql("dd3")}) AS c2
      |  FROM dt2, b1),
      |nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
      |SELECT n_total,
      |  round(b0, 6) + 0.0 AS b0_step1_r,
      |  round(b1, 6) + 0.0 AS b1_step1_r,
      |  round(b2, 6) + 0.0 AS b2_step1_r,
      |  round(c0, 6) + 0.0 AS b0_step2_r,
      |  round(c1, 6) + 0.0 AS b1_step2_r,
      |  round(c2, 6) + 0.0 AS b2_step2_r
      |FROM b1, b2, nt""".stripMargin
  }

  /** Bradley–Terry paired-comparison strengths by Hunter's MM
    * algorithm (Bradley & Terry, Biometrika 1952; Hunter, Ann. Stat.
    * 2004 — the model RLHF reward pipelines fit over preference
    * pairs): items = the 25 part brands, a comparison = two distinct
    * brands co-occurring in one order, winner = the brand with the
    * higher max line price (exact-tie comparisons drop — no
    * half-wins). The corpus collapses to the bounded wins matrix in
    * ONE partial-agg pass (per-order brand pairs are degree-bounded by
    * order width); three MM iterations then run entirely on the ≤
    * 25²-row relation: every division is integral with POSITIVE
    * operands (truncation = floor, engines agree), p re-normalized to
    * Σ = 10⁶ each round, so the whole fit is exact integer arithmetic
    * — no float ever sums across rows. The n·10¹² numerators ride
    * BigInt/HUGEINT (they cross 2⁶³ near ~30× sf0.1). Zero-win
    * items get p = 0 honestly; the p_i+p_j = 0 guard only fires if two
    * never-winning brands met, which the gate would surface.
    *
    * The MM iterations run DRIVER-SIDE on the collected ≤ 600-row wins
    * matrix (2·C(25,2) directed pairs — a model-domain constant, like
    * MMR's 20-row pool and the BPE argmax): the distributed form spent
    * 6 joins, 3 single-partition windows and 5 localCheckpoints per
    * execution on a relation that never exceeds 600 rows, and its dead
    * checkpoint blocks were the r14 +16% regression (a GC pause landing
    * inside a later query was measured once at 31 s). BigInt `/` on
    * positive operands truncates exactly like DuckDB HUGEINT `//`, so
    * the fit stays bit-identical to the oracle. At 100 TB only the ONE
    * corpus-collapse pass (per-order brand pairs → wins matrix) grows;
    * the collected state stays ≤ items².
    *
    * CONTRACT NOTE: the driver-side fit makes this catalog entry EAGER
    * — constructing the DataFrame executes the wins-matrix job, unlike
    * every other (lazy, plan-only) entry. Plan-only consumers
    * (PlanDump, BoundedWindowSpec) pay that one bounded job; anything
    * that must stay lazy should not call this builder. */
  def bradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val pb = t(spark, dir, "part")
      .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
    // within-order brand pairs by IN-ROW expansion over the sorted
    // per-order brand array (orders are ≤ a handful of brands wide):
    // one groupBy(ok) shuffle replaces the ob self-join's two join
    // shuffles + checkpoint — the q304-style degree-bounded collect
    val m = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(pb), Seq("pk"))
      // (r16 probe: fusing these two shuffles into one ok-keyed
      // collect_list + in-array brand-max measured +26% — the per-line
      // struct collect ships MORE bytes than the (ok,brand)-max partial
      // agg saves, and the array_sort+filter HOF is interpreted.
      // Two-shuffle form kept deliberately.)
      .groupBy(col("ok"), col("brand"))
      .agg(max(col("cents")).as("cents"))
      .groupBy(col("ok"))
      .agg(array_sort(collect_list(struct(col("brand"), col("cents"))))
        .as("arr"))
      .select(explode(expr("flatten(transform(arr, (x, i) -> " +
        "transform(slice(arr, i + 2, size(arr)), y -> " +
        "struct(x.brand AS bi, y.brand AS bj, " +
        "(x.cents > y.cents) AS iw, (x.cents = y.cents) AS tie))))"))
        .as("pr"))
      .filter(!col("pr.tie"))
      .groupBy(col("pr.bi").as("bi"), col("pr.bj").as("bj"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pr.iw"), 1L).otherwise(0L)).as("wi"))
    // ONE collect of the bounded directed-pair matrix (≤ 2·C(25,2) =
    // 600 rows); everything after is exact driver-side integer work
    val dRows = m.select(col("bi").as("i"), col("bj").as("j"), col("n"),
        col("wi").as("w"))
      .unionByName(m.select(col("bj").as("i"), col("bi").as("j"),
        col("n"), (col("n") - col("wi")).as("w")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val wins = dRows.groupBy(_._1).map { case (i, rs) =>
      i -> (rs.map(_._4).sum, rs.map(_._3).sum) // (wtot, ntot)
    }
    val T = BigInt(1000000000000L)
    var p: Map[String, BigInt] =
      wins.map { case (i, _) => i -> BigInt(1000000L) }.toMap
    for (_ <- 1 to 3) {
      val s = dRows.groupBy(_._1).map { case (i, rs) =>
        i -> rs.map { case (_, j, n, _) =>
          val den = p(i) + p(j)
          if (den > 0) BigInt(n) * T / den else BigInt(0)
        }.sum
      }
      val praw = wins.map { case (i, (wtot, _)) =>
        i -> (if (s(i) > 0) BigInt(wtot) * T / s(i) else BigInt(0))
      }
      val pt = praw.values.sum
      // degenerate wins matrix (every wtot = 0 ⇒ praw all 0 ⇒ pt = 0):
      // fall back to p = 0 rather than dividing by zero — mirrored in
      // the oracle's CASE WHEN pt > 0 guard, so both engines return
      // all-zero strengths instead of throwing / NULLing
      p = praw.map { case (i, v) =>
        i -> (if (pt > 0) v * 1000000 / pt else BigInt(0)) }.toMap
    }
    import spark.implicits._
    wins.toSeq
      .map { case (i, (wtot, ntot)) =>
        (i, ntot, wtot, p(i).toLong)
      }
      .sortBy { case (i, _, _, pm) => (-pm, i) }
      .zipWithIndex
      .map { case ((i, ntot, wtot, pm), rk) =>
        (i, ntot, wtot, pm, rk + 1L)
      }
      .toDF("brand", "n_matches", "n_wins", "p_micro", "rank")
  }

  private def bradleyTerrySql: String = {
    def iterSql(prev: String, k: Int): String =
      s"""s$k AS MATERIALIZED (
        |  SELECT d.i, CAST(sum(CASE WHEN pi.p + pj.p > 0 THEN
        |    CAST(d.n AS HUGEINT) * 1000000000000 // (pi.p + pj.p)
        |    ELSE 0 END) AS HUGEINT) AS s
        |  FROM d JOIN $prev pi ON pi.i = d.i
        |    JOIN $prev pj ON pj.i = d.j
        |  GROUP BY 1),
        |r$k AS MATERIALIZED (
        |  SELECT w.i, CASE WHEN s > 0 THEN
        |    CAST(w.wtot AS HUGEINT) * 1000000000000 // s
        |    ELSE 0 END AS praw
        |  FROM wins w JOIN s$k ON s$k.i = w.i),
        |p$k AS MATERIALIZED (
        |  SELECT i, CASE WHEN (SELECT sum(praw) FROM r$k) > 0 THEN
        |    CAST(praw * 1000000 // (SELECT sum(praw) FROM r$k) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS p
        |  FROM r$k)""".stripMargin
    s"""WITH ob AS MATERIALIZED (
      |  SELECT l_orderkey AS ok, p.p_brand AS brand,
      |    max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS cents
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |m AS MATERIALIZED (
      |  SELECT a.brand AS bi, b.brand AS bj, count(*) AS n,
      |    CAST(sum(CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END)
      |      AS BIGINT) AS wi
      |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
      |  WHERE a.cents <> b.cents
      |  GROUP BY 1, 2),
      |d AS MATERIALIZED (
      |  SELECT bi AS i, bj AS j, n, wi AS w FROM m
      |  UNION ALL
      |  SELECT bj AS i, bi AS j, n, n - wi AS w FROM m),
      |wins AS MATERIALIZED (
      |  SELECT i, CAST(sum(w) AS BIGINT) AS wtot,
      |    CAST(sum(n) AS BIGINT) AS ntot
      |  FROM d GROUP BY 1),
      |p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM wins),
      |${iterSql("p0", 1)},
      |${iterSql("p1", 2)},
      |${iterSql("p2", 3)}
      |SELECT w.i AS brand, w.ntot AS n_matches, w.wtot AS n_wins,
      |  p3.p AS p_micro,
      |  CAST(row_number() OVER (ORDER BY p3.p DESC, w.i ASC)
      |    AS BIGINT) AS rank
      |FROM wins w JOIN p3 ON p3.i = w.i""".stripMargin
  }

  /** Shared Cochran–Armitage χ² fragment over (tt = N·Σtr − R·Σtn,
    * den = R·(N−R)·(N·Σnt² − (Σnt)²), n) — one fixed-order double. */
  private def caChi2Sql: String =
    // nullif: a single-band or single-row slice has zero trend
    // variance (den = 0) — chi2 undefined, NULL in both engines
    "(CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) * n / " +
      "nullif(CAST(den AS DOUBLE), 0.0))"

  /** Cochran–Armitage trend test (Cochran, Biometrics 1954; Armitage,
    * Biometrics 1955) for a MONOTONE dose–response across the ordered
    * quantity bands — the test q312's ANOVA cannot express: ANOVA asks
    * "does ANY band differ?", this asks "does the return rate climb
    * WITH the dose?", which is the form feature-audit dashboards want
    * for ordinal features. The corpus collapses to the ≤ 6-level
    * (band → n, positives) census in one partial-agg pass; the trend
    * numerator T = N·Σtr − R·Σtn and its variance pieces are exact
    * integers on decimal(38)/HUGEINT (T² ≈ 10²³ at gate scale), χ²
    * (1 df, critical 3.841) is the one fixed-order [[caChi2Sql]]
    * double. iid bands → not-significant pinned honestly. */
  def cochranArmitage(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(expr("CAST(l_quantity AS BIGINT) div 10").as("t"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("m"), sum(col("y")).as("r"))
      .agg(sum(col("m")).as("n"), sum(col("r")).as("rr"),
        sum(col("t") * col("r")).as("str"),
        sum(col("t") * col("m")).as("stn"),
        sum(col("t") * col("t") * col("m")).as("st2n"))
      .select(col("n").as("n_total"), col("rr").as("n_pos"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * str - " +
          "CAST(rr AS DECIMAL(38,0)) * stn").as("tt"),
        expr("CAST(rr AS DECIMAL(38,0)) * (n - rr) * " +
          "(CAST(n AS DECIMAL(38,0)) * st2n - " +
          "CAST(stn AS DECIMAL(38,0)) * stn)").as("den"))
      .select(col("n_total"), col("n_pos"),
        (round(expr(caChi2Sql), 6) + lit(0.0)).as("chi2_r"),
        expr(s"CASE WHEN $caChi2Sql > 3.841 THEN 'significant_95' " +
          "ELSE 'not_significant' END").as("verdict"))
  private def cochranArmitageSql: String =
    s"""WITH cells AS (
      |  SELECT CAST(l_quantity AS BIGINT) // 10 AS t,
      |    count(*) AS m,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r
      |  FROM lineitem GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(m) AS BIGINT) AS n,
      |    CAST(sum(r) AS BIGINT) AS rr,
      |    CAST(sum(t * r) AS BIGINT) AS str,
      |    CAST(sum(t * m) AS BIGINT) AS stn,
      |    CAST(sum(t * t * m) AS BIGINT) AS st2n
      |  FROM cells),
      |d AS (
      |  SELECT n, rr,
      |    CAST(n AS HUGEINT) * str - CAST(rr AS HUGEINT) * stn AS tt,
      |    CAST(rr AS HUGEINT) * (n - rr) * (CAST(n AS HUGEINT) * st2n
      |      - CAST(stn AS HUGEINT) * stn) AS den
      |  FROM s)
      |SELECT n AS n_total, rr AS n_pos,
      |  round($caChi2Sql, 6) + 0.0 AS chi2_r,
      |  CASE WHEN $caChi2Sql > 3.841 THEN 'significant_95'
      |       ELSE 'not_significant' END AS verdict
      |FROM d""".stripMargin

  /** Inverse-propensity-weighted ATE (Horvitz & Thompson, JASA 1952;
    * propensity form per Rosenbaum & Rubin, Biometrika 1983):
    * BUILDING-segment treatment effect on order value, weighting each
    * order by 1/ê(nation) (treated) or 1/(1−ê(nation)) (control) with
    * the propensity estimated per nation cell — the causal-inference
    * twin of q305: post-stratification weights strata by SIZE, IPW
    * re-weights UNITS, and the two disagree exactly when propensities
    * vary across strata. Per-nation terms stay exact rationals
    * (n·(s_t·n_c − s_c·n_t) / (n_t·n_c), decimal(38)/HUGEINT),
    * nearest-int-quantized to 10⁻⁴ dollars via the q305 positive
    * shift, then summed exactly; single-arm nations are excluded and
    * counted. One dim-join partial agg; everything after is bounded. */
  def ipwAte(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"),
        (col("c_mktsegment") === "BUILDING").as("treat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("nat"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treat"), col("cents")).otherwise(0L)).as("st"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("treat"), col("cents")).otherwise(0L)).as("sc"))
      .filter(col("nt") > 0 && col("nc") > 0)
      .cutLineage() // bounded ≤ 25 rows; feeds totals AND terms
    val tot = cells.agg(sum(col("nt") + col("nc")).as("nn"),
      count(lit(1)).as("n_strata_used"))
    cells.crossJoin(broadcast(tot))
      .select(col("nn"), col("n_strata_used"),
        expr("CAST((2 * (CAST(nt AS DECIMAL(38,0)) + nc) * " +
          "(CAST(st AS DECIMAL(38,0)) * nc - " +
          "CAST(sc AS DECIMAL(38,0)) * nt) * 100 " +
          "+ CAST(nt AS DECIMAL(38,0)) * nc " +
          "+ 2 * CAST(10000000000000 AS DECIMAL(38,0)) * nt * nc) div " +
          "(2 * CAST(nt AS DECIMAL(38,0)) * nc) - 10000000000000 " +
          "AS BIGINT)").as("term_e4"))
      .groupBy(col("nn"), col("n_strata_used"))
      .agg(sum(col("term_e4")).as("sum_e4"))
      .select(col("nn").as("n_orders_used"), col("n_strata_used"),
        col("sum_e4"),
        (round(col("sum_e4").cast("double") /
          (col("nn").cast("double") * 10000.0), 6) + lit(0.0))
          .as("ate_dollars_r"))
  }

  private def ipwAteSql: String =
    """WITH cells AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nat,
      |    CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1
      |      ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS st,
      |    CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 0
      |      ELSE 1 END) AS BIGINT) AS nc,
      |    CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 0 ELSE
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
      |      AS BIGINT) AS sc
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1
      |  HAVING sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1
      |    ELSE 0 END) > 0 AND sum(CASE WHEN c.c_mktsegment =
      |    'BUILDING' THEN 0 ELSE 1 END) > 0),
      |tot AS (
      |  SELECT CAST(sum(nt + nc) AS BIGINT) AS nn,
      |    count(*) AS n_strata_used
      |  FROM cells),
      |terms AS (
      |  SELECT nn, n_strata_used,
      |    CAST((2 * (CAST(nt AS HUGEINT) + nc) *
      |      (CAST(st AS HUGEINT) * nc - CAST(sc AS HUGEINT) * nt) * 100
      |      + CAST(nt AS HUGEINT) * nc
      |      + 2 * CAST(10000000000000 AS HUGEINT) * nt * nc) //
      |      (2 * CAST(nt AS HUGEINT) * nc) - 10000000000000
      |      AS BIGINT) AS term_e4
      |  FROM cells, tot)
      |SELECT nn AS n_orders_used, n_strata_used,
      |  CAST(sum(term_e4) AS BIGINT) AS sum_e4,
      |  round(CAST(sum(term_e4) AS DOUBLE) /
      |    (CAST(nn AS DOUBLE) * 10000.0), 6) + 0.0 AS ate_dollars_r
      |FROM terms GROUP BY 1, 2""".stripMargin

  /** McNemar's test on paired binary annotators (McNemar,
    * Psychometrika 1947; Edwards 1948 continuity correction) — the
    * "did the new quality filter change verdicts ASYMMETRICALLY?"
    * check every labeling-pipeline migration runs: two deterministic
    * document rules (length ≥ 300 chars vs ≥ 55 tokens) score the
    * same rows, and only the DISAGREEING cells b (A-only) and c
    * (B-only) carry information. One scan-local pass to four exact
    * counters; χ² = (|b−c|−1)²/(b+c), 1 df. */
  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val chi = "(CAST((abs(b - c) - 1) AS DOUBLE) * (abs(b - c) - 1) " +
      "/ (b + c))"
    t(spark, dir, "documents")
      .select((col("n_chars") >= 300L).as("a"),
        (size(split(col("text"), " ")) >= 55).as("bb"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a") && col("bb"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("a") && !col("bb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("a") && col("bb"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("a") && !col("bb"), 1L).otherwise(0L))
          .as("n_neither"))
      .select(col("n_docs"), col("n_both"), col("b").as("n_a_only"),
        col("c").as("n_b_only"), col("n_neither"),
        when(col("b") + col("c") === 0, lit(null).cast("double"))
          .otherwise(round(expr(chi), 6) + lit(0.0)).as("chi2_r"),
        expr(s"CASE WHEN b + c = 0 THEN 'no_disagreements' " +
          s"WHEN $chi > 3.841 THEN 'significant_95' " +
          "ELSE 'not_significant' END").as("verdict"))
  }

  private def mcnemarSql: String = {
    val chi = "(CAST((abs(b - c) - 1) AS DOUBLE) * (abs(b - c) - 1) " +
      "/ (b + c))"
    s"""WITH f AS (
      |  SELECT n_chars >= 300 AS a,
      |    len(string_split(text, ' ')) >= 55 AS bb
      |  FROM documents),
      |s AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(CASE WHEN a AND bb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_both,
      |    CAST(sum(CASE WHEN a AND NOT bb THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN NOT a AND bb THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN NOT a AND NOT bb THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_neither
      |  FROM f)
      |SELECT n_docs, n_both, b AS n_a_only, c AS n_b_only, n_neither,
      |  CASE WHEN b + c = 0 THEN NULL
      |       ELSE round($chi, 6) + 0.0 END AS chi2_r,
      |  CASE WHEN b + c = 0 THEN 'no_disagreements'
      |       WHEN $chi > 3.841 THEN 'significant_95'
      |       ELSE 'not_significant' END AS verdict
      |FROM s""".stripMargin
  }

  /** Levene's variance-homogeneity test across the five market
    * segments (Levene 1960) — the assumption check q312's ANOVA rests
    * on (equal group variances) promoted to its own gated operator:
    * Levene IS an ANOVA on the absolute deviations z = |y − ȳ_g|, so
    * the implementation literally reuses the shared [[anovaFSql]]
    * fragment family on transformed values. Exactness: ȳ_g is an
    * exact rational s_g/n_g, so z quantizes at the ROW as z_e1 =
    * |n_g·y − s_g|·10 div n_g (deci-cents, positive truncating
    * division — engines agree), making every downstream sum order-free
    * integer arithmetic (Σz² rides decimal(38)/HUGEINT). Two passes:
    * one 5-row group-stat agg (broadcast back), one wide pivot. */
  def levene(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val base = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(broadcast(cust), Seq("ck"))
      .cutLineage() // feeds the group stats AND the z pass
    val gstats = base.groupBy(col("seg"))
      .agg(count(lit(1)).as("ng"), sum(col("cents")).as("sg"))
    val z = base.join(broadcast(gstats), Seq("seg"))
      .select(col("seg"),
        expr("abs(ng * cents - sg) * 10 div ng").as("zd"))
    def nOf(s: String) = sum(when(col("seg") === s, 1L).otherwise(0L))
    def sOf(s: String) =
      sum(when(col("seg") === s, col("zd")).otherwise(0L))
    z.agg(nOf("AUTOMOBILE").as("n_a"), sOf("AUTOMOBILE").as("s_a"),
        nOf("BUILDING").as("n_b"), sOf("BUILDING").as("s_b"),
        nOf("FURNITURE").as("n_f"), sOf("FURNITURE").as("s_f"),
        nOf("HOUSEHOLD").as("n_h"), sOf("HOUSEHOLD").as("s_h"),
        nOf("MACHINERY").as("n_m"), sOf("MACHINERY").as("s_m"),
        count(lit(1)).as("n_t"), sum(col("zd")).as("s_t"),
        sum(col("zd").cast("decimal(38,0)") * col("zd")).as("qq"))
      .select(col("n_t").as("n_total"),
        lit(4L).as("df1"), (col("n_t") - 5L).as("df2"),
        expr(s"round($anovaFSql, 6) + 0.0").as("w_r"),
        expr(s"CASE WHEN $anovaFSql > 2.372 THEN 'significant_95'" +
          " ELSE 'not_significant' END").as("verdict"))
  }

  private def leveneSql: String =
    s"""WITH base AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |g AS (
      |  SELECT seg, count(*) AS ng, CAST(sum(cents) AS BIGINT) AS sg
      |  FROM base GROUP BY 1),
      |z AS (
      |  SELECT seg, abs(ng * cents - sg) * 10 // ng AS zd
      |  FROM base JOIN g USING (seg)),
      |w AS (
      |  SELECT
      |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN zd ELSE 0 END)
      |      AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN zd ELSE 0 END)
      |      AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_f,
      |    CAST(sum(CASE WHEN seg = 'FURNITURE' THEN zd ELSE 0 END)
      |      AS BIGINT) AS s_f,
      |    CAST(sum(CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_h,
      |    CAST(sum(CASE WHEN seg = 'HOUSEHOLD' THEN zd ELSE 0 END)
      |      AS BIGINT) AS s_h,
      |    CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_m,
      |    CAST(sum(CASE WHEN seg = 'MACHINERY' THEN zd ELSE 0 END)
      |      AS BIGINT) AS s_m,
      |    count(*) AS n_t, CAST(sum(zd) AS BIGINT) AS s_t,
      |    sum(CAST(zd AS HUGEINT) * zd) AS qq
      |  FROM z)
      |SELECT n_t AS n_total, CAST(4 AS BIGINT) AS df1,
      |  n_t - 5 AS df2,
      |  round($anovaFSql, 6) + 0.0 AS w_r,
      |  CASE WHEN $anovaFSql > 2.372 THEN 'significant_95'
      |       ELSE 'not_significant' END AS verdict
      |FROM w""".stripMargin

  /** k-fold cross-validation of the house stand-in predictor (Stone,
    * JRSS-B 1974; Geisser 1975) — the evaluation PROTOCOL q65's split
    * feeds: 5 folds by o_orderkey mod 5, each fold scored by the
    * per-segment mean fitted on the OTHER four (leakage-free by
    * construction: the fold's own rows never enter its predictor).
    * The (fold × segment) sufficient-statistic grid is ONE partial-agg
    * pass (≤ 25 cells); leave-one-fold-out predictors are exact
    * integral divisions over that grid; scoring is one more scan with
    * the 25-row predictor broadcast; per-fold squared error rides
    * decimal(38)/HUGEINT. Output: per-fold MSE (exact cents², integral
    * mean) + RMSE in dollars, the spread a modeler reads for variance. */
  def kfoldCv(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val base = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"),
        (col("o_orderkey") % 5).cast("long").as("fold"))
      .join(broadcast(cust), Seq("ck"))
      .cutLineage() // feeds the cell grid AND the scoring pass
    val cells = base.groupBy(col("fold"), col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val segTot = cells.groupBy(col("seg"))
      .agg(sum(col("n")).as("n_all"), sum(col("s")).as("s_all"))
    val preds = cells.join(broadcast(segTot), Seq("seg"))
      .select(col("fold"), col("seg"),
        expr("(s_all - s) div (n_all - n)").as("yhat"))
    base.join(broadcast(preds), Seq("fold", "seg"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_test"),
        sum((col("cents") - col("yhat")).cast("decimal(38,0)") *
          (col("cents") - col("yhat"))).as("se2"))
      .select(col("fold"), col("n_test"),
        expr("se2 div n_test").as("mse_cents2"),
        (round(sqrt(expr("CAST(se2 AS DOUBLE) / n_test")) / 100.0, 6)
          + lit(0.0)).as("rmse_dollars_r"))
  }

  private def kfoldCvSql: String =
    """WITH base AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |      AS cents,
      |    CAST(o_orderkey % 5 AS BIGINT) AS fold,
      |    c.c_mktsegment AS seg
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |cells AS (
      |  SELECT fold, seg, count(*) AS n, CAST(sum(cents) AS BIGINT)
      |      AS s
      |  FROM base GROUP BY 1, 2),
      |st AS (
      |  SELECT seg, CAST(sum(n) AS BIGINT) AS n_all,
      |    CAST(sum(s) AS BIGINT) AS s_all
      |  FROM cells GROUP BY 1),
      |preds AS (
      |  SELECT fold, seg, (s_all - s) // (n_all - n) AS yhat
      |  FROM cells JOIN st USING (seg))
      |SELECT fold, count(*) AS n_test,
      |  CAST(sum(CAST(cents - yhat AS HUGEINT) * (cents - yhat)) //
      |    count(*) AS BIGINT) AS mse_cents2,
      |  round(sqrt(CAST(sum(CAST(cents - yhat AS HUGEINT) *
      |    (cents - yhat)) AS DOUBLE) / count(*)) / 100.0, 6) + 0.0
      |    AS rmse_dollars_r
      |FROM base JOIN preds USING (fold, seg)
      |GROUP BY 1""".stripMargin

  /** Pearson r over exact sufficient statistics — shared verbatim by
    * [[partialCorr]] and its oracle for each variable pair. */
  private def pcRSql(sab: String, sa: String, sb: String,
      saa: String, sbb: String): String =
    // nullif: a single-row (or constant-variable) slice has zero
    // variance — r undefined, NULL in both engines (r16 sweep)
    s"((CAST(n AS DOUBLE) * $sab - CAST($sa AS DOUBLE) * $sb) / " +
      s"nullif(" +
      s"sqrt((CAST(n AS DOUBLE) * $saa - CAST($sa AS DOUBLE) * $sa) * " +
      s"(CAST(n AS DOUBLE) * $sbb - CAST($sb AS DOUBLE) * $sb)), 0.0))"

  /** First-order partial correlation r_xy·z (Fisher, Metron 1924; Yule
    * 1907): quantity↔price correlation CONTROLLING for the discount —
    * the confounder-adjustment every feature-correlation dashboard
    * needs before claiming a relationship (x and y can correlate
    * purely through z). All nine sufficient statistics are exact
    * integers from ONE corpus pass (cross products on decimal(38)/
    * HUGEINT — Σy² crosses 2⁶³ at gate scale); the three Pearson r's
    * splice the shared [[pcRSql]] fragment into both engines and the
    * partial is one more fixed-order double. */
  def partialCorr(spark: SparkSession, dir: String): DataFrame = {
    val rxy = pcRSql("sxy", "sx", "sy", "sxx", "syy")
    val rxz = pcRSql("sxz", "sx", "sz", "sxx", "szz")
    val ryz = pcRSql("syz", "sy", "sz", "syy", "szz")
    val part = s"(($rxy - $rxz * $ryz) / " +
      s"nullif(sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)), 0.0))"
    t(spark, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("y"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("z"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
        sum(col("y").cast("decimal(38,0)") * col("z")).as("syz"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"))
      .select(col("n"),
        (round(expr(rxy), 6) + lit(0.0)).as("r_xy_r"),
        (round(expr(rxz), 6) + lit(0.0)).as("r_xz_r"),
        (round(expr(ryz), 6) + lit(0.0)).as("r_yz_r"),
        (round(expr(part), 6) + lit(0.0)).as("partial_xy_z_r"))
  }

  private def partialCorrSql: String = {
    val rxy = pcRSql("sxy", "sx", "sy", "sxx", "syy")
    val rxz = pcRSql("sxz", "sx", "sz", "sxx", "szz")
    val ryz = pcRSql("syz", "sy", "sz", "syy", "szz")
    val part = s"(($rxy - $rxz * $ryz) / " +
      s"nullif(sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)), 0.0))"
    s"""WITH v AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
      |  FROM lineitem),
      |s AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(z) AS BIGINT) AS sz,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * z) AS sxz,
      |    sum(CAST(y AS HUGEINT) * z) AS syz,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(z AS HUGEINT) * z) AS szz
      |  FROM v)
      |SELECT n,
      |  round($rxy, 6) + 0.0 AS r_xy_r,
      |  round($rxz, 6) + 0.0 AS r_xz_r,
      |  round($ryz, 6) + 0.0 AS r_yz_r,
      |  round($part, 6) + 0.0 AS partial_xy_z_r
      |FROM s""".stripMargin
  }

  /** Shared Jarque–Bera fragments over the exact raw power sums
    * (n, s1..s4 in whole dollars) — identical IEEE sequence both
    * engines. */
  private def jbMuSql = "(CAST(s1 AS DOUBLE) / n)"
  private def jbM2Sql =
    s"(CAST(s2 AS DOUBLE) / n - $jbMuSql * $jbMuSql)"
  private def jbM3Sql =
    s"(CAST(s3 AS DOUBLE) / n - 3.0 * $jbMuSql * (CAST(s2 AS DOUBLE)" +
      s" / n) + 2.0 * $jbMuSql * $jbMuSql * $jbMuSql)"
  private def jbM4Sql =
    s"(CAST(s4 AS DOUBLE) / n - 4.0 * $jbMuSql * (CAST(s3 AS DOUBLE)" +
      s" / n) + 6.0 * $jbMuSql * $jbMuSql * (CAST(s2 AS DOUBLE) / n)" +
      s" - 3.0 * $jbMuSql * $jbMuSql * $jbMuSql * $jbMuSql)"
  // m2^1.5 spelled mul+sqrt: both are correctly-rounded IEEE ops in
  // both engines, where pow(x, 1.5) carries no such guarantee
  // nullif: a single-row (or constant) slice has zero variance m2 —
  // skew/kurtosis/JB undefined, NULL in both engines (r16 sweep)
  private def jbSkewSql =
    s"($jbM3Sql / nullif($jbM2Sql * sqrt($jbM2Sql), 0.0))"
  private def jbKurtSql = s"($jbM4Sql / nullif($jbM2Sql * $jbM2Sql, 0.0))"
  private def jbSql = s"(n / 6.0 * ($jbSkewSql * $jbSkewSql + " +
    s"($jbKurtSql - 3.0) * ($jbKurtSql - 3.0) / 4.0))"

  /** Jarque–Bera normality test on order values (Jarque & Bera,
    * Economics Letters 1980) — the assumption audit behind every
    * mean-based test in the catalog (q306 Welch, q312 ANOVA, q333
    * Levene all presume rough normality; this one MEASURES the
    * departure): skewness and excess kurtosis from the four raw power
    * sums, JB = n/6·(S² + (K−3)²/4) against the χ²(2 df) 5.991 line.
    * ONE scan collapses the corpus to five exact integers (values in
    * whole dollars so Σx⁴ stays inside decimal(38)/HUGEINT to ~100×
    * sf0.1); every moment is a shared fixed-order double fragment.
    * Order values are right-skewed by construction — the gate pins
    * `significant` honestly, exactly why mean tests here lean on large
    * n. */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("s2"),
        sum(col("x").cast("decimal(38,0)") * col("x") * col("x"))
          .as("s3"),
        sum(col("x").cast("decimal(38,0)") * col("x") * col("x") *
          col("x")).as("s4"))
      .select(col("n"),
        (round(expr(jbSkewSql), 6) + lit(0.0)).as("skew_r"),
        (round(expr(jbKurtSql), 6) + lit(0.0)).as("kurt_r"),
        (round(expr(jbSql), 6) + lit(0.0)).as("jb_r"),
        expr(s"CASE WHEN $jbSql > 5.991 THEN 'significant_95' " +
          "ELSE 'not_significant' END").as("verdict"))

  private def jarqueBeraSql: String =
    s"""WITH v AS (
      |  SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) AS x
      |  FROM orders),
      |s AS (
      |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
      |    sum(CAST(x AS HUGEINT) * x) AS s2,
      |    sum(CAST(x AS HUGEINT) * x * x) AS s3,
      |    sum(CAST(x AS HUGEINT) * x * x * x) AS s4
      |  FROM v)
      |SELECT n,
      |  round($jbSkewSql, 6) + 0.0 AS skew_r,
      |  round($jbKurtSql, 6) + 0.0 AS kurt_r,
      |  round($jbSql, 6) + 0.0 AS jb_r,
      |  CASE WHEN $jbSql > 5.991 THEN 'significant_95'
      |       ELSE 'not_significant' END AS verdict
      |FROM s""".stripMargin

  /** Empirical-Bayes beta-binomial shrinkage of per-nation high-value
    * rates (Robbins 1956; Efron & Morris, JASA 1975 — the
    * small-sample-rate stabilizer every per-segment dashboard needs:
    * raw rates from thin nations swing wildly, shrinking toward the
    * pooled prior by observed between-nation variance fixes it):
    * method-of-moments Beta prior on the 25 ppm-quantized rates —
    * α+β = m(1−m)/v − 1, α = m·(α+β) — then per nation the posterior
    * mean (c + α)/(n + α + β). One dim-join partial agg to the
    * bounded cell relation; rates quantize to integer ppm FIRST so
    * the prior moments are exact integer arithmetic; α, β and the
    * shrunk rates are shared fixed-order double fragments. Degenerate
    * v ≤ 0 (identical rates) falls back to the raw rate, stated. */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val mSql = "(CAST(sp AS DOUBLE) / k / 1000000.0)"
    val vSql = "((CAST(k AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)" +
      " / (CAST(k AS DOUBLE) * (k - 1)) / 1000000.0 / 1000000.0)"
    val abSql = s"($mSql * (1.0 - $mSql) / $vSql - 1.0)"
    val aSql = s"($mSql * $abSql)"
    val shrunk = s"CASE WHEN $vSql <= 0.0 THEN " +
      "CAST(rate_ppm AS DOUBLE) / 1000000.0 ELSE " +
      s"(c + $aSql) / (n + $abSql) END"
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nat"))
    val cells = t(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        (col("o_totalprice") >= 300000.0).as("hv"))
      .join(broadcast(cust), Seq("ck"))
      .groupBy(col("nat"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hv"), 1L).otherwise(0L)).as("c"))
      .withColumn("rate_ppm", expr("c * 1000000 div n"))
      .cutLineage() // bounded 25 rows; feeds the prior AND the readout
    val prior = cells.agg(count(lit(1)).as("k"),
      sum(col("rate_ppm")).as("sp"),
      sum(col("rate_ppm").cast("decimal(38,0)") * col("rate_ppm"))
        .as("spp"))
    cells.crossJoin(broadcast(prior))
      .select(col("nat").as("c_nationkey"), col("n"), col("c"),
        col("rate_ppm"),
        (round(expr(aSql), 6) + lit(0.0)).as("alpha_r"),
        (round(expr(s"($abSql - $aSql)"), 6) + lit(0.0)).as("beta_r"),
        (round(expr(shrunk), 6) + lit(0.0)).as("shrunk_rate_r"))
  }

  private def ebShrinkageSql: String = {
    val mSql = "(CAST(sp AS DOUBLE) / k / 1000000.0)"
    val vSql = "((CAST(k AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)" +
      " / (CAST(k AS DOUBLE) * (k - 1)) / 1000000.0 / 1000000.0)"
    val abSql = s"($mSql * (1.0 - $mSql) / $vSql - 1.0)"
    val aSql = s"($mSql * $abSql)"
    val shrunk = s"CASE WHEN $vSql <= 0.0 THEN " +
      "CAST(rate_ppm AS DOUBLE) / 1000000.0 ELSE " +
      s"(c + $aSql) / (n + $abSql) END"
    s"""WITH cells AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nat,
      |    count(*) AS n,
      |    CAST(sum(CASE WHEN o_totalprice >= 300000.0 THEN 1 ELSE 0
      |      END) AS BIGINT) AS c
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |c2 AS (SELECT *, c * 1000000 // n AS rate_ppm FROM cells),
      |prior AS (
      |  SELECT count(*) AS k, CAST(sum(rate_ppm) AS BIGINT) AS sp,
      |    sum(CAST(rate_ppm AS HUGEINT) * rate_ppm) AS spp
      |  FROM c2)
      |SELECT nat AS c_nationkey, n, c, rate_ppm,
      |  round($aSql, 6) + 0.0 AS alpha_r,
      |  round(($abSql - $aSql), 6) + 0.0 AS beta_r,
      |  round($shrunk, 6) + 0.0 AS shrunk_rate_r
      |FROM c2, prior""".stripMargin
  }

  val catalog: Seq[Q] = Seq(
    Q("q339_jarque_bera", jarqueBera _, jarqueBeraSql),
    Q("q343_eb_shrinkage", ebShrinkage _, ebShrinkageSql),
    Q("q328_cochran_armitage", cochranArmitage _, cochranArmitageSql),
    Q("q331_ipw_ate", ipwAte _, ipwAteSql),
    Q("q332_mcnemar", mcnemar _, mcnemarSql),
    Q("q333_levene", levene _, leveneSql),
    Q("q336_kfold_cv", kfoldCv _, kfoldCvSql),
    Q("q337_partial_corr", partialCorr _, partialCorrSql),
    Q("q323_logistic_irls", logisticIrls _, logisticIrlsSql),
    Q("q326_bradley_terry", bradleyTerry _, bradleyTerrySql),
    Q("q321_mann_whitney", mannWhitney _, mannWhitneySql),
    Q("q322_kendall_tau", kendallTau _, kendallTauSql),
    Q("q327_conformal", conformal _, conformalSql),
    Q("q292_lift_gains", liftGains _,
      s"""WITH scored AS (
        |  SELECT $scoreSql AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS p
        |  FROM scored GROUP BY 1),
        |cum AS (
        |  SELECT s, n, p,
        |    CAST(coalesce(sum(n) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nlt,
        |    CAST(coalesce(sum(p) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS plt
        |  FROM g),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(p) AS BIGINT) AS pt FROM g),
        |hit AS (
        |  SELECT CAST(t.i AS BIGINT) AS decile,
        |    (t.i * nt) // 10 AS depth,
        |    CAST(plt AS HUGEINT) * n + ((t.i * nt) // 10 - nlt) * p
        |      AS cap,
        |    n, nt, pt
        |  FROM cum, tot, range(1, 11) t(i)
        |  WHERE nlt < (t.i * nt) // 10 AND (t.i * nt) // 10 <= nlt + n)
        |SELECT decile, depth,
        |  CAST(cap * 1000000 // nullif(n * CAST(pt AS HUGEINT), 0)
        |    AS BIGINT) AS gain_ppm,
        |  CAST(cap * 1000000 // nullif(n * CAST(depth AS HUGEINT), 0)
        |    AS BIGINT) AS prec_ppm,
        |  CAST(cap * nt * 1000000 //
        |    nullif(n * CAST(pt AS HUGEINT) * depth, 0) AS BIGINT)
        |    AS lift_ppm,
        |  round(CAST(cap AS DOUBLE) /
        |    nullif(CAST(n AS DOUBLE) * pt, 0.0), 6) + 0.0
        |    AS gain_r
        |FROM hit""".stripMargin),
    Q("q293_pr_auc", prAuc _,
      s"""WITH scored AS (
        |  SELECT $scoreSql AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS p
        |  FROM scored GROUP BY 1),
        |cum AS (
        |  SELECT n, p,
        |    CAST(sum(n) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS nge,
        |    CAST(sum(p) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pge
        |  FROM g),
        |terms AS (
        |  SELECT n, p,
        |    CAST(CAST(pge AS HUGEINT) * 1000000000 // nge AS BIGINT)
        |      AS prec_ppb
        |  FROM cum)
        |SELECT CAST(sum(p) AS BIGINT) AS n1,
        |  CAST(sum(n) - sum(p) AS BIGINT) AS n0,
        |  count(*) AS n_thresholds,
        |  CAST(CAST(sum(p) AS HUGEINT) * 1000000000 // sum(n)
        |    AS BIGINT) AS prevalence_ppb,
        |  CAST(sum(CAST(p AS HUGEINT) * prec_ppb) //
        |    nullif(CAST(sum(p) AS HUGEINT), 0) AS BIGINT) AS ap_ppb,
        |  round(CAST(sum(CAST(p AS HUGEINT) * prec_ppb) AS DOUBLE) /
        |    nullif(CAST(sum(p) AS DOUBLE) * 1e9, 0.0), 6) + 0.0 AS ap_r
        |FROM terms""".stripMargin),
    Q("q314_wilcoxon", wilcoxon _,
      """WITH base AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS nat,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o.o_orderdate >= TIMESTAMP '1996-01-01' AS post
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |cells AS (
        |  SELECT nat,
        |    CAST(s2 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * n2
        |      AS num,
        |    n1 * n2 AS den
        |  FROM (
        |    SELECT nat,
        |      CAST(sum(CASE WHEN NOT post THEN 1 ELSE 0 END)
        |        AS BIGINT) AS n1,
        |      CAST(sum(CASE WHEN NOT post THEN cents ELSE 0 END)
        |        AS BIGINT) AS s1,
        |      CAST(sum(CASE WHEN post THEN 1 ELSE 0 END) AS BIGINT)
        |        AS n2,
        |      CAST(sum(CASE WHEN post THEN cents ELSE 0 END)
        |        AS BIGINT) AS s2
        |    FROM base GROUP BY 1)
        |  WHERE n1 > 0 AND n2 > 0
        |    AND CAST(s2 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * n2
        |      <> 0),
        |rk AS (
        |  SELECT a.nat, a.num,
        |    CAST(2 * sum(CASE WHEN abs(b.num) * a.den <
        |        abs(a.num) * b.den THEN 1 ELSE 0 END) +
        |      sum(CASE WHEN abs(b.num) * a.den = abs(a.num) * b.den
        |        THEN 1 ELSE 0 END) AS BIGINT) AS r2
        |  FROM cells a, cells b GROUP BY 1, 2),
        |agg AS (
        |  SELECT count(*) AS n_pairs,
        |    CAST(sum(CASE WHEN num > 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w_plus_x2
        |  FROM rk)
        |SELECT n_pairs, w_plus_x2,
        |  round((CAST(w_plus_x2 AS DOUBLE) / 2.0 -
        |    CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0) /
        |    sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) *
        |    (2 * n_pairs + 1) / 24.0), 6) + 0.0 AS z_r,
        |  CASE WHEN abs((CAST(w_plus_x2 AS DOUBLE) / 2.0 -
        |    CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0) /
        |    sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) *
        |    (2 * n_pairs + 1) / 24.0)) > 1.96 THEN 'significant_95'
        |    ELSE 'not_significant' END AS verdict
        |FROM agg""".stripMargin),
    Q("q312_anova", anova _,
      s"""WITH base AS (
        |  SELECT c.c_mktsegment AS seg,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |w AS (
        |  SELECT
        |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN cents ELSE 0
        |      END) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN cents ELSE 0
        |      END) AS BIGINT) AS s_b,
        |    CAST(sum(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_f,
        |    CAST(sum(CASE WHEN seg = 'FURNITURE' THEN cents ELSE 0
        |      END) AS BIGINT) AS s_f,
        |    CAST(sum(CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_h,
        |    CAST(sum(CASE WHEN seg = 'HOUSEHOLD' THEN cents ELSE 0
        |      END) AS BIGINT) AS s_h,
        |    CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_m,
        |    CAST(sum(CASE WHEN seg = 'MACHINERY' THEN cents ELSE 0
        |      END) AS BIGINT) AS s_m,
        |    count(*) AS n_t, CAST(sum(cents) AS BIGINT) AS s_t,
        |    sum(CAST(cents AS HUGEINT) * cents) AS qq
        |  FROM base)
        |SELECT n_t AS n_total, CAST(4 AS BIGINT) AS df1,
        |  n_t - 5 AS df2,
        |  round($anovaFSql, 6) + 0.0 AS f_r,
        |  round($anovaSsbSql / $anovaSstSql, 6) + 0.0 AS eta2_r,
        |  CASE WHEN $anovaFSql > 2.372 THEN 'significant_95'
        |       ELSE 'not_significant' END AS verdict
        |FROM w""".stripMargin),
    Q("q308_bh_fdr", bhFdr _,
      s"""WITH cust AS (
        |  SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer),
        |cells AS (
        |  SELECT nat, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_totalprice >= 300000.0 THEN 1 ELSE 0
        |      END) AS BIGINT) AS c
        |  FROM orders o JOIN cust ON cust.ck = o.o_custkey
        |  GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(c) AS BIGINT) AS ct, count(*) AS m FROM cells),
        |scored AS (
        |  SELECT nat, n, c, m,
        |    round($bhZSql, 6) + 0.0 AS z_r,
        |    round(${pTwoSidedSql(bhZSql)}, 6) + 0.0 AS p_r
        |  FROM cells, tot),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY p_r ASC, nat ASC) AS i
        |  FROM scored),
        |ks AS (
        |  SELECT max(CASE WHEN p_r <= CAST(i AS DOUBLE) * 0.05 / m
        |    THEN i END) AS kstar FROM rk)
        |SELECT nat AS c_nationkey, n, c, z_r, p_r, CAST(i AS INT) AS i,
        |  (kstar IS NOT NULL AND i <= kstar) AS bh_reject
        |FROM rk, ks""".stripMargin),
    Q("q305_strat_effect", stratEffect _,
      """WITH cells AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS nat,
        |    c.c_mktsegment = 'BUILDING' AS treat,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |strata AS (
        |  SELECT nat,
        |    CAST(sum(CASE WHEN treat THEN n END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN treat THEN s END) AS BIGINT) AS s_t,
        |    CAST(sum(CASE WHEN NOT treat THEN n END) AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN NOT treat THEN s END) AS BIGINT) AS s_c
        |  FROM cells GROUP BY 1
        |  HAVING sum(CASE WHEN treat THEN n END) IS NOT NULL
        |    AND sum(CASE WHEN NOT treat THEN n END) IS NOT NULL),
        |st2 AS (SELECT *, n_t + n_c AS n_s FROM strata),
        |tot AS (
        |  SELECT CAST(sum(n_s) AS BIGINT) AS nn,
        |    count(*) AS n_strata_used FROM st2),
        |terms AS (
        |  SELECT nn, n_strata_used,
        |    (2 * CAST(n_s AS HUGEINT) *
        |      (CAST(s_t AS HUGEINT) * n_c - CAST(s_c AS HUGEINT) * n_t)
        |      * 100 + CAST(nn AS HUGEINT) * n_t * n_c +
        |      2 * CAST(10000000000000 AS HUGEINT) * nn * n_t * n_c) //
        |      (2 * CAST(nn AS HUGEINT) * n_t * n_c)
        |      - 10000000000000 AS term_e4
        |  FROM st2, tot)
        |SELECT nn AS n_orders_used, n_strata_used,
        |  CAST(sum(term_e4) AS BIGINT) AS ate_e4,
        |  round(CAST(sum(term_e4) AS DOUBLE) / 10000.0, 6) + 0.0
        |    AS ate_dollars_r
        |FROM terms GROUP BY 1, 2""".stripMargin),
    Q("q306_welch_t", welchT _,
      s"""WITH st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1
        |      ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0
        |      END) AS BIGINT) AS s1,
        |    sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN
        |      CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      AS HUGEINT) * CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT) ELSE 0 END) AS q1,
        |    CAST(sum(CASE WHEN c.c_mktsegment <> 'BUILDING' THEN 1
        |      ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN c.c_mktsegment <> 'BUILDING' THEN
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0
        |      END) AS BIGINT) AS s2,
        |    sum(CASE WHEN c.c_mktsegment <> 'BUILDING' THEN
        |      CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      AS HUGEINT) * CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT) ELSE 0 END) AS q2
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
        |SELECT n1, n2,
        |  round($meanDiffSql, 6) + 0.0 AS mean_diff_dollars_r,
        |  round($welchTSql, 6) + 0.0 AS t_r,
        |  round($welchDfSql, 6) + 0.0 AS df_r,
        |  CASE WHEN abs($welchTSql) > 2.576 THEN 'significant_99'
        |       WHEN abs($welchTSql) > 1.96 THEN 'significant_95'
        |       ELSE 'not_significant' END AS verdict
        |FROM st""".stripMargin),
    Q("q297_did", did _,
      s"""WITH cells AS (
        |  SELECT c.c_mktsegment = 'BUILDING' AS treat,
        |    o.o_orderdate >= TIMESTAMP '1996-01-01' AS post,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT
        |    CAST(sum(CASE WHEN treat AND post THEN s END) AS BIGINT)
        |      AS s_tp,
        |    CAST(sum(CASE WHEN treat AND post THEN n END) AS BIGINT)
        |      AS n_tp,
        |    CAST(sum(CASE WHEN treat AND NOT post THEN s END) AS BIGINT)
        |      AS s_tq,
        |    CAST(sum(CASE WHEN treat AND NOT post THEN n END) AS BIGINT)
        |      AS n_tq,
        |    CAST(sum(CASE WHEN NOT treat AND post THEN s END) AS BIGINT)
        |      AS s_cp,
        |    CAST(sum(CASE WHEN NOT treat AND post THEN n END) AS BIGINT)
        |      AS n_cp,
        |    CAST(sum(CASE WHEN NOT treat AND NOT post THEN s END)
        |      AS BIGINT) AS s_cq,
        |    CAST(sum(CASE WHEN NOT treat AND NOT post THEN n END)
        |      AS BIGINT) AS n_cq
        |  FROM cells)
        |SELECT treat, post, n, s AS sum_cents,
        |  round(CAST(s AS DOUBLE) / n / 100.0, 6) + 0.0
        |    AS mean_dollars_r,
        |  $didSql AS did_dollars_r
        |FROM cells, wide""".stripMargin),
    Q("q298_t_closeness", tCloseness _,
      """WITH cust AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band
        |  FROM customer),
        |cb AS (
        |  SELECT nat, seg, band, CAST(count(*) AS BIGINT) AS n_cb
        |  FROM cust GROUP BY 1, 2, 3),
        |ct AS (
        |  SELECT nat, seg, CAST(sum(n_cb) AS BIGINT) AS n_c
        |  FROM cb GROUP BY 1, 2),
        |gb AS (
        |  SELECT band, CAST(sum(n_cb) AS BIGINT) AS g_b
        |  FROM cb GROUP BY 1),
        |ntot AS (
        |  SELECT CAST(sum(g_b) AS BIGINT) AS nn, count(*) AS m FROM gb),
        |gcum AS (
        |  SELECT band, CAST(sum(g_b) OVER (ORDER BY band ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_g
        |  FROM gb),
        |grid AS (
        |  SELECT ct.nat, ct.seg, ct.n_c, g.band, g.cum_g,
        |    coalesce(cb.n_cb, 0) AS n_cb
        |  FROM ct CROSS JOIN gcum g
        |  LEFT JOIN cb ON cb.nat = ct.nat AND cb.seg = ct.seg
        |    AND cb.band = g.band),
        |cums AS (
        |  SELECT nat, seg, n_c, cum_g,
        |    CAST(sum(n_cb) OVER (PARTITION BY nat, seg
        |      ORDER BY band ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum_c
        |  FROM grid)
        |SELECT nat AS c_nationkey, seg AS c_mktsegment,
        |  CAST(max(n_c) AS BIGINT) AS cls_n,
        |  CAST(sum(abs(CAST(cum_c AS HUGEINT) * nn -
        |      CAST(cum_g AS HUGEINT) * n_c)) * 1000000 //
        |    ((max(m) - 1) * CAST(max(n_c) AS HUGEINT) * max(nn))
        |    AS BIGINT) AS t_ppm
        |FROM cums, ntot WHERE cum_g <> nn
        |GROUP BY 1, 2""".stripMargin),
    Q("q299_ols_multi", olsMulti _,
      """WITH base AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |st AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(d) AS BIGINT) AS sd,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(q * q) AS BIGINT) AS sqq,
        |    CAST(sum(q * d) AS BIGINT) AS sqd,
        |    CAST(sum(d * d) AS BIGINT) AS sdd,
        |    CAST(sum(q * y) AS BIGINT) AS sqy,
        |    CAST(sum(d * y) AS BIGINT) AS sdy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM base),
        |c AS (
        |  SELECT n, sq, sd, sy,
        |    CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq AS cqq,
        |    CAST(n AS HUGEINT) * sqd - CAST(sq AS HUGEINT) * sd AS cqd,
        |    CAST(n AS HUGEINT) * sdd - CAST(sd AS HUGEINT) * sd AS cdd,
        |    CAST(n AS HUGEINT) * sqy - CAST(sq AS HUGEINT) * sy AS cqy,
        |    CAST(n AS HUGEINT) * sdy - CAST(sd AS HUGEINT) * sy AS cdy,
        |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS cyy
        |  FROM st),
        |k AS (
        |  SELECT n, sq, sd, sy, cqy, cdy, cyy,
        |    cqq * cdd - cqd * cqd AS det,
        |    cqy * cdd - cdy * cqd AS b1n,
        |    cdy * cqq - cqy * cqd AS b2n
        |  FROM c)
        |SELECT n,
        |  round(CAST(b1n AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0.0),
        |    6) + 0.0
        |    AS b_qty_r,
        |  round(CAST(b2n AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0.0),
        |    6) + 0.0
        |    AS b_disc_r,
        |  round(CAST(sy AS DOUBLE) / n -
        |    (CAST(b1n AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0.0)) *
        |    (CAST(sq AS DOUBLE) / n) -
        |    (CAST(b2n AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0.0)) *
        |    (CAST(sd AS DOUBLE) / n), 6) + 0.0 AS intercept_r,
        |  round((CAST(b1n AS DOUBLE) * CAST(cqy AS DOUBLE) +
        |    CAST(b2n AS DOUBLE) * CAST(cdy AS DOUBLE)) /
        |    nullif(CAST(det AS DOUBLE) * CAST(cyy AS DOUBLE), 0.0), 6)
        |    + 0.0
        |    AS r2_r
        |FROM k""".stripMargin),
    Q("q294_tree_depth2", treeDepth2 _,
      s"""WITH li AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      AS cents,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM li),
        |cells AS (
        |  SELECT least(63, (cents - mn) * 64 // (mx - mn + 1)) AS pbin,
        |    qty, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS p
        |  FROM li, b GROUP BY 1, 2),
        |binsp AS (
        |  SELECT pbin, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS p FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(p) AS BIGINT) AS pt FROM binsp),
        |rg AS (
        |  SELECT s.i AS split, CAST(sum(binsp.n) AS BIGINT) AS n_l,
        |    CAST(sum(binsp.p) AS BIGINT) AS p_l
        |  FROM range(0, 63) s(i) JOIN binsp ON binsp.pbin <= s.i
        |  GROUP BY 1),
        |rgain AS (SELECT split, $treeGainSql AS gain_r FROM rg, tot),
        |rbest AS (
        |  SELECT (SELECT max(gain_r) FROM rgain) AS bg,
        |    (SELECT min(split) FROM rgain
        |     WHERE gain_r = (SELECT max(gain_r) FROM rgain)) AS rsplit),
        |qmarg AS (
        |  SELECT CASE WHEN pbin <= rsplit THEN 'left' ELSE 'right' END
        |      AS node,
        |    qty, CAST(sum(n) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS p
        |  FROM cells, rbest GROUP BY 1, 2),
        |stot AS (
        |  SELECT node, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(p) AS BIGINT) AS pt FROM qmarg GROUP BY 1),
        |sg AS (
        |  SELECT c.node, c.split, CAST(sum(m.n) AS BIGINT) AS n_l,
        |    CAST(sum(m.p) AS BIGINT) AS p_l
        |  FROM (SELECT DISTINCT node, qty AS split FROM qmarg) c
        |  JOIN qmarg m ON m.node = c.node AND m.qty <= c.split
        |  GROUP BY 1, 2),
        |sgain AS (
        |  SELECT sg.node, sg.split, $treeGainSql AS gain_r
        |  FROM sg JOIN stot ON stot.node = sg.node),
        |sg2 AS (
        |  SELECT node, split, gain_r,
        |    max(gain_r) OVER (PARTITION BY node) AS bg FROM sgain),
        |sbest AS (
        |  SELECT node,
        |    min(CASE WHEN gain_r = bg THEN split END) AS best_split,
        |    max(bg) AS gain_r
        |  FROM sg2 GROUP BY 1)
        |SELECT 'root' AS node, nt AS n, pt AS pos, rsplit AS best_split,
        |  bg AS gain_r FROM tot, rbest WHERE nt IS NOT NULL
        |UNION ALL
        |SELECT s.node, st.nt AS n, st.pt AS pos, s.best_split, s.gain_r
        |FROM sbest s JOIN stot st ON st.node = s.node""".stripMargin),
      // WHERE nt IS NOT NULL: an empty corpus has no root candidate on
      // the Spark side (its rbest is a window over the materialized
      // 63-split relation, which is empty), so the declared semantics
      // are "empty corpus -> empty tree"; duck's global-agg rbest would
      // otherwise fabricate an all-NULL root row (r16 sweep)
    Q("q284_shapley_r2", shapleyR2 _,
      """WITH cells AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
        |    count(*) AS n,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      // 100) AS BIGINT) AS s,
        |    sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      // 100 AS HUGEINT) *
        |      (CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      // 100)) AS s2
        |  FROM lineitem GROUP BY 1, 2),
        |wqd AS (
        |  SELECT sum(CAST(s AS HUGEINT) * s // n)
        |    AS w_qd FROM cells),
        |wq AS (
        |  SELECT sum(CAST(s AS HUGEINT) * s // n) AS w_q
        |  FROM (SELECT q, CAST(sum(n) AS BIGINT) AS n,
        |          CAST(sum(s) AS BIGINT) AS s
        |        FROM cells GROUP BY 1)),
        |wd AS (
        |  SELECT sum(CAST(s AS HUGEINT) * s // n) AS w_d
        |  FROM (SELECT d, CAST(sum(n) AS BIGINT) AS n,
        |          CAST(sum(s) AS BIGINT) AS s
        |        FROM cells GROUP BY 1)),
        |w0 AS (
        |  SELECT CAST(s AS HUGEINT) * s // n AS w0
        |  FROM (SELECT CAST(sum(n) AS BIGINT) AS n,
        |          CAST(sum(s) AS BIGINT) AS s FROM cells)),
        |tssx AS (
        |  SELECT sum(s2) - CAST(sum(s) AS HUGEINT) * CAST(sum(s)
        |      AS BIGINT) // CAST(sum(n) AS BIGINT) AS tss
        |  FROM cells),
        |base AS (SELECT * FROM wqd, wq, wd, w0, tssx),
        |feats AS (
        |  SELECT 'quantity' AS feature,
        |    (w_q - w0) + (w_qd - w_d) AS phi2, w_q - w0 AS v_alone,
        |    w_qd - w0 AS v_joint, tss FROM base
        |  UNION ALL
        |  SELECT 'discount', (w_d - w0) + (w_qd - w_q), w_d - w0,
        |    w_qd - w0, tss FROM base)
        |SELECT feature, CAST(phi2 AS BIGINT) AS phi2,
        |  CAST(v_alone AS BIGINT) AS v_alone,
        |  round(CAST(phi2 AS DOUBLE) /
        |    nullif(2.0 * CAST(tss AS DOUBLE), 0.0), 6)
        |    + 0.0 AS shapley_share_r,
        |  round(CAST(v_alone AS DOUBLE) /
        |    nullif(CAST(tss AS DOUBLE), 0.0), 6) + 0.0
        |    AS alone_share_r,
        |  round(CAST(v_joint AS DOUBLE) /
        |    nullif(CAST(tss AS DOUBLE), 0.0), 6) + 0.0
        |    AS joint_share_r
        |FROM feats""".stripMargin),
    Q("q286_srm_check", srmCheck _,
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
    Q("q287_power_mde", powerMde _,
      s"""WITH pu AS (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' AND
         |      CAST(floor(value * 100 + 0.5) AS BIGINT) >= 20000
         |      THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY 1),
         |c AS (
         |  SELECT count(*) AS n_users,
         |    CAST(sum(conv) AS BIGINT) AS n_conv
         |  FROM pu),
         |p AS (SELECT n_users, n_conv,
         |  n_conv * 1000000 // n_users AS p0_ppm FROM c)
         |SELECT n_users, n_conv, p0_ppm,
         |  ${powerNSql.replace("\n", " ")} AS n_required,
         |  coalesce(n_users >= ${powerNSql.replace("\n", " ")} * 2,
         |    false) AS powered
         |FROM p""".stripMargin),
    Q("q280_isotonic", isotonic _,
      s"""WITH li AS (
         |  SELECT $scoreSql AS s,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |bins AS (
         |  SELECT least(least(s * 20, 1000000) // 15625, 63) AS bin,
         |    count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
         |  FROM li GROUP BY 1),
         |pref AS (
         |  SELECT bin, n, pos,
         |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
         |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cs
         |  FROM bins),
         |jk AS (
         |  SELECT j.bin AS jb, k.bin AS kb,
         |    CAST(k.cs - (j.cs - j.pos) AS DOUBLE) /
         |      CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avg_jk
         |  FROM pref j JOIN pref k ON j.bin <= k.bin),
         |inner_min AS (
         |  SELECT i.bin AS ib, jk.jb, min(jk.avg_jk) AS minod
         |  FROM jk JOIN pref i ON jk.jb <= i.bin AND jk.kb >= i.bin
         |  GROUP BY 1, 2),
         |fit AS (SELECT ib, max(minod) AS fit FROM inner_min GROUP BY 1)
         |SELECT b.bin, b.n, b.pos,
         |  round(CAST(b.pos AS DOUBLE) / b.n, 6) + 0.0 AS raw_rate_r,
         |  round(f.fit, 6) + 0.0 AS fit_r
         |FROM bins b JOIN fit f ON b.bin = f.ib""".stripMargin),
    Q("q281_policy_replay", policyReplay _,
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |cums AS (
        |  SELECT event_type, cents,
        |    coalesce(CAST(sum(CASE WHEN event_type = 'click' THEN cents
        |      END) OVER w AS BIGINT), 0) AS c_click,
        |    coalesce(CAST(sum(CASE WHEN event_type = 'error' THEN cents
        |      END) OVER w AS BIGINT), 0) AS c_error,
        |    coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN
        |      cents END) OVER w AS BIGINT), 0) AS c_purchase,
        |    coalesce(CAST(sum(CASE WHEN event_type = 'signup' THEN cents
        |      END) OVER w AS BIGINT), 0) AS c_signup,
        |    coalesce(CAST(sum(CASE WHEN event_type = 'view' THEN cents
        |      END) OVER w AS BIGINT), 0) AS c_view
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |rec AS (
        |  SELECT event_type, cents,
        |    CASE
        |      WHEN c_click = greatest(c_click, c_error, c_purchase,
        |        c_signup, c_view) THEN 'click'
        |      WHEN c_error = greatest(c_click, c_error, c_purchase,
        |        c_signup, c_view) THEN 'error'
        |      WHEN c_purchase = greatest(c_click, c_error, c_purchase,
        |        c_signup, c_view) THEN 'purchase'
        |      WHEN c_signup = greatest(c_click, c_error, c_purchase,
        |        c_signup, c_view) THEN 'signup'
        |      ELSE 'view' END AS pi
        |  FROM cums)
        |SELECT pi, count(*) AS n_logged,
        |  CAST(sum(CASE WHEN event_type = pi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched,
        |  round(CAST(sum(CASE WHEN event_type = pi THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS match_rate_r,
        |  CASE WHEN sum(CASE WHEN event_type = pi THEN 1 ELSE 0 END) > 0
        |    THEN round(CAST(sum(CASE WHEN event_type = pi THEN cents
        |      ELSE 0 END) AS DOUBLE) /
        |      sum(CASE WHEN event_type = pi THEN 1 ELSE 0 END), 6) + 0.0
        |    END AS matched_mean_r,
        |  round(CAST(sum(cents) AS DOUBLE) / count(*), 6) + 0.0
        |    AS logged_mean_r
        |FROM rec GROUP BY 1""".stripMargin),
    Q("q279_info_gain", infoGain _,
      s"""WITH li AS (
         |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
         |      AS cents,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM li),
         |bins AS (
         |  SELECT least(63, (cents - mn) * 64 // (mx - mn + 1)) AS bin,
         |    count(*) AS n, CAST(sum(y) AS BIGINT) AS p
         |  FROM li, b GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    CAST(sum(p) AS BIGINT) AS pt FROM bins),
         |pre AS (
         |  SELECT s.i AS split, CAST(sum(bins.n) AS BIGINT) AS n_l,
         |    CAST(sum(bins.p) AS BIGINT) AS p_l
         |  FROM range(0, 63) s(i) JOIN bins ON bins.bin <= s.i
         |  GROUP BY 1),
         |g AS (
         |  SELECT split, n_l, p_l,
         |    mn + (split + 1) * (mx - mn + 1) // 64 AS thr_cents,
         |    CASE WHEN n_l = 0 OR nt - n_l = 0 THEN NULL ELSE
         |      round(${entSql("pt", "nt")} -
         |        (CAST(n_l AS DOUBLE) / nt) * ${entSql("p_l", "n_l")} -
         |        (CAST(nt - n_l AS DOUBLE) / nt) *
         |          ${entSql("pt - p_l", "nt - n_l")}, 6) + 0.0 END
         |      AS gain_r
         |  FROM pre, tot, b),
         |g2 AS (SELECT *, max(gain_r) OVER () AS best_gain_r FROM g)
         |SELECT split, n_l, p_l, thr_cents, gain_r, best_gain_r,
         |  min(CASE WHEN gain_r = best_gain_r THEN split END) OVER ()
         |    AS best_split
         |FROM g2""".stripMargin),
    Q("q276_churn_labels", churnLabels _,
      """WITH ev AS (
        |  SELECT o_custkey AS user_id,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT min(sec) AS mn, max(sec) AS mx FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN sec < mn + (mx - mn) * 7 // 10
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    CAST(sum(CASE WHEN sec < mn + (mx - mn) * 7 // 10
        |      THEN cents ELSE 0 END) AS BIGINT) AS cents_pre,
        |    max(CASE WHEN sec >= mn + (mx - mn) * 7 // 10
        |      THEN 1 ELSE 0 END) AS has_post
        |  FROM ev, b GROUP BY user_id
        |  HAVING n_pre > 0),
        |bk AS (
        |  SELECT CAST(len(bin(n_pre)) - 1 AS BIGINT) AS ev_bucket,
        |    n_pre, cents_pre, has_post
        |  FROM pu)
        |SELECT ev_bucket, count(*) AS n_users,
        |  CAST(sum(CASE WHEN has_post = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_churned,
        |  CAST(sum(cents_pre) AS BIGINT) AS cents_pre,
        |  round(CAST(sum(CASE WHEN has_post = 0 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS churn_rate_r,
        |  round(CAST(sum(cents_pre) AS DOUBLE) / count(*), 6) + 0.0
        |    AS avg_cents_r
        |FROM bk GROUP BY 1""".stripMargin),
    Q("q277_sprt", sprt _,
      """WITH daily AS (
        |  SELECT ('0x' || substr(md5('sprtarm:' ||
        |      CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |walk AS (
        |  SELECT arm, d,
        |    CAST(sum(c * 223144 + (n - c) * -64539)
        |      OVER (PARTITION BY arm ORDER BY d) AS BIGINT) AS llr
        |  FROM daily),
        |agg AS (
        |  SELECT arm, count(*) AS n_days,
        |    min(CASE WHEN llr >= 2944439 THEN d END) AS d_hi,
        |    min(CASE WHEN llr <= -2944439 THEN d END) AS d_lo,
        |    arg_max(llr, d) AS final_llr
        |  FROM walk GROUP BY 1)
        |SELECT arm, n_days, final_llr,
        |  CASE
        |    WHEN d_hi IS NOT NULL AND (d_lo IS NULL OR d_hi <= d_lo)
        |      THEN 'accept_h1'
        |    WHEN d_lo IS NOT NULL THEN 'accept_h0'
        |    ELSE 'continue' END AS decision,
        |  CASE
        |    WHEN d_hi IS NOT NULL AND (d_lo IS NULL OR d_hi <= d_lo)
        |      THEN d_hi
        |    WHEN d_lo IS NOT NULL THEN d_lo END AS decision_day
        |FROM agg""".stripMargin),
    Q("q251_roc_auc", rocAuc _,
      s"""WITH scored AS (
         |  SELECT $scoreSql AS s,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |per_s AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(count(*) - sum(y) AS BIGINT) AS n_neg
         |  FROM scored GROUP BY 1),
         |cum AS (
         |  SELECT n_pos, n_neg,
         |    CAST(coalesce(sum(n_neg) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cumneg_lt
         |  FROM per_s),
         |tot AS (
         |  SELECT CAST(sum(n_pos) AS BIGINT) AS n1,
         |    CAST(sum(n_neg) AS BIGINT) AS n0,
         |    CAST(sum(n_pos * (2 * cumneg_lt + n_neg)) AS BIGINT)
         |      AS auc_num2
         |  FROM cum)
         |SELECT n1, n0, auc_num2,
         |  CAST(CAST(auc_num2 AS HUGEINT) * 1000000 //
         |    nullif(2 * CAST(n1 AS HUGEINT) * n0, 0) AS BIGINT)
         |    AS auc_ppm,
         |  round(CAST(auc_num2 AS DOUBLE) /
         |    nullif(2.0 * n1 * n0, 0.0), 6) + 0.0 AS auc_r
         |FROM tot""".stripMargin),
    Q("q252_calibration", calibration _,
      s"""WITH scored AS (
         |  SELECT least(($scoreSql) * 20, 1000000) AS p_ppm,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |b AS (
         |  SELECT least(p_ppm // 100000, 9) AS bin, count(*) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(p_ppm) AS BIGINT) AS sum_p,
         |    sum(CAST(p_ppm - y * 1000000 AS HUGEINT) *
         |      (p_ppm - y * 1000000)) AS se2
         |  FROM scored GROUP BY 1)
         |SELECT bin, n, n_pos,
         |  CAST(sum_p // n AS BIGINT) AS mean_pred_ppm,
         |  CAST(n_pos * 1000000 // n AS BIGINT) AS pos_rate_ppm,
         |  CAST(sum_p // n - n_pos * 1000000 // n AS BIGINT) AS gap_ppm,
         |  CAST(se2 // (n * 1000000) AS BIGINT) AS brier_ppm
         |FROM b""".stripMargin),
    Q("q253_cohens_kappa", cohensKappa _, {
      val lo = TextAnalysis.langOrder
      val scoreCols = lo.map(l => s"${TextAnalysis.hitsSql(l)} AS s_$l")
        .mkString(",\n    ")
      val best = s"greatest(${lo.map(l => s"s_$l").mkString(", ")})"
      val chain = lo.map(l => s"WHEN s_$l = $best THEN '$l'")
        .mkString("\n      ")
      s"""WITH scored AS (
         |  SELECT lang AS a,
         |    $scoreCols
         |  FROM documents),
         |conf AS (
         |  SELECT a,
         |    CASE WHEN $best = 0 THEN 'unknown'
         |      $chain
         |      ELSE 'unknown' END AS b,
         |    count(*) AS c
         |  FROM scored GROUP BY 1, 2),
         |m AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM conf),
         |pe AS (
         |  SELECT CAST(sum(r.row_n * cl.col_n) AS BIGINT) AS pe_num
         |  FROM (SELECT a, sum(c) AS row_n FROM conf GROUP BY 1) r
         |    JOIN (SELECT b, sum(c) AS col_n FROM conf GROUP BY 1) cl
         |    ON r.a = cl.b)
         |SELECT n, n_agree, pe_num,
         |  CAST(n_agree * 1000000 // n AS BIGINT) AS po_ppm,
         |  CAST(n * n_agree - pe_num AS BIGINT) AS kappa_num,
         |  CAST(n * n - pe_num AS BIGINT) AS kappa_den,
         |  round(CAST(n * n_agree - pe_num AS DOUBLE) /
         |    CAST(n * n - pe_num AS DOUBLE), 6) + 0.0 AS kappa_r
         |FROM m, pe""".stripMargin
    }),
    Q("q254_k_anonymity", kAnonymity _,
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |    count(*) AS cls_n,
        |    CAST(count(DISTINCT CAST(floor(c_acctbal * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS l_div
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT cls_n AS class_size, count(*) AS n_classes,
        |  CAST(count(*) * cls_n AS BIGINT) AS n_rows,
        |  min(l_div) AS min_l,
        |  CAST(sum(CASE WHEN cls_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_classes
        |FROM cls GROUP BY 1""".stripMargin),
    Q("q255_spearman", spearman _,
      """WITH base AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |rk AS (
        |  SELECT
        |    2 * rank() OVER (ORDER BY qty) - 2 +
        |      count(*) OVER (PARTITION BY qty) + 1 AS r2x,
        |    2 * rank() OVER (ORDER BY cents) - 2 +
        |      count(*) OVER (PARTITION BY cents) + 1 AS r2y
        |  FROM base),
        |s AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(r2x AS HUGEINT)) AS sx,
        |    sum(CAST(r2y AS HUGEINT)) AS sy,
        |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
        |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy
        |  FROM rk)
        |SELECT n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0), 6)
        |    + 0.0 AS rho_r
        |FROM s""".stripMargin),
    Q("q262_cuped", cuped _,
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT min(sec) AS mn_s, max(sec) AS mx_s FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN sec < (mn_s + mx_s) // 2 THEN cents
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN sec >= (mn_s + mx_s) // 2 THEN cents
        |      ELSE 0 END) AS BIGINT) AS y,
        |    ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)),
        |      1, 8))::BIGINT % 2 AS arm
        |  FROM ev, b GROUP BY user_id, mn_s, mx_s),
        |pool AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM pu),
        |theta AS (
        |  SELECT n * sxy - CAST(sx AS HUGEINT) * sy AS cov_num,
        |    n * sxx - CAST(sx AS HUGEINT) * sx AS var_num
        |  FROM pool),
        |arms AS (
        |  SELECT arm, count(*) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS sum_x_cents,
        |    CAST(sum(y) AS BIGINT) AS sum_y_cents
        |  FROM pu GROUP BY 1)
        |SELECT arm, n_users, sum_x_cents, sum_y_cents,
        |  CAST(cov_num AS BIGINT) AS cov_num,
        |  CAST(var_num AS BIGINT) AS var_num,
        |  round(CAST(sum_y_cents AS DOUBLE) / n_users, 6) + 0.0
        |    AS raw_mean_r,
        |  round((CAST(var_num AS DOUBLE) * sum_y_cents -
        |    CAST(cov_num AS DOUBLE) * sum_x_cents) /
        |    nullif(CAST(var_num AS DOUBLE) * n_users, 0.0), 6) + 0.0
        |    AS adj_mean_r,
        |  round(CAST(cov_num AS DOUBLE) /
        |    nullif(CAST(var_num AS DOUBLE), 0.0), 6)
        |    + 0.0 AS theta_r
        |FROM arms, theta""".stripMargin),
    Q("q263_mutual_info", mutualInfo _,
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    count(*) AS n_xy
        |  FROM customer GROUP BY 1, 2),
        |m AS (
        |  SELECT seg, nat, n_xy,
        |    CAST(sum(n_xy) OVER (PARTITION BY seg) AS BIGINT) AS n_x,
        |    CAST(sum(n_xy) OVER (PARTITION BY nat) AS BIGINT) AS n_y,
        |    CAST(sum(n_xy) OVER () AS BIGINT) AS n
        |  FROM cells)
        |SELECT seg, nat, n_xy, n_x, n_y,
        |  round((CAST(n_xy AS DOUBLE) / n) *
        |    ln(CAST(n_xy AS DOUBLE) * n /
        |      (CAST(n_x AS DOUBLE) * n_y)), 6) + 0.0 AS mi_contrib_r
        |FROM m""".stripMargin)
  )
}
