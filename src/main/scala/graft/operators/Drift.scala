package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.Pin._

/** Distribution-shift monitoring between corpus slices or time windows —
  * the drift triad an ML data pipeline alarms on: PSI for bucketed
  * numeric features, Jensen–Shannon divergence for categorical/token
  * distributions, and the χ² independence statistic for factor pairs.
  *
  * All three reduce to combinable grouped counts followed by scalar
  * column algebra on the (tiny) count frames: one scan per input at any
  * data size, joins only over bucket/category/level keys. Probabilities
  * are IEEE divisions of exact integer counts and the logs are pure
  * per-row functions, so a SQL mirror computes bit-identical terms; only
  * final summation order differs (collapsed by 4-decimal rounding — the
  * repo's cross-engine convention). */
object Drift {

  /** Population Stability Index of `valueCol` between a REFERENCE frame
    * and a CURRENT frame over `buckets` equal-width bins spanned by the
    * reference's [min, max] (current values outside clamp to the edge
    * bins — the standard scoring-time treatment of range drift; nulls are
    * excluded on both sides). Shares are Laplace-smoothed
    * (n_i + 0.5)/(N + buckets/2) so empty bins keep every ln finite and
    * the measure stays defined for disjoint supports.
    *
    * Output: one row per bin — (bucket, n_ref, n_cur, p, q, psi_term) —
    * plus the total in `psi` on every row (rule of thumb: < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted). */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need at least two buckets")
    val v = F.col(valueCol).cast("double")
    val bounds = ref.filter(v.isNotNull).agg(F.min(v).as("__lo"), F.max(v).as("__hi"))
    def bucketed(df: DataFrame, n: String): DataFrame =
      df.filter(v.isNotNull).crossJoin(F.broadcast(bounds))
        .select(F.least(F.greatest(
          F.when(F.col("__hi") === F.col("__lo"), F.lit(0)) // degenerate ref range
            .otherwise(F.floor((v - F.col("__lo")) / ((F.col("__hi") - F.col("__lo")) / buckets))
              .cast("int")),
          F.lit(0)), F.lit(buckets - 1)).as("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).as(n))
    psiFromCounts(ref.sparkSession, bucketed(ref, "n_ref"), bucketed(cur, "n_cur"), buckets)
  }

  /** The [[psi]] scoring tail over pre-aggregated (bucket, n) frames —
    * bucket counts are the drift monitor's MERGEABLE summary (plain
    * sums). */
  def psiFromCounts(spark: org.apache.spark.sql.SparkSession,
                    refCounts: DataFrame, curCounts: DataFrame, buckets: Int): DataFrame = {
    val grid = spark.range(0, buckets).select(F.col("id").cast("int").as("bucket"))
    val counts = grid
      .join(refCounts.withColumnRenamed(refCounts.columns(1), "n_ref"), Seq("bucket"), "left")
      .join(curCounts.withColumnRenamed(curCounts.columns(1), "n_cur"), Seq("bucket"), "left")
      .select(F.col("bucket"),
        F.coalesce(F.col("n_ref"), F.lit(0L)).as("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0L)).as("n_cur"))
    val tot = counts.agg(F.sum("n_ref").as("__tr"), F.sum("n_cur").as("__tc"))
    val smooth = F.lit(buckets.toDouble / 2.0)
    val scored = counts.crossJoin(F.broadcast(tot))
      .withColumn("p", (F.col("n_ref") + 0.5) / (F.col("__tr") + smooth))
      .withColumn("q", (F.col("n_cur") + 0.5) / (F.col("__tc") + smooth))
      .withColumn("__term", (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
    val total = scored.agg(F.sum("__term").as("__psi"))
    scored.crossJoin(F.broadcast(total))
      .select(F.col("bucket"), F.col("n_ref"), F.col("n_cur"),
        F.round(F.col("p"), 6).as("p"), F.round(F.col("q"), 6).as("q"),
        F.round(F.col("__term"), 6).as("psi_term"),
        F.round(F.col("__psi"), 4).as("psi"))
  }

  /** Pairwise Jensen–Shannon divergence (natural log; ∈ [0, ln 2])
    * between the per-slice distributions of `catCol`: for slices a < b,
    * JS = ½·KL(P‖M) + ½·KL(Q‖M) with M = ½(P+Q). Categories absent from
    * one side contribute only through the present side (0·ln0 := 0), so
    * no smoothing is needed — JS is finite by construction, which is why
    * it is the right divergence for open vocabularies (KL alone is +∞ the
    * moment one slice has a token the other lacks).
    *
    * Scale shape: one combinable (slice, category) count scan; the pair
    * join runs over per-category count rows — cost Σ_cat deg² like any
    * self-join on category, with the slice count G small. */
  def jsDivergence(df: DataFrame, sliceCol: String, catCol: Column): DataFrame =
    jsDivergenceFromCounts(
      df.filter(catCol.isNotNull && F.col(sliceCol).isNotNull)
        .groupBy(F.col(sliceCol).as("slice"), catCol.as("cat"))
        .agg(F.count(F.lit(1)).as("n")))

  /** The [[jsDivergence]] pair algebra over a pre-aggregated (slice,
    * cat, n) count frame — the mergeable-summary entry the streaming
    * accumulator re-enters (counts sum across micro-batches). */
  def jsDivergenceFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.groupBy("slice").agg(F.sum("n").as("tot"))
    val shares = counts.join(totals, "slice")
      .select(F.col("slice").as("__s"), F.col("cat"), (F.col("n") / F.col("tot")).as("sh"))
    // every unordered slice pair, exploded to its two members so the
    // share rows attach through a plain equi-join (a one-sided category
    // simply contributes one row; the other side sums to 0)
    val slices = totals.select(F.col("slice"))
    val memberOfPair = slices.select(F.col("slice").as("slice_a"))
      .join(slices.select(F.col("slice").as("slice_b")), F.col("slice_a") < F.col("slice_b"))
      .withColumn("__s", F.explode(F.array(F.col("slice_a"), F.col("slice_b"))))
    memberOfPair.join(shares, "__s")
      .groupBy("slice_a", "slice_b", "cat")
      .agg(
        F.sum(F.when(F.col("__s") === F.col("slice_a"), F.col("sh")).otherwise(0.0)).as("pa"),
        F.sum(F.when(F.col("__s") === F.col("slice_b"), F.col("sh")).otherwise(0.0)).as("pb"))
      .withColumn("m", (F.col("pa") + F.col("pb")) / 2.0)
      .withColumn("__t",
        F.when(F.col("pa") > 0.0, F.col("pa") * F.log(F.col("pa") / F.col("m")) / 2.0).otherwise(0.0) +
          F.when(F.col("pb") > 0.0, F.col("pb") * F.log(F.col("pb") / F.col("m")) / 2.0).otherwise(0.0))
      .groupBy("slice_a", "slice_b")
      .agg(F.round(F.sum("__t"), 4).as("js_div"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV statistic between slice `a` and
    * slice `b` of `valueCol`: D = sup_x |F_a(x) − F_b(x)| — the
    * distribution-shape drift test that needs no binning (PSI's grid) and
    * no smoothing, sensitive anywhere in the CDF, with the classic
    * finite-sample rejection threshold c(α)·√((n_a+n_b)/(n_a·n_b)).
    *
    * Scale shape: one grouped count per distinct value, then the
    * CUMULATIVE counts via the two-phase distributed prefix sum (range-
    * repartition, per-partition running sums, broadcast per-partition
    * offsets — the packSequences pattern; NO single-partition window over
    * the value axis, which is data-sized here, unlike the day/duration
    * axes elsewhere). The sup is a max over exact-integer CDF ratios —
    * every term bit-identical across engines, so the rejection decision
    * compares UNROUNDED statistics and still agrees.
    *
    * Output: one row — (n_a, n_b, ks_stat round 6, reject_95). */
  def ksTest(df: DataFrame, sliceCol: String, valueCol: String,
             a: String, b: String): DataFrame = {
    require(a != b, "slices must be distinct labels") // else every row lands in both
    ksFromCounts(valueCounts(df, sliceCol, valueCol, a, b))
  }

  /** [[ksTest]] over a pre-aggregated (x, c1, c2) per-distinct-value
    * count frame — the two-sample tests' MERGEABLE summary (plain sums
    * per value). */
  def ksFromCounts(byV: DataFrame): DataFrame = {
    val (cum, n) = cdfFromCounts(byV)
    val d = cum
      .crossJoin(F.broadcast(n))
      .select(F.abs(F.col("__k1").cast("double") / F.col("n1")
        - F.col("__k2").cast("double") / F.col("n2")).as("__d"))
      .agg(F.max("__d").as("ks"))
    d.crossJoin(F.broadcast(n))
      .select(F.col("n1").as("n_a"), F.col("n2").as("n_b"),
        F.round(F.col("ks"), 6).as("ks_stat"),
        (F.col("ks") > F.lit(1.358) * F.sqrt(
          (F.col("n1").cast("double") + F.col("n2"))
            / (F.col("n1").cast("double") * F.col("n2")))).as("reject_95"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between slice `a` and slice `b`
    * of `valueCol` — KS's rank-based sibling: does one slice
    * systematically produce LARGER values (location shift), where KS
    * reacts to any shape difference. Tie-corrected normal approximation:
    * ranks are midranks per distinct value (exact dyadic rationals, so
    * the rank sum is engine-exact), U₁ = R₁ − n₁(n₁+1)/2 — slice a's U,
    * the scipy.stats.mannwhitneyu orientation, so z < 0 means slice a
    * runs SMALLER — σ carries the Σ(t³−t) tie term; |z| > 1.96 rejects
    * at 95%, decided on the UNROUNDED statistic in both engines. Same
    * two-phase cumulative scaffold as [[ksTest]]. Output: (n_a, n_b,
    * u_stat, z round 4, reject_95). */
  def mannWhitney(df: DataFrame, sliceCol: String, valueCol: String,
                  a: String, b: String): DataFrame = {
    require(a != b, "slices must be distinct labels") // else every row lands in both
    mannWhitneyFromCounts(valueCounts(df, sliceCol, valueCol, a, b))
  }

  /** [[mannWhitney]] over a pre-aggregated (x, c1, c2) count frame. */
  def mannWhitneyFromCounts(byV: DataFrame): DataFrame = {
    val (cum, n) = cdfFromCounts(byV)
    val t = F.col("c1") + F.col("c2") // pooled multiplicity at this value
    val before = (F.col("__k1") + F.col("__k2") - t).cast("double")
    val midrank = before + (t.cast("double") + 1.0) / 2.0
    val s = cum.agg(
      F.sum(F.col("c1").cast("double") * midrank).as("r1"),
      F.sum(t.cast("double") * t * t - t.cast("double")).as("ties"))
    s.crossJoin(F.broadcast(n))
      .withColumn("__nn", (F.col("n1") + F.col("n2")).cast("double"))
      .withColumn("__u",
        F.col("r1") - F.col("n1").cast("double") * (F.col("n1") + 1) / 2.0)
      .withColumn("__mu", F.col("n1").cast("double") * F.col("n2") / 2.0)
      .withColumn("__sig", F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / 12.0
          * ((F.col("__nn") + 1.0)
            - F.col("ties") / (F.col("__nn") * (F.col("__nn") - 1.0)))))
      .withColumn("__z",
        F.when(F.col("__sig") > 0.0, (F.col("__u") - F.col("__mu")) / F.col("__sig")))
      .select(F.col("n1").as("n_a"), F.col("n2").as("n_b"),
        (F.round(F.col("__u"), 4) + F.lit(0.0)).as("u_stat"),
        (F.round(F.col("__z"), 4) + F.lit(0.0)).as("z"),
        (F.abs(F.col("__z")) > 1.96).as("reject_95"))
  }

  /** WELCH'S t-test (Welch, Biometrika 1947) between slice `a` and slice
    * `b` of `valueCol` — the parametric mean-difference companion to KS
    * (any shape) and MWU (location shift): does slice a's MEAN differ,
    * without assuming equal variances. Computed from the same one-scan
    * (x, c1, c2) count frame as the other two-sample tests: per-slice
    * n, Σx·c, Σx²·c (three doubles per slice, a mergeable summary), then
    *
    *   t = (m₁ − m₂) / √(v₁/n₁ + v₂/n₂),
    *   df = (v₁/n₁ + v₂/n₂)² / ((v₁/n₁)²/(n₁−1) + (v₂/n₂)²/(n₂−1)).
    *
    * The moment sums are unordered double sums (unlike MWU's exact
    * dyadics), so cross-engine agreement rests on round-4/round-2
    * outputs — the benford/chi2 class. reject_95 compares the UNROUNDED
    * |t| to 1.96: the normal approximation, appropriate at the df these
    * count frames produce (hundreds+); NULL t (a slice with n ≤ 1 or
    * zero pooled variance) gives NULL reject.
    *
    * Output: one row — (n_a, n_b, mean_a, mean_b, t, df_welch,
    * reject_95), means round 6, t round 4, df round 2. */
  def welchT(df: DataFrame, sliceCol: String, valueCol: String,
             a: String, b: String): DataFrame = {
    require(a != b, "slices must be distinct labels") // else every row lands in both
    welchTFromCounts(valueCounts(df, sliceCol, valueCol, a, b))
  }

  /** [[welchT]] over a pre-aggregated (x, c1, c2) count frame. */
  def welchTFromCounts(byV: DataFrame): DataFrame = {
    byV.agg(
        F.sum("c1").as("n1"), F.sum("c2").as("n2"),
        F.sum(F.col("x") * F.col("c1")).as("s1"),
        F.sum(F.col("x") * F.col("c2")).as("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("c1")).as("q1"),
        F.sum(F.col("x") * F.col("x") * F.col("c2")).as("q2"))
      .withColumn("m1", F.col("s1") / F.col("n1"))
      .withColumn("m2", F.col("s2") / F.col("n2"))
      .withColumn("v1", F.when(F.col("n1") > 1,
        (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)))
      .withColumn("v2", F.when(F.col("n2") > 1,
        (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1)))
      .withColumn("g1", F.col("v1") / F.col("n1"))
      .withColumn("g2", F.col("v2") / F.col("n2"))
      .withColumn("sem", F.col("g1") + F.col("g2"))
      .withColumn("tt", F.when(F.col("sem") > 0,
        (F.col("m1") - F.col("m2")) / F.sqrt(F.col("sem"))))
      .withColumn("dfw", F.when(F.col("sem") > 0,
        F.col("sem") * F.col("sem")
          / (F.col("g1") * F.col("g1") / (F.col("n1") - 1)
            + F.col("g2") * F.col("g2") / (F.col("n2") - 1))))
      .select(F.col("n1").as("n_a"), F.col("n2").as("n_b"),
        (F.round(F.col("m1"), 6) + F.lit(0.0)).as("mean_a"),
        (F.round(F.col("m2"), 6) + F.lit(0.0)).as("mean_b"),
        (F.round(F.col("tt"), 4) + F.lit(0.0)).as("t"),
        (F.round(F.col("dfw"), 2) + F.lit(0.0)).as("df_welch"),
        (F.abs(F.col("tt")) > 1.96).as("reject_95"))
  }

  /** Per-group DIVERSITY INDICES of a categorical column — the
    * corpus-composition read ("how language-diverse is each source",
    * "how concentrated is each day's event mix"): Shannon entropy
    * H = −Σ p ln p (nats), Simpson concentration λ = Σ p² (the
    * probability two random rows share the category — 1/λ is the
    * Hunter–Gaston diversity), the effective category count e^H (Hill
    * number q=1: "this mix behaves like N equally-common categories"),
    * and Pielou evenness H/ln k. One (group × category) count scan;
    * p-ratios are exact-BIGINT divisions and the Σ folds are bounded by
    * the category vocabulary (round-snap class). Evenness is NULL for a
    * single-category group (ln 1 = 0 — undefined, not perfect).
    * Output: one row per group — (group, n, k, shannon, simpson,
    * effective, evenness), round 6 / effective round 4. */
  def diversityIndices(df: DataFrame, groupCol: String,
                       catCol: String): DataFrame =
    df.filter(F.col(groupCol).isNotNull && F.col(catCol).isNotNull)
      .groupBy(F.col(groupCol).as("group"), F.col(catCol).as("__c"))
      .agg(F.count(F.lit(1)).as("__nc"))
      .groupBy("group")
      .agg(F.sum("__nc").as("n"), F.count(F.lit(1)).as("k"),
        // count-weighted ln fold with the n·ln n term restored after:
        // H = ln n + (−Σ nc·ln nc)/n, exactly the clusterAgreement trick
        F.sum(-(F.col("__nc").cast("double"))
          * F.log(F.col("__nc").cast("double"))).as("__hp"),
        // square in DOUBLE: an integer nc² passes 2^63 at corpus scale
        // and would wrap silently where the double merely rounds
        F.sum(F.col("__nc").cast("double") * F.col("__nc")).as("__ss"))
      .withColumn("__h", F.log(F.col("n").cast("double"))
        + F.col("__hp") / F.col("n"))
      .withColumn("__sim", F.col("__ss")
        / (F.col("n").cast("double") * F.col("n")))
      .select(F.col("group"), F.col("n"), F.col("k"),
        (F.round(F.col("__h"), 6) + F.lit(0.0)).as("shannon"),
        (F.round(F.col("__sim"), 6) + F.lit(0.0)).as("simpson"),
        (F.round(F.exp(F.col("__h")), 4) + F.lit(0.0)).as("effective"),
        (F.round(F.when(F.col("k") > 1,
          F.col("__h") / F.log(F.col("k").cast("double"))), 6)
          + F.lit(0.0)).as("evenness"))

  /** INVERSE-PROPENSITY-WEIGHTED ATE (Horvitz–Thompson 1952 weights,
    * Hájek ratio form) — the third leg of the causal set: [[cuped]]
    * reduces variance under randomization, [[diffInDiff]] cancels fixed
    * selection via a pre-period, IPW corrects CONFOUNDED assignment
    * when a propensity model P(treat | covariates) is available: each
    * arm's outcome mean is reweighted by 1/p (treated) or 1/(1−p)
    * (control), recovering the population mean each arm would have had
    * under full assignment. The Hájek normalization (weighted mean, not
    * the raw HT sum) keeps the estimate inside the outcome's range.
    * Propensities are CLIPPED to [0.01, 0.99] first — the standard
    * positivity guard; an unclipped p → 0 row would dominate the whole
    * estimate. ONE combinable aggregate; every operand is a per-row
    * IEEE product of engine-identical doubles (round-snap class).
    * EMPTY on empty input; NULL means when an arm is empty.
    * Output: one row — (n, n_treated, mu_treated, mu_control, ate),
    * round 6. */
  /** E-VALUE for unmeasured confounding (VanderWeele & Ding, Ann.
    * Intern. Med. 2017) — the robustness audit every observational
    * effect estimate owes its reader: the minimum risk ratio an
    * UNMEASURED confounder would need with BOTH treatment and outcome
    * to explain the whole observed association away, E = RR* +
    * √(RR*·(RR*−1)) with RR* the observed risk ratio oriented above 1
    * (a protective RR inverts first — the published convention). The
    * crude RR here is the unadjusted two-arm rate ratio of a BINARY
    * outcome — the honest companion to [[diffInDiff]]/[[ipwAte]], not a
    * replacement. One combinable aggregate; RR/E NULL when either arm
    * is empty or the control rate is 0 (RR undefined — not ∞).
    * Output: one row — (n, n_treated, rate_treated, rate_control, rr,
    * evalue), rates/rr round 6, E round 4. */
  def eValue(df: DataFrame, treatCol: String, outcomeCol: String): DataFrame = {
    val t = F.col(treatCol).cast("boolean")
    val y = F.col(outcomeCol).cast("boolean")
    df.filter(t.isNotNull && y.isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        F.count(F.when(t, 1)).as("n_treated"),
        F.count(F.when(t && y, 1)).as("__p1"),
        F.count(F.when(!t, 1)).as("__n0"),
        F.count(F.when(!t && y, 1)).as("__p0"))
      .withColumn("__rt", F.when(F.col("n_treated") > 0,
        F.col("__p1").cast("double") / F.col("n_treated")))
      .withColumn("__rc", F.when(F.col("__n0") > 0,
        F.col("__p0").cast("double") / F.col("__n0")))
      .withColumn("__rr", F.when(F.col("__rc") > 0.0, F.col("__rt") / F.col("__rc")))
      // orient above 1; an exactly-null RR = 1 has E = 1 (nothing to
      // explain); RR = 0 stays NULL (an infinite E is not a number a
      // robustness gate can threshold)
      .withColumn("__rs", F.when(F.col("__rr") >= 1.0, F.col("__rr"))
        .otherwise(F.when(F.col("__rr") > 0.0, F.lit(1.0) / F.col("__rr"))))
      .withColumn("__e", F.col("__rs") + F.sqrt(F.col("__rs") * (F.col("__rs") - 1.0)))
      .select(F.col("n"), F.col("n_treated"),
        (F.round(F.col("__rt"), 6) + F.lit(0.0)).as("rate_treated"),
        (F.round(F.col("__rc"), 6) + F.lit(0.0)).as("rate_control"),
        (F.round(F.col("__rr"), 6) + F.lit(0.0)).as("rr"),
        (F.round(F.col("__e"), 4) + F.lit(0.0)).as("evalue"))
  }

  def ipwAte(df: DataFrame, treatCol: String, outcomeCol: String,
             probCol: String): DataFrame = {
    val t = F.col(treatCol).cast("boolean")
    val y = F.col(outcomeCol).cast("double")
    val p = F.least(F.greatest(F.col(probCol).cast("double"),
      F.lit(0.01)), F.lit(0.99))
    df.filter(t.isNotNull && y.isNotNull && F.col(probCol).isNotNull)
      .select(t.as("t"), y.as("y"), p.as("p"))
      .agg(
        F.count(F.lit(1)).as("n"),
        F.count(F.when(F.col("t"), 1)).as("n_treated"),
        F.sum(F.when(F.col("t"), F.col("y") / F.col("p"))
          .otherwise(F.lit(0.0))).as("__sy1"),
        F.sum(F.when(F.col("t"), F.lit(1.0) / F.col("p"))
          .otherwise(F.lit(0.0))).as("__sw1"),
        F.sum(F.when(!F.col("t"), F.col("y") / (F.lit(1.0) - F.col("p")))
          .otherwise(F.lit(0.0))).as("__sy0"),
        F.sum(F.when(!F.col("t"), F.lit(1.0) / (F.lit(1.0) - F.col("p")))
          .otherwise(F.lit(0.0))).as("__sw0"))
      .filter(F.col("n").isNotNull && F.col("n") > 0)
      .withColumn("__m1", F.when(F.col("__sw1") > 0.0,
        F.col("__sy1") / F.col("__sw1")))
      .withColumn("__m0", F.when(F.col("__sw0") > 0.0,
        F.col("__sy0") / F.col("__sw0")))
      .select(F.col("n"), F.col("n_treated"),
        (F.round(F.col("__m1"), 6) + F.lit(0.0)).as("mu_treated"),
        (F.round(F.col("__m0"), 6) + F.lit(0.0)).as("mu_control"),
        (F.round(F.col("__m1") - F.col("__m0"), 6) + F.lit(0.0)).as("ate"))
  }

  /** KENDALL'S τ-b (Kendall, Biometrika 1938; tie correction per
    * Kendall 1945) — [[spearman]]'s pair-counting sibling: the
    * probability a random row pair is ranked the same way by both
    * columns, minus the probability it is ranked oppositely, with tied
    * margins normalized out: τ_b = (P − Q)/√((n₀−t_x)(n₀−t_y)). Where
    * Spearman averages rank displacement, τ counts INVERSIONS — the
    * number a ranking-quality reader wants.
    *
    * CONTRACT: both columns carry BOUNDED vocabularies (buckets,
    * grades, deciles — the isotonic value-axis discipline). The
    * concordance count folds over the distinct-cell contingency frame:
    * P and Q are ONE conditional aggregate over the cells × cells
    * broadcast nested loop (vocabulary², never the corpus — the
    * documented bounded kernel, the q_intrinsic_dim class), every count
    * an exact BIGINT (shiftright halving, overflow-safe √ via
    * cast-then-multiply). EMPTY on empty input; NULL τ when a margin is
    * fully tied (a constant column ranks nothing).
    *
    * Output: one row — (n, concordant, discordant, tau_b), round 6. */
  def kendallTau(df: DataFrame, xCol: String, yCol: String): DataFrame =
    kendallTauFromCounts(df.select(F.col(xCol).cast("double").as("x"),
        F.col(yCol).cast("double").as("y"))
      .filter(F.col("x").isNotNull && F.col("y").isNotNull)
      .groupBy("x", "y").agg(F.count(F.lit(1)).as("nij")))

  /** [[kendallTau]] over a pre-aggregated (x, y, nij) PAIR-count
    * contingency frame: P/Q/margins are exact-integer functions of the
    * merged cells, so merged cells give the row form's result
    * bit-for-bit. */
  def kendallTauFromCounts(byXY: DataFrame): DataFrame = {
    val cells = byXY
      .pin() // feeds the pair kernel + margins + totals
    def half(c: Column): Column = F.shiftright(c * (c - 1), 1)
    val c2 = cells.select(F.col("x").as("x2"), F.col("y").as("y2"),
      F.col("nij").as("n2"))
    val pq = cells.crossJoin(F.broadcast(c2)).agg(
      F.coalesce(F.sum(F.when(F.col("x") < F.col("x2") && F.col("y") < F.col("y2"),
        F.col("nij") * F.col("n2"))), F.lit(0L)).as("p"),
      F.coalesce(F.sum(F.when(F.col("x") < F.col("x2") && F.col("y") > F.col("y2"),
        F.col("nij") * F.col("n2"))), F.lit(0L)).as("q"))
    val tx = cells.groupBy("x").agg(F.sum("nij").as("cx"))
      .agg(F.sum(half(F.col("cx"))).as("n1t"))
    val ty = cells.groupBy("y").agg(F.sum("nij").as("cy"))
      .agg(F.sum(half(F.col("cy"))).as("n2t"))
    val n = cells.agg(F.sum("nij").as("n"))
    pq.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(tx))
      .crossJoin(F.broadcast(ty))
      .filter(F.col("n").isNotNull)
      .withColumn("__n0", half(F.col("n")))
      .select(F.col("n"), F.col("p").as("concordant"), F.col("q").as("discordant"),
        (F.round(F.when(F.col("__n0") > F.col("n1t") && F.col("__n0") > F.col("n2t"),
          (F.col("p") - F.col("q")).cast("double")
            / F.sqrt((F.col("__n0") - F.col("n1t")).cast("double")
              * (F.col("__n0") - F.col("n2t")))), 6)
          + F.lit(0.0)).as("tau_b"))
  }

  /** SPEARMAN rank correlation between two columns — Pearson on
    * midranks: the monotone-association number that ignores the
    * columns' scales and outliers entirely (Spearman 1904). Midranks
    * per distinct value are exact dyadic rationals (the MWU anchor), so
    * every sum here — Σr, Σr², Σr_x·r_y — is an ORDER-INDEPENDENT exact
    * double and the statistic is engine-bit-identical with no rounding
    * discipline beyond the output snap. Ranks come from the two-phase
    * distributed prefix per column (never a single-partition window
    * over the data-sized value axis); the rank join back to rows is
    * value-keyed.
    *
    * Output: ONE row — (n, rho round 6), NULL rho when either column is
    * constant. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(F.col(xCol).cast("double").as("x"),
        F.col(yCol).cast("double").as("y"))
      .filter(F.col("x").isNotNull && F.col("y").isNotNull)
      .pin() // feeds both rank maps AND the rank join
    def rankMap(col: String): DataFrame =
      midranks(base.groupBy(F.col(col).as("v")).agg(F.count(F.lit(1)).as("c")))
    val rx = rankMap("x").select(F.col("v").as("x"), F.col("r").as("ra"))
    val ry = rankMap("y").select(F.col("v").as("y"), F.col("r").as("rb"))
    val s = base.join(rx, "x").join(ry, "y").agg(
      F.count(F.lit(1)).as("cnt"),
      F.sum("ra").as("sx"), F.sum("rb").as("sy"),
      F.sum(F.col("ra") * F.col("rb")).as("sxy"),
      F.sum(F.col("ra") * F.col("ra")).as("sxx"),
      F.sum(F.col("rb") * F.col("rb")).as("syy"))
    s.select(F.col("cnt").as("n"), Pearson.fromSums(F.col("cnt")).as("rho"))
  }

  /** Midranks over a per-distinct-value (v, c) count frame via the
    * two-phase distributed prefix — midrank = (# strictly smaller) +
    * (t + 1)/2, the MWU shape. Shared by [[spearman]] and
    * [[spearmanFromCounts]]. */
  private def midranks(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (parted, offsets) = TwoPhase.partitionOffsets(
      counts, Seq(F.col("v")), Seq(F.sum("c") -> "__o"))
    val within = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.join(F.broadcast(offsets), "__pid")
      .withColumn("__k", F.col("__o") + F.sum("c").over(within))
      .select(F.col("v"),
        ((F.col("__k") - F.col("c")).cast("double")
          + (F.col("c").cast("double") + 1.0) / 2.0).as("r"))
  }

  /** [[spearman]] over a pre-aggregated (x, y, n) PAIR-count frame — the
    * mergeable summary: marginal value counts
    * are the pair counts' marginal sums, and every rank sum is the
    * count-weighted form of the row sum. Midranks are exact dyadic
    * rationals and counts exact integers, so each weighted product and
    * sum stays an exact double (within 2⁵³) — the row form's result
    * bit-for-bit, no rounding margin needed. */
  def spearmanFromCounts(byXY: DataFrame): DataFrame = {
    val base = byXY.select(F.col("x").cast("double").as("x"),
        F.col("y").cast("double").as("y"), F.col("n").cast("long").as("c"))
      .filter(F.col("x").isNotNull && F.col("y").isNotNull && F.col("c") > 0)
      .pin()
    def rankMap(col: String): DataFrame =
      midranks(base.groupBy(F.col(col).as("v")).agg(F.sum("c").as("c")))
    val rx = rankMap("x").select(F.col("v").as("x"), F.col("r").as("ra"))
    val ry = rankMap("y").select(F.col("v").as("y"), F.col("r").as("rb"))
    val cd = F.col("c").cast("double")
    val s = base.join(rx, "x").join(ry, "y").agg(
      F.sum("c").as("cnt"),
      F.sum(F.col("ra") * cd).as("sx"), F.sum(F.col("rb") * cd).as("sy"),
      F.sum(F.col("ra") * F.col("rb") * cd).as("sxy"),
      F.sum(F.col("ra") * F.col("ra") * cd).as("sxx"),
      F.sum(F.col("rb") * F.col("rb") * cd).as("syy"))
    s.select(F.col("cnt").as("n"), Pearson.fromSums(F.col("cnt")).as("rho"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013) —
    * the modern A/B-test workhorse: adjust each unit's experiment-period
    * metric Y by its PRE-period metric X, Y' = Y − θ·(X − X̄) with
    * θ = cov(X,Y)/var(X) pooled across arms, and the arm difference
    * keeps its expectation while its variance drops by exactly
    * corr(X,Y)² — typically 40-70% fewer samples for the same power on
    * count metrics.
    *
    * Input: one row per unit — (arm, x, y) with INTEGER count metrics
    * (the common case), so every moment sum is an exact BIGINT and θ,
    * the adjusted means, and the variance reduction are fixed-shape
    * IEEE over exact integers — engine-bit-identical, the Pearson
    * anchor. Arms are the min/max of the arm column (two-arm; others'
    * rows are excluded). One combinable aggregate over units — nothing
    * else shuffles.
    *
    * Output: ONE row — (n_a, n_b, theta, diff_raw, diff_adj,
    * var_reduction = corr²(X,Y)), round 6; θ/adjusted columns NULL when
    * var(X) = 0 (no pre-period signal — CUPED degenerates to the raw
    * difference). */
  def cuped(units: DataFrame, armCol: String, xCol: String, yCol: String): DataFrame = {
    // Single-arm degeneracy guard (same shape as logRankFromCounts):
    // ga == gb would double-count every unit (n_a = n_b = n,
    // diff_raw = 0) — require two distinct arms, else EMPTY.
    val gs = units.agg(F.min(armCol).as("ga"), F.max(armCol).as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val b = units.crossJoin(F.broadcast(gs))
      .select(F.col(armCol).as("g"), F.col("ga"), F.col("gb"),
        F.col(xCol).cast("long").as("x"), F.col(yCol).cast("long").as("y"))
      .filter(F.col("x").isNotNull && F.col("y").isNotNull &&
        (F.col("g") === F.col("ga") || F.col("g") === F.col("gb")))
    val s = b.agg(
      F.count(F.lit(1)).as("n"),
      F.sum("x").as("sx"), F.sum("y").as("sy"),
      F.sum(F.col("x") * F.col("y")).as("sxy"),
      F.sum(F.col("x") * F.col("x")).as("sxx"),
      F.sum(F.col("y") * F.col("y")).as("syy"),
      F.sum(F.when(F.col("g") === F.col("ga"), 1L).otherwise(0L)).as("na"),
      F.sum(F.when(F.col("g") === F.col("ga"), F.col("x")).otherwise(0L)).as("sxa"),
      F.sum(F.when(F.col("g") === F.col("ga"), F.col("y")).otherwise(0L)).as("sya"),
      F.sum(F.when(F.col("g") === F.col("gb"), 1L).otherwise(0L)).as("nb"),
      F.sum(F.when(F.col("g") === F.col("gb"), F.col("x")).otherwise(0L)).as("sxb"),
      F.sum(F.when(F.col("g") === F.col("gb"), F.col("y")).otherwise(0L)).as("syb"))
    cupedFromMoments(s)
  }

  /** [[cuped]] over a pre-aggregated (arm, x, y, n) count frame — the
    * mergeable summary: every moment becomes the count-weighted
    * exact-BIGINT form of the row sum (integer metrics — the operator's
    * contract), so merged counts give the row form's result bit-for-bit. The
    * arm min/max is taken over the MERGED counts, so a micro-batch that
    * saw one arm only can never skew the arm identification. */
  def cupedFromCounts(byAXY: DataFrame): DataFrame = {
    val gs = byAXY.agg(F.min("arm").as("ga"), F.max("arm").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val b = byAXY.crossJoin(F.broadcast(gs))
      .select(F.col("arm").as("g"), F.col("ga"), F.col("gb"),
        F.col("x").cast("long").as("x"), F.col("y").cast("long").as("y"),
        F.col("n").cast("long").as("c"))
      .filter(F.col("x").isNotNull && F.col("y").isNotNull && F.col("c") > 0 &&
        (F.col("g") === F.col("ga") || F.col("g") === F.col("gb")))
    val s = b.agg(
      F.sum("c").as("n"),
      F.sum(F.col("x") * F.col("c")).as("sx"),
      F.sum(F.col("y") * F.col("c")).as("sy"),
      F.sum(F.col("x") * F.col("y") * F.col("c")).as("sxy"),
      F.sum(F.col("x") * F.col("x") * F.col("c")).as("sxx"),
      F.sum(F.col("y") * F.col("y") * F.col("c")).as("syy"),
      F.sum(F.when(F.col("g") === F.col("ga"), F.col("c")).otherwise(0L)).as("na"),
      F.sum(F.when(F.col("g") === F.col("ga"), F.col("x") * F.col("c")).otherwise(0L)).as("sxa"),
      F.sum(F.when(F.col("g") === F.col("ga"), F.col("y") * F.col("c")).otherwise(0L)).as("sya"),
      F.sum(F.when(F.col("g") === F.col("gb"), F.col("c")).otherwise(0L)).as("nb"),
      F.sum(F.when(F.col("g") === F.col("gb"), F.col("x") * F.col("c")).otherwise(0L)).as("sxb"),
      F.sum(F.when(F.col("g") === F.col("gb"), F.col("y") * F.col("c")).otherwise(0L)).as("syb"))
    cupedFromMoments(s)
  }

  /** The θ / adjusted-difference tail over the 12-moment one-row frame —
    * the shared scoring of [[cuped]] and [[cupedFromCounts]]. */
  private def cupedFromMoments(s: DataFrame): DataFrame = {
    val nd = F.col("n").cast("double")
    val vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    val vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    val num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    val theta = F.when(vx > 0.0, num / vx)
    val meanX = F.col("sx").cast("double") / F.col("n")
    val adjA = F.col("sya").cast("double") / F.col("na") -
      theta * (F.col("sxa").cast("double") / F.col("na") - meanX)
    val adjB = F.col("syb").cast("double") / F.col("nb") -
      theta * (F.col("sxb").cast("double") / F.col("nb") - meanX)
    s.filter(F.col("na") > 0 && F.col("nb") > 0)
      .select(F.col("na").as("n_a"), F.col("nb").as("n_b"),
        (F.round(theta, 6) + F.lit(0.0)).as("theta"),
        (F.round(F.col("sya").cast("double") / F.col("na")
          - F.col("syb").cast("double") / F.col("nb"), 6) + F.lit(0.0)).as("diff_raw"),
        (F.round(adjA - adjB, 6) + F.lit(0.0)).as("diff_adj"),
        (F.round(F.when(vx > 0.0 && vy > 0.0, num * num / (vx * vy)), 6)
          + F.lit(0.0)).as("var_reduction"))
  }

  /** One row per distinct value with per-slice counts. */
  private def valueCounts(df: DataFrame, sliceCol: String, valueCol: String,
                          a: String, b: String): DataFrame = {
    val v = F.col(valueCol).cast("double")
    df.filter(v.isNotNull && (F.col(sliceCol) === a || F.col(sliceCol) === b))
      .groupBy(v.as("x"))
      .agg(F.count(F.when(F.col(sliceCol) === a, 1)).as("c1"),
        F.count(F.when(F.col(sliceCol) === b, 1)).as("c2"))
  }

  /** Shared two-sample scaffold: INCLUSIVE cumulative counts (__k1,
    * __k2) over a (x, c1, c2) frame via the two-phase distributed prefix
    * sum (range-repartition + per-partition running sums + broadcast
    * partition offsets — never a single-partition window over the
    * data-sized value axis), plus the 1-row (n1, n2) totals frame. */
  private[operators] def cdfFromCounts(byV: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val (parted, offsets) = TwoPhase.partitionOffsets(
      byV.filter(F.col("x").isNotNull), // count-frame callers may carry a failed cast
      Seq(F.col("x")),
      Seq(F.sum("c1") -> "__o1", F.sum("c2") -> "__o2"))
    val within = Window.partitionBy("__pid").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the offsets frame's LAST row plus its partition total = the grand
    // totals, but folding the tiny offsets frame directly is simpler:
    // n1/n2 from one more pass over ≤ shuffle-partitions rows
    val n = parted.groupBy("__pid")
      .agg(F.sum("c1").as("__s1"), F.sum("c2").as("__s2"))
      .agg(F.sum("__s1").as("n1"), F.sum("__s2").as("n2"))
    val cum = parted.join(F.broadcast(offsets), "__pid")
      .withColumn("__k1", F.col("__o1") + F.sum("c1").over(within))
      .withColumn("__k2", F.col("__o2") + F.sum("c2").over(within))
    (cum, n)
  }

  /** Benford first-significant-digit screen — the classic fabricated-
    * numbers / broken-ETL detector: natural multi-scale magnitudes put
    * digit d first with probability log₁₀(1 + 1/d); uniform, truncated,
    * or synthesized columns do not. The digit is extracted from the
    * value's STRING rendering (first [1-9] character) — immune to
    * engine differences in log/pow edge rounding AND to rendering
    * differences like trailing zeros, since only the first nonzero
    * digit is read. One count scan; expected shares are per-digit
    * constants; the Pearson statistic sums nine doubles (round 4).
    *
    * Output: one row per digit 1–9 — (digit, n, share, expected) — with
    * the total `benford_chi2` on every row (the psi layout). */
  def benford(df: DataFrame, valueCol: Column): DataFrame = {
    val digit = F.nullif(
      F.regexp_extract(F.abs(valueCol).cast("string"), "[1-9]", 0), F.lit("")).cast("int")
    val counts = df.filter(valueCol.isNotNull)
      .select(digit.as("digit")).filter(F.col("digit").isNotNull)
      .groupBy("digit").agg(F.count(F.lit(1)).as("n"))
    val grid = df.sparkSession.range(1, 10).select(F.col("id").cast("int").as("digit"))
    val filled = grid.join(counts, Seq("digit"), "left")
      .select(F.col("digit"), F.coalesce(F.col("n"), F.lit(0L)).as("n"))
    val tot = filled.agg(F.sum("n").as("__t"))
    val scored = filled.crossJoin(F.broadcast(tot))
      .withColumn("__p", F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")))
      .withColumn("__e", F.col("__t") * F.col("__p"))
      .withColumn("__chi", (F.col("n") - F.col("__e")) * (F.col("n") - F.col("__e")) / F.col("__e"))
    val chi = scored.agg(F.sum("__chi").as("__c"))
    scored.crossJoin(F.broadcast(chi))
      .select(F.col("digit"), F.col("n"),
        F.round(F.col("n").cast("double") / F.col("__t"), 6).as("share"),
        F.round(F.col("__p"), 6).as("expected"),
        F.round(F.col("__c"), 4).as("benford_chi2"))
  }

  /** Page's CUSUM changepoint statistic (Page, "Continuous inspection
    * schemes", Biometrika 1954) over a per-key time series — WHEN did the
    * monitored metric shift, the question PSI's window-vs-window score
    * cannot answer. Two one-sided statistics against the key's own
    * retrospective mean μ: S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − μ − slack)) flags
    * upward shifts, S⁻ₜ symmetrically downward; alarms where the
    * (rounded) statistic exceeds `threshold`.
    *
    * The recursion is NOT iterated: max(0, ·) folds into the closed form
    * S⁺ₜ = Pₜ − min(0, min_{j≤t} Pⱼ) over prefix sums P, so the whole
    * operator is two running-sum + running-extremum windows PARTITIONED
    * BY KEY (never a single-partition window over data; rows per key =
    * series length). Engine parity: per-term arithmetic is IEEE-identical;
    * window summation ORDER can differ (segment trees), drift ~1e-16,
    * collapsed by the round-6 outputs — and alarms compare the ROUNDED
    * statistic, so both engines decide on identical values.
    *
    * Input: one row per (key, t) with numeric `x` (integral-valued
    * doubles keep the prefix sums exact). Output: (key, t, x, cusum_hi,
    * cusum_lo, alarm_hi, alarm_lo). */
  def cusum(series: DataFrame, keyCol: String, tCol: String, xCol: String,
            slack: Double, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = series.select(F.col(keyCol).as("k"), F.col(tCol).as("t"),
      F.col(xCol).cast("double").as("x"))
    val mu = base.groupBy("k").agg((F.sum("x") / F.count(F.lit(1))).as("mu"))
    val p = base.join(mu, "k")
      .withColumn("__yh", F.col("x") - F.col("mu") - F.lit(slack))
      .withColumn("__yl", F.col("x") - F.col("mu") + F.lit(slack))
      .withColumn("__ph", F.sum("__yh").over(w))
      .withColumn("__pl", F.sum("__yl").over(w))
    p.withColumn("__sh",
        F.round(F.col("__ph") - F.least(F.lit(0.0), F.min("__ph").over(w)), 6))
      .withColumn("__sl",
        F.round(F.greatest(F.lit(0.0), F.max("__pl").over(w)) - F.col("__pl"), 6))
      .select(F.col("k"), F.col("t"), F.col("x"),
        F.col("__sh").as("cusum_hi"), F.col("__sl").as("cusum_lo"),
        (F.col("__sh") > threshold).as("alarm_hi"),
        (F.col("__sl") > threshold).as("alarm_lo"))
  }

  /** DIFFERENCE-IN-DIFFERENCES (the 2×2 Card & Krueger 1994 design):
    * when treatment wasn't randomized, the naive post-period gap
    * confounds selection with effect — DiD subtracts each group's OWN
    * pre-period level, so any fixed group difference cancels and only
    * the differential CHANGE remains (valid under parallel trends):
    *
    *   DiD = (x̄_treat,post − x̄_treat,pre) − (x̄_ctl,post − x̄_ctl,pre)
    *
    * with the large-sample SE √(Σ_cell v/n) over the four cells'
    * Welch-style variances. One combinable moment aggregate; the cell
    * moments are unordered double sums (the welch class), so agreement
    * rests on the round-4/6 outputs — rejection decided on the ROUNDED
    * statistic. NULL z when any cell has n ≤ 1 or zero variance ride
    * through the sum as NULL. Output: one row — (n_tp, n_tq, n_cp,
    * n_cq, mean_treat_pre, mean_treat_post, mean_ctl_pre,
    * mean_ctl_post, did, se, z, reject_95). */
  def diffInDiff(df: DataFrame, groupCol: String, periodCol: String,
                 valueCol: String, treat: String, control: String,
                 pre: String, post: String): DataFrame = {
    require(treat != control, "groups must be distinct labels")
    require(pre != post, "periods must be distinct labels")
    val v = F.col(valueCol).cast("double")
    def cell(g: String, per: String, tag: String) = Seq(
      F.count(F.when(F.col(groupCol) === g && F.col(periodCol) === per, 1))
        .as(s"n_$tag"),
      F.sum(F.when(F.col(groupCol) === g && F.col(periodCol) === per, v)
        .otherwise(0.0)).as(s"s_$tag"),
      F.sum(F.when(F.col(groupCol) === g && F.col(periodCol) === per, v * v)
        .otherwise(0.0)).as(s"q_$tag"))
    val aggs = cell(treat, pre, "tp") ++ cell(treat, post, "tq") ++
      cell(control, pre, "cp") ++ cell(control, post, "cq")
    def m(t: String) = F.when(F.col(s"n_$t") > 0, F.col(s"s_$t") / F.col(s"n_$t"))
    def vn(t: String) = F.when(F.col(s"n_$t") > 1,
      ((F.col(s"q_$t") - F.col(s"s_$t") * F.col(s"s_$t") / F.col(s"n_$t"))
        / (F.col(s"n_$t") - 1)) / F.col(s"n_$t"))
    df.filter(v.isNotNull && F.col(groupCol).isNotNull && F.col(periodCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__did", (m("tq") - m("tp")) - (m("cq") - m("cp")))
      .withColumn("__se",
        F.sqrt(vn("tp") + vn("tq") + vn("cp") + vn("cq")))
      .withColumn("__z", F.when(F.col("__se") > 0, F.col("__did") / F.col("__se")))
      .select(F.col("n_tp"), F.col("n_tq"), F.col("n_cp"), F.col("n_cq"),
        (F.round(m("tp"), 6) + F.lit(0.0)).as("mean_treat_pre"),
        (F.round(m("tq"), 6) + F.lit(0.0)).as("mean_treat_post"),
        (F.round(m("cp"), 6) + F.lit(0.0)).as("mean_ctl_pre"),
        (F.round(m("cq"), 6) + F.lit(0.0)).as("mean_ctl_post"),
        (F.round(F.col("__did"), 6) + F.lit(0.0)).as("did"),
        (F.round(F.col("__se"), 6) + F.lit(0.0)).as("se"),
        (F.round(F.col("__z"), 4) + F.lit(0.0)).as("z"),
        (F.abs(F.round(F.col("__z"), 4)) > 1.96).as("reject_95"))
  }

  /** MIXTURE SPRT with always-valid p-values (Robbins 1970; Johari,
    * Koomen, Pekelis & Walsh, KDD 2017 — the "peeking" fix): a fixed-n
    * test lies to anyone who looks every day; the mSPRT's p-sequence is
    * valid at EVERY stopping time, so the dashboard can stop the moment
    * it crosses α with the false-positive guarantee intact. Per day t,
    * with exact cumulative arm counts/sums, θ̂ₜ = x̄ₐ − x̄_b and
    * vₜ = σ̂²(1/Nₐ + 1/N_b) feed the Gaussian-mixture likelihood ratio
    *
    *   Λₜ = √(vₜ/(vₜ+τ²)) · exp(θ̂ₜ²·τ² / (2vₜ(vₜ+τ²))),
    *
    * and pₜ = min(1, min_{s≤t} 1/Λₛ) is monotone non-increasing —
    * running-min over the day axis. σ̂² is the pooled retrospective
    * variance (one 9-snapped scalar — the ewma baseline discipline); τ
    * is the mixture scale (≈ the effect size the test is tuned to).
    *
    * Determinism: the metric is snapped to integer micros so every
    * cumulative (N, Σx) pair is an exact BIGINT; θ̂/v/Λ are fixed-shape
    * IEEE of those, 1/Λ is 9-snapped BEFORE the running min, and the
    * rejection compares the rounded p to α — both engines decide
    * identically. Day-axis windows only (calendar-bounded).
    *
    * Output: one row per day — (t, n_a, n_b, diff, p_always_valid,
    * reject); p NULL until both arms have data and σ̂² > 0. */
  def msprt(df: DataFrame, tCol: String, armCol: String, valueCol: String,
            a: String, b: String, tau: Double, alpha: Double = 0.05): DataFrame = {
    require(a != b, "arms must be distinct labels")
    require(tau > 0, "mixture scale tau must be positive")
    // centi-snap (not micros): the pooled variance needs Σx², and cent
    // codes keep x² sums inside BIGINT headroom at any realistic scale
    // (1e4² × 1e8 rows ≈ 1e16) while staying EXACT integer moments
    val x2 = F.round(F.col(valueCol).cast("double") * 1e2, 0).cast("long")
    msprtFromCounts(df
      .filter(F.col(tCol).isNotNull && F.col(valueCol).isNotNull
        && (F.col(armCol) === a || F.col(armCol) === b))
      .groupBy(F.col(tCol).as("t"), F.col(armCol).as("g"), x2.as("x2"))
      .agg(F.count(F.lit(1)).as("c")),
      a, b, tau, alpha)
  }

  /** [[msprt]] over a pre-aggregated (t, g, x2, c) count frame — the
    * per-(day, arm, centi-value) multiplicities are the test's complete
    * mergeable summary. */
  def msprtFromCounts(byTGX0: DataFrame, a: String, b: String,
                      tau: Double, alpha: Double = 0.05): DataFrame = {
    require(a != b, "arms must be distinct labels")
    require(tau > 0, "mixture scale tau must be positive")
    val byTGX = byTGX0.filter(F.col("t").isNotNull && F.col("x2").isNotNull
      && (F.col("g") === a || F.col("g") === b))
    val perDay = byTGX.groupBy("t").agg(
      F.sum(F.when(F.col("g") === a, F.col("c")).otherwise(0L)).as("ca"),
      F.sum(F.when(F.col("g") === a, F.col("x2") * F.col("c")).otherwise(0L)).as("sa"),
      F.sum(F.when(F.col("g") === b, F.col("c")).otherwise(0L)).as("cb"),
      F.sum(F.when(F.col("g") === b, F.col("x2") * F.col("c")).otherwise(0L)).as("sb"))
    // pooled retrospective variance of the (centi-snapped) metric — one
    // 9-snapped scalar from exact integer moments
    val sig = byTGX.agg(F.sum(F.col("c")).as("__n"),
        F.sum(F.col("x2") * F.col("c")).as("__s"),
        F.sum(F.col("x2") * F.col("x2") * F.col("c")).as("__q"))
      .select(F.when(F.col("__n") > 1, F.round(
        (F.col("__q").cast("double") / 1e4
          - (F.col("__s").cast("double") / 1e2) * (F.col("__s") / 1e2) / F.col("__n"))
          / (F.col("__n") - 1), 9)).as("__sig2"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tau2 = tau * tau
    perDay.crossJoin(F.broadcast(sig))
      .withColumn("__na", F.sum("ca").over(w))
      .withColumn("__sa", F.sum("sa").over(w))
      .withColumn("__nb", F.sum("cb").over(w))
      .withColumn("__sb", F.sum("sb").over(w))
      .withColumn("__diff", F.when(F.col("__na") > 0 && F.col("__nb") > 0,
        F.col("__sa").cast("double") / 1e2 / F.col("__na")
          - F.col("__sb").cast("double") / 1e2 / F.col("__nb")))
      .withColumn("__v", F.when(F.col("__na") > 0 && F.col("__nb") > 0 && F.col("__sig2") > 0,
        F.col("__sig2") * (F.lit(1.0) / F.col("__na") + F.lit(1.0) / F.col("__nb"))))
      .withColumn("__lam",
        F.sqrt(F.col("__v") / (F.col("__v") + tau2))
          * F.exp(F.col("__diff") * F.col("__diff") * tau2
            / (F.lit(2.0) * F.col("__v") * (F.col("__v") + tau2))))
      .withColumn("__invl", F.round(F.lit(1.0) / F.col("__lam"), 9))
      .withColumn("p_always_valid", F.least(F.lit(1.0), F.min("__invl").over(w)))
      .select(F.col("t"), F.col("__na").as("n_a"), F.col("__nb").as("n_b"),
        (F.round(F.col("__diff"), 6) + F.lit(0.0)).as("diff"),
        F.col("p_always_valid"),
        (F.col("p_always_valid") <= alpha).as("reject"))
  }

  /** EWMA control chart (Roberts, Technometrics 1959) over a per-key
    * time series — [[cusum]]'s memory-weighted sibling: zₜ = λ·xₜ +
    * (1−λ)·zₜ₋₁ reacts to SMALL sustained shifts a Shewhart-style
    * threshold misses, with the classic time-varying control limits
    * μ ± L·σ·√(λ/(2−λ)·(1 − (1−λ)^(2t))). μ, σ are the key's own
    * retrospective moments (the cusum baseline discipline).
    *
    * Spark-first shape: ONE combinable aggregate builds each key's
    * t-ordered value array (bounded by the TIME axis, never event
    * count), the recursion runs inside a single codegen'd `aggregate`
    * fold with each zₜ snapped to 9 decimals (the Holt-Winters
    * trajectory discipline — a DuckDB recursive CTE replays it
    * bit-for-bit), and λ's complement is interpolated ONCE from the
    * same Scala double into both engines (1−λ recomputed per engine is
    * the ulp fork no snap absorbs). Alarms compare ROUNDED z to ROUNDED
    * limits. Keys with < 2 points (no σ) are dropped.
    *
    * Output: (k, t, x, ewma, ucl, lcl, alarm), round 6. */
  def ewmaChart(series: DataFrame, keyCol: String, tCol: String, xCol: String,
                lambda: Double = 0.2, limitL: Double = 3.0): DataFrame = {
    require(lambda > 0 && lambda <= 1, "lambda in (0, 1]")
    val oneMinus = 1.0 - lambda
    val lamFac = lambda / (2.0 - lambda)
    val base = series.select(F.col(keyCol).as("k"), F.col(tCol).as("t"),
        F.col(xCol).cast("double").as("x"))
      .filter(F.col("k").isNotNull && F.col("t").isNotNull && F.col("x").isNotNull)
    val stats = base.groupBy("k")
      .agg(F.count(F.lit(1)).as("__n"), F.sum("x").as("__s"),
        F.sum(F.col("x") * F.col("x")).as("__q"))
      .filter(F.col("__n") >= 2)
      .withColumn("__mu", F.round(F.col("__s") / F.col("__n"), 9))
      .withColumn("__sigma", F.round(F.sqrt(
        (F.col("__q") - F.col("__s") * F.col("__s") / F.col("__n"))
          / (F.col("__n") - 1)), 9))
      .select("k", "__mu", "__sigma")
    val arr = base.groupBy("k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("t"), F.col("x")))).as("__a"))
    val zs = s"aggregate(__a, cast(array() as array<double>), (zs, e) -> " +
      s"zs || array(round($lambda * e.x + $oneMinus * " +
      s"(if(size(zs) = 0, __mu, element_at(zs, size(zs)))), 9)))"
    arr.join(stats, "k")
      .withColumn("__zs", F.expr(zs))
      .select(F.col("k"), F.col("__mu"), F.col("__sigma"),
        F.posexplode(F.arrays_zip(F.col("__a"), F.col("__zs"))))
      .withColumn("__i", F.col("pos") + 1)
      .withColumn("__hw", F.lit(limitL) * F.col("__sigma")
        * F.sqrt(F.lit(lamFac) * (F.lit(1.0)
          - F.pow(F.lit(oneMinus), F.col("__i") * 2))))
      .withColumn("ewma", F.round(F.col("col.__zs"), 6) + F.lit(0.0))
      .withColumn("ucl", F.round(F.col("__mu") + F.col("__hw"), 6) + F.lit(0.0))
      .withColumn("lcl", F.round(F.col("__mu") - F.col("__hw"), 6) + F.lit(0.0))
      .select(F.col("k"), F.col("col.__a.t").as("t"), F.col("col.__a.x").as("x"),
        F.col("ewma"), F.col("ucl"), F.col("lcl"),
        (F.col("ewma") > F.col("ucl") || F.col("ewma") < F.col("lcl")).as("alarm"))
  }

  /** Mutual information (natural log) of the `rowCol` × `colCol` pair —
    * the effect-SIZE companion to [[chiSquare]]'s significance statistic
    * (χ² grows with N at fixed dependence; MI does not), and the feature-
    * selection / redundancy score an ML pipeline ranks candidate columns
    * by. MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over observed cells (absent
    * cells contribute 0·ln0 := 0 — no smoothing needed, the sum is finite
    * by construction), plus the marginal entropies and the normalized
    * variant NMI = MI/√(H(X)·H(Y)) ∈ [0,1] (NULL when either margin is
    * degenerate single-level).
    *
    * Same scale shape as χ²: ONE combinable cell-count scan, margins
    * re-aggregated from the cell frame, scalar algebra on exact integer
    * counts (per-term IEEE-identical across engines; summation order
    * collapsed by the round-4 convention). */
  def mutualInfo(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    val cells = df.filter(rowCol.isNotNull && colCol.isNotNull)
      .groupBy(rowCol.as("r"), colCol.as("c"))
      .agg(F.count(F.lit(1)).as("o"))
    val rows = cells.groupBy("r").agg(F.sum("o").as("nr"))
    val cols = cells.groupBy("c").agg(F.sum("o").as("nc"))
    val n = cells.agg(F.sum("o").as("n"))
    val od = F.col("o").cast("double")
    val nd = F.col("n").cast("double")
    val joint = cells.join(rows, "r").join(cols, "c").crossJoin(F.broadcast(n))
      .withColumn("__t", od / nd * F.log(od * nd /
        (F.col("nr").cast("double") * F.col("nc").cast("double"))))
      .agg(F.sum("__t").as("__mi"), F.first(F.col("n")).as("n"))
    def entropy(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(F.broadcast(n.select(F.col("n").as("__n"))))
        .withColumn("__p", F.col(cnt).cast("double") / F.col("__n"))
        .agg((-F.sum(F.col("__p") * F.log(F.col("__p")))).as(s"__h$cnt"))
    joint
      .crossJoin(F.broadcast(entropy(rows, "nr")))
      .crossJoin(F.broadcast(entropy(cols, "nc")))
      .select(F.col("n"),
        F.round(F.col("__mi"), 4).as("mi"),
        F.round(F.col("__hnr"), 4).as("h_row"),
        F.round(F.col("__hnc"), 4).as("h_col"),
        F.when(F.col("__hnr") > 0.0 && F.col("__hnc") > 0.0,
          F.round(F.col("__mi") / F.sqrt(F.col("__hnr") * F.col("__hnc")), 4)).as("nmi"))
  }

  /** Pearson χ² statistic of independence for the `rowCol` × `colCol`
    * contingency table: Σ (O − E)²/E with E = row·col/N, the degrees of
    * freedom (r−1)(c−1), and CRAMÉR'S V = √(χ²/(N·(min(r,c)−1))) — the
    * [0, 1] effect size that, unlike χ² itself, does not grow with N at
    * fixed dependence (NULL on a degenerate single-level margin). One
    * combinable cell-count scan; margins are re-aggregations of the
    * cell frame. Zero-margin levels cannot occur (levels come from the
    * data). */
  /** ONE-WAY ANOVA F (Fisher 1925): does the mean of `valueCol` differ
    * across the k levels of `groupCol` — the k-group generalization of
    * the two-sample t ([[welchT]]), under the classic equal-variance
    * pooling. Computed from one combinable per-group moment aggregate
    * (n, Σx, Σx²): SS_between = Σ s_g²/n_g − S²/N, SS_within = SS_total
    * − SS_between, F = (SSB/(k−1)) / (SSW/(N−k)), plus η² = SSB/SS_total
    * — the effect size that, unlike F, does not grow with N at fixed
    * separation. The moment sums are unordered double sums (the
    * [[welchT]] class), so cross-engine agreement rests on the round-4 /
    * round-6 outputs. Output: one row — (k, n, ss_between, ss_within,
    * f_stat, df_between, df_within, eta2). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = F.col(valueCol).cast("double")
    anovaFromMoments(df.filter(v.isNotNull && F.col(groupCol).isNotNull)
      .groupBy(F.col(groupCol).as("g"))
      .agg(F.count(F.lit(1)).as("n"), F.sum(v).as("s"), F.sum(v * v).as("q")))
  }

  /** [[anovaF]] over a pre-aggregated per-group (g, n, s, q) moment
    * frame — three plain sums per group, the mergeable summary. */
  def anovaFromMoments(byG: DataFrame): DataFrame =
    byG.agg(
        F.count(F.lit(1)).as("k"), F.sum("n").as("n"),
        F.sum("s").as("__ts"), F.sum("q").as("__tq"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).as("__sb"))
      .withColumn("__sst", F.col("__tq") - F.col("__ts") * F.col("__ts") / F.col("n"))
      .withColumn("__ssb", F.col("__sb") - F.col("__ts") * F.col("__ts") / F.col("n"))
      .withColumn("__ssw", F.col("__sst") - F.col("__ssb"))
      .withColumn("__d1", (F.col("k") - 1).cast("double"))
      .withColumn("__d2", (F.col("n") - F.col("k")).cast("double"))
      .withColumn("__f", F.when(F.col("__d1") > 0 && F.col("__d2") > 0 && F.col("__ssw") > 0,
        (F.col("__ssb") / F.col("__d1")) / (F.col("__ssw") / F.col("__d2"))))
      .select(F.col("k"), F.col("n"),
        // the SS are data-magnitude double sums (unlike the F/η² ratios,
        // whose fp error cancels) — round 2, the benford/chi2 class
        (F.round(F.col("__ssb"), 2) + F.lit(0.0)).as("ss_between"),
        (F.round(F.col("__ssw"), 2) + F.lit(0.0)).as("ss_within"),
        (F.round(F.col("__f"), 4) + F.lit(0.0)).as("f_stat"),
        (F.col("k") - 1).as("df_between"),
        (F.col("n") - F.col("k")).as("df_within"),
        F.when(F.col("__sst") > 0,
          F.round(F.col("__ssb") / F.col("__sst"), 6) + F.lit(0.0)).as("eta2"))

  /** KRUSKAL–WALLIS H (Kruskal & Wallis, JASA 1952): the rank-based
    * k-group test — does ANY of `groupCol`'s levels produce
    * systematically larger `valueCol`, the [[mannWhitney]] ladder's
    * multi-group rung (and [[anovaF]]'s distribution-free sibling).
    * Midranks over the POOLED distinct values are exact dyadic
    * rationals from the same two-phase cumulative scaffold as the
    * two-sample tests, so every per-group rank sum R_g is engine-exact;
    * H = 12/(N(N+1)) Σ R_g²/n_g − 3(N+1), tie-corrected by
    * C = 1 − Σ(t³−t)/(N³−N). The 95% rejection compares the ROUNDED
    * h_adj to the Wilson–Hilferty χ²(k−1) critical value (Wilson &
    * Hilferty, PNAS 1931: ν(1 − 2/9ν + z₀.₉₅√(2/9ν))³) — a fixed
    * algebraic form both engines evaluate identically, where the exact
    * quantile has no closed form. Output: one row — (k, n, h, h_adj,
    * df, reject_95). */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = F.col(valueCol).cast("double")
    kruskalFromCounts(df.filter(v.isNotNull && F.col(groupCol).isNotNull)
      .groupBy(F.col(groupCol).as("g"), v.as("x"))
      .agg(F.count(F.lit(1)).as("c")))
  }

  /** [[kruskalWallis]] over a pre-aggregated (g, x, c) count frame —
    * per-(group, value) multiplicities are the mergeable summary. */
  def kruskalFromCounts(byGV0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a NULL value from a failed streaming cast would enter N through the
    // pooled totals but never rejoin its midrank (null ≠ null) — drop it
    val byGV = byGV0.filter(F.col("g").isNotNull && F.col("x").isNotNull)
    val pooled = byGV.groupBy("x").agg(F.sum("c").as("t"))
    val (parted, offsets) = TwoPhase.partitionOffsets(
      pooled, Seq(F.col("x")), Seq(F.sum("t") -> "__o"))
    val within = Window.partitionBy("__pid").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mid = parted.join(F.broadcast(offsets), "__pid")
      .withColumn("__k", F.col("__o") + F.sum("t").over(within))
      .select(F.col("x"),
        ((F.col("__k") - F.col("t")).cast("double")
          + (F.col("t").cast("double") + 1.0) / 2.0).as("__r"))
    // N and the tie term need only the pooled multiplicities — one
    // 1-row aggregate, not a second pass over the midrank scaffold
    val totals = pooled.agg(F.sum("t").as("__nn"),
      F.sum(F.col("t").cast("double") * F.col("t") * F.col("t")
        - F.col("t").cast("double")).as("__ties"))
    val perG = byGV.join(mid, "x")
      .groupBy("g")
      .agg(F.sum("c").as("__ng"), F.sum(F.col("c").cast("double") * F.col("__r")).as("__rg"))
    perG.agg(F.count(F.lit(1)).as("k"),
        F.sum(F.col("__rg") * F.col("__rg") / F.col("__ng")).as("__hs"))
      .crossJoin(F.broadcast(totals))
      .withColumn("__n", F.col("__nn").cast("double"))
      .withColumn("__h",
        F.lit(12.0) / (F.col("__n") * (F.col("__n") + 1.0)) * F.col("__hs")
          - F.lit(3.0) * (F.col("__n") + 1.0))
      .withColumn("__c",
        F.lit(1.0) - F.col("__ties") / (F.col("__n") * F.col("__n") * F.col("__n") - F.col("__n")))
      .withColumn("__ha", F.when(F.col("__c") > 0, F.col("__h") / F.col("__c")))
      .withColumn("__nu", (F.col("k") - 1).cast("double"))
      .withColumn("__crit", F.when(F.col("__nu") > 0,
        F.col("__nu") * F.pow(
          F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * F.col("__nu"))
            + F.lit(1.6448536269514722) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * F.col("__nu"))), 3.0)))
      .select(F.col("k"), F.col("__nn").as("n"),
        (F.round(F.col("__h"), 4) + F.lit(0.0)).as("h"),
        (F.round(F.col("__ha"), 4) + F.lit(0.0)).as("h_adj"),
        (F.col("k") - 1).as("df"),
        (F.round(F.col("__ha"), 4) > F.round(F.col("__crit"), 4)).as("reject_95"))
  }

  /** CLIFF'S DELTA (Cliff, Psych. Bull. 1993) between slice `a` and
    * slice `b` of `valueCol` — the ORDINAL effect size the two-sample
    * tests need next to their p-values: δ = (#(xₐ > x_b) − #(xₐ < x_b))
    * / (n_a·n_b) ∈ [−1, 1], how often a random a-row beats a random
    * b-row beyond ties. Both dominance counts come from the same
    * two-phase cumulative count scaffold as [[mannWhitney]] — strict
    * dominance is c₁(x)·(cum c₂ below x) — as EXACT integers, so δ is
    * an exact rational and the Romano magnitude label (|δ| < 0.147
    * negligible / < 0.33 small / < 0.474 medium / else large; Romano et
    * al. 2006) is engine-exact. Output: (n_a, n_b, n_gt, n_lt, delta,
    * magnitude). */
  def cliffsDelta(df: DataFrame, sliceCol: String, valueCol: String,
                  a: String, b: String): DataFrame = {
    require(a != b, "slices must be distinct labels") // else every row lands in both
    cliffsDeltaFromCounts(valueCounts(df, sliceCol, valueCol, a, b))
  }

  /** [[cliffsDelta]] over a pre-aggregated (x, c1, c2) count frame. */
  def cliffsDeltaFromCounts(byV: DataFrame): DataFrame = {
    val (cum, n) = cdfFromCounts(byV)
    val s = cum.agg(
      F.sum(F.col("c1") * (F.col("__k2") - F.col("c2"))).as("n_gt"),
      F.sum(F.col("c1") * F.col("c2")).as("__eq"))
    s.crossJoin(F.broadcast(n))
      .withColumn("n_lt", F.col("n1") * F.col("n2") - F.col("n_gt") - F.col("__eq"))
      .withColumn("__d", (F.col("n_gt") - F.col("n_lt")).cast("double")
        / (F.col("n1") * F.col("n2")).cast("double"))
      .select(F.col("n1").as("n_a"), F.col("n2").as("n_b"),
        F.col("n_gt"), F.col("n_lt"),
        (F.round(F.col("__d"), 6) + F.lit(0.0)).as("delta"),
        F.when(F.abs(F.col("__d")) < 0.147, "negligible")
          .when(F.abs(F.col("__d")) < 0.33, "small")
          .when(F.abs(F.col("__d")) < 0.474, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** TWO-PROPORTION z-test between slice `a` and slice `b` — the
    * conversion-rate A/B companion to [[welchT]] (rates, not means):
    * z = (p̂₁ − p̂₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)) under the pooled null.
    * One combinable count aggregate; every operand is an exact BIGINT
    * count, so z is fixed-shape IEEE — engine-exact up to the round-4
    * output snap, rejection decided on the rounded statistic. NULL z on
    * an empty arm or a degenerate pooled rate (0 or 1). Output: one row
    * — (n_a, s_a, rate_a, n_b, s_b, rate_b, z, reject_95). */
  def twoProportionZ(df: DataFrame, sliceCol: String, successCol: Column,
                     a: String, b: String): DataFrame = {
    require(a != b, "slices must be distinct labels") // else every row lands in both
    val s = successCol.cast("boolean")
    twoProportionZFromCounts(df
      .filter(s.isNotNull && (F.col(sliceCol) === a || F.col(sliceCol) === b))
      .agg(
        F.count(F.when(F.col(sliceCol) === a, 1)).as("n1"),
        F.count(F.when(F.col(sliceCol) === a && s, 1)).as("s1"),
        F.count(F.when(F.col(sliceCol) === b, 1)).as("n2"),
        F.count(F.when(F.col(sliceCol) === b && s, 1)).as("s2")))
  }

  /** [[twoProportionZ]] over a pre-aggregated one-row (n1, s1, n2, s2)
    * count frame — four plain BIGINT counts, the test's complete
    * mergeable summary. */
  def twoProportionZFromCounts(counts: DataFrame): DataFrame = {
    counts
      // ANSI divide-by-zero guards: an empty arm yields NULL rate/z,
      // not a throw (CASE branches evaluate lazily in both engines)
      .withColumn("p1", F.when(F.col("n1") > 0, F.col("s1").cast("double") / F.col("n1")))
      .withColumn("p2", F.when(F.col("n2") > 0, F.col("s2").cast("double") / F.col("n2")))
      .withColumn("pp", F.when(F.col("n1") + F.col("n2") > 0,
        (F.col("s1") + F.col("s2")).cast("double") / (F.col("n1") + F.col("n2"))))
      .withColumn("se", F.when(F.col("n1") > 0 && F.col("n2") > 0,
        F.sqrt(F.col("pp") * (F.lit(1.0) - F.col("pp"))
          * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2")))))
      .withColumn("zz", F.when(F.col("se") > 0,
        (F.col("p1") - F.col("p2")) / F.col("se")))
      .select(F.col("n1").as("n_a"), F.col("s1").as("s_a"),
        (F.round(F.col("p1"), 6) + F.lit(0.0)).as("rate_a"),
        F.col("n2").as("n_b"), F.col("s2").as("s_b"),
        (F.round(F.col("p2"), 6) + F.lit(0.0)).as("rate_b"),
        (F.round(F.col("zz"), 4) + F.lit(0.0)).as("z"),
        (F.abs(F.round(F.col("zz"), 4)) > 1.96).as("reject_95"))
  }

  /** Two-sided normal p-value from a z/t statistic via the
    * Abramowitz–Stegun 26.2.17 five-term Φ approximation (|ε| <
    * 7.5·10⁻⁸) — the fixed algebraic form this library uses wherever a
    * p-value is needed but the exact CDF has no closed form (both
    * engines evaluate the identical polynomial, so p is as deterministic
    * as its input; feed it a ROUNDED statistic). */
  def pFromZ(z: Column): Column = {
    val az = F.abs(z)
    val t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    val poly = t * (F.lit(0.319381530)
      + t * (F.lit(-0.356563782)
        + t * (F.lit(1.781477937)
          + t * (F.lit(-1.821255978) + t * F.lit(1.330274429)))))
    val phi = F.exp(az * az / -2.0) / math.sqrt(2.0 * math.Pi)
    F.lit(2.0) * phi * poly
  }

  /** BENJAMINI–HOCHBERG step-up FDR adjustment (Benjamini & Hochberg,
    * JRSS-B 1995) over a FAMILY of tests — the multiple-comparisons
    * gate a per-metric drift screen must pass before alarming: rank the
    * m p-values ascending, qᵢ = pᵢ·m/i, adjusted pᵢ = min_{j≥i} qⱼ
    * (capped at 1), reject at level α iff adjusted p ≤ α. Two windows
    * over the FAMILY frame — bounded by the metric vocabulary (one row
    * per screened metric), never by the corpus, which is why plain
    * global windows are the right plan here. Ties in p break by
    * `keyCol` identically in both engines. Output: one row per family
    * member — (key, p, rank, p_adj, reject). */
  def bhAdjust(tests: DataFrame, keyCol: String, pCol: String,
               alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val up = Window.orderBy(F.col(pCol).asc, F.col(keyCol).asc)
    val down = Window.orderBy(F.col(pCol).desc, F.col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tests.filter(F.col(pCol).isNotNull && F.col(keyCol).isNotNull)
      .withColumn("__m", F.count(F.lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__i", F.row_number().over(up).cast("long"))
      .withColumn("__q", F.col(pCol) * F.col("__m").cast("double") / F.col("__i"))
      .withColumn("__adj", F.least(F.min("__q").over(down), F.lit(1.0)))
      .select(F.col(keyCol).as("key"),
        (F.round(F.col(pCol), 9) + F.lit(0.0)).as("p"),
        F.col("__i").as("rank"),
        (F.round(F.col("__adj"), 9) + F.lit(0.0)).as("p_adj"),
        (F.round(F.col("__adj"), 9) <= alpha).as("reject"))
  }

  /** [[welchT]] PER GROUP — one Welch test per level of `familyCol`
    * (e.g. one per screened metric), the frame [[bhAdjust]] consumes.
    * Same moment algebra as [[welchT]], from ONE combinable grouped
    * aggregate; t is rounded (round 4) so the downstream p-values are
    * deterministic. Output: (g, n_a, n_b, t). */
  def welchTPerGroup(df: DataFrame, familyCol: String, sliceCol: String,
                     valueCol: String, a: String, b: String): DataFrame = {
    require(a != b, "slices must be distinct labels") // else every row lands in both
    val v = F.col(valueCol).cast("double")
    df.filter(v.isNotNull && F.col(familyCol).isNotNull
        && (F.col(sliceCol) === a || F.col(sliceCol) === b))
      .groupBy(F.col(familyCol).as("g"))
      .agg(F.count(F.when(F.col(sliceCol) === a, 1)).as("n1"),
        F.count(F.when(F.col(sliceCol) === b, 1)).as("n2"),
        F.sum(F.when(F.col(sliceCol) === a, v).otherwise(0.0)).as("s1"),
        F.sum(F.when(F.col(sliceCol) === b, v).otherwise(0.0)).as("s2"),
        F.sum(F.when(F.col(sliceCol) === a, v * v).otherwise(0.0)).as("q1"),
        F.sum(F.when(F.col(sliceCol) === b, v * v).otherwise(0.0)).as("q2"))
      .withColumn("m1", F.col("s1") / F.col("n1"))
      .withColumn("m2", F.col("s2") / F.col("n2"))
      .withColumn("v1", F.when(F.col("n1") > 1,
        (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)))
      .withColumn("v2", F.when(F.col("n2") > 1,
        (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1)))
      .withColumn("sem", F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
      .withColumn("tt", F.when(F.col("sem") > 0,
        (F.col("m1") - F.col("m2")) / F.sqrt(F.col("sem"))))
      .select(F.col("g"), F.col("n1").as("n_a"), F.col("n2").as("n_b"),
        (F.round(F.col("tt"), 4) + F.lit(0.0)).as("t"))
  }

  def chiSquare(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    val cells = df.filter(rowCol.isNotNull && colCol.isNotNull)
      .groupBy(rowCol.as("r"), colCol.as("c"))
      .agg(F.count(F.lit(1)).as("o"))
    val rows = cells.groupBy("r").agg(F.sum("o").as("nr"))
    val cols = cells.groupBy("c").agg(F.sum("o").as("nc"))
    val n = cells.agg(F.sum("o").as("n"),
      F.countDistinct(F.col("r")).as("__dr"), F.countDistinct(F.col("c")).as("__dc"))
    cells.join(rows, "r").join(cols, "c").crossJoin(F.broadcast(n))
      .withColumn("e", F.col("nr").cast("double") * F.col("nc") / F.col("n"))
      .withColumn("__t", (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
      .agg(F.sum("__t").as("__chi2"),
        F.first((F.col("__dr") - 1) * (F.col("__dc") - 1)).as("dof"),
        F.first(F.least(F.col("__dr"), F.col("__dc")) - 1).as("__mindim"),
        F.first(F.col("n")).as("__n"))
      .select(F.round(F.col("__chi2"), 4).as("chi2"), F.col("dof"),
        F.when(F.col("__mindim") > 0,
          F.round(F.sqrt(F.col("__chi2")
            / (F.col("__n").cast("double") * F.col("__mindim"))), 4)).as("cramers_v"))
  }
}
