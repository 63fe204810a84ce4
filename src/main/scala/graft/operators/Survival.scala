package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.Pin._

/** Survival analysis over right-censored durations — the retention /
  * lifetime toolkit (how long do users stay active, how long do
  * documents survive dedup sweeps, time-to-failure of jobs) where
  * CENSORING is the defining wrinkle: a subject still alive at the
  * observation horizon contributes "survived at least this long", not
  * an event, and dropping or miscounting those biases every naive
  * average.
  *
  * Scale shape: everything reduces to per-duration counts (one
  * combinable scan over subjects), then window algebra over the
  * duration axis — a frame whose size is the number of DISTINCT
  * durations (days, not subjects), so the global ordered window is over
  * an aggregate, never over data. */
object Survival {

  /** Kaplan–Meier product-limit estimator (Kaplan & Meier, JASA 1958).
    * Input: one row per subject with a non-negative integer `durCol`
    * and `obsCol` ∈ {0, 1} (1 = the event was observed at that
    * duration, 0 = censored there). Output: one row per distinct
    * duration t — (t, n_risk, d_events, n_censored, survival) with
    * S(t) = Π_{tᵢ ≤ t, dᵢ > 0} (1 − dᵢ/n_riskᵢ).
    *
    * The product is computed as exp(Σ ln(1 − d/n)) — every term is an
    * IEEE function of two exact integers, the cumulative sum runs in
    * duration order in both engines, and round-6 collapses the residual
    * ulp drift. A duration where EVERYONE at risk dies is branched to an
    * exact 0 instead of flowing ln(0) through the sum — Spark's ln
    * returns NULL for non-positive input (silently dropping the term
    * from the window sum) while DuckDB returns −∞, so the explicit
    * branch is what keeps the engines agreeing; such a step is
    * necessarily the last row (nobody remains at risk after it). */
  def kaplanMeier(subjects: DataFrame, durCol: String, obsCol: String): DataFrame =
    kaplanMeierFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")))

  /** The estimator over a pre-aggregated (t, d, c) frame — per-duration
    * event/subject counts are the curve's MERGEABLE summary (plain
    * sums). */
  def kaplanMeierFromCounts(byT: DataFrame): DataFrame = {
    // Both cumulative folds over the event-time axis run as TWO-PHASE
    // prefix sums (r18, guide §2): the axis is pre-aggregated but NOT
    // bounded — at 100 TB distinct event times are ~10⁹ rows, which the
    // old Window.orderBy put on ONE task. The risk-set prefix is an
    // exact long (identical values); the ln-sum prefix is a double whose
    // association drift (~1e-16) the round-6 snap absorbs — the same
    // discipline the graph trajectories rely on (oracle re-verified).
    val tot = byT.agg(F.sum("c").as("__n"))
    val withRisk = TwoPhase.prefixSums(byT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c"), "__csum")))
      .withColumn("n_risk", F.col("__n") - F.col("__csum") + F.col("c"))
      .withColumn("__term",
        F.when(F.col("d") > 0 && F.col("d") < F.col("n_risk"),
          F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")))
          .otherwise(F.lit(0.0)))
    TwoPhase.prefixSums(withRisk, F.col("t"), Seq((F.col("__term"), "__lnsum")))
      .withColumn("survival",
        F.when(F.col("d") === F.col("n_risk"), F.lit(0.0))
          .otherwise(F.round(F.exp(F.col("__lnsum")), 6)))
      .select(F.col("t"), F.col("n_risk"), F.col("d").as("d_events"),
        (F.col("c") - F.col("d")).as("n_censored"), F.col("survival"))
  }

  /** [[kaplanMeier]] with GREENWOOD 95% confidence bands (Greenwood,
    * Reports on Public Health 1926): Var(Ŝ(t)) = Ŝ(t)² · Σ_{tᵢ≤t}
    * dᵢ/(nᵢ(nᵢ−dᵢ)), CI = Ŝ ± 1.96·se clipped to [0, 1] — the bands a
    * retention curve needs before anyone compares two of them by eye.
    * Each Greenwood term is one fixed-shape IEEE division of exact
    * integers accumulated by the same ordered duration window as the
    * ln-sum, so the bands replay exactly. A duration where everyone at
    * risk dies (Ŝ = 0 exactly) has no defined variance — se/lo/hi are
    * NULL there, the literature's convention, and such a step is
    * necessarily the last row.
    *
    * Output: (t, n_risk, d_events, n_censored, survival, se, lo, hi),
    * se and bands round 6. */
  def kaplanMeierCI(subjects: DataFrame, durCol: String, obsCol: String): DataFrame =
    kaplanMeierCIFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")))

  /** [[kaplanMeierCI]] over the pre-aggregated (t, d, c) frame. */
  def kaplanMeierCIFromCounts(byT: DataFrame): DataFrame = {
    // two-phase prefix folds, as in [[kaplanMeierFromCounts]]
    val tot = byT.agg(F.sum("c").as("__n"))
    val withTerms = TwoPhase.prefixSums(byT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c"), "__csum")))
      .withColumn("n_risk", F.col("__n") - F.col("__csum") + F.col("c"))
      .withColumn("__term",
        F.when(F.col("d") > 0 && F.col("d") < F.col("n_risk"),
          F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")))
          .otherwise(F.lit(0.0)))
      // Greenwood increment d/(n(n−d)) — 0 at censoring-only rows, the
      // everyone-dies row never contributes (its bands are NULL anyway)
      .withColumn("__gw",
        F.when(F.col("d") > 0 && F.col("d") < F.col("n_risk"),
          F.col("d").cast("double")
            / (F.col("n_risk") * (F.col("n_risk") - F.col("d"))).cast("double"))
          .otherwise(F.lit(0.0)))
    TwoPhase.prefixSums(withTerms, F.col("t"),
        Seq((F.col("__term"), "__lnsum"), (F.col("__gw"), "__gwsum")))
      .withColumn("__s",
        F.when(F.col("d") === F.col("n_risk"), F.lit(0.0))
          .otherwise(F.exp(F.col("__lnsum"))))
      .withColumn("__se",
        F.when(F.col("d") === F.col("n_risk"), F.lit(null).cast("double"))
          .otherwise(F.col("__s") * F.sqrt(F.col("__gwsum"))))
      .select(F.col("t"), F.col("n_risk"), F.col("d").as("d_events"),
        (F.col("c") - F.col("d")).as("n_censored"),
        F.when(F.col("d") === F.col("n_risk"), F.lit(0.0))
          .otherwise(F.round(F.col("__s"), 6)).as("survival"),
        (F.round(F.col("__se"), 6) + F.lit(0.0)).as("se"),
        // explicit NULL at the everyone-dies row: greatest/least SKIP
        // nulls in both engines, which would silently turn an undefined
        // band into [0, 1]
        F.when(F.col("d") === F.col("n_risk"), F.lit(null).cast("double"))
          .otherwise(F.round(F.greatest(F.lit(0.0),
            F.col("__s") - F.lit(1.96) * F.col("__se")), 6) + F.lit(0.0)).as("lo"),
        F.when(F.col("d") === F.col("n_risk"), F.lit(null).cast("double"))
          .otherwise(F.round(F.least(F.lit(1.0),
            F.col("__s") + F.lit(1.96) * F.col("__se")), 6) + F.lit(0.0)).as("hi"))
  }

  /** NELSON–AALEN cumulative hazard (Nelson, J. Qual. Tech. 1969; Aalen,
    * Ann. Stat. 1978): Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with the Poisson-form
    * standard error √(Σ dᵢ/nᵢ²) — the hazard-scale twin of the KM curve
    * (more stable than −ln Ŝ at small risk sets, and the quantity rate
    * comparisons actually want). Same per-duration count scaffold and
    * ordered duration window; every term is exact-integer IEEE.
    *
    * Output: (t, n_risk, d_events, cumhaz, se), round 6. */
  def nelsonAalen(subjects: DataFrame, durCol: String, obsCol: String): DataFrame =
    nelsonAalenFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")))

  /** [[nelsonAalen]] over the pre-aggregated (t, d, c) frame. */
  def nelsonAalenFromCounts(byT: DataFrame): DataFrame = {
    // two-phase prefix folds, as in [[kaplanMeierFromCounts]]
    val tot = byT.agg(F.sum("c").as("__n"))
    val withTerms = TwoPhase.prefixSums(byT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c"), "__csum")))
      .withColumn("n_risk", F.col("__n") - F.col("__csum") + F.col("c"))
      .withColumn("__h", F.col("d").cast("double") / F.col("n_risk"))
      .withColumn("__v",
        F.col("d").cast("double") / (F.col("n_risk") * F.col("n_risk")).cast("double"))
    TwoPhase.prefixSums(withTerms, F.col("t"),
        Seq((F.col("__h"), "__hsum"), (F.col("__v"), "__vsum")))
      .select(F.col("t"), F.col("n_risk"), F.col("d").as("d_events"),
        (F.round(F.col("__hsum"), 6) + F.lit(0.0)).as("cumhaz"),
        (F.round(F.sqrt(F.col("__vsum")), 6) + F.lit(0.0)).as("se"))
  }

  /** RESTRICTED MEAN SURVIVAL TIME (Irwin 1949; Royston & Parmar, BMC
    * Med. Res. Methodol. 2013): RMST(τ) = ∫₀^τ Ŝ(t)dt — the area under
    * the KM curve up to the horizon τ, i.e. "expected retention days in
    * the first τ days". The mean the censored data CAN estimate: the
    * plain mean of durations is undefined under censoring, while RMST
    * is a deterministic functional of the KM steps — with NO censoring
    * and τ ≥ max duration it equals the sample mean exactly.
    *
    * Computed over the [[kaplanMeierFromCounts]] step function: the
    * head interval [0, min(t₁, τ)) at S = 1, then each step's
    * S(tᵢ)·(min(tᵢ₊₁, τ) − min(tᵢ, τ)) — interval widths are exact
    * integer differences, S the round-6 step values, and the total
    * accumulates as an ORDERED window sum over the days-sized duration
    * axis (bit-replayable, the logRank discipline).
    *
    * Output: ONE row — (tau, n_subjects, rmst round 6); empty on an
    * empty input. */
  def rmst(subjects: DataFrame, durCol: String, obsCol: String, tau: Long): DataFrame =
    rmstFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")), tau)

  /** [[rmst]] over the pre-aggregated (t, d, c) frame — the same
    * mergeable summary every KM-family reader re-enters. */
  def rmstFromCounts(byT: DataFrame, tau: Long): DataFrame = {
    require(tau > 0, "need tau > 0")
    val tot = byT.agg(F.sum("c").as("__n"))
    // r18: the global lead()/row_number() windows over the event axis are
    // replaced by a two-phase sequence (distributed rank in t order) —
    // lead(t) is a self-join on rank+1, the head flag is rank 1, and the
    // old "ordered running sum read at its last row" IS the plain total,
    // so the statistic is one aggregate (round-6 absorbs the partial-
    // aggregation association drift, the KM ln-sum discipline). Pinned:
    // the ranked KM frame feeds both join sides.
    val km = AuditQueries.assignIngestSeqDistributed(
      kaplanMeierFromCounts(byT), 0L, Seq("t")).pin()
    val nexts = km.select((F.col("id") - 1).as("id"), F.col("t").as("__nt"))
    val total = km.join(nexts, Seq("id"), "left")
      .withColumn("__next", F.coalesce(F.col("__nt"), F.lit(tau)))
      .withColumn("__contrib", F.col("survival") *
        (F.least(F.col("__next"), F.lit(tau)) - F.least(F.col("t"), F.lit(tau))).cast("double"))
      // the pre-first-step interval at S = 1 rides the first row
      .withColumn("__head", F.when(F.col("id") === 1,
        F.least(F.col("t"), F.lit(tau)).cast("double")).otherwise(F.lit(0.0)))
      .agg(F.sum(F.col("__head") + F.col("__contrib")).as("__rmst"))
      .filter(F.col("__rmst").isNotNull) // empty input stays EMPTY output
    total.crossJoin(F.broadcast(tot))
      .select(F.lit(tau).as("tau"), F.col("__n").as("n_subjects"),
        (F.round(F.col("__rmst"), 6) + F.lit(0.0)).as("rmst"))
  }

  /** Two-cohort log-rank test (Mantel, Cancer Chemother. Rep. 1966;
    * Peto & Peto, JRSS A 1972) — "do these two cohorts retain
    * differently?": at every event time, compare each cohort's OBSERVED
    * events against the events EXPECTED if both shared one hazard
    * (d_t · n_{at}/n_t — the at-risk-proportional split), accumulate
    * observed − expected, and normalize by the hypergeometric variance
    *
    *   V_t = d_t · (n_{at}/n_t) · (n_{bt}/n_t) · (n_t − d_t)/(n_t − 1),
    *
    * giving χ² = (O_a − E_a)²/V ~ χ²₁ under the null. Same per-duration
    * count scaffold as [[kaplanMeier]] — at-risk counts fall out of the
    * identical cumulative-count window, every V/E input is an exact
    * integer, and both Σs run as ORDERED window sums over the duration
    * axis (sequential accumulation in t order in both engines — the
    * exp(Σ ln) discipline), so the statistic is bit-replayable. The
    * duration axis is days-sized, so the global ordered window is over
    * an aggregate, never data. Cohorts are the MIN and MAX value of the
    * group column (two-cohort test; callers with more groups filter
    * first — other groups' rows are excluded from the risk sets).
    *
    * Output: ONE row — (n_a, n_b, o_a, e_a, o_b, e_b, chi2, reject_95),
    * expected counts and χ² round-6; χ² is NULL when the variance is 0
    * (events exist but no event time carries a real comparison — e.g.
    * n_t = 1 throughout); EMPTY when there is no event time at all (an
    * all-censored input, like KM on no subjects); reject_95 compares
    * the UNROUNDED χ² to the χ²₁ 95% critical value in both engines. */
  def logRank(subjects: DataFrame, durCol: String, obsCol: String,
              groupCol: String): DataFrame =
    logRankFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")))

  /** The test over a pre-aggregated (t, g, d, c) frame — per-duration
    * per-group event/subject counts, the mergeable summary. */
  def logRankFromCounts(byTG: DataFrame): DataFrame = {
    // Single-group degeneracy guard: with one distinct group ga == gb
    // would count every subject in BOTH cohorts and emit a plausible
    // χ² = 0 row; requiring ga ≠ gb empties gs, and the crossJoin
    // propagates the empty → EMPTY output, matching the all-censored
    // contract above.
    val gs = byTG.agg(F.min("g").as("ga"), F.max("g").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val perT = byTG.crossJoin(F.broadcast(gs))
      .groupBy("t")
      .agg(
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("d")).otherwise(F.lit(0L))).as("d1"),
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("c")).otherwise(F.lit(0L))).as("c1"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("d")).otherwise(F.lit(0L))).as("d2"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("c")).otherwise(F.lit(0L))).as("c2"))
    val tot = perT.agg(F.sum("c1").as("nn1"), F.sum("c2").as("nn2"))
    // two-phase prefix folds over the event-time axis (the
    // [[kaplanMeierFromCounts]] r18 discipline): risk sets from exact
    // long prefixes, then the O/E/V accumulations over the filtered
    // event rows
    val ev0 = TwoPhase.prefixSums(perT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c1"), "__c1s"), (F.col("c2"), "__c2s")))
      .withColumn("n1", F.col("nn1") - F.col("__c1s") + F.col("c1"))
      .withColumn("n2", F.col("nn2") - F.col("__c2s") + F.col("c2"))
      .filter(F.col("d1") + F.col("d2") > 0) // event times only
      .withColumn("nt", F.col("n1") + F.col("n2"))
      .withColumn("dt", F.col("d1") + F.col("d2"))
      // expected events in cohort a at t: d_t · n_{at}/n_t — fixed-shape
      // IEEE over exact integers (left-assoc: ((d·n1)/n))
      .withColumn("e1", F.col("dt").cast("double") * F.col("n1") / F.col("nt"))
      .withColumn("e2", F.col("dt").cast("double") * F.col("n2") / F.col("nt"))
      .withColumn("vt", F.when(F.col("nt") > 1,
        F.col("dt").cast("double") * F.col("n1") / F.col("nt")
          * F.col("n2") / F.col("nt")
          * (F.col("nt") - F.col("dt")) / (F.col("nt") - F.lit(1L)))
        .otherwise(F.lit(0.0)))
    val ev = TwoPhase.prefixSums(ev0, F.col("t"),
      Seq((F.col("d1"), "o1s"), (F.col("d2"), "o2s"),
        (F.col("e1"), "e1s"), (F.col("e2"), "e2s"), (F.col("vt"), "vs")))
    // the statistic reads the LAST event time's accumulations — a
    // distributed TakeOrdered, not a single-partition row_number window
    val last = ev.orderBy(F.col("t").desc).limit(1)
    val chi2 = F.when(F.col("vs") > 0.0,
      (F.col("o1s").cast("double") - F.col("e1s"))
        * (F.col("o1s").cast("double") - F.col("e1s")) / F.col("vs"))
    last.select(
      F.col("nn1").as("n_a"), F.col("nn2").as("n_b"),
      F.col("o1s").as("o_a"),
      (F.round(F.col("e1s"), 6) + F.lit(0.0)).as("e_a"),
      F.col("o2s").as("o_b"),
      (F.round(F.col("e2s"), 6) + F.lit(0.0)).as("e_b"),
      (F.round(chi2, 6) + F.lit(0.0)).as("chi2"),
      (chi2 > F.lit(3.841459)).as("reject_95"))
  }

  /** RMST DIFFERENCE between two cohorts with its large-sample z test
    * (restricted mean survival time; variance per Klein & Moeschberger
    * §4.5 / Royston & Parmar 2013): Δ = RMST_a(τ) − RMST_b(τ) — "how
    * many more days-to-τ does cohort a survive on average", the effect
    * size in TIME units that stays valid when proportional hazards
    * fails (where [[coxPh]]'s single ratio misleads). Var(RMST) =
    * Σ_{events} A(tᵢ)² · dᵢ/(nᵢ(nᵢ−dᵢ)) with A(tᵢ) = ∫_tᵢ^τ Ŝ — the
    * Greenwood increments weighted by the remaining area. Each cohort's
    * KM/area/variance algebra runs under windows PARTITIONED by the
    * cohort (the per-key window class), every accumulation t-ordered
    * (the exp(Σ ln) discipline), areas on the ROUND-6 curve. EMPTY on a
    * single-group input; z NULL when the pooled variance is 0.
    * Output: one row — (tau, n_a, n_b, rmst_a, rmst_b, diff, se, z,
    * reject_95), rmst/diff/se round 6, z round 4. */
  def rmstDiff(subjects: DataFrame, durCol: String, obsCol: String,
               groupCol: String, tau: Long): DataFrame =
    rmstDiffFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")), tau)

  /** [[rmstDiff]] over the pre-aggregated (t, g, d, c) frame. */
  def rmstDiffFromCounts(byTG: DataFrame, tau: Long): DataFrame = {
    require(tau > 0, "need tau > 0")
    val gs = byTG.agg(F.min("g").as("ga"), F.max("g").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val tagged = byTG.crossJoin(F.broadcast(gs))
      .filter(F.col("g") === F.col("ga") || F.col("g") === F.col("gb"))
      .withColumn("__x", F.when(F.col("g") === F.col("ga"), 0).otherwise(1))
      .groupBy("__x", "t")
      .agg(F.sum("d").as("d"), F.sum("c").as("c"))
    val wOrd = Window.partitionBy("__x").orderBy("t")
    val wSum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("__x")
    val tot = tagged.groupBy("__x").agg(F.sum("c").as("__ng"))
    val seg = tagged.join(F.broadcast(tot), Seq("__x"))
      .withColumn("n_risk", F.col("__ng") - F.sum("c").over(wSum) + F.col("c"))
      .withColumn("__term",
        F.when(F.col("d") > 0 && F.col("d") < F.col("n_risk"),
          F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")))
          .otherwise(F.lit(0.0)))
      .withColumn("survival",
        F.when(F.col("d") === F.col("n_risk"), F.lit(0.0))
          .otherwise(F.round(F.exp(F.sum("__term").over(wSum)), 6)))
      .withColumn("__next", F.coalesce(F.lead("t", 1).over(wOrd), F.lit(tau)))
      .withColumn("__contrib", F.col("survival") *
        (F.least(F.col("__next"), F.lit(tau)) - F.least(F.col("t"), F.lit(tau))).cast("double"))
      .withColumn("__head", F.when(F.row_number().over(wOrd) === 1,
        F.least(F.col("t"), F.lit(tau)).cast("double")).otherwise(F.lit(0.0)))
      .withColumn("__area", F.sum(F.col("__head") + F.col("__contrib")).over(wSum))
      .withColumn("__rmst", F.sum(F.col("__head") + F.col("__contrib")).over(wAll))
      // tail area past t_i: total minus everything before segment i
      .withColumn("__tail", F.col("__rmst") - (F.col("__area") - F.col("__contrib")))
      .withColumn("__gw", F.when(F.col("d") > 0 && F.col("d") < F.col("n_risk"),
        F.col("d").cast("double")
          / (F.col("n_risk") * (F.col("n_risk") - F.col("d"))).cast("double"))
        .otherwise(F.lit(0.0)))
      .withColumn("__vcum",
        F.sum(F.col("__tail") * F.col("__tail") * F.col("__gw")).over(wSum))
      .withColumn("__rn", F.row_number().over(
        Window.partitionBy("__x").orderBy(F.col("t").desc)))
      .filter(F.col("__rn") === 1)
    val one = seg.agg(
      F.sum(F.when(F.col("__x") === 0, F.col("__ng"))).as("n_a"),
      F.sum(F.when(F.col("__x") === 1, F.col("__ng"))).as("n_b"),
      F.sum(F.when(F.col("__x") === 0, F.col("__rmst"))).as("__ra"),
      F.sum(F.when(F.col("__x") === 1, F.col("__rmst"))).as("__rb"),
      F.sum(F.when(F.col("__x") === 0, F.col("__vcum"))).as("__va"),
      F.sum(F.when(F.col("__x") === 1, F.col("__vcum"))).as("__vb"))
    val z = F.when(F.col("__va") + F.col("__vb") > 0.0,
      (F.col("__ra") - F.col("__rb")) / F.sqrt(F.col("__va") + F.col("__vb")))
    one
      .filter(F.col("n_a").isNotNull && F.col("n_b").isNotNull)
      .select(F.lit(tau).as("tau"), F.col("n_a"), F.col("n_b"),
        (F.round(F.col("__ra"), 6) + F.lit(0.0)).as("rmst_a"),
        (F.round(F.col("__rb"), 6) + F.lit(0.0)).as("rmst_b"),
        (F.round(F.col("__ra") - F.col("__rb"), 6) + F.lit(0.0)).as("diff"),
        (F.round(F.when(F.col("__va") + F.col("__vb") > 0.0,
          F.sqrt(F.col("__va") + F.col("__vb"))), 6) + F.lit(0.0)).as("se"),
        (F.round(z, 4) + F.lit(0.0)).as("z"),
        (F.abs(z) > 1.96).as("reject_95"))
  }

  /** STRATIFIED two-cohort log-rank test — the confounder-adjusted
    * variant: when a third variable (signup channel, region, device)
    * both selects cohort membership and shifts the hazard, the pooled
    * test confounds the two. Stratifying runs the [[logRank]]
    * comparison WITHIN each stratum (risk sets never cross strata — the
    * per-duration window partitions by the stratum key) and pools only
    * the O−E and hypergeometric-V sums: χ² = (Σₛ(O_a,s − E_a,s))²/ΣₛVₛ
    * (Mantel–Haenszel pooling). Cohorts are the GLOBAL min/max group
    * labels so the x = 1 coding is consistent across strata; a stratum
    * containing one cohort self-cancels (O = E, V = 0). The cross-strata
    * fold runs as an ORDERED window over the strata-sized summary frame
    * (the BH family-size class), keeping the statistic bit-replayable.
    * Output: one row — (n_a, n_b, n_strata, o_a, e_a, chi2, reject_95),
    * contracts as [[logRankFromCounts]]. */
  def logRankStratified(subjects: DataFrame, durCol: String, obsCol: String,
                        groupCol: String, strataCol: String): DataFrame =
    logRankStratifiedFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull && F.col(strataCol).isNotNull)
      .groupBy(F.col(strataCol).as("s"), F.col(durCol).cast("long").as("t"),
        F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")))

  /** [[logRankStratified]] over a pre-aggregated (s, t, g, d, c)
    * frame. */
  def logRankStratifiedFromCounts(bySTG: DataFrame): DataFrame = {
    val gs = bySTG.agg(F.min("g").as("ga"), F.max("g").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val perT = bySTG.crossJoin(F.broadcast(gs))
      .groupBy("s", "t")
      .agg(
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("d")).otherwise(F.lit(0L))).as("d1"),
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("c")).otherwise(F.lit(0L))).as("c1"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("d")).otherwise(F.lit(0L))).as("d2"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("c")).otherwise(F.lit(0L))).as("c2"))
    val tot = perT.groupBy("s").agg(F.sum("c1").as("nn1"), F.sum("c2").as("nn2"))
    val w = Window.partitionBy("s").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-stratum O/E/V accumulated in t order, read off each stratum's
    // last event row — the logRank construction, keyed by stratum
    val perS = perT.join(tot, Seq("s"))
      .withColumn("n1", F.col("nn1") - F.sum("c1").over(w) + F.col("c1"))
      .withColumn("n2", F.col("nn2") - F.sum("c2").over(w) + F.col("c2"))
      .filter(F.col("d1") + F.col("d2") > 0)
      .withColumn("nt", F.col("n1") + F.col("n2"))
      .withColumn("dt", F.col("d1") + F.col("d2"))
      .withColumn("e1", F.col("dt").cast("double") * F.col("n1") / F.col("nt"))
      .withColumn("vt", F.when(F.col("nt") > 1,
        F.col("dt").cast("double") * F.col("n1") / F.col("nt")
          * F.col("n2") / F.col("nt")
          * (F.col("nt") - F.col("dt")) / (F.col("nt") - F.lit(1L)))
        .otherwise(F.lit(0.0)))
      .withColumn("o1s", F.sum("d1").over(w))
      .withColumn("e1s", F.sum("e1").over(w))
      .withColumn("vss", F.sum("vt").over(w))
      .withColumn("__rn", F.row_number().over(
        Window.partitionBy("s").orderBy(F.col("t").desc)))
      .filter(F.col("__rn") === 1)
    // pooled fold over the strata-sized summary frame, ORDERED by the
    // stratum key so the double sums replay identically in both engines
    val wAll = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pooled = perS
      .withColumn("__oa", F.sum("o1s").over(wAll))
      .withColumn("__ea", F.sum("e1s").over(wAll))
      .withColumn("__v", F.sum("vss").over(wAll))
      .withColumn("__k", F.count(F.lit(1)).over(wAll))
      .withColumn("__last", F.row_number().over(Window.orderBy(F.col("s").desc)))
      .filter(F.col("__last") === 1)
    // cohort sizes over ALL strata (an event-free stratum still holds
    // subjects); n_strata counts only strata that contributed an event
    val nAll = tot.agg(F.sum("nn1").as("__na"), F.sum("nn2").as("__nb"))
    val chi2 = F.when(F.col("__v") > 0.0,
      (F.col("__oa").cast("double") - F.col("__ea"))
        * (F.col("__oa").cast("double") - F.col("__ea")) / F.col("__v"))
    pooled.crossJoin(F.broadcast(nAll)).select(
      F.col("__na").as("n_a"), F.col("__nb").as("n_b"),
      F.col("__k").as("n_strata"),
      F.col("__oa").as("o_a"),
      (F.round(F.col("__ea"), 6) + F.lit(0.0)).as("e_a"),
      (F.round(chi2, 6) + F.lit(0.0)).as("chi2"),
      (chi2 > F.lit(3.841459)).as("reject_95"))
  }

  /** HARRELL'S C-INDEX for the binary-covariate risk score (Harrell et
    * al., JAMA 1982) — the discrimination companion to [[coxPh]]'s
    * effect size and [[logRank]]'s test: of all usable subject pairs
    * (the one with the SHORTER time had an observed event), how often
    * did the score rank the shorter-lived subject riskier? The score
    * is membership in cohort gb (the MAX group label — the same x = 1
    * coding as [[coxPh]], so C > 0.5 exactly when β̂ > 0).
    *
    * Pair counting folds over the [[logRankFromCounts]] per-duration
    * risk-set scaffold instead of materializing the O(n²) pair space:
    * at each event time t, with longer_g(t) = n_g(t) − d_g(t) (at-risk
    * minus same-time events — a subject censored AT t counts as longer,
    * the standard convention),
    *
    *   concordant   += d_b(t) · longer_a(t)          (gb event first)
    *   discordant   += d_a(t) · longer_b(t)
    *   tied score   += d_a(t)·longer_a(t) + d_b(t)·longer_b(t)  (½ credit)
    *
    * and same-time event pairs are not comparable. Every sum is an
    * exact BIGINT; the ½ credits stay integral by carrying 2× the
    * numerator, so C = num2 / (2·pairs) is ONE final IEEE division —
    * engine-exact. EMPTY on a single-group or all-censored input (no
    * usable pair exists — the [[logRankFromCounts]] contracts); NULL C
    * when event times exist but no pair is comparable.
    *
    * Output: one row — (n_a, n_b, pairs, concordant2, c_index,
    * somers_d), C and Somers' D (= 2C − 1) round 6. */
  def cIndexBinary(subjects: DataFrame, durCol: String, obsCol: String,
                   groupCol: String): DataFrame =
    cIndexFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")))

  /** [[cIndexBinary]] over the pre-aggregated (t, g, d, c) frame — the
    * same mergeable summary the other survival readers re-enter. */
  def cIndexFromCounts(byTG: DataFrame): DataFrame = {
    val gs = byTG.agg(F.min("g").as("ga"), F.max("g").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val perT = byTG.crossJoin(F.broadcast(gs))
      .groupBy("t")
      .agg(
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("d")).otherwise(F.lit(0L))).as("d1"),
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("c")).otherwise(F.lit(0L))).as("c1"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("d")).otherwise(F.lit(0L))).as("d2"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("c")).otherwise(F.lit(0L))).as("c2"))
    val tot = perT.agg(F.sum("c1").as("nn1"), F.sum("c2").as("nn2"))
    // exact-long two-phase risk-set prefixes (the r18 KM discipline)
    val agg = TwoPhase.prefixSums(perT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c1"), "__c1s"), (F.col("c2"), "__c2s")))
      .withColumn("n1", F.col("nn1") - F.col("__c1s") + F.col("c1"))
      .withColumn("n2", F.col("nn2") - F.col("__c2s") + F.col("c2"))
      // event times only: non-event rows contribute nothing, and folding
      // over the filtered frame keeps the all-censored input EMPTY (the
      // logRank contract) in both engines
      .filter(F.col("d1") + F.col("d2") > 0)
      .withColumn("l1", F.col("n1") - F.col("d1"))
      .withColumn("l2", F.col("n2") - F.col("d2"))
      .agg(
        F.first("nn1").as("n_a"), F.first("nn2").as("n_b"),
        F.sum(F.col("d2") * F.col("l1")).as("__con"),
        F.sum(F.col("d1") * F.col("l2")).as("__dis"),
        F.sum(F.col("d1") * F.col("l1") + F.col("d2") * F.col("l2")).as("__tie"))
    agg
      // a single-group input leaves perT empty and the global agg emits
      // one all-NULL row — drop it to honor the EMPTY contract
      .filter(F.col("n_a").isNotNull)
      .withColumn("pairs", F.col("__con") + F.col("__dis") + F.col("__tie"))
      .withColumn("concordant2", F.lit(2L) * F.col("__con") + F.col("__tie"))
      .select(F.col("n_a"), F.col("n_b"), F.col("pairs"), F.col("concordant2"),
        (F.round(F.when(F.col("pairs") > 0,
          F.col("concordant2").cast("double") / (F.lit(2L) * F.col("pairs"))), 6)
          + F.lit(0.0)).as("c_index"),
        (F.round(F.when(F.col("pairs") > 0,
          F.col("concordant2").cast("double") / F.col("pairs") - 1.0), 6)
          + F.lit(0.0)).as("somers_d"))
  }

  /** QUANTILE SURVIVAL TIME — the KM curve read as "when has a p
    * fraction exited": t_p = inf{t : Ŝ(t) ≤ 1−p} (p = 0.5 is the median
    * survival time, THE headline number of a retention analysis — the
    * mean is not estimable under censoring, the median usually is).
    * Decided on the curve's ROUND-6 survival values, so both engines
    * pick the identical step; NULL when the curve never falls that far
    * (heavy censoring — the honest answer, not an extrapolation).
    * Output: one row — (n, d_events, p, t_quantile). */
  def quantileSurvival(subjects: DataFrame, durCol: String, obsCol: String,
                       p: Double = 0.5): DataFrame = {
    require(p > 0 && p < 1, "p in (0, 1)")
    val km = kaplanMeier(subjects, durCol, obsCol)
    km.agg(
        (F.max("n_risk")).as("n"), // first row's risk set = every subject
        F.sum("d_events").as("d_events"),
        F.min(F.when(F.col("survival") <= 1.0 - p, F.col("t"))).as("t_quantile"))
      .select(F.col("n"), F.col("d_events"),
        (F.lit(p) + F.lit(0.0)).as("p"), F.col("t_quantile"))
  }

  /** AALEN–JOHANSEN cumulative incidence under COMPETING RISKS (Aalen &
    * Johansen, Scand. J. Stat. 1978): when a subject can exit by more
    * than one cause (converted vs churned; failed vs replaced), the
    * per-cause "1 − KM" overstates every cause — the correct
    * cause-k incidence is CIF_k(t) = Σ_{s≤t} Ŝ(s−)·d_k(s)/n(s), with Ŝ
    * the ALL-cause Kaplan–Meier. Input: one row per subject —
    * non-negative integer `durCol` and `causeCol` ∈ {0 = censored,
    * 1, 2, …}. Output: one row per (event time, cause ≥ 1) —
    * (t, cause, n_risk, d_events, cif), and by construction
    * Σ_k CIF_k(t) + Ŝ(t) = 1 at every event time (the AalenSpec
    * invariant).
    *
    * Determinism: same per-duration count scaffold and ordered
    * duration window as [[kaplanMeier]] (the duration axis is
    * days-sized, never subject-sized); Ŝ(s−) is the exp-of-ln-sum form
    * with the everyone-dies branch, SNAPPED to 9 decimals before it
    * multiplies the hazard so both engines accumulate identical terms;
    * round-6 output. */
  def aalenJohansen(subjects: DataFrame, durCol: String, causeCol: String): DataFrame =
    aalenJohansenFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(causeCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(causeCol).cast("long").as("cause"))
      .agg(F.count(F.lit(1)).as("c")))

  /** [[aalenJohansen]] over a pre-aggregated (t, cause, c) frame —
    * per-(duration, cause) subject counts are the mergeable summary. */
  def aalenJohansenFromCounts(byTK0: DataFrame): DataFrame = {
    // a NULL duration/cause from a failed streaming cast would sit in
    // the risk set forever (counted in c, never in d) — drop it.
    // PINNED: feeds the all-cause per-t aggregate AND the per-cause terms
    // join — unpinned, the upstream count aggregation ran twice.
    val byTK = byTK0.filter(F.col("t").isNotNull && F.col("cause").isNotNull).pin()
    val perT = byTK.groupBy("t")
      .agg(F.sum(F.when(F.col("cause") > 0, F.col("c")).otherwise(F.lit(0L))).as("d"),
        F.sum("c").as("c"))
    val tot = perT.agg(F.sum("c").as("__n"))
    // all-cause KM scaffold: n_risk, Ŝ(t−) = exp(Σ_{s<t} ln(1 − d/n)),
    // snapped to 9 decimals — the multiplier every cause shares at t.
    // Two-phase prefixes (the r18 KM discipline). The EXCLUSIVE ln-sum
    // comes from the inclusive prefix minus the row's own term, with the
    // −∞ everyone-dies terms carried as a separate exact COUNT (−∞ − −∞
    // would be NaN): any strictly-before −∞ forces Ŝ(t−) = 0 exactly,
    // which is what the old wPrev window's −∞ sum produced through exp.
    // The finite subtraction's ulp (~1e-16) sits far inside the 9-snap.
    val km0 = TwoPhase.prefixSums(perT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c"), "__csum")))
      .withColumn("n_risk", F.col("__n") - F.col("__csum") + F.col("c"))
      .withColumn("__term",
        F.when(F.col("d") > 0 && F.col("d") < F.col("n_risk"),
          F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")))
          .otherwise(F.lit(0.0)))
      .withColumn("__dies", F.when(F.col("d") === F.col("n_risk"), 1L).otherwise(0L))
    val km = TwoPhase.prefixSums(km0, F.col("t"),
        Seq((F.col("__term"), "__lnsum"), (F.col("__dies"), "__diesum")))
      .withColumn("s_prev",
        F.when(F.col("__diesum") - F.col("__dies") > 0, F.lit(0.0))
          .otherwise(F.round(F.exp(F.col("__lnsum") - F.col("__term")), 9)))
      .select(F.col("t"), F.col("n_risk"), F.col("s_prev"))
    val terms = byTK.filter(F.col("cause") > 0)
      .join(km, "t")
      .withColumn("__inc",
        F.col("s_prev") * F.col("c").cast("double") / F.col("n_risk"))
    val wk = Window.partitionBy("cause").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms
      .withColumn("cif", F.round(F.sum("__inc").over(wk), 6) + F.lit(0.0))
      .select(F.col("t"), F.col("cause"), F.col("n_risk"),
        F.col("c").as("d_events"), F.col("cif"))
  }

  /** COX PROPORTIONAL HAZARDS, single binary covariate (Cox, JRSS-B
    * 1972), Breslow tie handling (Breslow, Biometrics 1974) — the
    * question log-rank leaves open: not just "do the cohorts differ"
    * but BY HOW MUCH, as a hazard ratio with a standard error. With one
    * binary covariate x ∈ {0 = cohort a, 1 = cohort b} the Breslow
    * partial log-likelihood needs only per-event-time counts — events
    * d_t (of which dx_t in cohort b) and at-risk counts n0_t / nx_t —
    * the SAME risk-set scaffold as [[logRank]]:
    *
    *   U(β) = Σ_t [ dx_t − d_t·nx_t·e^β / (n0_t + nx_t·e^β) ]
    *   I(β) = Σ_t [ d_t·n0_t·nx_t·e^β / (n0_t + nx_t·e^β)² ]
    *
    * Newton from β₀ = 0: β ← β + U/I, a FIXED number of steps (default
    * 4 — quadratic convergence puts 4 steps at ~1e-12 of the MLE on any
    * non-pathological two-cohort input). Each step's sums run as
    * ordered left-associated accumulation over the duration axis (the
    * engine-bit-identical double-Σ discipline) and each β is 9-snapped
    * (BigDecimal HALF_UP — DuckDB's round(x, 9) replays it), so the
    * whole iteration unrolls into oracle CTEs. The duration axis is
    * days-sized, so collecting it to the driver is a bounded collect —
    * the Newton loop is driver-side scalars over it, nothing data-sized
    * leaves the cluster.
    *
    * Output: ONE row — (n_a, n_b, d_total, beta, hr, se, reject_95):
    * β and hr = e^β round-6 (hazard of cohort b relative to a), se the
    * inverse-information standard error, reject_95 the Wald χ² =
    * (β/se)² against the χ²₁ 95% critical value (consistent with
    * [[logRank]]'s rejection on the same fixture, asymptotically the
    * same test). All four NULL when no event time carries a comparison
    * (I(0) = 0). EMPTY when there are no event times or a single
    * cohort ([[logRankFromCounts]]'s conventions). */
  def coxPh(subjects: DataFrame, durCol: String, obsCol: String,
            groupCol: String, steps: Int = 4,
            maxDurations: Int = defaultMaxDurations): DataFrame =
    coxPhFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"),
        F.count(F.lit(1)).as("c")), steps, maxDurations)

  /** Default cap on the collected event-duration axis shared by the Cox
    * family's driver folds — the [[graft.operators.Evaluation.isotonicFromCounts]]
    * guard shape: the fold is sound only when the duration axis is a
    * vocabulary (integer days, bounded), never the corpus. A
    * continuous-duration input at scale would make the collect
    * data-sized, so every fold REFUSES loudly past the cap (before
    * materializing more than cap + 1 rows) instead of OOM-ing the
    * driver; snap such durations to a documented grid first (e.g.
    * `F.round(dur / 86400.0, 0)` for epoch-seconds → days) or raise the
    * cap deliberately. */
  val defaultMaxDurations: Int = 100000

  private def guardAxis(n: Int, cap: Int, what: String): Unit =
    require(n <= cap,
      s"$what: > $cap collected axis rows — the Cox-family driver fold " +
        "is bounded by the event-duration vocabulary (integer days); " +
        "snap a continuous duration to a grid first, or raise " +
        "maxDurations deliberately")

  /** The shared two-cohort event frame behind the Cox family: per
    * event time (t, d, dx, n0, nx, nn1, nn2) in t order, collected —
    * the duration axis is days-sized, bounded (enforced by
    * [[defaultMaxDurations]]), and every consumer's driver fold must
    * accumulate in exactly this order. */
  private def twoCohortEvents(byTG: DataFrame,
                              maxDurations: Int = defaultMaxDurations): Array[org.apache.spark.sql.Row] = {
    val gs = byTG.agg(F.min("g").as("ga"), F.max("g").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val perT = byTG.crossJoin(F.broadcast(gs))
      .groupBy("t")
      .agg(
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("d")).otherwise(F.lit(0L))).as("d1"),
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("c")).otherwise(F.lit(0L))).as("c1"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("d")).otherwise(F.lit(0L))).as("d2"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("c")).otherwise(F.lit(0L))).as("c2"))
    val tot = perT.agg(F.sum("c1").as("nn1"), F.sum("c2").as("nn2"))
    // per-event-time risk sets, the logRank construction: n at risk =
    // total − everyone who exited strictly before t — exact-long
    // two-phase prefixes (the r18 KM discipline)
    val rows = TwoPhase.prefixSums(perT.crossJoin(F.broadcast(tot)),
        F.col("t"), Seq((F.col("c1"), "__c1s"), (F.col("c2"), "__c2s")))
      .withColumn("n0", F.col("nn1") - F.col("__c1s") + F.col("c1"))
      .withColumn("nx", F.col("nn2") - F.col("__c2s") + F.col("c2"))
      .filter(F.col("d1") + F.col("d2") > 0)
      .select(F.col("t"), (F.col("d1") + F.col("d2")).as("d"),
        F.col("d2").as("dx"), F.col("n0"), F.col("nx"),
        F.col("nn1"), F.col("nn2"))
      .orderBy("t")
      .select("t", "d", "dx", "n0", "nx", "nn1", "nn2")
      .limit(maxDurations + 1).collect()
    guardAxis(rows.length, maxDurations, "twoCohortEvents")
    rows
  }

  /** (U, I) at β over a [[twoCohortEvents]] frame — term shapes EXACTLY
    * as the SQL mirror writes them (left-associated products, nx·e^β
    * before the n0 addition), accumulated in t order: bit-identical to
    * the ordered window sums. */
  private def breslowScoreInfo(rows: Array[org.apache.spark.sql.Row],
                               beta: Double): (Double, Double) = {
    val eb = math.exp(beta)
    var u = 0.0; var i = 0.0
    rows.foreach { r =>
      val d = r.getLong(1).toDouble; val dx = r.getLong(2).toDouble
      val n0 = r.getLong(3).toDouble; val nx = r.getLong(4).toDouble
      val den = n0 + nx * eb
      u = u + (dx - d * nx * eb / den)
      i = i + d * n0 * nx * eb / (den * den)
    }
    (u, i)
  }

  private def rdN(x: Double, n: Int): Double =
    BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The 9-snapped Breslow Newton over a collected event frame. */
  private def breslowBeta(rows: Array[org.apache.spark.sql.Row],
                          steps: Int): Double = {
    var beta = 0.0
    (1 to steps).foreach { _ =>
      val (u, i) = breslowScoreInfo(rows, beta)
      if (i > 0) beta = rdN(beta + u / i, 9)
    }
    beta
  }

  /** The fit over the pre-aggregated (t, g, d, c) frame — the same
    * mergeable summary [[logRankFromCounts]] re-enters. */
  def coxPhFromCounts(byTG: DataFrame, steps: Int = 4,
                      maxDurations: Int = defaultMaxDurations): DataFrame = {
    val spark = byTG.sparkSession
    val rows = twoCohortEvents(byTG, maxDurations)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_b", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_total", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hr", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("se", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reject_95", org.apache.spark.sql.types.BooleanType)))
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val nA = rows.head.getLong(5); val nB = rows.head.getLong(6)
    val dTotal = rows.map(_.getLong(1)).sum
    def rd6(x: Double): Double = rdN(x, 6) + 0.0
    val beta = breslowBeta(rows, steps)
    val (_, iFinal) = breslowScoreInfo(rows, beta)
    val row: org.apache.spark.sql.Row =
      if (iFinal > 0) {
        val se = 1.0 / math.sqrt(iFinal)
        val wald = (beta / se) * (beta / se)
        org.apache.spark.sql.Row(nA, nB, dTotal, rd6(beta), rd6(math.exp(beta)),
          rd6(se), java.lang.Boolean.valueOf(wald > 3.841459))
      } else org.apache.spark.sql.Row(nA, nB, dTotal, null, null, null, null)
    spark.createDataFrame(java.util.Arrays.asList(row), outSchema)
  }

  /** BRESLOW baseline cumulative hazard + predicted survival curves at
    * the Cox fit — the CURVES the hazard ratio summarizes: Ĥ₀(t) =
    * Σ_{s≤t} d_s / (n0_s + nx_s·e^β̂) (the baseline = cohort a, x = 0),
    * with the cohorts' predicted survival S_a(t) = e^{−Ĥ₀(t)} and
    * S_b(t) = e^{−Ĥ₀(t)·e^β̂} (proportional hazards BY CONSTRUCTION —
    * this is the model's view to eyeball against the raw KM curves,
    * not a second estimate of them). β̂ from the same 9-snapped Newton
    * as [[coxPh]]; Ĥ₀ accumulates as a driver-side left fold over the
    * collected days-sized event axis — the oracle's ordered window sum,
    * bit-identical. A degenerate fit (I(0) = 0) keeps β = 0, making
    * the output the Nelson–Aalen-style pooled baseline (documented, not
    * hidden). EMPTY on no events / single cohort. Output: one row per
    * event time — (t, d, n_risk, h0, surv_a, surv_b), round 6. */
  def coxBaseline(subjects: DataFrame, durCol: String, obsCol: String,
                  groupCol: String, steps: Int = 4,
                  maxDurations: Int = defaultMaxDurations): DataFrame =
    coxBaselineFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"), F.count(F.lit(1)).as("c")),
      steps, maxDurations)

  /** [[coxBaseline]] over a pre-aggregated (t, g, d, c) frame — the
    * per-(t, g) counts are the curves' complete sufficient statistics. */
  def coxBaselineFromCounts(byTG: DataFrame, steps: Int = 4,
                            maxDurations: Int = defaultMaxDurations): DataFrame = {
    val spark = byTG.sparkSession
    val rows = twoCohortEvents(byTG, maxDurations)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_risk", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("h0", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("surv_a", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("surv_b", org.apache.spark.sql.types.DoubleType)))
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val beta = breslowBeta(rows, steps)
    val eb = math.exp(beta)
    def rd6(x: Double): Double = rdN(x, 6) + 0.0
    var h0 = 0.0
    val out = rows.map { r =>
      val d = r.getLong(1).toDouble
      val n0 = r.getLong(3).toDouble; val nx = r.getLong(4).toDouble
      h0 = h0 + d / (n0 + nx * eb)
      org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
        r.getLong(3) + r.getLong(4),
        rd6(h0), rd6(math.exp(-h0)), rd6(math.exp(-h0 * eb)))
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(out: _*)), outSchema)
  }

  /** SCHOENFELD-residual trend — the proportional-hazards ASSUMPTION
    * check the whole Cox family rests on (Schoenfeld, Biometrika 1982;
    * the correlation-with-time read of Grambsch & Therneau 1994): the
    * per-event-time score residual r_t = dx_t − d_t·nx_t·e^β̂/den_t (the
    * Newton U-term at the fit) should be PATTERNLESS in time under PH;
    * a nonzero correlation with t means the hazard ratio drifts and the
    * single β̂ is averaging a moving target. Pearson corr(r_t, t) over
    * event times, moments accumulated in t order (the ordered-fold
    * discipline; time moments in Double — exact for the days-sized
    * axis, overflow-proof for an epoch-sized one), z = r·√(n−2)/√(1−r²)
    * against ±1.96. NULL corr/z when fewer than 3 event times or a
    * degenerate variance (all residuals equal). EMPTY on no events /
    * single cohort. Output: one row — (n_events, beta, corr, z,
    * ph_violated_95), β round 6, corr/z round 4. */
  def coxSchoenfeldTrend(subjects: DataFrame, durCol: String, obsCol: String,
                         groupCol: String, steps: Int = 4,
                         maxDurations: Int = defaultMaxDurations): DataFrame =
    coxSchoenfeldTrendFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"), F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"), F.count(F.lit(1)).as("c")),
      steps, maxDurations)

  /** [[coxSchoenfeldTrend]] over a pre-aggregated (t, g, d, c) frame —
    * residuals are a pure function of the per-(t, g) counts. */
  def coxSchoenfeldTrendFromCounts(byTG: DataFrame, steps: Int = 4,
                                   maxDurations: Int = defaultMaxDurations): DataFrame = {
    val spark = byTG.sparkSession
    val rows = twoCohortEvents(byTG, maxDurations)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("corr", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("z", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ph_violated_95", org.apache.spark.sql.types.BooleanType)))
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val beta = breslowBeta(rows, steps)
    val eb = math.exp(beta)
    def rd6(x: Double): Double = rdN(x, 6) + 0.0
    def rd4(x: Double): Double = rdN(x, 4) + 0.0
    var st = 0.0; var stt = 0.0
    var sr = 0.0; var srr = 0.0; var str = 0.0
    rows.foreach { r =>
      // time moments in Double (the SQL mirror's CAST(t AS DOUBLE)
      // reads): epoch-style t values must not overflow t*t silently
      // (r15 ADVICE) — exact anyway for the documented days-sized axis
      val t = r.getLong(0).toDouble
      val d = r.getLong(1).toDouble; val dx = r.getLong(2).toDouble
      val n0 = r.getLong(3).toDouble; val nx = r.getLong(4).toDouble
      val den = n0 + nx * eb
      val rt = dx - d * nx * eb / den
      st = st + t; stt = stt + t * t
      sr = sr + rt; srr = srr + rt * rt; str = str + t * rt
    }
    val ne = rows.length.toLong
    val nD = ne.toDouble
    val num = nD * str - st * sr
    val denT = nD * stt - st * st
    val denR = nD * srr - sr * sr
    val corrOpt =
      if (denT > 0 && denR > 0) Some(num / (math.sqrt(denT) * math.sqrt(denR)))
      else None
    val row = corrOpt match {
      case Some(c) if ne > 2 && math.abs(c) < 1.0 =>
        val z = c * math.sqrt(nD - 2.0) / math.sqrt(1.0 - c * c)
        org.apache.spark.sql.Row(ne, rd6(beta), rd4(c), rd4(z),
          java.lang.Boolean.valueOf(math.abs(z) > 1.96))
      case Some(c) =>
        org.apache.spark.sql.Row(ne, rd6(beta), rd4(c), null, null)
      case None =>
        org.apache.spark.sql.Row(ne, rd6(beta), null, null, null)
    }
    spark.createDataFrame(java.util.Arrays.asList(row), outSchema)
  }

  /** STRATIFIED Cox PH (Cox 1972 §6) — the confounder-adjusted hazard
    * ratio, the effect-size sibling of [[logRankStratified]]: each
    * stratum keeps its OWN baseline hazard (risk sets never cross
    * strata), one shared β pools the per-stratum scores and
    * informations — U(β) = Σ_s U_s(β), I(β) = Σ_s I_s(β). The per-row
    * term shapes are EXACTLY [[coxPh]]'s (a stratum where one cohort is
    * absent contributes zero terms by algebra — nx = 0 kills both U and
    * I — no special-casing); the driver fold runs over the collected
    * (stratum, event time) axis in (s, t) order, matching the oracle's
    * single ordered window over the same keys. Same 9-snapped Newton,
    * inverse-information se, Wald test. EMPTY when no event times or a
    * single cohort overall. Output: ONE row — (n_a, n_b, n_strata,
    * d_total, beta, hr, se, reject_95). */
  def coxPhStratified(subjects: DataFrame, durCol: String, obsCol: String,
                      groupCol: String, strataCol: String,
                      steps: Int = 4,
                      maxDurations: Int = defaultMaxDurations): DataFrame =
    coxPhStratifiedFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull &&
        F.col(groupCol).isNotNull && F.col(strataCol).isNotNull)
      .groupBy(F.col(strataCol).as("s"), F.col(durCol).cast("long").as("t"),
        F.col(groupCol).as("g"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"), F.count(F.lit(1)).as("c")),
      steps, maxDurations)

  /** [[coxPhStratified]] over a pre-aggregated (s, t, g, d, c) frame —
    * the streaming re-entry point (per-(stratum, t, g) counts are the
    * pooled fit's complete sufficient statistics). */
  def coxPhStratifiedFromCounts(byTSG: DataFrame, steps: Int = 4,
                                maxDurations: Int = defaultMaxDurations): DataFrame = {
    val spark = byTSG.sparkSession
    val gs = byTSG.agg(F.min("g").as("ga"), F.max("g").as("gb"))
      .filter(F.col("ga") =!= F.col("gb"))
    val perT = byTSG.crossJoin(F.broadcast(gs))
      .groupBy("s", "t")
      .agg(
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("d")).otherwise(F.lit(0L))).as("d1"),
        F.sum(F.when(F.col("g") === F.col("ga"), F.col("c")).otherwise(F.lit(0L))).as("c1"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("d")).otherwise(F.lit(0L))).as("d2"),
        F.sum(F.when(F.col("g") === F.col("gb"), F.col("c")).otherwise(F.lit(0L))).as("c2"))
    val tots = perT.groupBy("s").agg(F.sum("c1").as("nn1"), F.sum("c2").as("nn2"))
    val w = Window.partitionBy("s").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = perT.join(F.broadcast(tots), Seq("s"))
      .withColumn("n0", F.col("nn1") - F.sum("c1").over(w) + F.col("c1"))
      .withColumn("nx", F.col("nn2") - F.sum("c2").over(w) + F.col("c2"))
      .filter(F.col("d1") + F.col("d2") > 0)
      .select(F.col("s"), (F.col("d1") + F.col("d2")).as("d"),
        F.col("d2").as("dx"), F.col("n0"), F.col("nx"), F.col("t"))
    // (s, t)-ordered collect: the row layout's slots 1-4 are the
    // breslowScoreInfo contract (d, dx, n0, nx); axis = (stratum, day)
    // pairs, guarded like every Cox-family fold
    val rows = ev.orderBy("s", "t")
      .select("s", "d", "dx", "n0", "nx")
      .limit(maxDurations + 1).collect()
    guardAxis(rows.length, maxDurations, "coxPhStratified")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_b", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_strata", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_total", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hr", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("se", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reject_95", org.apache.spark.sql.types.BooleanType)))
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val counts = tots.agg(F.sum("nn1").as("na"), F.sum("nn2").as("nb"),
      F.count(F.lit(1)).as("ks")).collect().head
    val dTotal = rows.map(_.getLong(1)).sum
    def rd6(x: Double): Double = rdN(x, 6) + 0.0
    val beta = breslowBeta(rows, steps)
    val (_, iFinal) = breslowScoreInfo(rows, beta)
    val row: org.apache.spark.sql.Row =
      if (iFinal > 0) {
        val se = 1.0 / math.sqrt(iFinal)
        val wald = (beta / se) * (beta / se)
        org.apache.spark.sql.Row(counts.getLong(0), counts.getLong(1),
          counts.getLong(2), dTotal, rd6(beta), rd6(math.exp(beta)),
          rd6(se), java.lang.Boolean.valueOf(wald > 3.841459))
      } else org.apache.spark.sql.Row(counts.getLong(0), counts.getLong(1),
        counts.getLong(2), dTotal, null, null, null, null)
    spark.createDataFrame(java.util.Arrays.asList(row), outSchema)
  }

  /** MULTI-COVARIATE Cox proportional hazards (Cox 1972, Breslow ties)
    * over 1–3 BINARY covariates — the adjusted-hazard-ratio read
    * [[coxPh]] stops short of: "does the cohort effect survive adjusting
    * for the other flags". With binary covariates the risk-set state
    * collapses to the 2^p covariate PATTERNS, so the whole fit needs
    * only per-(event time, pattern) counts — the [[logRank]] scaffold
    * keyed one dimension wider, never per-subject state:
    *
    *   S0(t)    = Σ_k n_k(t)·e^{βᵀx_k}
    *   S1_i(t)  = Σ_{k: x_i=1} n_k(t)·e^{βᵀx_k}
    *   S2_ij(t) = Σ_{k: x_i=x_j=1} n_k(t)·e^{βᵀx_k}   (binary: x² = x)
    *   U_i = Σ_t [dx_i(t) − d(t)·S1_i/S0]
    *   I_ij = Σ_t d(t)·[S2_ij/S0 − (S1_i/S0)(S1_j/S0)]
    *
    * Newton from β = 0, a FIXED number of steps, each solved by
    * CRAMER'S RULE written term-for-term (p ≤ 3 → at most a 3×3
    * determinant expansion — a fixed IEEE shape both engines replay, no
    * pivoting-order ambiguity) and each β component 9-snapped per step
    * (BigDecimal HALF_UP), so the iteration unrolls into oracle CTEs
    * exactly as [[coxPh]]'s does. Per-step sums accumulate as ordered
    * left-associated folds over the duration axis with the pattern
    * terms added in ascending pattern order — bit-identical to the
    * mirror's ordered window sums over the same written shapes. The
    * collected axis is (event times) rows of 2^p bounded columns — the
    * days-sized bounded collect, nothing data-sized leaves the cluster.
    *
    * Covariates must be 0/1 (a non-binary value fails loudly — the
    * pattern space IS the boundedness argument). Pattern index: the
    * FIRST covariate is the high bit (p = 2: k = 2·x₁ + x₂). se_i =
    * √(cofactor_ii/det), the inverse-information diagonal; reject_95
    * is the per-covariate Wald χ²₁ test. All-NULL estimates when the
    * information matrix degenerates (det ≤ 0 at β = 0 — e.g. a
    * constant covariate); EMPTY when there are no event times.
    * Output: one row per covariate, in `covCols` order —
    * (covariate, n, d_total, beta, hr, se, reject_95), β/hr/se
    * round 6. */
  def coxPhMulti(subjects: DataFrame, durCol: String, obsCol: String,
                 covCols: Seq[String], steps: Int = 4,
                 maxDurations: Int = defaultMaxDurations): DataFrame = {
    require(covCols.nonEmpty && covCols.size <= 3,
      "coxPhMulti fits 1-3 binary covariates (Cramer solve is written per arity)")
    val notNull = (F.col(durCol).isNotNull && F.col(obsCol).isNotNull) &&
      covCols.map(F.col(_).isNotNull).reduce(_ && _)
    coxPhMultiFromCounts(subjects.filter(notNull)
      .groupBy(F.col(durCol).cast("long").as("t"),
        patternCol(covCols).as("k"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"), F.count(F.lit(1)).as("c")),
      covCols, steps, maxDurations)
  }

  /** The covariate-pattern index behind [[coxPhMulti]]: the FIRST
    * covariate is the high bit (p = 2: k = 2·x₁ + x₂). The binary
    * check runs on the ORIGINAL double value, not the long truncation —
    * a fractional covariate (0.5 → long 0) must land in pattern -1 and
    * trip the post-aggregation guard, not silently pass as 0 (r15
    * ADVICE). */
  def patternCol(covCols: Seq[String]): org.apache.spark.sql.Column = {
    val p = covCols.size
    val xds = covCols.map(c => F.col(c).cast("double"))
    val isBin = xds.map(x => x === 0.0 || x === 1.0).reduce(_ && _)
    val xs = covCols.map(c => F.col(c).cast("long"))
    F.when(isBin,
      xs.zipWithIndex.map { case (x, i) => x * (1L << (p - 1 - i)) }
        .reduce(_ + _)).otherwise(F.lit(-1L))
  }

  /** [[coxPhMulti]] over a pre-aggregated (t, k, d, c) frame keyed by
    * the [[patternCol]] pattern index (k = -1 marks invalid covariate
    * rows and trips the loud guard) — the streaming re-entry point. */
  def coxPhMultiFromCounts(byTP: DataFrame, covCols: Seq[String],
                           steps: Int = 4,
                           maxDurations: Int = defaultMaxDurations): DataFrame = {
    require(covCols.nonEmpty && covCols.size <= 3,
      "coxPhMulti fits 1-3 binary covariates (Cramer solve is written per arity)")
    val p = covCols.size
    val kPats = 1 << p
    val spark = byTP.sparkSession
    val perTAggs = (0 until kPats).flatMap { k =>
      Seq(F.sum(F.when(F.col("k") === k, F.col("d")).otherwise(F.lit(0L))).as(s"d$k"),
        F.sum(F.when(F.col("k") === k, F.col("c")).otherwise(F.lit(0L))).as(s"c$k"))
    } :+ F.sum(F.when(F.col("k") === -1L, F.col("c")).otherwise(F.lit(0L))).as("bad")
    val perT = byTP.groupBy("t").agg(perTAggs.head, perTAggs.tail: _*)
    val totAggs = (0 until kPats).map(k => F.sum(F.col(s"c$k")).as(s"nn$k")) :+
      F.sum("bad").as("badTot")
    val tot = perT.agg(totAggs.head, totAggs.tail: _*)
    // exact-long two-phase risk-set prefixes (the r18 KM discipline),
    // all kPats patterns in ONE range-partitioned pass
    val withRisk = (0 until kPats).foldLeft(
      TwoPhase.prefixSums(perT.crossJoin(F.broadcast(tot)), F.col("t"),
        (0 until kPats).map(k => (F.col(s"c$k"), s"__cs$k")))) {
      case (df, k) => df.withColumn(s"n$k",
        F.col(s"nn$k") - F.col(s"__cs$k") + F.col(s"c$k"))
    }
    val dTotCol = (0 until kPats).map(k => F.col(s"d$k")).reduce(_ + _)
    val ev = withRisk.filter(dTotCol > 0)
      .select(F.col("t") +: F.col("badTot") +:
        (0 until kPats).flatMap(k => Seq(F.col(s"d$k"), F.col(s"n$k"), F.col(s"nn$k"))): _*)
    val rows = ev.orderBy("t").limit(maxDurations + 1).collect()
    guardAxis(rows.length, maxDurations, "coxPhMulti")
    require(rows.isEmpty || rows.head.getLong(1) == 0L,
      s"coxPhMulti: non-binary covariate values in ${covCols.mkString(",")} " +
        "— the pattern-space boundedness argument needs 0/1 covariates")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("covariate", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_total", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hr", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("se", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reject_95", org.apache.spark.sql.types.BooleanType)))
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    // per-t (d_k, n_k) in pattern order; grand totals off the first row
    def dAt(r: org.apache.spark.sql.Row, k: Int): Long = r.getLong(2 + 3 * k)
    def nAt(r: org.apache.spark.sql.Row, k: Int): Long = r.getLong(3 + 3 * k)
    val nTotal = (0 until kPats).map(k => rows.head.getLong(4 + 3 * k)).sum
    val dTotal = rows.map(r => (0 until kPats).map(dAt(r, _)).sum).sum
    // x_k[i]: bit (p-1-i) of pattern k — covCols.head is the high bit
    val bits = Array.tabulate(kPats, p)((k, i) => (k >> (p - 1 - i)) & 1)
    // (U, I) at β: left-assoc over t (outer) and ascending k (inner) —
    // the exact shapes the SQL mirror's ordered window sums replay
    def scoreInfo(beta: Array[Double]): (Array[Double], Array[Array[Double]]) = {
      val u = new Array[Double](p)
      val inf = Array.ofDim[Double](p, p)
      val wk = Array.tabulate(kPats) { k =>
        var s = 0.0; var i = 0
        while (i < p) { if (bits(k)(i) == 1) s = s + beta(i); i += 1 }
        math.exp(s)
      }
      rows.foreach { r =>
        var s0 = 0.0; var dt = 0L
        val s1 = new Array[Double](p)
        var k = 0
        while (k < kPats) {
          val nk = nAt(r, k).toDouble
          s0 = s0 + nk * wk(k)
          dt += dAt(r, k)
          k += 1
        }
        var i = 0
        while (i < p) {
          var dx = 0L; var k2 = 0; var s = 0.0
          while (k2 < kPats) {
            if (bits(k2)(i) == 1) { s = s + nAt(r, k2).toDouble * wk(k2); dx += dAt(r, k2) }
            k2 += 1
          }
          s1(i) = s
          u(i) = u(i) + (dx.toDouble - dt.toDouble * s1(i) / s0)
          i += 1
        }
        i = 0
        while (i < p) {
          var j = i
          while (j < p) {
            var s2 = 0.0; var k3 = 0
            while (k3 < kPats) {
              if (bits(k3)(i) == 1 && bits(k3)(j) == 1) s2 = s2 + nAt(r, k3).toDouble * wk(k3)
              k3 += 1
            }
            val term = dt.toDouble * (s2 / s0 - (s1(i) / s0) * (s1(j) / s0))
            inf(i)(j) = inf(i)(j) + term
            if (j != i) inf(j)(i) = inf(j)(i) + term
            j += 1
          }
          i += 1
        }
      }
      (u, inf)
    }
    def rd9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rd6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    // Cramer determinant + per-covariate solve/cofactor, written
    // term-for-term per arity (the fixed IEEE shapes the mirror reuses)
    def det(m: Array[Array[Double]]): Double = p match {
      case 1 => m(0)(0)
      case 2 => m(0)(0) * m(1)(1) - m(0)(1) * m(0)(1)
      case _ =>
        m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(1)(2)) -
          m(0)(1) * (m(0)(1) * m(2)(2) - m(1)(2) * m(0)(2)) +
          m(0)(2) * (m(0)(1) * m(1)(2) - m(1)(1) * m(0)(2))
    }
    def solve(u: Array[Double], m: Array[Array[Double]], dd: Double): Array[Double] = p match {
      case 1 => Array(u(0) / dd)
      case 2 => Array(
        (u(0) * m(1)(1) - u(1) * m(0)(1)) / dd,
        (m(0)(0) * u(1) - m(0)(1) * u(0)) / dd)
      case _ => Array(
        (u(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(1)(2)) -
          m(0)(1) * (u(1) * m(2)(2) - m(1)(2) * u(2)) +
          m(0)(2) * (u(1) * m(1)(2) - m(1)(1) * u(2))) / dd,
        (m(0)(0) * (u(1) * m(2)(2) - m(1)(2) * u(2)) -
          u(0) * (m(0)(1) * m(2)(2) - m(1)(2) * m(0)(2)) +
          m(0)(2) * (m(0)(1) * u(2) - u(1) * m(0)(2))) / dd,
        (m(0)(0) * (m(1)(1) * u(2) - u(1) * m(1)(2)) -
          m(0)(1) * (m(0)(1) * u(2) - u(1) * m(0)(2)) +
          u(0) * (m(0)(1) * m(1)(2) - m(1)(1) * m(0)(2))) / dd)
    }
    def cofDiag(m: Array[Array[Double]], i: Int): Double = p match {
      case 1 => 1.0
      case 2 => if (i == 0) m(1)(1) else m(0)(0)
      case _ => i match {
        case 0 => m(1)(1) * m(2)(2) - m(1)(2) * m(1)(2)
        case 1 => m(0)(0) * m(2)(2) - m(0)(2) * m(0)(2)
        case _ => m(0)(0) * m(1)(1) - m(0)(1) * m(0)(1)
      }
    }
    val beta = new Array[Double](p)
    (1 to steps).foreach { _ =>
      val (u, inf) = scoreInfo(beta)
      val dd = det(inf)
      if (dd > 0) {
        val db = solve(u, inf, dd)
        var i = 0
        while (i < p) { beta(i) = rd9(beta(i) + db(i)); i += 1 }
      }
    }
    val (_, iFin) = scoreInfo(beta)
    val ddFin = det(iFin)
    val out: Seq[org.apache.spark.sql.Row] = covCols.zipWithIndex.map { case (cname, i) =>
      if (ddFin > 0) {
        val se = math.sqrt(cofDiag(iFin, i) / ddFin)
        val wald = (beta(i) / se) * (beta(i) / se)
        org.apache.spark.sql.Row(cname, nTotal, dTotal, rd6(beta(i)),
          rd6(math.exp(beta(i))), rd6(se), java.lang.Boolean.valueOf(wald > 3.841459))
      } else org.apache.spark.sql.Row(cname, nTotal, dTotal, null, null, null, null)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(out: _*)), outSchema)
  }

  /** CONTINUOUS-covariate Cox proportional hazards (Cox 1972, Breslow
    * ties) — the adjusted-hazard-ratio question [[coxPhMulti]]'s binary
    * contract can't answer: β for age / a quality score / an
    * engagement count, e^β the hazard ratio PER UNIT of the covariate.
    * The covariate is SNAPPED to a grid first (`F.round(x, decimals)` —
    * the [[graft.operators.Evaluation.isotonicCalibrationGridded]]
    * escape-hatch pattern) so the risk-set state stays a bounded
    * per-(event time, grid value) count frame, never per-subject state:
    *
    *   S0(t) = Σ_v n_v(t)·e^{βv}     S1(t) = Σ_v v·n_v(t)·e^{βv}
    *   S2(t) = Σ_v v²·n_v(t)·e^{βv}
    *   U = Σ_t [Σ_{events at t} v  −  d_t·S1/S0]
    *   I = Σ_t d_t·[S2/S0 − (S1/S0)²]
    *
    * Same 9-snapped fixed-step Newton as the whole family. The n_v(t)
    * risk sets never materialize per (t, v): each S-sum is the grid
    * TOTAL (Σ_v nn_v·e^{βv}, folded in ascending v) minus the ordered
    * cumulative exit terms — exactly the logRank risk-set subtraction
    * lifted to β-weighted floats, so the mirror replays it as two
    * ordered window sums. Fold order per Newton pass: grid totals in
    * ascending v; then the (t, v)-ordered exit rows, per-t partials in
    * ascending v; event-time terms in ascending t — every sum
    * left-associated, bit-identical to the mirror's window chain.
    * Collected axes: the (grid value) frame (≤ `maxGridValues`) and the
    * (t, v) exit frame (≤ `maxDurations`), both loudly guarded.
    * Output: ONE row — (covariate, n, d_total, beta, hr, se,
    * reject_95), the [[coxPhMulti]] row shape; all-NULL estimates when
    * the information degenerates (constant covariate), EMPTY when no
    * event times. */
  def coxPhCont(subjects: DataFrame, durCol: String, obsCol: String,
                covCol: String, decimals: Int = 4, steps: Int = 4,
                maxGridValues: Int = 10000,
                maxDurations: Int = defaultMaxDurations): DataFrame = {
    require(decimals >= 0 && decimals <= 8,
      "coxPhCont: decimals must be in 0..8")
    val x = F.col(covCol).cast("double")
    coxPhContFromCounts(subjects
      .filter(F.col(durCol).isNotNull && F.col(obsCol).isNotNull && x.isNotNull)
      .groupBy(F.col(durCol).cast("long").as("t"),
        F.round(x, decimals).as("v"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"), F.count(F.lit(1)).as("c")),
      covCol, steps, maxGridValues, maxDurations)
  }

  /** [[coxPhCont]] over a pre-aggregated (t, v, d, c) frame (v already
    * snapped to the grid) — the streaming re-entry point. */
  def coxPhContFromCounts(byTV: DataFrame, covName: String,
                          steps: Int = 4,
                          maxGridValues: Int = 10000,
                          maxDurations: Int = defaultMaxDurations): DataFrame = {
    val spark = byTV.sparkSession
    val pv = byTV.groupBy("v").agg(F.sum("c").as("nnv"))
      .select(F.col("v").cast("double"), F.col("nnv").cast("long"))
      .orderBy("v").limit(maxGridValues + 1).collect()
    guardAxis(pv.length, maxGridValues, "coxPhCont grid")
    val rows = byTV
      .select(F.col("t").cast("long"), F.col("v").cast("double"),
        F.col("d").cast("long"), F.col("c").cast("long"))
      .orderBy("t", "v").limit(maxDurations + 1).collect()
    guardAxis(rows.length, maxDurations, "coxPhCont")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("covariate", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_total", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hr", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("se", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reject_95", org.apache.spark.sql.types.BooleanType)))
    val anyEvents = rows.exists(_.getLong(2) > 0)
    if (rows.isEmpty || !anyEvents)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val nTotal = pv.map(_.getLong(1)).sum
    val dTotal = rows.map(_.getLong(2)).sum
    // (U, I) at β — term shapes EXACTLY as the SQL mirror writes them:
    // grid totals first (ascending v), then the (t, v)-ordered exit
    // cumulants with per-t partials, s = tot − ce + te, u/i in t order
    def scoreInfo(beta: Double): (Double, Double) = {
      var tot0 = 0.0; var tot1 = 0.0; var tot2 = 0.0
      pv.foreach { r =>
        val v = r.getDouble(0); val nnv = r.getLong(1).toDouble
        val e = math.exp(beta * v)
        tot0 = tot0 + nnv * e
        tot1 = tot1 + v * nnv * e
        tot2 = tot2 + v * v * nnv * e
      }
      var ce0 = 0.0; var ce1 = 0.0; var ce2 = 0.0
      var u = 0.0; var i = 0.0
      var idx = 0
      while (idx < rows.length) {
        val t = rows(idx).getLong(0)
        var te0 = 0.0; var te1 = 0.0; var te2 = 0.0
        var td = 0L; var sxd = 0.0
        while (idx < rows.length && rows(idx).getLong(0) == t) {
          val r = rows(idx)
          val v = r.getDouble(1); val d = r.getLong(2); val c = r.getLong(3)
          val cD = c.toDouble
          val e = math.exp(beta * v)
          ce0 = ce0 + cD * e; ce1 = ce1 + v * cD * e; ce2 = ce2 + v * v * cD * e
          te0 = te0 + cD * e; te1 = te1 + v * cD * e; te2 = te2 + v * v * cD * e
          td += d; sxd = sxd + v * d.toDouble
          idx += 1
        }
        if (td > 0) {
          val s0 = tot0 - ce0 + te0
          val s1 = tot1 - ce1 + te1
          val s2 = tot2 - ce2 + te2
          u = u + (sxd - td.toDouble * s1 / s0)
          i = i + td.toDouble * (s2 / s0 - (s1 / s0) * (s1 / s0))
        }
      }
      (u, i)
    }
    def rd6(x: Double): Double = rdN(x, 6) + 0.0
    var beta = 0.0
    (1 to steps).foreach { _ =>
      val (u, i) = scoreInfo(beta)
      if (i > 0) beta = rdN(beta + u / i, 9)
    }
    val (_, iFin) = scoreInfo(beta)
    val row: org.apache.spark.sql.Row =
      if (iFin > 0) {
        val se = 1.0 / math.sqrt(iFin)
        val wald = (beta / se) * (beta / se)
        org.apache.spark.sql.Row(covName, nTotal, dTotal, rd6(beta),
          rd6(math.exp(beta)), rd6(se), java.lang.Boolean.valueOf(wald > 3.841459))
      } else org.apache.spark.sql.Row(covName, nTotal, dTotal, null, null, null, null)
    spark.createDataFrame(java.util.Arrays.asList(row), outSchema)
  }

  /** Cramer pieces for the symmetric p×p (p ≤ 3) information matrices
    * of the multi-parameter Cox fits — the SAME term-for-term fixed
    * IEEE shapes [[coxPhMultiFromCounts]] pins for its mirror, shared
    * with [[coxPhMixedFromCounts]]. */
  private def cramerDet(p: Int, m: Array[Array[Double]]): Double = p match {
    case 1 => m(0)(0)
    case 2 => m(0)(0) * m(1)(1) - m(0)(1) * m(0)(1)
    case _ =>
      m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(1)(2)) -
        m(0)(1) * (m(0)(1) * m(2)(2) - m(1)(2) * m(0)(2)) +
        m(0)(2) * (m(0)(1) * m(1)(2) - m(1)(1) * m(0)(2))
  }

  private def cramerSolve(p: Int, u: Array[Double], m: Array[Array[Double]],
                          dd: Double): Array[Double] = p match {
    case 1 => Array(u(0) / dd)
    case 2 => Array(
      (u(0) * m(1)(1) - u(1) * m(0)(1)) / dd,
      (m(0)(0) * u(1) - m(0)(1) * u(0)) / dd)
    case _ => Array(
      (u(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(1)(2)) -
        m(0)(1) * (u(1) * m(2)(2) - m(1)(2) * u(2)) +
        m(0)(2) * (u(1) * m(1)(2) - m(1)(1) * u(2))) / dd,
      (m(0)(0) * (u(1) * m(2)(2) - m(1)(2) * u(2)) -
        u(0) * (m(0)(1) * m(2)(2) - m(1)(2) * m(0)(2)) +
        m(0)(2) * (m(0)(1) * u(2) - u(1) * m(0)(2))) / dd,
      (m(0)(0) * (m(1)(1) * u(2) - u(1) * m(1)(2)) -
        m(0)(1) * (m(0)(1) * u(2) - u(1) * m(0)(2)) +
        u(0) * (m(0)(1) * m(1)(2) - m(1)(1) * m(0)(2))) / dd)
  }

  private def cramerCofDiag(p: Int, m: Array[Array[Double]], i: Int): Double = p match {
    case 1 => 1.0
    case 2 => if (i == 0) m(1)(1) else m(0)(0)
    case _ => i match {
      case 0 => m(1)(1) * m(2)(2) - m(1)(2) * m(1)(2)
      case 1 => m(0)(0) * m(2)(2) - m(0)(2) * m(0)(2)
      case _ => m(0)(0) * m(1)(1) - m(0)(1) * m(0)(1)
    }
  }

  /** MIXED-model Cox proportional hazards (Cox 1972, Breslow ties) —
    * one GRIDDED continuous covariate adjusted for 0–2 BINARY
    * covariates: the standard ask ("HR per unit of age, adjusted for
    * treatment arm") that neither [[coxPhCont]] (no adjustment) nor
    * [[coxPhMulti]] (binary-only) can answer. The risk-set state is the
    * JOINT (grid value × covariate pattern) count frame: with
    * z = (v, b₁[, b₂]) and p = 1 + #binaries,
    *
    *   S0(t)     = Σ_{v,k} n_{v,k}(t)·e^{β·z}
    *   S1_j(t)   = Σ z_j·n·e^{β·z}     S2_{jl}(t) = Σ z_j·z_l·n·e^{β·z}
    *   U_j  = Σ_t [Σ_{events at t} z_j·d  −  d_t·S1_j/S0]
    *   I_jl = Σ_t d_t·[S2_{jl}/S0 − (S1_j/S0)(S1_l/S0)]
    *
    * The n_{v,k}(t) risk sets never materialize per (t, v, k): each
    * S-sum is the (v, k) grid TOTAL minus the ordered exit cumulants —
    * [[coxPhCont]]'s grid-total-minus-exit subtraction lifted to the
    * joint cells, replayable by the mirror as ordered window sums. Fold
    * order per Newton pass: grid totals ascending (v, k); the
    * (t, v, k)-ordered exit rows with per-t partials; event-time terms
    * ascending t — every sum left-associated. Newton is the family's
    * 9-snapped fixed-step solve ([[cramerSolve]] per arity p ≤ 3).
    * Collected axes: the (v, k) grid (≤ `maxGridValues`) and the
    * (t, v, k) exit frame (≤ `maxDurations`), both loudly guarded;
    * non-binary adjustment values land in pattern -1 ([[patternCol]])
    * and fail loudly. Output: one row per covariate — `covCol` first,
    * then `binCols`, the [[coxPhMulti]] row shape; all-NULL estimates
    * on a degenerate information matrix, EMPTY when no event times. */
  def coxPhMixed(subjects: DataFrame, durCol: String, obsCol: String,
                 covCol: String, binCols: Seq[String], decimals: Int = 4,
                 steps: Int = 4, maxGridValues: Int = 10000,
                 maxDurations: Int = defaultMaxDurations): DataFrame = {
    require(binCols.size <= 2,
      "coxPhMixed fits one gridded continuous + 0-2 binary covariates")
    require(decimals >= 0 && decimals <= 8,
      "coxPhMixed: decimals must be in 0..8")
    val x = F.col(covCol).cast("double")
    val notNull = (Seq(F.col(durCol).isNotNull, F.col(obsCol).isNotNull,
      x.isNotNull) ++ binCols.map(F.col(_).isNotNull)).reduce(_ && _)
    val k = if (binCols.isEmpty) F.lit(0L) else patternCol(binCols)
    coxPhMixedFromCounts(subjects.filter(notNull)
      .groupBy(F.col(durCol).cast("long").as("t"),
        F.round(x, decimals).as("v"), k.as("k"))
      .agg(F.sum(F.col(obsCol).cast("long")).as("d"), F.count(F.lit(1)).as("c")),
      covCol, binCols, steps, maxGridValues, maxDurations)
  }

  /** [[coxPhMixed]] over a pre-aggregated (t, v, k, d, c) frame (v
    * already snapped, k the [[patternCol]] index; k = -1 marks invalid
    * binary values and trips the loud guard) — the streaming re-entry
    * point. */
  def coxPhMixedFromCounts(byTVK: DataFrame, covName: String,
                           binCols: Seq[String], steps: Int = 4,
                           maxGridValues: Int = 10000,
                           maxDurations: Int = defaultMaxDurations): DataFrame = {
    require(binCols.size <= 2,
      "coxPhMixed fits one gridded continuous + 0-2 binary covariates")
    val spark = byTVK.sparkSession
    val q = binCols.size
    val p = 1 + q
    val pv = byTVK.groupBy("v", "k").agg(F.sum("c").as("nn"))
      .select(F.col("v").cast("double"), F.col("k").cast("long"),
        F.col("nn").cast("long"))
      .orderBy("v", "k").limit(maxGridValues + 1).collect()
    guardAxis(pv.length, maxGridValues, "coxPhMixed grid")
    require(!pv.exists(_.getLong(1) == -1L),
      s"coxPhMixed: non-binary values in ${binCols.mkString(",")} — the " +
        "pattern-space boundedness argument needs 0/1 adjustment covariates")
    val rows = byTVK
      .select(F.col("t").cast("long"), F.col("v").cast("double"),
        F.col("k").cast("long"), F.col("d").cast("long"), F.col("c").cast("long"))
      .orderBy("t", "v", "k").limit(maxDurations + 1).collect()
    guardAxis(rows.length, maxDurations, "coxPhMixed")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("covariate", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_total", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hr", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("se", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reject_95", org.apache.spark.sql.types.BooleanType)))
    val anyEvents = rows.exists(_.getLong(3) > 0)
    if (rows.isEmpty || !anyEvents)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val nTotal = pv.map(_.getLong(2)).sum
    val dTotal = rows.map(_.getLong(3)).sum
    // z_0 = v; z_{1+i} = bit (q-1-i) of k (binCols.head is the high bit,
    // the patternCol convention)
    def zOf(v: Double, k: Long): Array[Double] = {
      val z = new Array[Double](p)
      z(0) = v
      var i = 0
      while (i < q) { z(1 + i) = ((k >> (q - 1 - i)) & 1L).toDouble; i += 1 }
      z
    }
    // (U, I) at β — term shapes EXACTLY as the SQL mirror writes them:
    // grid totals first (ascending v, k), then the (t, v, k)-ordered
    // exit cumulants with per-t partials, s = tot − ce + te, u/i in t
    // order; the exponent is the left-associated β·z dot product
    def scoreInfo(beta: Array[Double]): (Array[Double], Array[Array[Double]]) = {
      var tot0 = 0.0
      val tot1 = new Array[Double](p)
      val tot2 = Array.ofDim[Double](p, p)
      pv.foreach { r =>
        val z = zOf(r.getDouble(0), r.getLong(1))
        var s = 0.0; var j = 0
        while (j < p) { s = s + beta(j) * z(j); j += 1 }
        val e = math.exp(s)
        val nD = r.getLong(2).toDouble
        tot0 = tot0 + nD * e
        j = 0
        while (j < p) {
          tot1(j) = tot1(j) + z(j) * nD * e
          var l = j
          while (l < p) { tot2(j)(l) = tot2(j)(l) + z(j) * z(l) * nD * e; l += 1 }
          j += 1
        }
      }
      var ce0 = 0.0
      val ce1 = new Array[Double](p)
      val ce2 = Array.ofDim[Double](p, p)
      val u = new Array[Double](p)
      val inf = Array.ofDim[Double](p, p)
      var idx = 0
      while (idx < rows.length) {
        val t = rows(idx).getLong(0)
        var te0 = 0.0
        val te1 = new Array[Double](p)
        val te2 = Array.ofDim[Double](p, p)
        var td = 0L
        val szd = new Array[Double](p)
        while (idx < rows.length && rows(idx).getLong(0) == t) {
          val r = rows(idx)
          val z = zOf(r.getDouble(1), r.getLong(2))
          val d = r.getLong(3); val cD = r.getLong(4).toDouble
          var s = 0.0; var j = 0
          while (j < p) { s = s + beta(j) * z(j); j += 1 }
          val e = math.exp(s)
          ce0 = ce0 + cD * e; te0 = te0 + cD * e
          j = 0
          while (j < p) {
            ce1(j) = ce1(j) + z(j) * cD * e
            te1(j) = te1(j) + z(j) * cD * e
            szd(j) = szd(j) + z(j) * d.toDouble
            var l = j
            while (l < p) {
              ce2(j)(l) = ce2(j)(l) + z(j) * z(l) * cD * e
              te2(j)(l) = te2(j)(l) + z(j) * z(l) * cD * e
              l += 1
            }
            j += 1
          }
          td += d
          idx += 1
        }
        if (td > 0) {
          val s0 = tot0 - ce0 + te0
          var j = 0
          while (j < p) {
            val s1j = tot1(j) - ce1(j) + te1(j)
            u(j) = u(j) + (szd(j) - td.toDouble * s1j / s0)
            var l = j
            while (l < p) {
              val s1l = tot1(l) - ce1(l) + te1(l)
              val s2jl = tot2(j)(l) - ce2(j)(l) + te2(j)(l)
              val term = td.toDouble * (s2jl / s0 - (s1j / s0) * (s1l / s0))
              inf(j)(l) = inf(j)(l) + term
              if (l != j) inf(l)(j) = inf(l)(j) + term
              l += 1
            }
            j += 1
          }
        }
      }
      (u, inf)
    }
    def rd6(x: Double): Double = rdN(x, 6) + 0.0
    val beta = new Array[Double](p)
    (1 to steps).foreach { _ =>
      val (u, inf) = scoreInfo(beta)
      val dd = cramerDet(p, inf)
      if (dd > 0) {
        val db = cramerSolve(p, u, inf, dd)
        var j = 0
        while (j < p) { beta(j) = rdN(beta(j) + db(j), 9); j += 1 }
      }
    }
    val (_, iFin) = scoreInfo(beta)
    val ddFin = cramerDet(p, iFin)
    val out: Seq[org.apache.spark.sql.Row] = (covName +: binCols).zipWithIndex.map { case (cname, i) =>
      if (ddFin > 0) {
        // p = 1 pins [[coxPhCont]]'s exact se expression (1/√I, not
        // √(1/I) — the two can differ in the last ulp), so the
        // no-binaries fit reproduces coxPhCont row-for-row
        val se = if (p == 1) 1.0 / math.sqrt(ddFin)
          else math.sqrt(cramerCofDiag(p, iFin, i) / ddFin)
        val wald = (beta(i) / se) * (beta(i) / se)
        org.apache.spark.sql.Row(cname, nTotal, dTotal, rd6(beta(i)),
          rd6(math.exp(beta(i))), rd6(se), java.lang.Boolean.valueOf(wald > 3.841459))
      } else org.apache.spark.sql.Row(cname, nTotal, dTotal, null, null, null, null)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(out: _*)), outSchema)
  }
}
