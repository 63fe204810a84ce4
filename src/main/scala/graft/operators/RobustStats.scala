package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Robust location estimates per group — the complement of
  * [[TimeSeries.robustAnomalies]]'s median/MAD detection: when the
  * DELIVERABLE is the average itself (mean price, mean latency, mean
  * doc length) a handful of outliers poison the plain mean, and the
  * standard fixes are trimming (drop the tails) and winsorizing (clamp
  * them).
  *
  * Scale shape: one exact grouped percentile pass for the tail bounds
  * (groups partition the sort; for raw unaggregated streams swap in the
  * KLL sketch), one join of the per-group 2-scalar bound frame, one
  * combinable aggregate. Bounds are percentile_cont-interpolated values
  * of exact inputs — bit-identical across engines — so which rows trim
  * is engine-exact; the means are double sums collapsed by round 4. */
object RobustStats {

  /** Per-group raw / trimmed / winsorized means with `loQ`/`hiQ`
    * quantile bounds (classic 10%/90%). Output: (grp, n, n_kept,
    * raw_mean, trimmed_mean, winsorized_mean). */
  def trimmedMeans(df: DataFrame, keyCol: String, valCol: String,
                   loQ: Double = 0.1, hiQ: Double = 0.9): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    val base = df.select(F.col(keyCol).as("grp"), F.col(valCol).cast("double").as("x"))
      .filter(F.col("x").isNotNull)
    val bounds = base.groupBy("grp").agg(
      F.expr(s"percentile(x, $loQ)").as("lo"),
      F.expr(s"percentile(x, $hiQ)").as("hi"))
    val kept = F.col("x") >= F.col("lo") && F.col("x") <= F.col("hi")
    base.join(bounds, "grp")
      .groupBy("grp")
      .agg(
        F.count(F.lit(1)).as("n"),
        F.count(F.when(kept, F.lit(1))).as("n_kept"),
        F.round(F.avg(F.col("x")), 4).as("raw_mean"),
        F.round(F.avg(F.when(kept, F.col("x"))), 4).as("trimmed_mean"),
        F.round(F.avg(F.least(F.greatest(F.col("x"), F.col("lo")), F.col("hi"))), 4)
          .as("winsorized_mean"))
  }

  /** THEIL T index with between/within decomposition (Theil 1967) — the
    * GROUPED inequality story Gini can't tell: total inequality splits
    * EXACTLY into "inequality between the groups' means" plus the
    * share-weighted inequality inside each group, so the answer to "is
    * doc-length concentration a cross-source artifact or intrinsic to
    * every source" is one aggregate.
    *
    * Everything reduces to three combinable per-group sums (n, Σx,
    * Σ x·ln x — the 0·ln 0 = 0 convention branched explicitly), via the
    * algebra T_g = Σx·lnx/Σx − ln μ_g; the group frame is group-sized,
    * so the roll-up to totals is trivial. Negatives excluded (T is
    * defined on non-negative support). Double sums are unordered — the
    * benford rounding class, round 6.
    *
    * Output: one row per group — (grp, n, share = the group's slice of
    * the total mass, theil_within) — with (theil_total, theil_between)
    * repeated on every row (the psi layout); the identity
    * total = between + Σ share·within holds to rounding. */
  def theil(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val base = df.select(F.col(keyCol).as("grp"), F.col(valCol).cast("double").as("x"))
      .filter(F.col("x").isNotNull && F.col("x") >= 0)
    val g = base.groupBy("grp").agg(
      F.count(F.lit(1)).as("n"),
      F.sum("x").as("sx"),
      F.sum(F.when(F.col("x") > 0, F.col("x") * F.log(F.col("x")))
        .otherwise(F.lit(0.0))).as("sxlx"))
    theilFromGroupSums(g)
  }

  /** [[theil]] over a pre-aggregated (grp, x, n) per-group value-count
    * frame, a mergeable summary: the three per-group
    * sums become count-weighted (Σn, Σ n·x, Σ n·x·lnx). On integer
    * count metrics n·x is exact; the x·lnx terms are the same doubles
    * the row form adds n times, so the weighted sums agree with the
    * row-wise ones to summation-order ulps — collapsed by the round-6
    * output snap (the benford class, like [[theil]] itself). */
  def theilFromCounts(byKV: DataFrame): DataFrame = {
    val base = byKV.select(F.col("grp"), F.col("x").cast("double").as("x"),
        F.col("n").cast("long").as("c"))
      .filter(F.col("x").isNotNull && F.col("x") >= 0 && F.col("c") > 0)
    val cd = F.col("c").cast("double")
    val g = base.groupBy("grp").agg(
      F.sum("c").as("n"),
      F.sum(F.col("x") * cd).as("sx"),
      F.sum(F.when(F.col("x") > 0, F.col("x") * F.log(F.col("x")) * cd)
        .otherwise(F.lit(0.0))).as("sxlx"))
    theilFromGroupSums(g)
  }

  /** The decomposition over per-group (grp, n, Σx, Σx·lnx) moment sums —
    * the shared tail of [[theil]] and [[theilFromCounts]]. */
  private def theilFromGroupSums(g: DataFrame): DataFrame = {
    val tot = g.agg(F.sum("n").as("nn"), F.sum("sx").as("tsx"), F.sum("sxlx").as("tsxlx"))
    val mug = F.col("sx") / F.col("n")
    val mu = F.col("tsx") / F.col("nn")
    val tw = F.when(F.col("sx") > 0, F.col("sxlx") / F.col("sx") - F.log(mug))
    val share = F.col("sx") / F.col("tsx")
    val scored = g.crossJoin(F.broadcast(tot))
      .withColumn("__share", share)
      .withColumn("__tw", tw)
      .withColumn("__btw", F.when(F.col("sx") > 0, F.col("__share") * F.log(mug / mu))
        .otherwise(F.lit(0.0)))
    val roll = scored.agg(F.sum("__btw").as("btw"))
    scored.crossJoin(F.broadcast(roll))
      .select(F.col("grp"), F.col("n"),
        (F.round(F.col("__share"), 6) + F.lit(0.0)).as("share"),
        (F.round(F.col("__tw"), 6) + F.lit(0.0)).as("theil_within"),
        (F.round(F.col("tsxlx") / F.col("tsx") - F.log(F.col("tsx") / F.col("nn")), 6)
          + F.lit(0.0)).as("theil_total"),
        (F.round(F.col("btw"), 6) + F.lit(0.0)).as("theil_between"))
  }

  /** HILL tail-index estimator (Hill, Ann. Stat. 1975) over the top-k
    * order statistics: H = (1/k)·Σᵢ₌₁..k ln(x₍ₙ₋ᵢ₊₁₎ / x₍ₙ₋ₖ₎) and
    * α = 1/H — the heavy-tail exponent behind every "how Pareto is this
    * distribution" question (spend, doc lengths, degree tails). α ≈ 1
    * means an extremely heavy tail where sums are dominated by maxima;
    * large α means the tail is effectively thin.
    *
    * Only the top k+1 VALUES are needed: one bounded-heap top-k
    * aggregate (the group-topk machinery, k+2 small structs of state),
    * no sort of the data. The log terms fold over the descending value
    * array in order — ties carry equal terms, so the fold is
    * deterministic — and the threshold x₍ₙ₋ₖ₎ is the (k+1)-th value.
    *
    * Output: ONE row — (k, x_k threshold round 6, hill_h round 6,
    * alpha round 6); empty when fewer than k+1 positive values exist,
    * NULL alpha when H = 0 (all top values tie the threshold). */
  def hillTailIndex(df: DataFrame, valCol: String, k: Int = 50): DataFrame = {
    require(k >= 1, "need k >= 1")
    val base = df.select(F.col(valCol).cast("double").as("x"))
      .filter(F.col("x").isNotNull && F.col("x") > 0)
    base.agg(graft.functions.TopK.collectTopK(
        F.struct(F.col("x"), F.lit(0L).as("nid")), k + 1).as("__tk"))
      .select(F.transform(F.col("__tk"), e => e.getField("x")).as("xs"))
      .filter(F.size(F.col("xs")) === k + 1)
      .withColumn("xk", F.element_at(F.col("xs"), k + 1))
      .withColumn("__h", F.aggregate(F.slice(F.col("xs"), 1, k),
        F.lit(0.0), (acc, v) => acc + F.log(v / F.col("xk"))) / k)
      .select(F.lit(k.toLong).as("k"),
        (F.round(F.col("xk"), 6) + F.lit(0.0)).as("x_k"),
        (F.round(F.col("__h"), 6) + F.lit(0.0)).as("hill_h"),
        (F.round(F.when(F.col("__h") > 0, F.lit(1.0) / F.col("__h")), 6)
          + F.lit(0.0)).as("alpha"))
  }

  /** GINI coefficient of a non-negative value column — the inequality /
    * concentration number (Gini 1912): 0 = everyone equal, →1 = one key
    * holds everything. The workload question it answers here: how
    * concentrated is spend / document length / token mass across keys —
    * the "does the top 1% dominate the corpus" curation check.
    *
    * Computed by the rank formula over the ascending sort,
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n, with the global rank i from the
    * TWO-PHASE distributed prefix (range repartition + per-partition
    * row_number + broadcast offsets — the packSequences pattern; never a
    * single-partition window over the data-sized value axis). Ties
    * break by key, so the rank assignment is deterministic; any
    * within-tie permutation leaves Σ i·xᵢ unchanged anyway (equal x).
    * Negative values are excluded (Gini is defined on non-negative
    * support); NULL gini when the total is 0.
    *
    * Output: ONE row — (n, total round 4, gini round 6). */
  def gini(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(F.col(keyCol).as("k"), F.col(valCol).cast("double").as("x"))
      .filter(F.col("x").isNotNull && F.col("x") >= 0)
    val (parted, offsets) = TwoPhase.partitionOffsets(
      base, Seq(F.col("x"), F.col("k")), Seq(F.count(F.lit(1)) -> "__o"))
    val within = Window.partitionBy("__pid").orderBy("x", "k")
    val ranked = parted.join(F.broadcast(offsets), "__pid")
      .withColumn("i", F.col("__o") + F.row_number().over(within))
    ranked.agg(F.count(F.lit(1)).as("n"), F.sum("x").as("__t"),
        F.sum(F.col("i").cast("double") * F.col("x")).as("__w"))
      .filter(F.col("n") > 0)
      .select(F.col("n"),
        (F.round(F.col("__t"), 4) + F.lit(0.0)).as("total"),
        (F.round(F.when(F.col("__t") > 0,
          F.lit(2.0) * F.col("__w") / (F.col("n") * F.col("__t"))
            - (F.col("n") + 1).cast("double") / F.col("n")), 6)
          + F.lit(0.0)).as("gini"))
  }

  /** Cumulative Poisson(1) thresholds as 8-hex-digit strings over the
    * md5 uniform (floor(P(X ≤ k)·2³²) for k = 0..5) — shared between
    * [[poissonBootstrap]] and its SQL mirror so both engines draw the
    * IDENTICAL weight from the identical hash. */
  private[graft] val poissonHexThresholds: Seq[String] = {
    val e1 = math.exp(-1.0)
    val pk = (0 to 5).map(k => e1 / (1 to k).product)
    pk.scanLeft(0.0)(_ + _).tail
      .map(c => f"${math.floor(c * 4294967296.0).toLong}%08x")
  }

  /** POISSON BOOTSTRAP confidence interval for the mean of `valueCol`
    * (Oza & Russell, AISTATS 2001; the standard resampling scheme at
    * cluster scale): classic bootstrap resampling needs N draws WITH
    * replacement per replicate — impossible to coordinate across
    * executors — but each row's multiplicity in a replicate is
    * asymptotically Poisson(1), which each row can draw INDEPENDENTLY.
    * Replicate r weights row i by the Poisson(1) inverse CDF of the
    * md5(id:r) uniform (the hashSample hex-threshold compare, so both
    * engines draw identical weights; tail truncated at 6, mass 1−P(≤5)
    * ≈ 6·10⁻⁵), giving B weighted means whose 2.5/50/97.5 percentiles
    * are the CI — no distributional assumption, no second data pass per
    * replicate.
    *
    * Scale shape: ONE map-only explode(sequence(0, B−1)) feeds a
    * map-side-combined groupBy(rep) — the shuffle carries
    * partitions×B partial rows, never N×B — then percentiles over the
    * B-row frame. Determinism: the metric is snapped to integer
    * micros, so every per-replicate (Σw·x, Σw) is an exact BIGINT
    * pair; each replicate mean is one fixed-shape IEEE division
    * rounded to 6, and the percentile interpolates identical doubles.
    *
    * Output: one row — (b, n, mean, boot_se, lo95, median, hi95). */
  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
                       b: Int = 200): DataFrame = {
    require(b >= 2, "need at least 2 replicates")
    val base = df.select(F.col(idCol).cast("string").as("__id"),
        (F.round(F.col(valueCol).cast("double") * 1e6, 0)).cast("long").as("__x6"))
      .filter(F.col("__id").isNotNull && F.col("__x6").isNotNull)
    val rep = F.explode(F.sequence(F.lit(0), F.lit(b - 1))).as("rep")
    val h = F.substring(F.md5(F.concat_ws(":", F.col("__id"), F.col("rep").cast("string"))), 1, 8)
    val w = poissonHexThresholds.zipWithIndex
      .foldLeft(F.when(F.lit(false), 0L)) { case (acc, (hx, k)) =>
        acc.when(h < F.lit(hx), k.toLong)
      }.otherwise(F.lit(poissonHexThresholds.size.toLong))
    val perRep = base.select(F.col("__id"), F.col("__x6"), rep)
      .withColumn("__w", w)
      .groupBy("rep")
      .agg(F.sum("__w").as("__ws"), F.sum(F.col("__w") * F.col("__x6")).as("__xs"))
      .withColumn("__rm", F.when(F.col("__ws") > 0,
        F.round(F.col("__xs").cast("double") / 1e6 / F.col("__ws"), 6)))
    val tot = base.agg(F.count(F.lit(1)).as("n"), F.sum("__x6").as("__t6"))
    perRep.agg(
        F.count(F.lit(1)).as("b"),
        (F.round(F.stddev(F.col("__rm")), 6) + F.lit(0.0)).as("boot_se"),
        (F.round(F.expr("percentile(__rm, 0.025)"), 6) + F.lit(0.0)).as("lo95"),
        (F.round(F.expr("percentile(__rm, 0.5)"), 6) + F.lit(0.0)).as("median"),
        (F.round(F.expr("percentile(__rm, 0.975)"), 6) + F.lit(0.0)).as("hi95"))
      .crossJoin(F.broadcast(tot))
      .select(F.col("b"), F.col("n"),
        (F.round(F.col("__t6").cast("double") / 1e6 / F.col("n"), 6) + F.lit(0.0)).as("mean"),
        F.col("boot_se"), F.col("lo95"), F.col("median"), F.col("hi95"))
  }
}
