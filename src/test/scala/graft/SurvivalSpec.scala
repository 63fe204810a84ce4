package graft

import graft.operators.Survival

/** Kaplan–Meier: hand-computed product-limit values, censoring
  * semantics, and degenerate regimes. */
class SurvivalSpec extends SparkSpec {

  import spark.implicits._

  private def km(rows: Seq[(Int, Int)]): Map[Long, (Long, Long, Long, Double)] =
    Survival.kaplanMeier(rows.toDF("dur", "obs"), "dur", "obs")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap

  it("matches the textbook example: censored subjects leave the risk set without an event") {
    // events at 1, 2, 4; censored at 3, 5
    val out = km(Seq((1, 1), (2, 1), (3, 0), (4, 1), (5, 0)))
    out(1L) shouldBe ((5L, 1L, 0L, 0.8))
    out(2L) shouldBe ((4L, 1L, 0L, 0.6))
    out(3L) shouldBe ((3L, 0L, 1L, 0.6)) // censoring alone never moves the curve
    out(4L) shouldBe ((2L, 1L, 0L, 0.3))
    out(5L) shouldBe ((1L, 0L, 1L, 0.3))
  }

  it("with no censoring the curve IS the empirical survival function") {
    val out = km(Seq((1, 1), (2, 1), (3, 1), (4, 1)))
    out(1L)._4 shouldBe 0.75
    out(2L)._4 shouldBe 0.5
    out(3L)._4 shouldBe 0.25
    out(4L)._4 shouldBe 0.0 // the last subject dying sends S to exactly 0
  }

  it("ties at one duration fold into a single step") {
    val out = km(Seq((2, 1), (2, 1), (2, 0), (5, 1)))
    out(2L) shouldBe ((4L, 2L, 1L, 0.5)) // 1 - 2/4
    out(5L) shouldBe ((1L, 1L, 0L, 0.0))
  }

  it("an all-censored cohort keeps survival at 1 the whole way") {
    val out = km(Seq((1, 0), (2, 0), (3, 0)))
    out.values.map(_._4).toSet shouldBe Set(1.0)
    out.values.map(_._2).sum shouldBe 0L
  }

  it("duration zero (event on the entry day) is a valid first step") {
    val out = km(Seq((0, 1), (3, 0)))
    out(0L) shouldBe ((2L, 1L, 0L, 0.5))
    out(3L)._4 shouldBe 0.5
  }

  // ---- kaplanMeierCI / nelsonAalen -------------------------------------

  it("Greenwood bands match the hand-worked textbook case and clip to [0, 1]") {
    val out = Survival.kaplanMeierCI(
        Seq((1, 1), (2, 1), (3, 0), (4, 1), (5, 0)).toDF("dur", "obs"), "dur", "obs")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    out(1L) shouldBe ((0.8, 0.178885, 0.449385, 1.0)) // hi clipped at 1
    out(2L) shouldBe ((0.6, 0.219089, 0.170586, 1.0))
    out(3L) shouldBe ((0.6, 0.219089, 0.170586, 1.0)) // censoring moves nothing
    out(4L) shouldBe ((0.3, 0.238747, 0.0, 0.767944)) // lo clipped at 0
  }

  it("Greenwood bands are NULL (not [0,1]) at an everyone-dies step") {
    val out = Survival.kaplanMeierCI(
        Seq((1, 1), (2, 1)).toDF("dur", "obs"), "dur", "obs")
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getDouble(4) shouldBe 0.5
    out(1L).isNullAt(5) shouldBe false
    out(2L).getDouble(4) shouldBe 0.0 // the last subject dies: S = 0 exactly
    out(2L).isNullAt(5) shouldBe true // variance undefined at S = 0
    out(2L).isNullAt(6) shouldBe true
    out(2L).isNullAt(7) shouldBe true
  }

  it("Nelson-Aalen accumulates d/n with the Poisson-form se") {
    val out = Survival.nelsonAalen(
        Seq((1, 1), (2, 1), (3, 0), (4, 1), (5, 0)).toDF("dur", "obs"), "dur", "obs")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    out(1L) shouldBe ((5L, 0.2, 0.2))
    out(2L) shouldBe ((4L, 0.45, 0.320156))
    out(3L) shouldBe ((3L, 0.45, 0.320156)) // censoring-only step: flat
    out(4L) shouldBe ((2L, 0.95, 0.593717))
    out(5L) shouldBe ((1L, 0.95, 0.593717))
  }

  it("cumulative hazard is monotone and bounded by −ln(survival) exactly") {
    val r = new scala.util.Random(23)
    val subj = Seq.fill(400)((r.nextInt(8), if (r.nextInt(5) == 0) 0 else 1))
    val km = Survival.kaplanMeier(subj.toDF("dur", "obs"), "dur", "obs")
      .collect().map(x => x.getLong(0) -> x.getDouble(4)).toMap
    val na = Survival.nelsonAalen(subj.toDF("dur", "obs"), "dur", "obs")
      .collect().sortBy(_.getLong(0)).map(x => (x.getLong(0), x.getDouble(3)))
    // −ln Ŝ = Σ −ln(1 − d/n) ≥ Σ d/n = Ĥ term by term — EXACT, any hazard
    na.filter(p => km(p._1) > 0).foreach { case (t, h) =>
      h should be <= -math.log(km(t)) + 1e-6
    }
    na.sliding(2).foreach { w => w(1)._2 should be >= w(0)._2 } // Ĥ never decreases
  }

  // ---- rmst -----------------------------------------------------------

  it("RMST is the area under the KM steps: hand case and clamping") {
    // durations (1,obs), (2,obs), (3,cens): S = 1 on [0,1), 2/3 on [1,2),
    // 1/3 on [2,3). RMST(3) = 1 + 2/3 + 1/3 = 2; RMST(2) = 1 + 2/3
    val subj = Seq((1, 1), (2, 1), (3, 0)).toDF("dur", "obs")
    Survival.rmst(subj, "dur", "obs", tau = 3L)
      .collect().head.getDouble(2) shouldBe 2.0 +- 1e-6
    Survival.rmst(subj, "dur", "obs", tau = 2L)
      .collect().head.getDouble(2) shouldBe (1.0 + 2.0 / 3) +- 1e-6
    // τ beyond the last duration adds the final-step tail — the steps
    // are the ROUND-6 KM values, so the 7-day tail amplifies the snap:
    // 1 + 0.666667 + 0.333333 + 7·0.333333 = 4.333331
    Survival.rmst(subj, "dur", "obs", tau = 10L)
      .collect().head.getDouble(2) shouldBe 4.333331 +- 1e-9
  }

  it("RMST with no censoring and τ ≥ max duration is the sample mean") {
    val durs = Seq(2, 5, 5, 9, 1, 7)
    val out = Survival.rmst(durs.map((_, 1)).toDF("dur", "obs"), "dur", "obs", tau = 20L)
      .collect().head
    out.getLong(1) shouldBe durs.length.toLong
    out.getDouble(2) shouldBe (durs.sum.toDouble / durs.length +- 1e-6)
  }

  it("streamed RMST equals batch from the same counts") {
    // reuse any counts-equivalence: FromCounts on the batch-derived
    // frame IS the streamed read's algebra
    val subj = Seq((1, 1), (1, 0), (4, 1), (6, 0), (2, 1))
    import org.apache.spark.sql.{functions => SF}
    val byT = subj.toDF("dur", "obs")
      .groupBy(SF.col("dur").cast("long").as("t"))
      .agg(SF.sum(SF.col("obs").cast("long")).as("d"), SF.count(SF.lit(1)).as("c"))
    Survival.rmstFromCounts(byT, 5L).collect().head.toSeq shouldBe
      Survival.rmst(subj.toDF("dur", "obs"), "dur", "obs", 5L).collect().head.toSeq
  }

  // ---- logRank --------------------------------------------------------

  private def lr(rows: Seq[(Int, Int, String)]) = {
    val r = Survival.logRank(rows.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect()
    r.length shouldBe 1
    r.head
  }

  it("log-rank matches the hand-worked two-cohort table") {
    // A: events at 1 and 2, censored at 3; B: events at 2 and 3,
    // censored at 4. Per event time (n_a, n_b, d_a, d_b):
    //   t=1 (3,3,1,0): E_a = 0.5,  V = 0.25
    //   t=2 (2,3,1,1): E_a = 0.8,  V = 0.36
    //   t=3 (1,2,0,1): E_a = 1/3,  V = 2/9
    // O_a = 2, E_a = 1.633333, V = 0.832222, χ² = 0.161549
    val r = lr(Seq((1, 1, "a"), (2, 1, "a"), (3, 0, "a"),
      (2, 1, "b"), (3, 1, "b"), (4, 0, "b")))
    r.getLong(0) shouldBe 3L // n_a
    r.getLong(1) shouldBe 3L // n_b
    r.getLong(2) shouldBe 2L // o_a
    r.getDouble(3) shouldBe 1.633333 // e_a
    r.getLong(4) shouldBe 2L // o_b
    r.getDouble(5) shouldBe 2.366667 // e_b
    r.getDouble(6) shouldBe 0.161549 // chi2
    r.getBoolean(7) shouldBe false // far under 3.84
  }

  it("log-rank is exactly zero when the cohorts share every count") {
    // identical duration/censoring multisets → O = E at every event time
    val rows = Seq((1, 1), (2, 1), (3, 0), (5, 1))
      .flatMap { case (d, o) => Seq((d, o, "a"), (d, o, "b")) }
    val r = lr(rows)
    r.getDouble(6) shouldBe 0.0
    r.getBoolean(7) shouldBe false
  }

  it("log-rank rejects when one cohort dies early and the other survives") {
    val rows = (1 to 10).map(i => (1, 1, "a")) ++ (1 to 10).map(i => (9, 0, "b"))
    val r = lr(rows)
    r.getDouble(6) should be > 3.841459
    r.getBoolean(7) shouldBe true
  }

  it("log-rank χ² is NULL (not 0) when no event time carries variance") {
    // b is censored at 0, so at a's event time only ONE subject is at
    // risk (n_t = 1): E = O exactly and V = 0 — comparison impossible
    val r = lr(Seq((1, 1, "a"), (0, 0, "b")))
    r.isNullAt(6) shouldBe true
    r.isNullAt(7) shouldBe true
  }

  it("log-rank output is empty when there are no event times at all") {
    val out = Survival.logRank(
      Seq((2, 0, "a"), (3, 0, "b")).toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect()
    out shouldBe empty // all-censored: the test is undefined, like KM on no subjects
  }

  it("log-rank output is empty with a single cohort (not a bogus χ²=0 row)") {
    // one distinct group → ga == gb would double-count every subject;
    // the guard empties the output instead
    val out = Survival.logRank(
      Seq((1, 1, "a"), (2, 1, "a"), (3, 0, "a")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect()
    out shouldBe empty
  }

  // ---- coxPh ----------------------------------------------------------

  /** Gehan (1965) leukemia trial — the dataset of Cox's 1972 paper:
    * x = 0 the 6-MP arm (censoring-heavy), x = 1 the control arm (all
    * relapse). Published Breslow-ties fit: β̂ = 1.509, se = 0.410,
    * HR ≈ 4.52 (e.g. R survival::coxph(..., ties = "breslow")). */
  private val gehan: Seq[(Int, Int, String)] = {
    val mp = Seq((6, 1), (6, 1), (6, 1), (6, 0), (7, 1), (9, 0), (10, 1),
      (10, 0), (11, 0), (13, 1), (16, 1), (17, 0), (19, 0), (20, 0),
      (22, 1), (23, 1), (25, 0), (32, 0), (32, 0), (34, 0), (35, 0))
    val ctl = Seq(1, 1, 2, 2, 3, 4, 4, 5, 5, 8, 8, 8, 8, 11, 11, 12, 12,
      15, 17, 22, 23).map((_, 1))
    mp.map { case (t, o) => (t, o, "a_6mp") } ++
      ctl.map { case (t, o) => (t, o, "b_control") }
  }

  it("Cox PH reproduces the published Breslow fit on the Gehan trial") {
    val r = Survival.coxPh(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect()
    r.length shouldBe 1
    val row = r.head
    row.getLong(0) shouldBe 21L // n 6-MP
    row.getLong(1) shouldBe 21L // n control
    row.getLong(2) shouldBe 30L // observed relapses
    row.getDouble(3) shouldBe 1.509191 // β̂ (R: 1.5092)
    row.getDouble(4) shouldBe 4.523072 // HR = e^β̂
    row.getDouble(5) shouldBe 0.409564 // se (R: 0.4096)
    row.getBoolean(6) shouldBe true    // Wald χ² = 13.58 ≫ 3.84
  }

  it("Cox PH label swap negates β and inverts the hazard ratio") {
    val swapped = gehan.map { case (t, o, g) =>
      (t, o, if (g == "a_6mp") "z_control" else "a_6mp") // control sorts last
    }
    val a = Survival.coxPh(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect().head
    val b = Survival.coxPh(swapped.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect().head
    b.getDouble(3) shouldBe (-a.getDouble(3) +- 2e-6)
    (a.getDouble(4) * b.getDouble(4)) shouldBe (1.0 +- 1e-4)
    b.getDouble(5) shouldBe (a.getDouble(5) +- 2e-6)
    b.getBoolean(6) shouldBe a.getBoolean(6)
  }

  it("Cox Wald and log-rank agree on rejection (asymptotically the same test)") {
    val lrChi2 = Survival.logRank(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect().head.getDouble(6)
    val cox = Survival.coxPh(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect().head
    val wald = math.pow(cox.getDouble(3) / cox.getDouble(5), 2)
    lrChi2 should be > 3.841459 // both reject on this fixture
    wald should be > 3.841459
    // same order of magnitude: the two χ² statistics track each other
    (wald / lrChi2) should (be > 0.5 and be < 2.0)
  }

  it("Cox PH output is empty with a single cohort / no events; NULL β with no comparison") {
    Survival.coxPh(Seq((1, 1, "a"), (2, 1, "a")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect() shouldBe empty
    Survival.coxPh(Seq((2, 0, "a"), (3, 0, "b")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect() shouldBe empty
    // b censored at 0: the only event time has one subject at risk —
    // I(0) = 0, no comparison — β/hr/se/reject NULL, counts kept
    val r = Survival.coxPh(Seq((1, 1, "a"), (0, 0, "b")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect().head
    r.getLong(2) shouldBe 1L
    r.isNullAt(3) shouldBe true
    r.isNullAt(6) shouldBe true
  }

  // ---- coxPhStratified ---------------------------------------------------

  it("coxPhStratified equals plain coxPh on one stratum and pools identical strata") {
    val g1 = gehan.map { case (t, o, g) => (t, o, g, "only") }
      .toDF("dur", "obs", "g", "s")
    val one = Survival.coxPhStratified(g1, "dur", "obs", "g", "s")
      .collect().head
    val plain = Survival.coxPh(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect().head
    one.getAs[Long]("n_strata") shouldBe 1L
    one.getAs[Double]("beta") shouldBe plain.getDouble(3)
    one.getAs[Double]("se") shouldBe plain.getDouble(5)
    // two identical copies as strata: per-stratum scores pool — same
    // β̂, information doubles so se shrinks by √2
    val g2 = (gehan.map { case (t, o, g) => (t, o, g, "s1") } ++
      gehan.map { case (t, o, g) => (t, o, g, "s2") })
      .toDF("dur", "obs", "g", "s")
    val two = Survival.coxPhStratified(g2, "dur", "obs", "g", "s")
      .collect().head
    two.getAs[Long]("n_strata") shouldBe 2L
    two.getAs[Long]("d_total") shouldBe 60L
    two.getAs[Double]("beta") shouldBe plain.getDouble(3) +- 2e-6
    two.getAs[Double]("se") shouldBe (plain.getDouble(5) / math.sqrt(2.0)) +- 1e-5
    // a stratum missing one cohort contributes nothing (nx = 0 kills
    // both U and I) — the fit is the other strata's, not a crash
    val lop = (gehan.map { case (t, o, g) => (t, o, g, "s1") } ++
      Seq((5, 1, "a_6mp", "s2"), (7, 1, "a_6mp", "s2")))
      .toDF("dur", "obs", "g", "s")
    val l = Survival.coxPhStratified(lop, "dur", "obs", "g", "s").collect().head
    l.getAs[Double]("beta") shouldBe plain.getDouble(3)
    // single cohort overall / all censored: EMPTY
    Survival.coxPhStratified(Seq((1, 1, "a", "x")).toDF("dur", "obs", "g", "s"),
      "dur", "obs", "g", "s").collect() shouldBe empty
  }

  // ---- coxBaseline / coxSchoenfeldTrend --------------------------------

  it("coxBaseline reduces to the pooled Nelson-Aalen on identical cohorts and orders the curves") {
    // identical cohorts: U(0) = 0 at every event time so β̂ stays 0 and
    // Ĥ₀ IS the pooled Nelson–Aalen cumulative hazard
    val base = Seq((1, 1), (2, 1), (3, 0), (4, 1), (5, 0))
    val twin = base.map { case (t, o) => (t, o, "a") } ++
      base.map { case (t, o) => (t, o, "b") }
    val bl = Survival.coxBaseline(twin.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .orderBy("t").collect()
    val na = Survival.nelsonAalen(base.toDF("dur", "obs"), "dur", "obs")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    bl.foreach { r =>
      r.getAs[Double]("h0") shouldBe na(r.getAs[Long]("t")) +- 2e-6
      // β = 0: both predicted curves coincide with exp(−H0)
      r.getAs[Double]("surv_a") shouldBe r.getAs[Double]("surv_b")
      r.getAs[Double]("surv_a") shouldBe
        math.exp(-r.getAs[Double]("h0")) +- 2e-6
    }
    // Gehan: H0 nondecreasing, survivals nonincreasing, and the higher-
    // hazard cohort's predicted curve sits BELOW the baseline everywhere
    val g = Survival.coxBaseline(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .orderBy("t").collect()
    g.map(_.getAs[Double]("h0")).sliding(2).foreach {
      case Array(a, b) => a should be <= b
      case _ => ()
    }
    g.foreach(r => r.getAs[Double]("surv_b") should be < r.getAs[Double]("surv_a"))
    // PH by construction: S_b = S_a^{e^β̂} with the coxPh β̂
    val beta = Survival.coxPh(gehan.toDF("dur", "obs", "g"), "dur", "obs", "g")
      .collect().head.getDouble(3)
    g.foreach { r =>
      r.getAs[Double]("surv_b") shouldBe
        math.pow(r.getAs[Double]("surv_a"), math.exp(beta)) +- 1e-4
    }
  }

  it("coxSchoenfeldTrend flags crossing hazards and NULLs the symmetric null honestly") {
    // crossing hazards: treated all die early, control all die late —
    // the residuals trend hard with time, PH is violated
    val crossing = (1 to 5).map(t => (t, 1, 1)) ++
      (10 to 14).map(t => (t, 1, 0))
    val c = Survival.coxSchoenfeldTrend(crossing.toDF("dur", "obs", "x"),
      "dur", "obs", "x").collect().head
    c.getAs[Long]("n_events") shouldBe 10L
    c.getAs[Double]("corr") should be < 0.0
    c.getAs[Boolean]("ph_violated_95") shouldBe true
    // identical cohorts: every residual is exactly 0 -> variance 0 ->
    // corr NULL (nothing to trend), never a bogus 0
    val base = Seq((1, 1), (2, 1), (3, 1), (4, 0))
    val twin = base.map { case (t, o) => (t, o, "a") } ++
      base.map { case (t, o) => (t, o, "b") }
    val s = Survival.coxSchoenfeldTrend(twin.toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect().head
    s.isNullAt(s.fieldIndex("corr")) shouldBe true
    s.isNullAt(s.fieldIndex("ph_violated_95")) shouldBe true
    // Gehan: the fit matches coxPh's β̂ and the PH read is defined
    val g = Survival.coxSchoenfeldTrend(gehan.toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect().head
    g.getAs[Double]("beta") shouldBe 1.509191 +- 2e-6
    g.isNullAt(g.fieldIndex("corr")) shouldBe false
    // z and corr agree in sign
    (g.getAs[Double]("z") * g.getAs[Double]("corr")) should be >= 0.0
  }

  // ---- coxPhMulti ------------------------------------------------------

  /** Independent per-subject reference fit: textbook Breslow score /
    * information over explicit risk-set scans (no count frame, no
    * per-step snapping) solved by Gaussian elimination with partial
    * pivoting — a genuinely different algorithm and data layout from
    * the operator's pattern-pivoted Cramer fold, so agreement is a real
    * cross-check, not a replay. Returns (β̂, se). */
  private def refCoxMulti(subjects: Seq[(Int, Int, Array[Int])],
                          steps: Int = 25): (Array[Double], Array[Double]) = {
    val p = subjects.head._3.length
    val times = subjects.filter(_._2 == 1).map(_._1).distinct.sorted
    def scoreInfo(b: Array[Double]): (Array[Double], Array[Array[Double]]) = {
      val u = Array.fill(p)(0.0)
      val inf = Array.ofDim[Double](p, p)
      for (t <- times) {
        val risk = subjects.filter(_._1 >= t)
        val ev = subjects.filter(s => s._1 == t && s._2 == 1)
        val d = ev.size.toDouble
        val w = risk.map(s => math.exp((0 until p).map(i => b(i) * s._3(i)).sum))
        val s0 = w.sum
        val s1 = Array.tabulate(p)(i =>
          risk.zip(w).map { case (s, wi) => s._3(i) * wi }.sum)
        val s2 = Array.tabulate(p, p)((i, j) =>
          risk.zip(w).map { case (s, wi) => s._3(i) * s._3(j) * wi }.sum)
        for (i <- 0 until p) u(i) += ev.map(_._3(i)).sum - d * s1(i) / s0
        for (i <- 0 until p; j <- 0 until p)
          inf(i)(j) += d * (s2(i)(j) / s0 - (s1(i) / s0) * (s1(j) / s0))
      }
      (u, inf)
    }
    def gauss(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
      val a = a0.map(_.clone); val b = b0.clone; val n = b.length
      for (c <- 0 until n) {
        val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
        val tmp = a(c); a(c) = a(piv); a(piv) = tmp
        val tb = b(c); b(c) = b(piv); b(piv) = tb
        for (r <- c + 1 until n) {
          val f = a(r)(c) / a(c)(c)
          for (cc <- c until n) a(r)(cc) -= f * a(c)(cc)
          b(r) -= f * b(c)
        }
      }
      val x = new Array[Double](n)
      for (r <- n - 1 to 0 by -1)
        x(r) = (b(r) - (r + 1 until n).map(cc => a(r)(cc) * x(cc)).sum) / a(r)(r)
      x
    }
    val beta = Array.fill(p)(0.0)
    (1 to steps).foreach { _ =>
      val (u, inf) = scoreInfo(beta)
      val db = gauss(inf, u)
      (0 until p).foreach(i => beta(i) += db(i))
    }
    val (_, infF) = scoreInfo(beta)
    // inverse diagonal via solving I·e_i = unit columns
    val se = Array.tabulate(p) { i =>
      val e = Array.tabulate(p)(j => if (j == i) 1.0 else 0.0)
      math.sqrt(gauss(infF, e)(i))
    }
    (beta, se)
  }

  /** Gehan with a pure-noise second flag (row parity) — real effect on
    * x1, null on x2, censoring and ties preserved. */
  private def gehan2: Seq[(Int, Int, Array[Int])] =
    gehan.zipWithIndex.map { case ((t, o, g), i) =>
      (t, o, Array(if (g == "b_control") 1 else 0, i % 2))
    }

  it("coxPhMulti with ONE covariate reproduces the binary coxPh fit (Gehan)") {
    val df = gehan.map { case (t, o, g) =>
      (t, o, if (g == "b_control") 1 else 0) }.toDF("dur", "obs", "x")
    val r = Survival.coxPhMulti(df, "dur", "obs", Seq("x")).collect()
    r.length shouldBe 1
    r.head.getAs[String]("covariate") shouldBe "x"
    r.head.getAs[Long]("n") shouldBe 42L
    r.head.getAs[Long]("d_total") shouldBe 30L
    // the published Breslow numbers coxPh pins (R: 1.5092 / 0.4096)
    r.head.getAs[Double]("beta") shouldBe 1.509191 +- 2e-6
    r.head.getAs[Double]("hr") shouldBe 4.523072 +- 2e-5
    r.head.getAs[Double]("se") shouldBe 0.409564 +- 2e-6
    r.head.getAs[Boolean]("reject_95") shouldBe true
  }

  it("coxPhMulti (2 covariates) matches the independent per-subject Newton fit") {
    val df = gehan2.map { case (t, o, x) => (t, o, x(0), x(1)) }
      .toDF("dur", "obs", "x1", "x2")
    val out = Survival.coxPhMulti(df, "dur", "obs", Seq("x1", "x2"))
      .collect().map(r => r.getAs[String]("covariate") -> r).toMap
    val (refB, refSe) = refCoxMulti(gehan2)
    out("x1").getAs[Double]("beta") shouldBe refB(0) +- 1e-4
    out("x2").getAs[Double]("beta") shouldBe refB(1) +- 1e-4
    out("x1").getAs[Double]("se") shouldBe refSe(0) +- 1e-4
    out("x2").getAs[Double]("se") shouldBe refSe(1) +- 1e-4
    // the treatment effect survives adjustment; the noise flag is null
    out("x1").getAs[Boolean]("reject_95") shouldBe true
    out("x2").getAs[Boolean]("reject_95") shouldBe false
    out("x1").getAs[Long]("d_total") shouldBe 30L
  }

  it("coxPhMulti (3 covariates) matches the reference; row order follows covCols") {
    // third flag: a mod-3 bucket indicator — all 8 patterns occur
    val subj3 = gehan.zipWithIndex.map { case ((t, o, g), i) =>
      (t, o, Array(if (g == "b_control") 1 else 0, i % 2, if (i % 3 == 0) 1 else 0))
    }
    val df = subj3.map { case (t, o, x) => (t, o, x(0), x(1), x(2)) }
      .toDF("dur", "obs", "x1", "x2", "x3")
    val rows = Survival.coxPhMulti(df, "dur", "obs", Seq("x1", "x2", "x3")).collect()
    rows.map(_.getAs[String]("covariate")).toSeq shouldBe Seq("x1", "x2", "x3")
    val (refB, refSe) = refCoxMulti(subj3)
    rows.zipWithIndex.foreach { case (r, i) =>
      r.getAs[Double]("beta") shouldBe refB(i) +- 1e-4
      r.getAs[Double]("se") shouldBe refSe(i) +- 1e-4
    }
  }

  it("coxPhMulti degenerates honestly: constant covariate NULLs, non-binary throws, no events empty") {
    // x2 constant: its information row is 0 -> det 0 -> NULL estimates,
    // counts kept (the coxPh NULL-β convention)
    val const = Seq((1, 1, 0, 1), (2, 1, 1, 1), (3, 1, 0, 1), (4, 1, 1, 1))
      .toDF("dur", "obs", "x1", "x2")
    val c = Survival.coxPhMulti(const, "dur", "obs", Seq("x1", "x2")).collect()
    c.length shouldBe 2
    c.foreach { r =>
      r.getAs[Long]("n") shouldBe 4L
      r.isNullAt(r.fieldIndex("beta")) shouldBe true
    }
    // a covariate outside {0, 1} must fail loudly, not silently bucket
    val bad = Seq((1, 1, 2, 0), (2, 1, 0, 1)).toDF("dur", "obs", "x1", "x2")
    val e = intercept[IllegalArgumentException] {
      Survival.coxPhMulti(bad, "dur", "obs", Seq("x1", "x2")).collect()
    }
    e.getMessage should include("non-binary")
    // all censored: no event times -> EMPTY
    Survival.coxPhMulti(Seq((1, 0, 1, 0), (2, 0, 0, 1)).toDF("dur", "obs", "x1", "x2"),
      "dur", "obs", Seq("x1", "x2")).collect() shouldBe empty
    // arity guard
    an[IllegalArgumentException] should be thrownBy
      Survival.coxPhMulti(const, "dur", "obs", Seq("a", "b", "c", "d"))
  }

  // ---- quantileSurvival ----------------------------------------------

  it("median survival reads the first step at or below 0.5 off the textbook curve") {
    // S = .8, .6, .6, .3, .3 at t = 1..5 -> median at t=4, quartile at t=2
    val subj = Seq((1, 1), (2, 1), (3, 0), (4, 1), (5, 0)).toDF("dur", "obs")
    val med = Survival.quantileSurvival(subj, "dur", "obs", p = 0.5).collect().head
    med.getAs[Long]("n") shouldBe 5L
    med.getAs[Long]("d_events") shouldBe 3L
    med.getAs[Long]("t_quantile") shouldBe 4L
    Survival.quantileSurvival(subj, "dur", "obs", p = 0.25)
      .collect().head.getAs[Long]("t_quantile") shouldBe 2L
  }

  it("median survival is NULL when censoring keeps the curve above the threshold") {
    // one late event among heavy censoring: S(3) = 2/3, never <= .5
    val subj = Seq((1, 0), (2, 0), (3, 1), (4, 0), (5, 0)).toDF("dur", "obs")
    val r = Survival.quantileSurvival(subj, "dur", "obs", p = 0.5).collect().head
    r.isNullAt(r.fieldIndex("t_quantile")) shouldBe true
  }

  // ---- aalenJohansen ------------------------------------------------

  it("Aalen-Johansen matches the hand-worked two-cause case") {
    // subjects: (t=1,cause1), (t=1,cause2), (t=2,censored), (t=3,cause1)
    // t=1: n=4, S(0-)=1 -> CIF1=CIF2=0.25; S(1)=0.5
    // t=2: censoring only, no CIF row
    // t=3: n=1, S(2-)=0.5 -> CIF1 = 0.25 + 0.5*1/1 = 0.75
    val out = Survival.aalenJohansen(
        Seq((1, 1), (1, 2), (2, 0), (3, 1)).toDF("dur", "cause"), "dur", "cause")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    out((1L, 1L)) shouldBe ((4L, 1L, 0.25))
    out((1L, 2L)) shouldBe ((4L, 1L, 0.25))
    out((3L, 1L)) shouldBe ((1L, 1L, 0.75))
    out.size shouldBe 3 // the pure-censoring duration emits no CIF step
  }

  it("Aalen-Johansen incidences and all-cause survival partition the probability space") {
    // random-ish competing fixture: at the LAST event time,
    // sum_k CIF_k + S = 1 exactly when everyone has exited, and <= 1
    // always; single-cause AJ degenerates to 1 - KM.
    val subj = Seq((1, 1), (1, 0), (2, 2), (2, 1), (3, 0), (4, 2), (5, 1), (5, 2))
    val aj = Survival.aalenJohansen(subj.toDF("dur", "cause"), "dur", "cause").collect()
    val kmS = Survival.kaplanMeier(
        subj.map { case (d, k) => (d, if (k > 0) 1 else 0) }.toDF("dur", "obs"),
        "dur", "obs")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val lastCif = aj.groupBy(_.getLong(1)).map { case (_, rows) =>
      rows.maxBy(_.getLong(0)).getDouble(4) }.sum
    lastCif + kmS(5L) shouldBe 1.0 +- 2e-6
    // monotone per cause
    aj.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val cifs = rows.sortBy(_.getLong(0)).map(_.getDouble(4))
      cifs.zip(cifs.tail).foreach { case (a, b) => b should be >= a }
    }
  }

  it("rmstDiff reproduces each cohort's standalone RMST and zeroes out on identical cohorts") {
    import org.apache.spark.sql.{functions => F}
    val a = Seq((1, 1), (3, 0), (5, 1))
    val b = Seq((2, 1), (4, 1), (6, 0))
    val rows = (a.map(x => (x._1, x._2, "a")) ++ b.map(x => (x._1, x._2, "b")))
      .toDF("dur", "obs", "g")
    val d = Survival.rmstDiff(rows, "dur", "obs", "g", tau = 6L).collect().head
    val ra = Survival.rmst(a.toDF("dur", "obs"), "dur", "obs", tau = 6L)
      .collect().head.getAs[Double]("rmst")
    val rb = Survival.rmst(b.toDF("dur", "obs"), "dur", "obs", tau = 6L)
      .collect().head.getAs[Double]("rmst")
    d.getAs[Double]("rmst_a") shouldBe ra
    d.getAs[Double]("rmst_b") shouldBe rb
    d.getAs[Double]("diff") shouldBe (ra - rb) +- 1e-6
    d.getAs[Double]("se") should be > 0.0
    // two copies of the same cohort: diff exactly 0, z 0, no rejection
    val same = (a.map(x => (x._1, x._2, "a")) ++ a.map(x => (x._1, x._2, "b")))
      .toDF("dur", "obs", "g")
    val s = Survival.rmstDiff(same, "dur", "obs", "g", tau = 6L).collect().head
    s.getAs[Double]("diff") shouldBe 0.0
    s.getAs[Double]("z") shouldBe 0.0
    s.getAs[Boolean]("reject_95") shouldBe false
    // single group -> EMPTY (no comparison exists)
    Survival.rmstDiff(a.map(x => (x._1, x._2, "a")).toDF("dur", "obs", "g"),
      "dur", "obs", "g", tau = 6L).collect() shouldBe empty
    // a planted large gap rejects: cohort a mostly exits at day 1 (a few
    // censored keep its variance alive), b never does
    val gap = (Seq.fill(25)((1, 1, "a")) ++ Seq.fill(5)((9, 0, "a")) ++
      Seq.fill(30)((9, 0, "b"))).toDF("dur", "obs", "g")
    val gg = Survival.rmstDiff(gap, "dur", "obs", "g", tau = 6L).collect().head
    gg.getAs[Double]("rmst_b") shouldBe 6.0
    gg.getAs[Boolean]("reject_95") shouldBe true
  }

  it("stratified log-rank equals the plain test on one stratum and pools O-E/V across copies") {
    import org.apache.spark.sql.{functions => F}
    val rows = Seq((1, 1, "a"), (3, 0, "a"), (5, 1, "a"),
      (2, 1, "b"), (4, 1, "b"), (6, 0, "b")).toDF("dur", "obs", "g")
    val plain = Survival.logRank(rows, "dur", "obs", "g").collect().head
    val one = Survival.logRankStratified(rows.withColumn("s", F.lit(0)),
      "dur", "obs", "g", "s").collect().head
    one.getAs[Long]("n_strata") shouldBe 1L
    one.getAs[Long]("o_a") shouldBe plain.getAs[Long]("o_a")
    one.getAs[Double]("e_a") shouldBe plain.getAs[Double]("e_a")
    one.getAs[Double]("chi2") shouldBe plain.getAs[Double]("chi2")
    // two identical strata: O-E and V both double, so chi2 doubles
    val twice = rows.withColumn("s", F.lit(0))
      .unionAll(rows.withColumn("s", F.lit(1)))
    val two = Survival.logRankStratified(twice, "dur", "obs", "g", "s")
      .collect().head
    two.getAs[Long]("n_strata") shouldBe 2L
    two.getAs[Long]("n_a") shouldBe 6L
    two.getAs[Double]("chi2") shouldBe (2.0 * plain.getAs[Double]("chi2")) +- 1e-5
    // a stratum holding only one cohort self-cancels (O = E, V = 0):
    // adding it changes nothing
    val degen = twice.unionAll(
      Seq((2, 1, "a"), (4, 1, "a")).toDF("dur", "obs", "g").withColumn("s", F.lit(2)))
    val three = Survival.logRankStratified(degen, "dur", "obs", "g", "s")
      .collect().head
    three.getAs[Double]("chi2") shouldBe two.getAs[Double]("chi2")
  }

  it("C-index matches the hand pair count, half-crediting same-score pairs") {
    // a: (1,e)(3,c)(5,e); b: (2,e)(4,e)(6,c) — usable pairs by hand:
    // con = 3 (B1>A2,A3; B2>A3), dis = 4 (A1>B*, A3>B3), ties = 5
    // C = (3 + 2.5)/12 = 0.458333
    val rows = Seq((1, 1, "a"), (3, 0, "a"), (5, 1, "a"),
      (2, 1, "b"), (4, 1, "b"), (6, 0, "b")).toDF("dur", "obs", "g")
    val r = Survival.cIndexBinary(rows, "dur", "obs", "g").collect().head
    r.getAs[Long]("n_a") shouldBe 3L
    r.getAs[Long]("n_b") shouldBe 3L
    r.getAs[Long]("pairs") shouldBe 12L
    r.getAs[Long]("concordant2") shouldBe 11L
    r.getAs[Double]("c_index") shouldBe 0.458333 +- 1e-9
    r.getAs[Double]("somers_d") shouldBe -0.083333 +- 1e-9
    // direction agrees with the Cox fit's x = 1 (group b) coding:
    // C < 0.5 exactly when beta < 0 on the same design
    val beta = Survival.coxPh(rows, "dur", "obs", "g")
      .collect().head.getAs[Double]("beta")
    beta should be < 0.0
  }

  it("C-index treats a subject censored at the event's own time as longer-lived") {
    val rows = Seq((2, 0, "a"), (2, 1, "b")).toDF("dur", "obs", "g")
    val r = Survival.cIndexBinary(rows, "dur", "obs", "g").collect().head
    r.getAs[Long]("pairs") shouldBe 1L
    r.getAs[Double]("c_index") shouldBe 1.0
  }

  it("C-index is EMPTY on single-group and all-censored inputs, NULL when only same-time events exist") {
    import spark.implicits._
    Survival.cIndexBinary(Seq((1, 1, "a"), (2, 1, "a")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect() shouldBe empty
    Survival.cIndexBinary(Seq((1, 0, "a"), (2, 0, "b")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect() shouldBe empty
    // two events at the same instant: an event time exists but no pair
    // is comparable -> one row, NULL C
    val r = Survival.cIndexBinary(Seq((2, 1, "a"), (2, 1, "b")).toDF("dur", "obs", "g"),
      "dur", "obs", "g").collect().head
    r.getAs[Long]("pairs") shouldBe 0L
    r.isNullAt(r.fieldIndex("c_index")) shouldBe true
  }

  it("single-cause Aalen-Johansen equals 1 - KM at every event time") {
    val subj = Seq((1, 1), (2, 0), (2, 1), (4, 1), (6, 0), (7, 1))
    val aj = Survival.aalenJohansen(subj.toDF("dur", "cause"), "dur", "cause")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val kmS = Survival.kaplanMeier(subj.toDF("dur", "obs"), "dur", "obs")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    aj.foreach { case (t, cif) => cif shouldBe (1.0 - kmS(t)) +- 2e-6 }
  }

  // ---- coxPhCont -------------------------------------------------------

  /** Independent per-subject reference fit for ONE continuous
    * covariate: textbook Breslow score/information over explicit
    * risk-set scans (no count frame, no grid, no per-step snapping) —
    * a genuinely different algorithm and data layout from the
    * operator's grid-total-minus-exit-cumulant fold. Returns (β̂, se). */
  private def refCoxCont(subjects: Seq[(Int, Int, Double)],
                         steps: Int = 25): (Double, Double) = {
    val times = subjects.filter(_._2 == 1).map(_._1).distinct.sorted
    def scoreInfo(b: Double): (Double, Double) = {
      var u = 0.0; var inf = 0.0
      for (t <- times) {
        val risk = subjects.filter(_._1 >= t)
        val ev = subjects.filter(s => s._1 == t && s._2 == 1)
        val d = ev.size.toDouble
        val w = risk.map(s => math.exp(b * s._3))
        val s0 = w.sum
        val s1 = risk.zip(w).map { case (s, wi) => s._3 * wi }.sum
        val s2 = risk.zip(w).map { case (s, wi) => s._3 * s._3 * wi }.sum
        u += ev.map(_._3).sum - d * s1 / s0
        inf += d * (s2 / s0 - (s1 / s0) * (s1 / s0))
      }
      (u, inf)
    }
    var beta = 0.0
    (1 to steps).foreach { _ =>
      val (u, i) = scoreInfo(beta); beta += u / i
    }
    val (_, iF) = scoreInfo(beta)
    (beta, 1.0 / math.sqrt(iF))
  }

  it("coxPhCont on a 0/1 covariate reproduces the published Gehan Breslow fit") {
    val df = gehan.map { case (t, o, g) =>
      (t, o, if (g == "b_control") 1.0 else 0.0) }.toDF("dur", "obs", "x")
    val r = Survival.coxPhCont(df, "dur", "obs", "x").collect()
    r.length shouldBe 1
    r.head.getAs[String]("covariate") shouldBe "x"
    r.head.getAs[Long]("n") shouldBe 42L
    r.head.getAs[Long]("d_total") shouldBe 30L
    // the published Breslow numbers coxPh pins (R: 1.5092 / 0.4096)
    r.head.getAs[Double]("beta") shouldBe 1.509191 +- 2e-6
    r.head.getAs[Double]("hr") shouldBe 4.523072 +- 2e-5
    r.head.getAs[Double]("se") shouldBe 0.409564 +- 2e-6
    r.head.getAs[Boolean]("reject_95") shouldBe true
  }

  it("coxPhCont agrees with coxPhMulti on pre-binarized input (same fit, different algebra)") {
    val dfC = gehan.map { case (t, o, g) =>
      (t, o, if (g == "b_control") 1.0 else 0.0) }.toDF("dur", "obs", "x")
    val dfB = gehan.map { case (t, o, g) =>
      (t, o, if (g == "b_control") 1 else 0) }.toDF("dur", "obs", "x")
    val c = Survival.coxPhCont(dfC, "dur", "obs", "x").collect().head
    val m = Survival.coxPhMulti(dfB, "dur", "obs", Seq("x")).collect().head
    c.getAs[Double]("beta") shouldBe m.getAs[Double]("beta") +- 1e-6
    c.getAs[Double]("se") shouldBe m.getAs[Double]("se") +- 1e-6
    c.getAs[Long]("n") shouldBe m.getAs[Long]("n")
    c.getAs[Long]("d_total") shouldBe m.getAs[Long]("d_total")
  }

  it("coxPhCont on a FRACTIONAL grid matches the independent per-subject Newton fit") {
    // exact-half engagement grid riding Gehan's times: v = (i % 7)·0.5
    val subj = gehan.zipWithIndex.map { case ((t, o, _), i) =>
      (t, o, (i % 7) * 0.5)
    }
    val r = Survival.coxPhCont(subj.toDF("dur", "obs", "x"), "dur", "obs", "x")
      .collect().head
    val (refB, refSe) = refCoxCont(subj)
    r.getAs[Double]("beta") shouldBe refB +- 1e-4
    r.getAs[Double]("se") shouldBe refSe +- 1e-4
  }

  it("coxPhCont snaps a raw continuous covariate to the decimals grid before fitting") {
    // two covariates differing only past the 2nd decimal collapse to
    // the same grid cell at decimals = 2 — identical fits
    val noisy = gehan.zipWithIndex.map { case ((t, o, _), i) =>
      (t, o, (i % 7) * 0.5 + 0.00123)
    }
    val clean = gehan.zipWithIndex.map { case ((t, o, _), i) =>
      (t, o, (i % 7) * 0.5)
    }
    val a = Survival.coxPhCont(noisy.toDF("dur", "obs", "x"), "dur", "obs", "x",
      decimals = 1).collect().head
    val b = Survival.coxPhCont(clean.toDF("dur", "obs", "x"), "dur", "obs", "x",
      decimals = 1).collect().head
    a.getAs[Double]("beta") shouldBe b.getAs[Double]("beta")
    a.getAs[Double]("se") shouldBe b.getAs[Double]("se")
  }

  it("coxPhCont: constant covariate degenerates to NULL estimates; no events to EMPTY") {
    val const = gehan.map { case (t, o, _) => (t, o, 2.5) }
    val r = Survival.coxPhCont(const.toDF("dur", "obs", "x"), "dur", "obs", "x")
      .collect().head
    r.isNullAt(r.fieldIndex("beta")) shouldBe true
    r.isNullAt(r.fieldIndex("se")) shouldBe true
    Survival.coxPhCont(Seq((1, 0, 0.5), (2, 0, 1.0)).toDF("dur", "obs", "x"),
      "dur", "obs", "x").collect() shouldBe empty
  }

  // ---- coxPhMixed ------------------------------------------------------

  /** Independent per-subject reference fit for ONE continuous + ONE
    * binary covariate: textbook 2-covariate Breslow score/information
    * over explicit risk-set scans with a full-precision 2×2 Newton —
    * a genuinely different algorithm and layout from the operator's
    * joint-grid-total-minus-exit-cumulant fold. Returns
    * (β̂v, β̂b, se_v, se_b). */
  private def refCoxMixed(subjects: Seq[(Int, Int, Double, Double)],
                          steps: Int = 25): (Double, Double, Double, Double) = {
    val times = subjects.filter(_._2 == 1).map(_._1).distinct.sorted
    def si(bv: Double, bb: Double): (Double, Double, Double, Double, Double) = {
      var uv = 0.0; var ub = 0.0; var ivv = 0.0; var ivb = 0.0; var ibb = 0.0
      for (t <- times) {
        val risk = subjects.filter(_._1 >= t)
        val ev = subjects.filter(s => s._1 == t && s._2 == 1)
        val d = ev.size.toDouble
        val w = risk.map(s => math.exp(bv * s._3 + bb * s._4))
        val s0 = w.sum
        val sv = risk.zip(w).map { case (s, wi) => s._3 * wi }.sum
        val sb = risk.zip(w).map { case (s, wi) => s._4 * wi }.sum
        val svv = risk.zip(w).map { case (s, wi) => s._3 * s._3 * wi }.sum
        val svb = risk.zip(w).map { case (s, wi) => s._3 * s._4 * wi }.sum
        val sbb = risk.zip(w).map { case (s, wi) => s._4 * s._4 * wi }.sum
        uv += ev.map(_._3).sum - d * sv / s0
        ub += ev.map(_._4).sum - d * sb / s0
        ivv += d * (svv / s0 - (sv / s0) * (sv / s0))
        ivb += d * (svb / s0 - (sv / s0) * (sb / s0))
        ibb += d * (sbb / s0 - (sb / s0) * (sb / s0))
      }
      (uv, ub, ivv, ivb, ibb)
    }
    var bv = 0.0; var bb = 0.0
    (1 to steps).foreach { _ =>
      val (uv, ub, ivv, ivb, ibb) = si(bv, bb)
      val det = ivv * ibb - ivb * ivb
      bv += (uv * ibb - ub * ivb) / det
      bb += (ivv * ub - ivb * uv) / det
    }
    val (_, _, ivv, ivb, ibb) = si(bv, bb)
    val det = ivv * ibb - ivb * ivb
    (bv, bb, math.sqrt(ibb / det), math.sqrt(ivv / det))
  }

  it("coxPhMixed with NO binary covariates reproduces coxPhCont row-for-row") {
    // same algebra, p = 1 — the term shapes must agree to the bit
    val subj = gehan.zipWithIndex.map { case ((t, o, _), i) =>
      (t, o, (i % 7) * 0.5)
    }
    val df = subj.toDF("dur", "obs", "x")
    Survival.coxPhMixed(df, "dur", "obs", "x", Nil).collect().head.toSeq shouldBe
      Survival.coxPhCont(df, "dur", "obs", "x").collect().head.toSeq
  }

  it("coxPhMixed on a 0/1 covariate + one binary agrees with coxPhMulti (different state layout)") {
    val df = gehan.zipWithIndex.map { case ((t, o, g), i) =>
      (t, o, if (g == "b_control") 1.0 else 0.0, i % 2)
    }.toDF("dur", "obs", "x1", "x2")
    val mixed = Survival.coxPhMixed(df, "dur", "obs", "x1", Seq("x2"))
      .collect().map(r => r.getString(0) -> r).toMap
    val multi = Survival.coxPhMulti(df, "dur", "obs", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("x1", "x2").foreach { c =>
      mixed(c).getAs[Double]("beta") shouldBe multi(c).getAs[Double]("beta") +- 1e-6
      mixed(c).getAs[Double]("se") shouldBe multi(c).getAs[Double]("se") +- 1e-6
      mixed(c).getAs[Long]("n") shouldBe multi(c).getAs[Long]("n")
      mixed(c).getAs[Long]("d_total") shouldBe multi(c).getAs[Long]("d_total")
    }
  }

  it("coxPhMixed (fractional grid + binary) matches the independent per-subject Newton fit") {
    val subj = gehan.zipWithIndex.map { case ((t, o, g), i) =>
      (t, o, (i % 7) * 0.5, if (g == "b_control") 1.0 else 0.0)
    }
    val rows = Survival.coxPhMixed(subj.toDF("dur", "obs", "v", "b"),
      "dur", "obs", "v", Seq("b")).collect()
    rows.map(_.getString(0)).toSeq shouldBe Seq("v", "b") // covCol first, then binCols
    val (refV, refB, refSeV, refSeB) = refCoxMixed(subj)
    rows(0).getAs[Double]("beta") shouldBe refV +- 1e-4
    rows(0).getAs[Double]("se") shouldBe refSeV +- 1e-4
    rows(1).getAs[Double]("beta") shouldBe refB +- 1e-4
    rows(1).getAs[Double]("se") shouldBe refSeB +- 1e-4
  }

  it("coxPhMixed degenerates honestly and rejects bad shapes loudly") {
    // constant covariates: singular information → all-NULL estimates
    val const = gehan.map { case (t, o, _) => (t, o, 2.5, 1) }
      .toDF("dur", "obs", "v", "b")
    val c = Survival.coxPhMixed(const, "dur", "obs", "v", Seq("b")).collect()
    c.length shouldBe 2
    c.foreach(r => r.isNullAt(r.fieldIndex("beta")) shouldBe true)
    // no events → EMPTY
    Survival.coxPhMixed(Seq((1, 0, 0.5, 0), (2, 0, 1.0, 1)).toDF("dur", "obs", "v", "b"),
      "dur", "obs", "v", Seq("b")).collect() shouldBe empty
    // a non-binary adjustment covariate trips the pattern guard
    val bad = gehan.zipWithIndex.map { case ((t, o, _), i) =>
      (t, o, (i % 7) * 0.5, 0.5)
    }.toDF("dur", "obs", "v", "b")
    intercept[IllegalArgumentException] {
      Survival.coxPhMixed(bad, "dur", "obs", "v", Seq("b")).collect()
    }.getMessage should include("coxPhMixed")
    // arity: at most 2 binaries
    intercept[IllegalArgumentException] {
      Survival.coxPhMixed(const, "dur", "obs", "v", Seq("a", "b", "c"))
    }
    // both collected axes carry loud guards
    val ok = gehan.zipWithIndex.map { case ((t, o, g), i) =>
      (t, o, (i % 7) * 0.5, if (g == "b_control") 1 else 0)
    }.toDF("dur", "obs", "v", "b")
    intercept[IllegalArgumentException] {
      Survival.coxPhMixed(ok, "dur", "obs", "v", Seq("b"), maxGridValues = 1).collect()
    }.getMessage should include("coxPhMixed grid")
    intercept[IllegalArgumentException] {
      Survival.coxPhMixed(ok, "dur", "obs", "v", Seq("b"), maxDurations = 5).collect()
    }.getMessage should include("coxPhMixed")
  }

  // ---- loud axis guards (r15 directive #2) -------------------------------

  it("Cox-family folds refuse a continuous-duration axis loudly instead of collecting it") {
    val df = gehan.toDF("dur", "obs", "g") // 25 distinct durations
    val eC = intercept[IllegalArgumentException] {
      Survival.coxPh(df, "dur", "obs", "g", maxDurations = 5).collect()
    }
    eC.getMessage should include("snap a continuous duration")
    val eS = intercept[IllegalArgumentException] {
      Survival.coxPhStratified(
        gehan.map { case (t, o, g) => (t, o, g, "s") }.toDF("dur", "obs", "g", "s"),
        "dur", "obs", "g", "s", maxDurations = 5).collect()
    }
    eS.getMessage should include("coxPhStratified")
    val eM = intercept[IllegalArgumentException] {
      Survival.coxPhMulti(
        gehan.map { case (t, o, g) => (t, o, if (g == "b_control") 1 else 0) }
          .toDF("dur", "obs", "x"),
        "dur", "obs", Seq("x"), maxDurations = 5).collect()
    }
    eM.getMessage should include("coxPhMulti")
    val eK = intercept[IllegalArgumentException] {
      Survival.coxPhCont(
        gehan.map { case (t, o, g) => (t, o, if (g == "b_control") 1.0 else 0.0) }
          .toDF("dur", "obs", "x"),
        "dur", "obs", "x", maxGridValues = 1).collect()
    }
    eK.getMessage should include("coxPhCont grid")
    // ... and the (t, v) exit-frame axis carries its own cap too
    val eV = intercept[IllegalArgumentException] {
      Survival.coxPhCont(
        gehan.map { case (t, o, g) => (t, o, if (g == "b_control") 1.0 else 0.0) }
          .toDF("dur", "obs", "x"),
        "dur", "obs", "x", maxDurations = 5).collect()
    }
    eV.getMessage should include("coxPhCont")
  }

  it("coxPhMulti rejects a FRACTIONAL covariate loudly (binary check on the raw double)") {
    // 0.5 truncates to long 0 — before the r15 ADVICE fix it silently
    // passed the isBin check and fit a wrong adjusted model
    val df = gehan.zipWithIndex.map { case ((t, o, g), i) =>
      (t, o, if (g == "b_control") 1.0 else 0.0, if (i % 2 == 0) 0.5 else 1.0)
    }.toDF("dur", "obs", "x1", "x2")
    val e = intercept[IllegalArgumentException] {
      Survival.coxPhMulti(df, "dur", "obs", Seq("x1", "x2")).collect()
    }
    e.getMessage should include("non-binary covariate")
  }
}
