package graft

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.operators.{Skyline, TimeSeries}

/** Pareto skyline vs the brute-force dominance definition, plus the
  * robust (median/MAD) anomaly scorer. */
class SkylineSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force skyline over (id, dims...) with all dims minimized. */
  private def brute(points: Seq[(Long, Seq[Double])]): Set[Long] =
    points.filterNot { case (_, p) =>
      points.exists { case (_, q) =>
        q.zip(p).forall { case (x, y) => x <= y } &&
          q.zip(p).exists { case (x, y) => x < y }
      }
    }.map(_._1).toSet

  private def run(df: DataFrame, dims: Seq[(String, Boolean)]): Set[Long] =
    Skyline.skyline(df, dims).select("id").as[Long].collect().toSet

  it("matches brute force on a known 2-D set with ties and duplicates") {
    // minimize x, maximize y; (1,9) appears twice — both copies survive
    val pts = Seq(
      (1L, 1.0, 9.0), (2L, 1.0, 9.0), (3L, 2.0, 9.0), (4L, 1.0, 5.0),
      (5L, 3.0, 10.0), (6L, 4.0, 10.0), (7L, 5.0, 1.0), (8L, 2.0, 8.0))
    val out = run(pts.toDF("id", "x", "y"), Seq(("x", false), ("y", true)))
    out shouldBe brute(pts.map { case (id, x, y) => (id, Seq(x, -y)) })
    out should contain allOf (1L, 2L, 5L) // dup optima + the y=10 frontier
    out should contain noneOf (3L, 4L, 6L, 7L, 8L)
  }

  it("matches brute force on random 3-D data across many partitions") {
    val r = new scala.util.Random(17)
    val pts = (1L to 500L).map(i =>
      (i, r.nextInt(40).toDouble, r.nextInt(40).toDouble, r.nextInt(40).toDouble))
    val df = pts.toDF("id", "a", "b", "c").repartition(7)
    val out = run(df, Seq(("a", false), ("b", true), ("c", false)))
    out shouldBe brute(pts.map { case (id, a, b, c) => (id, Seq(a, -b, c)) })
  }

  it("anti-correlated data: the whole frontier survives") {
    val pts = (1L to 50L).map(i => (i, i.toDouble, i.toDouble))
    val out = run(pts.toDF("id", "x", "y"), Seq(("x", false), ("y", true)))
    out shouldBe (1L to 50L).toSet
  }

  it("single dimension: all minima (duplicates included) survive") {
    val pts = Seq((1L, 3.0), (2L, 1.0), (3L, 1.0), (4L, 2.0))
    run(pts.toDF("id", "x"), Seq(("x", false))) shouldBe Set(2L, 3L)
  }

  // ---- robustAnomalies ----------------------------------------------

  it("flags only the MAD-outlier and scores the rest near zero") {
    // key "a": baseline 10s with one wild spike; robust stats must not
    // let the spike drag the threshold
    val rows = Seq(("a", 10.0), ("a", 11.0), ("a", 9.0), ("a", 10.0),
      ("a", 12.0), ("a", 8.0), ("a", 100.0))
    val out = TimeSeries.robustAnomalies(rows.toDF("k", "v"), "k", "v")
      .select("v", "robust_z", "is_anomaly")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    val (spikes, normal) = out.partition(_._1 == 100.0)
    spikes.map(_._3) shouldBe Array(true)
    normal.foreach { case (_, z, flagged) =>
      flagged shouldBe false
      math.abs(z) should be < 3.0
    }
  }

  it("MAD = 0: any deviation flags, robust_z is null") {
    val rows = Seq(("k", 5.0), ("k", 5.0), ("k", 5.0), ("k", 7.0))
    val out = TimeSeries.robustAnomalies(rows.toDF("k", "v"), "k", "v")
      .select("v", "robust_z", "is_anomaly").collect()
    out.foreach { r =>
      r.isNullAt(1) shouldBe true
      r.getBoolean(2) shouldBe (r.getDouble(0) != 5.0)
    }
  }

  // ---- trimmedMeans -------------------------------------------------

  /** percentile_cont(q): interpolated value at rank (n−1)·q. */
  private def pct(sorted: Seq[Double], q: Double): Double = {
    val h = (sorted.size - 1) * q
    val lo = math.floor(h).toInt
    if (lo + 1 >= sorted.size) sorted(lo)
    else sorted(lo) + (h - lo) * (sorted(lo + 1) - sorted(lo))
  }

  it("one outlier poisons the raw mean but not the trimmed or winsorized one") {
    val vals = (1 to 9).map(_.toDouble) :+ 1000.0
    val out = graft.operators.RobustStats
      .trimmedMeans(vals.map(("g", _)).toDF("k", "v"), "k", "v")
      .collect().head
    val (lo, hi) = (pct(vals, 0.1), pct(vals, 0.9))
    val keptVals = vals.filter(v => v >= lo && v <= hi)
    out.getAs[Long]("n") shouldBe 10L
    out.getAs[Long]("n_kept") shouldBe keptVals.size.toLong
    out.getAs[Double]("raw_mean") shouldBe 104.5
    out.getAs[Double]("trimmed_mean") shouldBe
      math.round(keptVals.sum / keptVals.size * 1e4) / 1e4 +- 1e-9
    out.getAs[Double]("winsorized_mean") shouldBe
      math.round(vals.map(v => math.min(math.max(v, lo), hi)).sum / 10 * 1e4) / 1e4 +- 1e-9
    out.getAs[Double]("trimmed_mean") should be < 10.0
  }

  // ---- gini -----------------------------------------------------------

  private def giniOf(vals: Seq[Double], parts: Int = 5) =
    graft.operators.RobustStats.gini(
      vals.zipWithIndex.map { case (v, i) => (f"k$i%04d", v) }
        .toDF("k", "v").repartition(parts), "k", "v")
      .collect().head

  it("gini is exactly 0 on perfect equality and (n−1)/n on total concentration") {
    giniOf(Seq.fill(10)(5.0)).getDouble(2) shouldBe 0.0
    giniOf(Seq.fill(99)(0.0) :+ 100.0).getDouble(2) shouldBe 0.99 // (n−1)/n
  }

  it("gini matches the hand rank formula and is partition-invariant") {
    // x = 1,2,3,4: Σ i·x = 30 → 60/40 − 5/4 = 0.25
    giniOf(Seq(1.0, 2.0, 3.0, 4.0)).getDouble(2) shouldBe 0.25
    val r = new scala.util.Random(47)
    val xs = Seq.fill(500)(r.nextInt(1000).toDouble)
    giniOf(xs, parts = 1).toSeq shouldBe giniOf(xs, parts = 13).toSeq
  }

  it("theil decomposes exactly: equal group means put ALL inequality within") {
    // groups share mean 4 → ln(μ_g/μ) = ln 1 = 0 for both: between = 0
    val rows = Seq(("a", 2.0), ("a", 6.0), ("b", 4.0), ("b", 4.0))
    val out = graft.operators.RobustStats
      .theil(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    out("a").getDouble(5) shouldBe 0.0 // theil_between
    out("b").getDouble(3) shouldBe 0.0 // group b is internally equal
    // T_a = (2·ln2 + 6·ln6)/8 − ln4; total = share-weighted within
    val ta = (2 * math.log(2) + 6 * math.log(6)) / 8 - math.log(4)
    out("a").getDouble(3) shouldBe math.round(ta * 1e6) / 1e6 +- 1e-9
    out("a").getDouble(4) shouldBe
      math.round(0.5 * ta * 1e6) / 1e6 +- 2e-6 // total = Σ share·within here
  }

  it("theil's total = between + share-weighted within on skewed random groups") {
    val r = new scala.util.Random(83)
    val rows = (0 until 300).map { i =>
      val g = s"g${i % 4}"
      (g, (r.nextInt(50) + 1).toDouble * (i % 4 + 1)) // different group scales
    }
    val out = graft.operators.RobustStats
      .theil(rows.toDF("g", "v"), "g", "v").collect()
    val total = out.head.getDouble(4)
    val between = out.head.getDouble(5)
    val withinSum = out.map(x => x.getDouble(2) * x.getDouble(3)).sum
    total shouldBe (between + withinSum) +- 1e-5
    between should be > 0.0 // the planted scale differences
    total should be > between
  }

  it("theil is exactly 0 on perfect equality") {
    val out = graft.operators.RobustStats
      .theil(Seq.fill(12)(("x", 7.0)).toDF("g", "v"), "g", "v").collect().head
    out.getDouble(3) shouldBe 0.0
    out.getDouble(4) shouldBe 0.0
    out.getDouble(5) shouldBe 0.0
  }

  it("hill matches the hand-worked geometric tail and recovers a Pareto exponent") {
    // x = 2^1..2^60, k = 10: H = (1/10)·Σ_{j=1..10} ln(2^(61−j)/2^50)
    //   = ln2·(10+9+…+1)/10 = 5.5·ln2
    val geo = (1 to 60).map(i => math.pow(2.0, i))
    val out = graft.operators.RobustStats.hillTailIndex(
      geo.zipWithIndex.map { case (v, i) => (i.toString, v) }.toDF("k", "v"), "v", k = 10)
      .collect().head
    out.getDouble(1) shouldBe math.pow(2.0, 50) // the threshold x_(n−k)
    out.getDouble(2) shouldBe
      math.round(5.5 * math.log(2.0) * 1e6) / 1e6 +- 1e-9
    // Pareto(α = 2) sample via inverse CDF: the estimate lands near 2
    val r = new scala.util.Random(61)
    val par = Seq.fill(4000)(math.pow(1.0 - r.nextDouble(), -1.0 / 2.0))
    val a = graft.operators.RobustStats.hillTailIndex(
      par.zipWithIndex.map { case (v, i) => (i.toString, v) }.toDF("k", "v"), "v", k = 200)
      .collect().head.getDouble(3)
    a should be > 1.5
    a should be < 2.6
  }

  it("hill is empty below k+1 positive values") {
    graft.operators.RobustStats.hillTailIndex(
      (1 to 10).map(i => (i.toString, i.toDouble)).toDF("k", "v"), "v", k = 10)
      .collect() shouldBe empty
  }

  it("gini excludes negative values and NULLs the degenerate all-zero case") {
    val out = giniOf(Seq(-5.0, 1.0, 1.0))
    out.getLong(0) shouldBe 2L // the negative row is out of support
    out.getDouble(2) shouldBe 0.0
    val zeros = giniOf(Seq(0.0, 0.0, 0.0))
    zeros.isNullAt(2) shouldBe true // total 0: inequality undefined
  }

  it("a constant group has all three means equal and keeps every row") {
    val out = graft.operators.RobustStats
      .trimmedMeans(Seq.fill(8)(("c", 4.5)).toDF("k", "v"), "k", "v")
      .collect().head
    out.getAs[Long]("n_kept") shouldBe 8L
    out.getAs[Double]("raw_mean") shouldBe 4.5
    out.getAs[Double]("trimmed_mean") shouldBe 4.5
    out.getAs[Double]("winsorized_mean") shouldBe 4.5
  }

  it("groups trim independently") {
    val rows = (1 to 10).map(i => ("a", i.toDouble)) ++
      (1 to 10).map(i => ("b", i * 100.0))
    val out = graft.operators.RobustStats.trimmedMeans(rows.toDF("k", "v"), "k", "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("trimmed_mean")).toMap
    out("a") shouldBe 5.5
    out("b") shouldBe 550.0
  }

  // ---- RobustStats.poissonBootstrap ---------------------------------

  it("poisson bootstrap is hash-deterministic and brackets the point mean") {
    val rows = (1 to 500).map(i => (i.toLong, 50.0 + (i % 21) - 10)) // mean 50.0476...
    val df = rows.toDF("id", "v")
    val a = graft.operators.RobustStats.poissonBootstrap(df, "id", "v", b = 100)
      .collect().head
    a.getAs[Long]("b") shouldBe 100L
    a.getAs[Long]("n") shouldBe 500L
    val mean = a.getAs[Double]("mean")
    mean shouldBe rows.map(_._2).sum / 500 +- 1e-6
    // the 95% band contains the point mean and the replicate median
    a.getAs[Double]("lo95") should be < mean
    a.getAs[Double]("hi95") should be > mean
    a.getAs[Double]("lo95") should be < a.getAs[Double]("median")
    a.getAs[Double]("hi95") should be > a.getAs[Double]("median")
    // CI width tracks sigma/sqrt(n): sd ~ 6.06, n=500 -> se ~ 0.27;
    // the percentile band is ~4 se wide, well inside [0.5, 3]
    val width = a.getAs[Double]("hi95") - a.getAs[Double]("lo95")
    width should be > 0.5
    width should be < 3.0
    // hash determinism: a second run is bit-identical
    val b2 = graft.operators.RobustStats.poissonBootstrap(df, "id", "v", b = 100)
      .collect().head
    b2.toSeq shouldBe a.toSeq
  }

  it("poisson bootstrap narrows as n grows (the se scaling sanity check)") {
    def width(n: Int): Double = {
      val df = (1 to n).map(i => (i.toLong, (i % 11).toDouble)).toDF("id", "v")
      val r = graft.operators.RobustStats.poissonBootstrap(df, "id", "v", b = 80)
        .collect().head
      r.getAs[Double]("hi95") - r.getAs[Double]("lo95")
    }
    width(2000) should be < width(120) // se ~ 1/sqrt(n)
  }
}
