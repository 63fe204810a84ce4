package graft

import org.apache.spark.sql.{Encoders, functions => F}

import graft.functions._

/** The typed `Aggregator`s the board runs through `F.udaf`: their buffer
  * algebra (zero, reduce, merge, finish) and the udaf over several
  * partitions, empty ones included. */
class AggregatorsSpec extends SparkSpec {
  import spark.implicits._

  describe("TokenStatsAggregator") {
    it("counts, sums and maxes every document across partitions, empty ones included") {
      // 8 partitions of 125 ids; the filter leaves only the first two non-empty
      val docs = spark.range(0, 1000, 1, 8).filter($"id" < 250).select($"id".cast("int").as("tok"))
      val stats = F.udaf(TokenStatsAggregator)
      val ts = docs.agg(stats($"tok").as("ts")).select("ts.*").head
      (ts.getLong(0), ts.getLong(1), ts.getLong(2)) shouldBe ((250L, (0L until 250L).sum, 249L))
    }

    it("zero is the merge identity, and merge is commutative and associative") {
      val r = new scala.util.Random(3)
      val bufs = Seq.fill(20)(Seq.fill(r.nextInt(6))(r.nextInt(1000))
        .foldLeft(TokenStatsAggregator.zero)(TokenStatsAggregator.reduce))
      import TokenStatsAggregator.{merge, zero}
      bufs.foreach(b => (merge(zero, b), merge(b, zero)) shouldBe ((b, b)))
      bufs.sliding(3).foreach { case Seq(a, b, c) =>
        merge(a, b) shouldBe merge(b, a)
        merge(merge(a, b), c) shouldBe merge(a, merge(b, c))
      }
    }
  }

  describe("CovMomentsAggregator") {
    val d = 4
    val rows = Seq(Seq(1f, 2f, -3f, 4f), Seq(0f, 5f, 1f, -2f), Seq(7f, -1f, 2f, 3f))
    def fold(vs: Seq[Seq[Float]]) = {
      val agg = new CovMomentsAggregator(d)
      vs.foldLeft(agg.zero)(agg.reduce)
    }

    it("packs the pairwise product sums as the upper triangle, row-major at i*d - i(i-1)/2 + (j-i)") {
      val p = fold(rows)
      p.n shouldBe 3L
      p.prods should have size (d * (d + 1) / 2)
      for (i <- 0 until d) {
        p.sums(i) shouldBe rows.map(_(i).toDouble).sum
        for (j <- i until d)
          withClue(s"($i, $j): ")(p.prods(i * d - i * (i - 1) / 2 + (j - i)) shouldBe rows.map(v => v(i).toDouble * v(j)).sum)
      }
    }

    it("merges split partials, zero buffers included, into exactly the one-pass partial") {
      val agg = new CovMomentsAggregator(d)
      val onePass = fold(rows)
      val split = agg.merge(agg.merge(fold(rows.take(1)), agg.zero), agg.merge(agg.zero, fold(rows.drop(1))))
      (split.n, split.sums.toSeq, split.prods.toSeq) shouldBe ((onePass.n, onePass.sums.toSeq, onePass.prods.toSeq))
    }

    it("refuses a non-positive dimension") {
      an[IllegalArgumentException] should be thrownBy new CovMomentsAggregator(0)
      an[IllegalArgumentException] should be thrownBy new CovMomentsAggregator(-2)
    }
  }

  describe("theta sketch aggregators") {
    def sketchOf(items: Seq[String], k: Int) = Theta.consolidate(items.foldLeft(Theta.empty(k))(Theta.insert))

    it("ThetaSketchAggregator over partitions is the one-pass sketch, NULLs skipped, and finish consolidates") {
      val values = (1 to 5000).map(i => s"v$i")
      val df = (values.map(Option(_)) ++ Seq.fill(50)(None)).toDF("v").repartition(6)
      val sk = df.agg(F.udaf(new ThetaSketchAggregator(256), Encoders.STRING)($"v").as("sk"))
        .select("sk.*").head
      sk.getSeq[Long](1) shouldBe sketchOf(values, 256).retained
      sk.getSeq[Long](2) shouldBe empty
      val agg = new ThetaSketchAggregator(256)
      agg.finish(agg.reduce(agg.reduce(agg.zero, "a"), null)) shouldBe sketchOf(Seq("a"), 256)
    }

    it("ThetaHashAggregator folds the exploded retained hashes of several sketches into their union") {
      val slices = Seq(1 to 3000, 2000 to 6000, 5500 to 9000).map(_.map(i => s"u$i"))
      val sketches = slices.map(sketchOf(_, 512))
      val hashes = sketches.flatMap(_.retained).toDF("h").repartition(5)
      val union = hashes.agg(F.udaf(new ThetaHashAggregator(512), Encoders.scalaLong)($"h").as("sk"))
        .select("sk.retained").head.getSeq[Long](0)
      union shouldBe sketches.reduce(Theta.merge).retained
      union shouldBe sketchOf(slices.flatten, 512).retained
    }
  }

  describe("KllWeightedQuantilesAggregator") {
    it("over (value, weight) rows on several partitions equals the unweighted aggregator over the expanded rows") {
      val r = new scala.util.Random(17)
      val weighted = (1 to 80).map(i => (r.nextInt(500).toDouble, (r.nextInt(9) + 1).toLong))
      val qs = Seq(0.1, 0.5, 0.9, 1.0)
      val wAgg = F.udaf(new KllWeightedQuantilesAggregator(4096, qs),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
      val fromWeights = weighted.toDF("x", "w").repartition(4)
        .agg(wAgg($"x", $"w").as("e")).select("e.ests").head.getSeq[Double](0)
      val expanded = weighted.flatMap { case (x, w) => Seq.fill(w.toInt)(x) }
      val fromRows = expanded.toDF("x").repartition(4)
        .agg(F.udaf(new KllQuantilesAggregator(4096, qs), Encoders.scalaDouble)($"x").as("e"))
        .select("e.ests").head.getSeq[Double](0)
      fromWeights shouldBe fromRows
      val sorted = expanded.sorted
      fromWeights shouldBe qs.map(q => sorted(math.ceil(q * sorted.size).toInt - 1))
    }
  }
}
