package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.SparkSpec

/** The two-phase distributed prefix: range partitions in order, exclusive
  * per-partition offsets, and prefix sums equal to the single-partition
  * window at any shuffle width. */
class TwoPhaseSpec extends SparkSpec {
  import spark.implicits._

  /** 500 rows with distinct shuffled keys and Long values far past 2^53. */
  private lazy val rows: DataFrame = {
    val r = new scala.util.Random(23)
    r.shuffle((1 to 500).toList).map(k => (k.toLong, r.nextLong() >> 8)).toDF("k", "v")
  }

  /** Runs `body` at `width` shuffle partitions with AQE coalescing off, so
    * the range shuffle really yields several partitions. */
  private def atWidth[A](width: Int)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), width.toString)
    spark.conf.set(keys(1), "false")
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  it("prefixSums equals the single-partition running-sum window exactly at several shuffle widths") {
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = rows.select($"k", F.sum($"v").over(w).as("s"), F.count(F.lit(1)).over(w).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq(1, 3, 8, 31).foreach { width =>
      atWidth(width) {
        val got = TwoPhase.prefixSums(rows, $"k", Seq($"v" -> "s", F.lit(1L) -> "n"))
          .collect().map(r => r.getAs[Long]("k") -> (r.getAs[Long]("s"), r.getAs[Long]("n"))).toMap
        withClue(s"width $width: ") { got shouldBe expected }
      }
    }
  }

  it("partitionOffsets range-partitions on the order: each partition holds one contiguous run") {
    atWidth(8) {
      val (parted, _) = TwoPhase.partitionOffsets(rows, Seq($"k"), Seq(F.sum("v") -> "off"))
      val runs = parted.groupBy("__pid").agg(F.min("k"), F.max("k")).orderBy("__pid")
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      runs.length should be > 1
      runs.zip(runs.tail).foreach { case ((_, hi), (lo, _)) => hi should be < lo }
    }
  }

  it("partitionOffsets gives each partition the exclusive prefix of every requested total") {
    atWidth(8) {
      val (parted, offsets) = TwoPhase.partitionOffsets(rows, Seq($"k"),
        Seq(F.sum("v") -> "off_v", F.count(F.lit(1)) -> "off_n"))
      val totals = parted.groupBy("__pid").agg(F.sum("v"), F.count(F.lit(1))).orderBy("__pid")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val expected = totals.scanLeft((0L, 0L)) { case ((v, n), (_, tv, tn)) => (v + tv, n + tn) }
        .zip(totals).map { case ((v, n), (pid, _, _)) => (pid, v, n) }
      offsets.orderBy("__pid").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))) shouldBe expected
    }
  }

  it("prefixSums keeps every input column and leaves none of its helper columns behind") {
    val out = TwoPhase.prefixSums(rows.withColumn("tag", F.lit("t")), $"k", Seq($"v" -> "s"))
    out.columns.toSeq shouldBe Seq("k", "v", "tag", "s")
  }
}
