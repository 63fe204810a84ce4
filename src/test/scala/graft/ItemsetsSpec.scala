package graft

import graft.operators.Itemsets

/** Association rules: hand-computed baskets, apriori pruning, the
  * confidence filter's direction asymmetry, lift vs independence. */
class ItemsetsSpec extends SparkSpec {

  import spark.implicits._

  // t1 {milk,bread} t2 {milk,bread} t3 {milk} t4 {bread,butter} t5 {milk,bread,butter}
  private val baskets = Seq(
    (1, "milk"), (1, "bread"),
    (2, "milk"), (2, "bread"),
    (3, "milk"),
    (4, "bread"), (4, "butter"),
    (5, "milk"), (5, "bread"), (5, "butter"))

  private def rules(minSup: Long, minConf: Double): Map[(String, String), (Long, Double, Double, Double)] =
    Itemsets.assocRules(baskets.toDF("tid", "item"), minSup, minConf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap

  it("computes support, confidence, and lift by hand on the classic basket") {
    // N=5; milk 4, bread 4, butter 2; pairs: bread+milk 3, bread+butter 2
    val out = rules(minSup = 2, minConf = 0.5)
    out(("bread", "milk")) shouldBe ((3L, 0.6, 0.75, 0.9375))
    out(("milk", "bread")) shouldBe ((3L, 0.6, 0.75, 0.9375))
    out(("bread", "butter")) shouldBe ((2L, 0.4, 0.5, 1.25))
    out(("butter", "bread")) shouldBe ((2L, 0.4, 1.0, 1.25))
    out.keySet should have size 4 // butter+milk co-occurs once: below support
  }

  it("the confidence filter is DIRECTIONAL: butter→bread survives 0.8, bread→butter does not") {
    rules(minSup = 2, minConf = 0.8).keySet shouldBe Set(("butter", "bread"))
  }

  it("raising min support to 3 leaves only the bread–milk pair") {
    rules(minSup = 3, minConf = 0.0).keySet shouldBe
      Set(("bread", "milk"), ("milk", "bread"))
  }

  it("duplicate (tid, item) rows do not inflate any count") {
    val dup = baskets ++ baskets
    val a = Itemsets.assocRules(dup.toDF("tid", "item"), 2, 0.5).collect().toSet
    val b = Itemsets.assocRules(baskets.toDF("tid", "item"), 2, 0.5).collect().toSet
    a shouldBe b
  }

  it("lift above 1 marks super-independent co-occurrence, below 1 sub-independent") {
    val out = rules(minSup = 2, minConf = 0.0)
    out(("butter", "bread"))._4 should be > 1.0 // butter implies bread strongly
    out(("bread", "milk"))._4 should be < 1.0 // both common, co-occurrence below product
  }

}
