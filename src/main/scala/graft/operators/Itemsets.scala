package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.Pin._

/** Frequent-itemset mining / association rules over a (transaction,
  * item) frame — the market-basket signal (Agrawal & Srikant, "Fast
  * algorithms for mining association rules", VLDB 1994) a curation
  * pipeline uses for co-occurrence structure: which tags/sources/
  * attributes travel together, and with what lift over independence.
  *
  * Scale shape: the only superlinear step is the pair self-join on the
  * transaction id, bounded by Σ per-transaction k² like every co-
  * occurrence projection in this repo; the APRIORI property is applied
  * as a pushdown — an item below `minSupport` cannot appear in a
  * frequent pair, so the item-count semi-join prunes the pair join's
  * input BEFORE it fans out. All counts are exact BIGINTs; support,
  * confidence, and lift are fixed-shape IEEE divisions of them
  * (engine-exact, oracle-able). */
object Itemsets {

  /** Association rules a→b between frequent item PAIRS.
    *
    * `df`'s first two columns are (transaction id, item); duplicate
    * (tid, item) rows collapse. A pair is frequent when it co-occurs in
    * ≥ `minSupport` transactions; each frequent pair emits its two
    * directed rules, kept when confidence = n(a,b)/n(a) ≥ `minConfidence`.
    * lift = n(a,b)·N / (n(a)·n(b)) — > 1 means the pair co-occurs more
    * than independence predicts.
    *
    * Output: (antecedent, consequent, n_pair, support, confidence,
    * lift), support = n_pair/N with N the number of transactions. */
  def assocRules(df: DataFrame, minSupport: Long, minConfidence: Double): DataFrame = {
    val tx = df.select(F.col(df.columns(0)).as("tid"), F.col(df.columns(1)).as("item"))
      .filter(F.col("tid").isNotNull && F.col("item").isNotNull)
      .distinct()
      .pin() // feeds N, item counts, and both pair-join sides
    val nTx = tx.agg(F.countDistinct(F.col("tid")).as("n_tx"))
    val itemN = tx.groupBy("item").agg(F.count(F.lit(1)).as("n_item"))
      .filter(F.col("n_item") >= minSupport) // apriori: prune before the fan-out
    val frequent = tx.join(itemN.select("item"), Seq("item"), "left_semi")
    val pairs = frequent.as("x").join(frequent.as("y"),
        F.col("x.tid") === F.col("y.tid") && F.col("x.item") < F.col("y.item"))
      .groupBy(F.col("x.item").as("a"), F.col("y.item").as("b"))
      .agg(F.count(F.lit(1)).as("n_pair"))
    rulesFromCounts(nTx, itemN, pairs, minSupport, minConfidence)
  }

  /** The rule algebra over pre-aggregated count frames — transaction,
    * item, and unordered-pair counts are the miner's MERGEABLE summary
    * (plain sums). Expects `nTx` (n_tx), `itemN`
    * (item, n_item), `pairs` (a, b, n_pair with a < b); thresholds are
    * applied here, so the pair frame may arrive unpruned — by the
    * apriori property the item filter loses nothing a surviving pair
    * needs. */
  def rulesFromCounts(nTx: DataFrame, itemN: DataFrame, pairs: DataFrame,
                      minSupport: Long, minConfidence: Double): DataFrame = {
    val freqItems = itemN.filter(F.col("n_item") >= minSupport)
    val freqPairs = pairs.filter(F.col("n_pair") >= minSupport)
    val directed = freqPairs.select(F.col("a"), F.col("b"), F.col("n_pair"))
      .unionAll(freqPairs.select(F.col("b").as("a"), F.col("a").as("b"), F.col("n_pair")))
    directed
      .join(freqItems.select(F.col("item").as("a"), F.col("n_item").as("na")), "a")
      .join(freqItems.select(F.col("item").as("b"), F.col("n_item").as("nb")), "b")
      .crossJoin(F.broadcast(nTx))
      .withColumn("confidence", F.col("n_pair").cast("double") / F.col("na"))
      .filter(F.col("confidence") >= minConfidence)
      .select(F.col("a").as("antecedent"), F.col("b").as("consequent"),
        F.col("n_pair"),
        F.round(F.col("n_pair").cast("double") / F.col("n_tx"), 6).as("support"),
        F.round(F.col("confidence"), 6).as("confidence"),
        F.round(F.col("n_pair").cast("double") * F.col("n_tx")
          / (F.col("na").cast("double") * F.col("nb")), 6).as("lift"))
  }
}
