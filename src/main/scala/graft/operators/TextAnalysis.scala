package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.Pin._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-marker heuristic), quality scoring (length / punctuation /
  * stopword ratios), token counting (whitespace and regex "BPE-ish"), and
  * document fingerprinting (canonical md5 + order-sensitive positional
  * checksum).
  *
  * Pure column algebra — codegen-friendly, engine-portable (the DuckDB
  * oracle mirrors each expression), and embarrassingly parallel: every
  * operator is per-row except the fingerprint checksum's per-doc groupBy.
  */
object TextAnalysis {

  /** Language marker lists: tiny per-language stopword inventories. A real
    * deployment swaps in larger lists (or char-n-gram profiles); the
    * mechanism — count marker hits per language, argmax with a fixed
    * tiebreak order — is what scales. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "des", "est"),
    "zh" -> Seq("的", "是", "了", "在")
  )

  private def tokArr(textCol: Column): Column = F.split(textCol, " ")

  private def markerHits(textCol: Column, markers: Seq[String]): Column = {
    val arr = tokArr(textCol)
    F.size(F.filter(arr, t => markers.map(m => t === m).reduce(_ || _)))
  }

  /** Predicted language per row: argmax of marker-hit counts, ties broken
    * by `langMarkers` declaration order ('en' first). Adds `pred_lang` and
    * one `score_<lang>` column per language. */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val scored = langMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"score_$lang", markerHits(F.col(textCol), markers))
    }
    val best = langMarkers.map { case (lang, _) => F.col(s"score_$lang") }
      .reduce((a, b) => F.greatest(a, b))
    val pred = langMarkers.reverse.foldLeft(F.lit("und")) { case (acc, (lang, _)) =>
      F.when(F.col(s"score_$lang") === best, F.lit(lang)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Quality features: char length, whitespace token count, distinct-token
    * ratio, stopword ratio, mean token length, punctuation count. Ratios
    * rounded to 4 decimals for cross-engine stability. */
  def quality(df: DataFrame, textCol: String,
              stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    val t = F.col(textCol)
    val arr = tokArr(t)
    val nTok = F.size(arr)
    val stopHits = F.size(F.filter(arr, x => stopwords.map(s => x === s).reduce(_ || _)))
    df
      .withColumn("n_chars_m", F.length(t))
      .withColumn("n_tokens", nTok)
      .withColumn("n_distinct_tokens", F.size(F.array_distinct(arr)))
      .withColumn("distinct_ratio",
        F.round(F.col("n_distinct_tokens").cast("double") / nTok.cast("double"), 4))
      .withColumn("stopword_ratio", F.round(stopHits.cast("double") / nTok.cast("double"), 4))
      .withColumn("mean_token_len",
        F.round((F.length(t) - (nTok - 1)).cast("double") / nTok.cast("double"), 4))
      .withColumn("n_punct",
        F.length(F.regexp_replace(t, "[a-z0-9 ]", "")))
  }

  /** Gopher/MassiveText-style rule filter (Rae et al. 2021 §A1.1): the
    * document survives only if its word count, mean word length,
    * symbol-per-word ratio, alphabetic-word fraction and stopword count
    * all sit inside fixed bounds. Emits every signal plus the combined
    * 0/1 `keep` verdict so downstream stages can re-cut with different
    * thresholds without recomputing the signals. Pure per-row column
    * algebra — no shuffle, fully codegen'd, scale-free. */
  def gopherRules(df: DataFrame, textCol: String,
      minWords: Int = 30, maxWords: Int = 10000,
      minMeanWordLen: Double = 3.9, maxMeanWordLen: Double = 5.0,
      maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
      minStopHits: Int = 2,
      stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    val t = F.col(textCol)
    val arr = tokArr(t)
    val nW = F.size(arr)
    df
      .withColumn("n_words", nW)
      .withColumn("mean_word_len",
        F.round((F.length(t) - (nW - 1)).cast("double") / nW.cast("double"), 4))
      .withColumn("symbol_ratio",
        F.round(F.length(F.regexp_replace(t, "[a-z0-9 ]", "")).cast("double") /
          nW.cast("double"), 4))
      .withColumn("alpha_ratio",
        F.round(F.size(F.filter(arr, x => x.rlike("[a-z]"))).cast("double") /
          nW.cast("double"), 4))
      .withColumn("stop_hits",
        F.size(F.filter(arr, x => stopwords.map(s => x === s).reduce(_ || _))))
      .withColumn("keep",
        (F.col("n_words").between(minWords, maxWords) &&
          F.col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          F.col("symbol_ratio") <= maxSymbolRatio &&
          F.col("alpha_ratio") >= minAlphaRatio &&
          F.col("stop_hits") >= minStopHits).cast("int"))
  }

  /** Per-source corpus "data card" — the datasheet a corpus release ships
    * with, as ONE composed query: volume, length profile, language
    * spread, rule-filter keep rate, and PII exposure per source. Both
    * signal passes ([[gopherRules]], [[redactPii]]) are map-only
    * projections, so the whole card is signal-scan + one grouped
    * aggregate: nothing wider than the documents table shuffles, and the
    * output is |sources| rows. */
  def dataCard(docs: DataFrame, idCol: String, textCol: String,
               srcCol: String, langCol: String, charsCol: String): DataFrame = {
    val keep = gopherRules(docs, textCol).select(F.col(idCol), F.col("keep"))
    val pii = redactPii(docs, idCol, textCol)
      .select(F.col(idCol),
        (F.col("n_emails") + F.col("n_ips") + F.col("n_longnums")).as("__pii"))
    docs.select(F.col(idCol), F.col(srcCol), F.col(langCol), F.col(charsCol))
      .join(keep, idCol).join(pii, idCol)
      .groupBy(F.col(srcCol))
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.round(F.avg(F.col(charsCol)), 4).as("mean_chars"),
        F.countDistinct(F.col(langCol)).as("n_langs"),
        F.round(F.avg(F.col("keep").cast("double")), 4).as("keep_rate"),
        F.sum(F.col("__pii")).cast("long").as("pii_hits"))
  }

  /** Token counts: whitespace split and a BPE-ish regex ([a-z0-9]+ runs). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("n_ws_tokens", F.size(tokArr(F.col(textCol))))
      .withColumn("n_re_tokens",
        F.size(F.regexp_extract_all(F.col(textCol), F.lit("[a-z0-9]+"), F.lit(0))))

  /** Repetition scoring (the Gopher-style "fraction of duplicated
    * n-grams" quality signal): per document, the total and distinct word
    * n-gram counts, the duplicated-gram fraction (1 − distinct/total) and
    * the most-frequent-gram fraction (top/total). High values flag
    * boilerplate/looping text. Two-level aggregation — (doc, gram) counts,
    * then per-doc rollup — both map-side combinable; docs shorter than `n`
    * tokens are dropped (no grams). */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    val arr = F.split(F.col(textCol), " ")
    val base = df.select(F.col(idCol).as(idCol), arr.as("__arr"))
      .withColumn("__len", F.size(F.col("__arr")))
      .filter(F.col("__len") >= n) // guards sequence(1, x<1) descending
      .withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("__len") - (n - 1))))
    val gram = F.concat_ws(" ",
      (0 until n).map(o => F.element_at(F.col("__arr"), F.col("__i") + o)): _*)
    base.select(F.col(idCol), gram.as("__gram"))
      .groupBy(F.col(idCol), F.col("__gram"))
      .agg(F.count(F.lit(1)).as("__cnt"))
      .groupBy(F.col(idCol))
      .agg(
        F.sum("__cnt").as("n_grams"),
        F.count(F.lit(1)).as("n_distinct_grams"),
        F.max("__cnt").as("__top"))
      .select(
        F.col(idCol),
        F.col("n_grams"),
        F.col("n_distinct_grams"),
        F.round(F.lit(1.0) - F.col("n_distinct_grams").cast("double") / F.col("n_grams").cast("double"), 4).as("dup_gram_ratio"),
        F.round(F.col("__top").cast("double") / F.col("n_grams").cast("double"), 4).as("top_gram_frac"))
  }

  /** CLUSTER keyword labeling — the "what is this topic cluster about"
    * step after embedding k-means: per cluster, the top-`k` terms by
    * cluster-level TF-IDF (ctf · ln((nClusters+1)/cdf), where cdf counts
    * the CLUSTERS containing the term — the smoothed c-TF-IDF form, so a
    * term in every topic keeps a small positive weight and frequency
    * still ranks it, instead of the unsmoothed form's all-zero
    * degenerate tie when the vocabulary is corpus-wide).
    * Input must carry `clusterCol` (e.g. the [[Similarity.nearestCell]]
    * assignment joined onto documents).
    *
    * Scale shape: two combinable aggregations (cluster×term, then term)
    * + a term-key join; the final window partitions by CLUSTER over a
    * vocab-bounded frame (|clusters| × |vocab| rows at most — vocabulary,
    * not corpus, sized; fine where a per-DOC window would not be). */
  def clusterKeywords(df: DataFrame, clusterCol: String, textCol: String,
                      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(F.col(clusterCol).as("cluster"),
      F.explode(F.split(F.col(textCol), " ")).as("term"))
    val ctf = toks.groupBy(F.col("cluster"), F.col("term"))
      .agg(F.count(F.lit(1)).as("ctf"))
    val cdf = ctf.groupBy(F.col("term")).agg(F.count(F.lit(1)).as("cdf"))
    val nc = ctf.agg(F.countDistinct(F.col("cluster")).as("__nc"))
    val scored = ctf.join(cdf, "term")
      .crossJoin(F.broadcast(nc))
      .withColumn("score",
        F.round(F.col("ctf") * F.log((F.col("__nc").cast("double") + 1.0) / F.col("cdf").cast("double")), 4))
    val w = Window.partitionBy(F.col("cluster"))
      .orderBy(F.col("score").desc, F.col("term").asc)
    scored.withColumn("rn", F.row_number().over(w).cast("long"))
      .filter(F.col("rn") <= k)
      .select("cluster", "term", "ctf", "cdf", "score", "rn")
  }

  /** TF-IDF top term per document: term frequency from a (doc, term)
    * rollup, document frequency from a second rollup over the tf pairs,
    * corpus size as a broadcast 1-row aggregate; score = tf · ln(N/df),
    * top term by (score desc, term asc). The classic relevance-weighting
    * shape: two combinable aggregations plus one join on the term key —
    * no step is driver-side, and df/tf are exact ints so the double math
    * is engine-deterministic. */
  def tfidfTopTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(
      F.col(idCol),
      F.explode(F.split(F.col(textCol), " ")).as("term"))
    val tf = toks.groupBy(F.col(idCol), F.col("term"))
      .agg(F.count(F.lit(1)).as("tf"))
    val dfreq = tf.groupBy(F.col("term"))
      .agg(F.count(F.lit(1)).as("df"))
    val n = df.agg(F.count(F.lit(1)).as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(F.broadcast(n))
      .withColumn("score",
        F.round(F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df").cast("double")), 4))
    val w = Window.partitionBy(F.col(idCol))
      .orderBy(F.col("score").desc, F.col("term").asc)
    scored
      .withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .select(F.col(idCol), F.col("term").as("top_term"), F.col("tf"), F.col("df"), F.col("score"))
  }

  /** BM25 lexical relevance of every document against a fixed query-term
    * set — the classic retrieval scorer, and the lexical half of the
    * contamination/retrieval toolkit next to the embedding ANN:
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Plan: one token explode filtered to the query terms (map-side), tiny
    * per-term df + corpus avgdl aggregates broadcast back — never a full
    * term×doc matrix. Output: (id, bm25) per document containing ≥1 query
    * term, rounded to 4 decimals. */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = df.select(F.col(idCol),
      F.explode(tokArr(F.col(textCol))).as("term"))
      .filter(F.col("term").isin(terms: _*))
    val tf = toks.groupBy(F.col(idCol), F.col("term"))
      .agg(F.count(F.lit(1)).as("tf"))
    val dfreq = tf.groupBy(F.col("term")).agg(F.count(F.lit(1)).as("df"))
    val stats = df.agg(
      F.count(F.lit(1)).as("__n"),
      F.avg(F.size(tokArr(F.col(textCol))).cast("double")).as("__avgdl"))
    val dl = df.select(F.col(idCol), F.size(tokArr(F.col(textCol))).cast("double").as("__dl"))
    val idf = F.log(
      (F.col("__n").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    // association mirrors the oracle SQL exactly: (1.0 - b) folds first,
    // then (b·dl)/avgdl — identical doubles in both engines
    val lenNorm = F.lit(1.0 - b) + (F.lit(b) * F.col("__dl")) / F.col("__avgdl")
    val partial = tf
      .join(F.broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(F.broadcast(stats))
      .withColumn("__s",
        idf * (F.col("tf") * F.lit(k1 + 1.0)) /
          (F.col("tf") + F.lit(k1) * lenNorm))
    partial.groupBy(F.col(idCol))
      .agg(F.round(F.sum(F.col("__s")), 4).as("bm25"))
  }

  /** PII redaction — the scrubbing pass every training corpus runs before
    * anything else sees the text. Three pattern families, each counted on
    * the ORIGINAL text (so counts are independent of replacement order)
    * and then replaced in a fixed sequence (emails first — an address
    * contains digit runs that must not be double-masked as numbers):
    * emails → `<EMAIL>`, dotted-quad IPs → `<IP>`, 7+-digit runs →
    * `<NUM>`. Patterns are deliberately RE2-safe (no lookaround, no
    * backrefs) so the same regex runs under Spark's Java engine and the
    * oracle's RE2. Map-only: one projection, no shuffle, codegen'd
    * regexp_replace/regexp_extract_all. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val longNumRe = "[0-9]{7,}"

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = F.col(textCol)
    def hits(re: String) = F.size(F.regexp_extract_all(t, F.lit(re), F.lit(0)))
    val redacted =
      F.regexp_replace(
        F.regexp_replace(
          F.regexp_replace(t, emailRe, "<EMAIL>"),
          ipv4Re, "<IP>"),
        longNumRe, "<NUM>")
    df.select(
      F.col(idCol),
      hits(emailRe).as("n_emails"),
      hits(ipv4Re).as("n_ips"),
      hits(longNumRe).as("n_longnums"),
      redacted.as("redacted"))
  }

  /** Top-k word n-grams per group — the corpus-statistics sweep (what
    * phrases dominate each source / language slice). Two map-side
    * combinable aggregations — (group, gram) counts, then a per-group
    * top-k window with a deterministic (count desc, gram asc) tiebreak.
    * The (group, gram) key space is bounded by vocabulary², not corpus
    * size, so the shuffle stays small at 100 TB; the per-group window
    * partitions by group key (never a single global partition). */
  def topNgramsPerGroup(df: DataFrame, groupCol: String, textCol: String,
                        n: Int = 2, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arr = tokArr(F.col(textCol))
    val base = df.select(F.col(groupCol), arr.as("__arr"))
      .withColumn("__len", F.size(F.col("__arr")))
      .filter(F.col("__len") >= n) // guards sequence(1, x<1) descending
      .withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("__len") - (n - 1))))
    val gram = F.concat_ws(" ",
      (0 until n).map(o => F.element_at(F.col("__arr"), F.col("__i") + o)): _*)
    val counts = base.select(F.col(groupCol), gram.as("gram"))
      .groupBy(F.col(groupCol), F.col("gram"))
      .agg(F.count(F.lit(1)).as("cnt"))
    val w = Window.partitionBy(F.col(groupCol))
      .orderBy(F.col("cnt").desc, F.col("gram").asc)
    counts.withColumn("rn", F.row_number().over(w).cast("long"))
      .filter(F.col("rn") <= k)
  }

  /** Bigram language-model perplexity scoring — the CCNet/Wikipedia-LM
    * quality filter: train an add-α-smoothed bigram model ON the corpus,
    * then score every document by its average negative log-likelihood
    * under that model. Text that "looks like the corpus" scores low;
    * gibberish, boilerplate, and wrong-language text score high —
    * exactly the signal pipelines threshold on before training.
    *
    *   P(w2|w1) = (C(w1,w2) + α) / (C(w1·) + α·V)
    *   avg_nll(d) = −(1/|d|) Σ ln P(w_i | w_{i−1})
    *
    * where C(w1·) counts w1 as a bigram prefix and V = |distinct second
    * words|. Train and serve are both distributed: bigram/prefix counts
    * are map-side-combinable aggregations over the exploded grams (key
    * space bounded by vocabulary², not corpus size), V is a broadcast
    * 1-row aggregate, and scoring is one join of the gram stream against
    * the count tables (AQE broadcasts them while the model fits; at
    * 100 TB the join shuffles on the gram key, which is exactly right).
    * Counts are exact ints, so the double math is engine-deterministic;
    * the per-doc ln-sum is rounded to 4 decimals (ulp-level libm drift
    * across ~10² terms is ~1e−13, far below the rounding grain). */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              alpha: Double = 0.5): DataFrame = {
    val base = df.select(F.col(idCol), F.split(F.col(textCol), " ").as("__arr"))
      .withColumn("__len", F.size(F.col("__arr")))
      .filter(F.col("__len") >= 2) // guards sequence(1, x<1) descending
      .withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("__len") - 1)))
    val grams = base.select(
      F.col(idCol),
      F.element_at(F.col("__arr"), F.col("__i")).as("w1"),
      F.element_at(F.col("__arr"), F.col("__i") + 1).as("w2"))
    val bg = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).as("__cbg"))
    val ctx = grams.groupBy("w1").agg(F.count(F.lit(1)).as("__cw1"))
    val vocab = grams.agg(F.countDistinct("w2").as("__v"))
    val lp = F.log(
      (F.col("__cbg").cast("double") + alpha) /
        (F.col("__cw1").cast("double") + F.col("__v").cast("double") * alpha))
    grams
      .join(bg, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(F.broadcast(vocab))
      .select(F.col(idCol), lp.as("__lp"))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_bigrams"),
        F.round(-F.sum("__lp") / F.count(F.lit(1)), 4).as("avg_nll"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, in bigram-LM form):
    * train the [[lmScore]] add-α model twice — on the `isTarget` subset
    * (the domain you want more of) and on the full corpus (background) —
    * and score every document under both. `log_ratio` = background NLL −
    * target NLL: positive means the document looks more like the target
    * domain than the average corpus document, which is exactly the
    * importance-resampling weight data-selection pipelines threshold or
    * sample against.
    *
    * Unlike [[lmScore]] (model trained on the scored corpus, every gram
    * present), the target model meets unseen grams, so the count joins are
    * LEFT joins with the smoothed floor α/(C+αV) via coalesce(·, 0). Both
    * models are the same two map-side-combinable count aggregates +
    * broadcast 1-row vocab; scoring is one pass over the gram stream with
    * the count tables attached by gram key. */
  def lmImportance(df: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, alpha: Double = 0.5): DataFrame = {
    val base = df.select(F.col(idCol), isTarget.as("__tgt"),
        F.split(F.col(textCol), " ").as("__arr"))
      .withColumn("__len", F.size(F.col("__arr")))
      .filter(F.col("__len") >= 2)
      .withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("__len") - 1)))
    val grams = base.select(F.col(idCol), F.col("__tgt"),
      F.element_at(F.col("__arr"), F.col("__i")).as("w1"),
      F.element_at(F.col("__arr"), F.col("__i") + 1).as("w2"))
    def model(g: DataFrame, sfx: String) = (
      g.groupBy("w1", "w2").agg(F.count(F.lit(1)).as(s"__cbg$sfx")),
      g.groupBy("w1").agg(F.count(F.lit(1)).as(s"__cw1$sfx")),
      g.agg(F.countDistinct("w2").as(s"__v$sfx")))
    val (tb, tc, tv) = model(grams.filter(F.col("__tgt")), "_t")
    val (bb, bc, bv) = model(grams, "_b")
    def lp(cbg: String, cw1: String, v: String) = F.log(
      (F.coalesce(F.col(cbg), F.lit(0L)).cast("double") + alpha) /
        (F.coalesce(F.col(cw1), F.lit(0L)).cast("double") +
          F.col(v).cast("double") * alpha))
    grams
      .join(tb, Seq("w1", "w2"), "left").join(tc, Seq("w1"), "left")
      .crossJoin(F.broadcast(tv))
      .join(bb, Seq("w1", "w2"), "left").join(bc, Seq("w1"), "left")
      .crossJoin(F.broadcast(bv))
      .select(F.col(idCol),
        lp("__cbg_t", "__cw1_t", "__v_t").as("__lpt"),
        lp("__cbg_b", "__cw1_b", "__v_b").as("__lpb"))
      .groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("n_bigrams"),
        F.round(-F.sum("__lpt") / F.count(F.lit(1)), 4).as("nll_target"),
        F.round(-F.sum("__lpb") / F.count(F.lit(1)), 4).as("nll_background"))
      .withColumn("log_ratio",
        F.round(F.col("nll_background") - F.col("nll_target"), 4))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS local
    * fingerprinting scheme): polynomial hashes of the character k-grams of
    * the canonicalized text, then the minimum hash of each sliding window
    * of `w` k-grams; the distinct selected minima are the fingerprint.
    * Guarantees: any shared substring of length ≥ k + w − 1 contributes at
    * least one common selected hash, so partial overlap survives edits the
    * way whole-document hashes don't. Emits the k-gram count, selected
    * count and the fingerprint-set checksum — per-row column algebra, no
    * shuffle, the per-doc signature a copy-detection join keys on.
    *
    * Hash: Σ ascii(c)·31^j over the k chars, mod 1000003 — small enough
    * that the unreduced sum stays far below 2^63 (< 1.3e8), so a single
    * final mod matches any engine's unrolled form literal-for-literal. */
  def winnow(df: DataFrame, idCol: String, textCol: String): DataFrame =
    winnowSets(df, idCol, textCol)
      .select(F.col(idCol),
        F.greatest(F.col("__nk"), F.lit(0)).as("n_kgrams"),
        F.size(F.col("__sel")).as("n_selected"),
        F.aggregate(F.col("__sel"), F.lit(0L), (a, x) => a + x).as("fp_checksum"))

  /** Copy-detection candidate pairs over the [[winnow]] fingerprints:
    * documents whose fingerprint CONTAINMENT — shared selected hashes over
    * the smaller set — reaches `minOverlap`. The winnowing guarantee makes
    * this a substring-overlap detector (any shared run of ≥ k+w−1 chars
    * plants a common hash), complementing MinHash (set Jaccard) and
    * SimHash (weighted profile) in the dedup family; the RELATIVE
    * threshold is what keeps it selective on boilerplate-heavy corpora,
    * where an absolute shared-count floor passes nearly every pair
    * (measured on the template fixture: median pair shares 24 hashes, but
    * only 0.05% reach 0.8 containment). Join physics as in the LSH bucket
    * joins: the slim exploded posting list — materialized once, the
    * self-join would replay the derivation per side — shuffles on the
    * hash key, so pairs form only within a hash's posting list, then one
    * combinable count per pair. */
  /** The df-CAPPED posting frame `(id, h, ns)` the pair self-join reads —
    * exposed pre-checkpoint so PlanSpec can assert the cap sits UPSTREAM
    * of the self-join (the checkpoint hides it from the final plan).
    *
    * MOSS's over-common-fingerprint drop, made quantitative: a hash in
    * more than maxDfFrac of the corpus is boilerplate, not copy evidence,
    * and its posting list is what turns the hash join quadratic (measured
    * at sf0.1: 612M joined rows uncapped, 2.6M at the 5% cap — and the
    * hot-list blowup grows with corpus scale, the cap bounds it). The
    * floor of 2 keeps an exact pair detectable in tiny corpora. */
  private[graft] def winnowPostings(df: DataFrame, idCol: String, textCol: String,
                                    maxDfFrac: Double): DataFrame = {
    // materialize the per-doc fingerprint ARRAYS, then explode: a Generate
    // whose input is the derived zip_with tree runs ~10x slower than one
    // reading a materialized array column (measured 11.7 s vs 1.3 s at
    // sf0.1), and the slim (id, set) frame is also what the self-join's
    // two explodes re-read without replaying the derivation
    val setsMat = winnowSets(df, idCol, textCol)
      .select(F.col(idCol).as("id"), F.col("__sel")).pin()
    val keyed = setsMat.select(F.col("id"), F.explode(F.col("__sel")).as("h"))
    val nDocs = df.agg(F.count(F.lit(1)).as("__n"))
    val rare = keyed.groupBy("h").agg(F.count(F.lit(1)).as("__df"))
      .crossJoin(F.broadcast(nDocs))
      .filter(F.col("__df") <=
        F.greatest(F.lit(2L), F.ceil(F.lit(maxDfFrac) * F.col("__n"))))
      .select("h")
    val filtered = keyed.join(rare, "h")
    // containment denominators over the SURVIVING (discriminative) sets
    val ns = filtered.groupBy("id").agg(F.count(F.lit(1)).as("ns"))
    filtered.join(ns, "id")
  }

  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  minOverlap: Double = 0.8, maxDfFrac: Double = 0.05): DataFrame = {
    val posting = winnowPostings(df, idCol, textCol, maxDfFrac).pin()
    posting.as("x").join(posting.as("y"), "h")
      .filter(F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("a"), F.col("y.id").as("b"),
        F.col("x.ns").as("na"), F.col("y.ns").as("nb"))
      .groupBy("a", "b")
      // __sel is per-doc distinct, so (a, b, h) rows are already unique:
      // plain count IS the distinct shared-hash count; ns is functionally
      // determined by the id, so max() just carries it through
      .agg(F.count(F.lit(1)).as("n_shared"),
        F.max(F.col("na")).as("__na"), F.max(F.col("nb")).as("__nb"))
      .withColumn("overlap", F.round(F.col("n_shared").cast("double") /
        F.least(F.col("__na"), F.col("__nb")).cast("double"), 4))
      .filter(F.col("overlap") >= minOverlap)
      .select("a", "b", "n_shared", "overlap")
  }

  /** The selected-hash sets behind [[winnow]] — `(id, __nk, __sel)`; the
    * set form is what a copy-detection candidate join explodes on, and
    * what the overlap-guarantee spec asserts against. */
  private[graft] def winnowSets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val k = 5; val w = 4
    // Every array is passed to its higher-order function as a DIRECT
    // argument, never referenced inside a lambda body: an outer-column
    // reference in a lambda gets its defining expression spliced in by
    // CollapseProject and re-evaluated per element (measured: the
    // element_at(chars, i+j) form re-ran the 600-way split per kgram per
    // char — minutes per 500 docs; this zip_with-over-shifted-slices form
    // evaluates each array once per row — sub-second). The fold order
    // ((((c1·31+c2)·31+c3)·31+c4)·31+c5) mod M is unchanged, so the
    // oracle mirror holds literal-for-literal.
    val canon = F.lower(F.trim(F.col(textCol)))
    val base = df.select(F.col(idCol),
      (F.length(canon) - (k - 1)).as("__nk"),
      F.transform(F.split(canon, ""), c => F.ascii(c).cast("long")).as("__c"))
    val withH = base.withColumn("__h",
      F.when(F.col("__nk") >= 1, {
        def s(o: Int) = F.slice(F.col("__c"), F.lit(o), F.col("__nk"))
        val acc1 = F.zip_with(s(1), s(2), (a, b) => a * 31L + b)
        val acc2 = F.zip_with(acc1, s(3), (a, b) => a * 31L + b)
        val acc3 = F.zip_with(acc2, s(4), (a, b) => a * 31L + b)
        F.zip_with(acc3, s(5), (a, b) => (a * 31L + b) % 1000003L)
      }).otherwise(F.array().cast("array<bigint>")))
    withH
      .withColumn("__nw", F.col("__nk") - (w - 1))
      .withColumn("__mins", F.when(F.col("__nw") >= 1, {
          def t(o: Int) = F.slice(F.col("__h"), F.lit(o), F.col("__nw"))
          F.zip_with(F.zip_with(F.zip_with(t(1), t(2), F.least(_, _)),
            t(3), F.least(_, _)), t(4), F.least(_, _))
        }).otherwise(F.array().cast("array<bigint>")))
      .withColumn("__sel", F.array_distinct(F.col("__mins")))
      .select(F.col(idCol), F.col("__nk"), F.col("__sel"))
  }

  /** Document fingerprints: `md5_fp` over the canonicalized text (lower,
    * trimmed) and `pos_fp`, an order-sensitive positional checksum —
    * Σ_i i·(ascii(first char of token_i) + len(token_i)) mod 1000003 — a
    * rolling-hash-style signature that distinguishes permutations, unlike
    * a bag-of-words hash. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = tokArr(F.lower(F.trim(F.col(textCol))))
    val terms = F.zip_with(
      arr,
      F.sequence(F.lit(1), F.size(arr)),
      (tok, i) => i.cast("long") * (F.ascii(F.substring(tok, 1, 1)).cast("long") + F.length(tok).cast("long")))
    df.select(
      F.col(idCol),
      F.md5(F.lower(F.trim(F.col(textCol)))).as("md5_fp"),
      (F.aggregate(terms, F.lit(0L), (acc, x) => acc + x) % 1000003L).as("pos_fp"))
  }

  /** ZIPF rank-frequency fit (Zipf 1949): OLS slope of ln(freq) on
    * ln(rank) over the top-N vocabulary — natural language sits near
    * slope −1, and a corpus that doesn't (synthetic text, boilerplate
    * floods, truncated vocab) fails the cheapest distributional sanity
    * check there is. `zipf_r` is the fit's Pearson r: |r| near 1 says
    * the corpus is actually power-law, not merely sloped.
    *
    * One token-count scan, then ONE bounded-heap top-N aggregate (never
    * a vocabulary sort); ranks are positional over the (count desc,
    * term desc) struct order — fully deterministic, ties included — and
    * all five regression sums accumulate as ordered window sums over
    * the N-row rank axis, so the mirror replays them bit-for-bit.
    *
    * Output: ONE row — (n_terms, zipf_slope round 6, zipf_r round 6);
    * NULL slope/r when fewer than two distinct ranks carry variance. */
  /** FLESCH readability (Flesch, J. Appl. Psych. 1948) + Flesch–Kincaid
    * grade level (Kincaid et al. 1975) — the standard "how hard is this
    * text" scores a curation pipeline buckets documents by:
    *
    *   ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    *   grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    *
    * with W whitespace words, S sentence-ending punctuation runs
    * (floored at 1), and syllables the per-word count of [aeiouy]+
    * vowel-group runs floored at 1 (the classic heuristic; zero-vowel
    * tokens like numbers still cost one beat — the FLOOR is per word,
    * not on the total, which is why the counting folds word-by-word).
    *
    * Entirely map-only in-row folds — no explode, no shuffle; all three
    * counts are exact integers, the scores fixed-shape IEEE rounded 4.
    * Empty texts report zero counts with NULL scores. Output: (id,
    * words, sentences, syllables, flesch, fk_grade). */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = F.filter(F.split(F.lower(F.col(textCol)), " "), w => w =!= "")
    val syl = "aggregate(__ws, cast(0 as bigint), (a, w) -> " +
      "a + greatest(cast(1 as bigint), cast(size(regexp_extract_all(w, '[aeiouy]+', 0)) as bigint)))"
    df.filter(F.col(textCol).isNotNull)
      .withColumn("__ws", words)
      .withColumn("__w", F.size(F.col("__ws")).cast("long"))
      .withColumn("__s", F.greatest(F.lit(1),
        F.regexp_count(F.col(textCol), F.lit("[.!?]+"))).cast("long"))
      .withColumn("__sy", F.expr(syl))
      .withColumn("__wps", F.col("__w").cast("double") / F.col("__s"))
      .withColumn("__spw", F.when(F.col("__w") > 0,
        F.col("__sy").cast("double") / F.col("__w")))
      .select(F.col(idCol),
        F.col("__w").as("words"), F.col("__s").as("sentences"),
        F.col("__sy").as("syllables"),
        (F.round(F.lit(206.835) - F.lit(1.015) * F.col("__wps")
          - F.lit(84.6) * F.col("__spw"), 4) + F.lit(0.0)).as("flesch"),
        (F.round(F.lit(0.39) * F.col("__wps") + F.lit(11.8) * F.col("__spw")
          - 15.59, 4) + F.lit(0.0)).as("fk_grade"))
  }

  def zipfFit(df: DataFrame, textCol: String, topN: Int = 200): DataFrame =
    zipfFitFromCounts(
      df.select(F.explode(F.split(F.col(textCol), " ")).as("term"))
        .filter(F.col("term") =!= "")
        .groupBy("term").agg(F.count(F.lit(1)).as("c")), topN)

  /** [[zipfFit]] over a pre-aggregated (term, c) count frame — the
    * mergeable summary: term counts are plain sums, and the top-N heap
    * and the ordered regression sums are functions of the merged counts
    * alone, so merged counts give the row form's result bit-for-bit. */
  def zipfFitFromCounts(counts: DataFrame, topN: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = counts.agg(graft.functions.TopK.collectTopK(
        F.struct(F.col("c"), F.col("term")), topN).as("__tk"))
      .select(F.posexplode(F.col("__tk")).as(Seq("__pos", "__e")))
      .select((F.col("__pos") + 1).cast("long").as("rank"), F.col("__e.c").as("c"))
    val w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val acc = top
      .withColumn("lx", F.log(F.col("rank").cast("double")))
      .withColumn("ly", F.log(F.col("c").cast("double")))
      .withColumn("sx", F.sum("lx").over(w))
      .withColumn("sy", F.sum("ly").over(w))
      .withColumn("sxy", F.sum(F.col("lx") * F.col("ly")).over(w))
      .withColumn("sxx", F.sum(F.col("lx") * F.col("lx")).over(w))
      .withColumn("syy", F.sum(F.col("ly") * F.col("ly")).over(w))
      .withColumn("__rn", F.row_number().over(Window.orderBy(F.col("rank").desc)))
      .filter(F.col("__rn") === 1)
    val nd = F.col("rank").cast("double")
    val den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    val vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    acc.select(F.col("rank").as("n_terms"),
      (F.round(F.when(den > 0,
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / den), 6)
        + F.lit(0.0)).as("zipf_slope"),
      (F.round(F.when(den * vy > 0,
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(den * vy)), 6)
        + F.lit(0.0)).as("zipf_r"))
  }

  /** VOCABULARY COVERAGE — "how much of this corpus's vocabulary have
    * we actually seen?": the Good–Turing unseen-mass estimate (Good,
    * Biometrika 1953) P(next token is a NEW type) = f₁/N, and the
    * Chao1 richness floor (Chao, Scand. J. Stat. 1984)
    * V̂ = V + f₁²/(2f₂) — the sampling-theory answer to "is more data
    * still buying new vocabulary", the curation read before deciding a
    * source is mined out. Everything folds from the frequency-of-
    * frequencies frame (how many types occur exactly k times), which is
    * TWO grouped counts off the term frame — counts are exact BIGINTs,
    * the two estimates one fixed-shape IEEE line each. Chao1 uses the
    * bias-corrected form f₁(f₁−1)/(2(f₂+1)) when f₂ = 0 would blow the
    * classic one; coverage = 1 − f₁/N (Turing's estimate of the seen
    * mass). Output: one row — (n_tokens, n_types, f1, f2, coverage,
    * p_unseen, chao1), round 6 / chao1 round 2. */
  def vocabCoverage(df: DataFrame, textCol: String): DataFrame =
    vocabCoverageFromCounts(
      df.select(F.explode(F.split(F.col(textCol), " ")).as("term"))
        .filter(F.col("term") =!= "")
        .groupBy("term").agg(F.count(F.lit(1)).as("c")))

  /** [[vocabCoverage]] over a pre-aggregated (term, c) count frame —
    * the zipfFit summary, so the streaming twin shares its store. */
  def vocabCoverageFromCounts(counts: DataFrame): DataFrame =
    counts
      .groupBy(F.col("c").as("k"))
      .agg(F.count(F.lit(1)).as("fk"))
      .agg(
        F.sum(F.col("k") * F.col("fk")).as("n_tokens"),
        F.sum("fk").as("n_types"),
        F.sum(F.when(F.col("k") === 1, F.col("fk")).otherwise(F.lit(0L))).as("f1"),
        F.sum(F.when(F.col("k") === 2, F.col("fk")).otherwise(F.lit(0L))).as("f2"))
      .filter(F.col("n_tokens").isNotNull) // empty corpus -> EMPTY, not a NULL row
      .select(F.col("n_tokens"), F.col("n_types"), F.col("f1"), F.col("f2"),
        (F.round(F.lit(1.0) - F.col("f1").cast("double") / F.col("n_tokens"), 6)
          + F.lit(0.0)).as("coverage"),
        (F.round(F.col("f1").cast("double") / F.col("n_tokens"), 6)
          + F.lit(0.0)).as("p_unseen"),
        (F.round(F.col("n_types") + F.when(F.col("f2") > 0,
          F.col("f1").cast("double") * F.col("f1") / (F.lit(2.0) * F.col("f2")))
          .otherwise(F.col("f1").cast("double") * (F.col("f1") - 1)
            / (F.lit(2.0) * (F.col("f2") + 1))), 2) + F.lit(0.0)).as("chao1"))

  /** CROSS-SOURCE VOCABULARY OVERLAP — pairwise Jaccard and containment
    * of the sources' TYPE sets: "are these two crawls the same corpus
    * wearing different names" (near-duplicate sources waste mixing
    * budget and leak dedup across splits) vs "is this source genuinely
    * new vocabulary". The type-set frame is one DISTINCT over (group,
    * term); intersections fold from a TERM-KEYED self-join (hot terms
    * fan out groups² per term — the group vocabulary, bounded), sizes
    * from one grouped count, and the pair universe comes from the
    * sizes² frame so ZERO-overlap pairs still report 0 rather than
    * vanishing. All counts exact BIGINTs; Jaccard and containment
    * (∩ / min — the "subset detector": 1.0 means the smaller source is
    * contained) are one IEEE division each. Output: one row per
    * unordered group pair — (g1, g2, v1, v2, n_inter, jaccard,
    * containment), round 6. */
  def vocabOverlap(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val ts = df.filter(F.col(groupCol).isNotNull && F.col(textCol).isNotNull)
      .select(F.col(groupCol).as("g"),
        F.explode(F.split(F.col(textCol), " ")).as("term"))
      .filter(F.col("term") =!= "")
      .distinct()
      .pin() // feeds sizes AND both sides of the self-join
    val sizes = ts.groupBy("g").agg(F.count(F.lit(1)).as("nv"))
    val inter = ts.select(F.col("g").as("g1"), F.col("term"))
      .join(ts.select(F.col("g").as("g2"), F.col("term")), Seq("term"))
      .filter(F.col("g1") < F.col("g2"))
      .groupBy("g1", "g2").agg(F.count(F.lit(1)).as("__ni"))
    val pairs = sizes.select(F.col("g").as("g1"), F.col("nv").as("v1"))
      .join(sizes.select(F.col("g").as("g2"), F.col("nv").as("v2")),
        F.col("g1") < F.col("g2"))
    pairs.join(inter, Seq("g1", "g2"), "left")
      .withColumn("n_inter", F.coalesce(F.col("__ni"), F.lit(0L)))
      .select(F.col("g1"), F.col("g2"), F.col("v1"), F.col("v2"), F.col("n_inter"),
        (F.round(F.col("n_inter").cast("double")
          / (F.col("v1") + F.col("v2") - F.col("n_inter")), 6)
          + F.lit(0.0)).as("jaccard"),
        (F.round(F.col("n_inter").cast("double")
          / F.least(F.col("v1"), F.col("v2")), 6)
          + F.lit(0.0)).as("containment"))
  }
}
