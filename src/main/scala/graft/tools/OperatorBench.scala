package graft.tools

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.operators._

/** Operator-level evidence bench: each scale-sensitive operator measured
  * against its naive formulation on the same inputs — the numbers behind
  * the plan choices (two-phase prefix sums, wide one-pass signatures,
  * df-capped in-row pair explosion, IVF+PQ search). One JSON line per
  * comparison on stdout. */
object OperatorBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    docs.count(); emb.count() // warm

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def report(op: String, naive: => Long, optimized: => Long): Unit = {
      val (tn, nn) = time(naive)
      val (to, no) = time(optimized)
      require(nn == no, s"$op: result cardinality diverged ($nn vs $no)")
      println(f"""{"op":"$op","rows":$nn,"naive_sec":$tn%.2f,"optimized_sec":$to%.2f,"speedup":${tn / to}%.1f}""")
    }

    // 1. sequence packing: single-partition global window vs two-phase
    val tokDocs = docs.withColumn("n_tokens", F.size(F.split(F.col("text"), " ")).cast("long"))
    def packNaive: Long = {
      val w = Window.orderBy(F.col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
      tokDocs.withColumn("pack_id",
        F.floor(F.coalesce(F.sum(F.col("n_tokens")).over(w), F.lit(0L)) / 2048L).cast("long"))
        .groupBy("pack_id").count().count()
    }
    def packTwoPhase: Long =
      DataShaping.packSequences(tokDocs, "doc_id", "n_tokens", 2048L)
        .groupBy("pack_id").count().count()
    report("pack_sequences", packNaive, packTwoPhase)

    // 2. minhash candidates: explode x k signatures vs wide one-pass
    val shingles = Dedup.wordShingles(docs, "doc_id", "text")
    def minhashNaive: Long =
      Dedup.candidatePairs(Dedup.lshBuckets(Dedup.minhashSignatures(shingles))).count()
    def minhashWide: Long = Dedup.minhashCandidates(docs, "doc_id", "text").count()
    report("minhash_candidates", minhashNaive, minhashWide)

    // 3. jaccard pairs: shingle self-join vs df-capped in-row explosion
    // (df cap above the corpus max so both compute the identical result)
    def jaccardSelfJoin: Long = {
      val sizes = shingles.groupBy(F.col("doc")).agg(F.count(F.lit(1)).as("sz"))
      val shared2 = shingles.groupBy(F.col("shingle"))
        .agg(F.count(F.lit(1)).as("__n")).filter(F.col("__n") >= 2).select("shingle")
      val pruned = shingles.join(shared2, Seq("shingle"), "left_semi")
      val a = pruned.select(F.col("shingle"), F.col("doc").as("a"))
      val b = pruned.select(F.col("shingle"), F.col("doc").as("b"))
      val shared = a.join(b, "shingle").filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a"), F.col("b")).agg(F.count(F.lit(1)).as("shared"))
      shared
        .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn("jaccard", F.round(F.col("shared").cast("double") /
          (F.col("sza") + F.col("szb") - F.col("shared")).cast("double"), 4))
        .filter(F.col("jaccard") >= 0.05).count()
    }
    // maxDf far above the corpus max df: identical results, but routed
    // through the bounded in-row pair-explosion plan (the uncapped default
    // deliberately falls back to the distributed self-join)
    def jaccardInRow: Long = Dedup.jaccardPairs(shingles, 0.05, maxDf = 1000000L).count()
    report("jaccard_pairs", jaccardSelfJoin, jaccardInRow)

    // 4. self-ANN top-3: brute-force all-pairs vs the composed IVF+PQ
    // QUERY phase against a pre-trained model (training and PQ encoding
    // are offline index-build steps in deployment, amortized over every
    // query batch — timing them per query would charge the index build to
    // each lookup). Both emit N·k rows; IVF+PQ trades ~25% recall for
    // doing only shortlist/N of the dim-wide work — the 100 TB knob.
    val (ivfCents, pqBooks) = Similarity.trainIvfPqModel(
      emb, "vec_id", "embedding", nCentroids = 8, m = 16, kCodes = 16)
    def annBrute: Long =
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3).count()
    def annIvfPq: Long =
      Similarity.ivfPqTopKWithModel(emb, "vec_id", "embedding", ivfCents, pqBooks,
        nprobe = 5, shortlist = 24, k = 3).count()
    report("ivf_pq_ann", annBrute, annIvfPq)

    // 5. persisted-index serving (train-rarely/encode-always): retrain the
    // IVF+PQ model inside every query run (what a one-shot batch job does)
    // vs serve from the AnnIndexStore codes table built ONCE — the per-run
    // delta is the whole train+encode cost, which on a 100 TB append
    // corpus is paid per model refresh, not per search.
    val idxDir = java.nio.file.Files.createTempDirectory("opbench_ann_index_").toString
    val idx = new AnnIndexStore(spark, idxDir)
    idx.build(emb, "vec_id", "embedding", nCentroids = 8, m = 16, kCodes = 16)
    def annTrainServe: Long =
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", nCentroids = 8, nprobe = 5,
        m = 16, kCodes = 16, shortlist = 24, k = 3).count()
    def annIndexServe: Long =
      idx.search(emb, "vec_id", "embedding", nprobe = 5, shortlist = 24, k = 3).count()
    report("ann_index_serve", annTrainServe, annIndexServe)

    // 6. simhash band width: candidate volume from 4-bit bands over the
    // 16-bit fingerprint vs 16-bit bands over the 64-bit fingerprint.
    // (The verified pair sets differ — a wider print is strictly more
    // precise — so this reports candidate:verified selectivity, not an
    // equal-cardinality race: the 4-bit bands' 16 bucket values per band
    // drive candidates toward N²/16 while 65,536-value bands stay sparse.)
    def bandCands(fp: DataFrame, cols: Seq[String], bandOf: Int => Column): Long = {
      val banded = fp.select(F.col("doc") +: cols.map(F.col) :+
        F.explode(F.array((0 until 4).map(b =>
          F.struct(F.lit(b).as("bi"), bandOf(b).as("bval"))): _*)).as("e"): _*)
        .select(F.col("doc"), F.col("e.bi").as("bi"), F.col("e.bval").as("bval"))
      banded.as("x").join(banded.as("y"),
          F.col("x.bi") === F.col("y.bi") && F.col("x.bval") === F.col("y.bval") &&
            F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").as("a"), F.col("y.doc").as("b")).distinct().count()
    }
    val fp16 = Dedup.simhash(docs, "doc_id", "text", bits = 16)
    val cand16 = bandCands(fp16, Seq("simhash"), b =>
      F.shiftright(F.col("simhash"), b * 4).bitwiseAND(15L))
    val fp64 = Dedup.simhash64(docs, "doc_id", "text")
    val cand64 = bandCands(fp64, Seq("sh_lo", "sh_hi"), b =>
      F.shiftright(if (b < 2) F.col("sh_lo") else F.col("sh_hi"), (b % 2) * 16)
        .bitwiseAND(65535L))
    val verified64 = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count()
    val nDocs = docs.count()
    println(s"""{"op":"simhash_banding","docs":$nDocs,"cand_16bit_4bit_bands":$cand16,""" +
      s""""cand_64bit_16bit_bands":$cand64,"verified_hamming_le3":$verified64,""" +
      s""""cand_reduction":${if (cand64 > 0) cand16.toDouble / cand64 else cand16.toDouble}}""")

    spark.stop()
  }
}
