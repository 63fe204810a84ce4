package graft

import java.nio.file.Files

import graft.functions.BloomSupport
import graft.operators.{Dedup, IncrementalDedup}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftnative.BloomFunctions
import org.apache.spark.util.sketch.BloomFilter

/** The bloom pre-pass on the incremental-dedup store: sidecar filters are a
  * SUPERSET of the stored keys (no false negatives ever), so filtering the
  * collision semi-join's probe side by bloom membership is result-identical
  * to the full join — only cheaper. */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private val textA = "the quick brown fox jumps over the lazy dog again and again"
  private val textB = "completely different content about spark engines and shuffles here today"
  private val textC = "yet another unrelated document concerning parquet footers and row groups"
  private val textD = "further fresh material on watermarks, triggers and stateful operators"

  private def freshStore() = {
    val st = new IncrementalDedup.BucketStore(
      spark, Files.createTempDirectory("graft-bloom").toString)
    st.init()
    st
  }

  it("bloom-filtered and full-join stores yield identical survivors across batches and replays") {
    val bloomed = freshStore()
    // legacy store: give it the parquet dir but never the marker, by
    // writing the empty table shape the old format had (no init())
    val legacyDir = Files.createTempDirectory("graft-bloom-legacy").toString
    val legacy = new IncrementalDedup.BucketStore(spark, legacyDir)
    Seq.empty[(Long, Int, String, Long)].toDF("doc", "band", "key", "batch_id")
      .write.parquet(s"$legacyDir/minhash_buckets")
    bloomed.bloom.isDefined shouldBe true
    legacy.bloom shouldBe None

    val batches = Seq(
      Seq((1L, textA), (2L, textA), (3L, textB)),
      Seq((10L, textA), (11L, textC), (12L, textC)),
      Seq((10L, textA), (11L, textC), (12L, textC)), // replay of batch 2
      Seq((20L, textD), (21L, textB)))
    for ((rows, i) <- batches.zipWithIndex) {
      val df = rows.toDF("doc_id", "text")
      val a = IncrementalDedup.dedupBatchIdempotent(
        df, bloomed, "doc_id", "text", batchId = i.toLong)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val b = IncrementalDedup.dedupBatchIdempotent(
        df, legacy, "doc_id", "text", batchId = i.toLong)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      withClue(s"batch $i: ") { a shouldBe b.toSeq }
    }
  }

  it("every stored key is bloom-positive after appends (the superset invariant)") {
    val st = freshStore()
    IncrementalDedup.dedupBatch(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), st, "doc_id", "text")
    IncrementalDedup.dedupBatch(
      Seq((3L, textC)).toDF("doc_id", "text"), st, "doc_id", "text")
    val bos = new java.io.ByteArrayOutputStream()
    st.bloom.get.writeTo(bos)
    val misses = st.buckets
      .filter(!BloomSupport.mightContain(
        F.lit(bos.toByteArray),
        F.concat_ws("", F.col("band").cast("string"), F.col("key"))))
      .count()
    misses shouldBe 0L
  }

  it("a fresh store's empty bloom rejects every probe (exact for an empty store)") {
    val st = freshStore()
    val bos = new java.io.ByteArrayOutputStream()
    st.bloom.get.writeTo(bos)
    val buckets = Dedup.minhashBuckets(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), "doc_id", "text")
    val positives = buckets
      .filter(BloomSupport.mightContain(
        F.lit(bos.toByteArray),
        F.concat_ws("", F.col("band").cast("string"), F.col("key"))))
      .count()
    positives shouldBe 0L
  }

  it("compactBlooms folds sidecars into one file without changing results") {
    val st = freshStore()
    for ((id, t) <- Seq((1L, textA), (2L, textB), (3L, textC)))
      IncrementalDedup.dedupBatch(Seq((id, t)).toDF("doc_id", "text"), st, "doc_id", "text")
    st.compactBlooms()
    // superset invariant survives compaction
    val bos = new java.io.ByteArrayOutputStream()
    st.bloom.get.writeTo(bos)
    st.buckets
      .filter(!BloomSupport.mightContain(
        F.lit(bos.toByteArray),
        F.concat_ws("", F.col("band").cast("string"), F.col("key"))))
      .count() shouldBe 0L
    // and collision behavior is unchanged: replays/near-dups still drop
    IncrementalDedup.dedupBatch(
      Seq((10L, textA), (11L, textD)).toDF("doc_id", "text"), st, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(11L)
  }

  it("bloomAgg/mightContain round-trip: all inserted keys positive, disjoint keys mostly negative") {
    val keys = (0 until 2000).map(i => s"key-$i").toDF("k")
    val bytes = keys.select(BloomSupport.bloomAgg(F.col("k"),
      IncrementalDedup.BloomItems, IncrementalDedup.BloomBits)).head.getAs[Array[Byte]](0)
    // no false negatives, by construction
    keys.filter(!BloomSupport.mightContain(F.lit(bytes), F.col("k")))
      .count() shouldBe 0L
    // false positives bounded: 2k items in 2^23 bits is far under the
    // nominal 2% sizing — allow a loose 1% on disjoint probes
    val other = (0 until 2000).map(i => s"other-$i").toDF("k")
    val fp = other.filter(BloomSupport.mightContain(F.lit(bytes), F.col("k"))).count()
    fp.toDouble / 2000 should be < 0.01
  }

  // The daemon store's sidecar constants (ParquetEventStore): 2^20 items in 2^23 bits.
  private val (items, bits) = (1L << 20, 1L << 23)
  private def guids(prefix: String, n: Int) = (0 until n).map(i => s"$prefix-$i-\u00e9")

  /** A filter of the store's sizing holding `keys`, put on the driver, as bytes. */
  private def driverBytes(keys: Seq[String]): Array[Byte] = {
    val bf = BloomFilter.create(items, bits)
    BloomFunctions.putDriver(bf, keys)
    BloomFunctions.toBytes(bf)
  }

  it("putDriver puts the bits bloomAgg puts over the same keys, whatever the partitioning") {
    val keys = guids("g", 3000)
    val agg = keys.toDF("k").repartition(5)
      .select(BloomFunctions.bloomAgg(F.col("k"), items, bits)).head.getAs[Array[Byte]](0)
    driverBytes(scala.util.Random.shuffle(keys)) shouldBe agg
  }

  it("hashDriver is Spark's xxhash64 of the string key") {
    val keys = guids("h", 200) ++ Seq("", "a", "\u2603 snow")
    val spark64 = keys.toDF("k").select($"k", F.xxhash64($"k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach(k => withClue(k)(BloomFunctions.hashDriver(k) shouldBe spark64(k)))
  }

  it("hashDriver of a NULL key is xxhash64's seed, as the column side hashes it") {
    val col = Seq(Option.empty[String]).toDF("k").select(F.xxhash64($"k")).head.getLong(0)
    BloomFunctions.hashDriver(null) shouldBe col
    col shouldBe 42L
  }

  it("putDriver into a filter read back from a sidecar is the union: the bytes of one filter built over both key sets") {
    val (a, b) = (guids("a", 500), guids("b", 700))
    val agg = (keys: Seq[String]) => keys.toDF("k")
      .select(BloomFunctions.bloomAgg(F.col("k"), items, bits)).head.getAs[Array[Byte]](0)
    val held = BloomFilter.readFrom(agg(a))
    BloomFunctions.putDriver(held, b)
    BloomFunctions.toBytes(held) shouldBe agg(a ++ b)
  }
}
