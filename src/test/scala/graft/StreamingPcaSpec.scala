package graft

import org.apache.spark.sql.{functions => F}

import graft.operators.Pca
import graft.streaming.StreamingPca

/** Streaming moments/PCA: mergeable-sum partials re-derive the exact
  * batch board across restarts. */
class StreamingPcaSpec extends SparkSpec {
  import spark.implicits._

  it("streamed moment partials across a restart yield the batch covariance and components") {
    import java.nio.file.{Files => JFiles, Paths}
    val r = new scala.util.Random(41)
    val dim = 4
    val all = (1 to 240).map { i =>
      val a = r.nextGaussian() * 10; val b = r.nextGaussian() * 2
      (i.toLong, Seq((a + b).toFloat, (a - b).toFloat, b.toFloat, r.nextFloat()))
    }
    val inDir = JFiles.createTempDirectory("graft-pca-in").toString
    val ckpt = JFiles.createTempDirectory("graft-pca-ckpt").toString
    val mDir = JFiles.createTempDirectory("graft-pca-moments").toString
    def write(name: String, part: Seq[(Long, Seq[Float])]): Unit =
      JFiles.writeString(Paths.get(inDir, name),
        part.map { case (id, v) => s"$id,${v.mkString(";")}" }.mkString("\n"))
    val src = () => spark.readStream.text(inDir)
      .select(F.split(F.col("value"), ",").getItem(1).as("raw"))
      .select(F.transform(F.split(F.col("raw"), ";"), s => s.cast("float")).as("embedding"))
    write("f1.txt", all.take(150))
    val q1 = StreamingPca.attach(src(), ckpt, mDir, "embedding", dim, 100)
    try q1.processAllAvailable() finally q1.stop()
    write("f2.txt", all.drop(150))
    val q2 = StreamingPca.attach(src(), ckpt, mDir, "embedding", dim, 100)
    try q2.processAllAvailable() finally q2.stop()

    val batchDf = all.toDF("vec_id", "embedding")
    val batchCov = Pca.covarianceMatrix(batchDf, "embedding", dim)
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(3)).toMap
    val streamCov = StreamingPca.covarianceNow(spark, mDir, dim)
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(3)).toMap
    streamCov.keySet shouldBe batchCov.keySet
    // merged sums differ from one-pass sums only in summation order;
    // both sides snap at 6 decimals, so allow the last-digit wobble
    streamCov.foreach { case (k, v) => v shouldBe batchCov(k) +- 2e-6 }
    val (trB, compB) = Pca.topComponents(batchDf, "embedding", dim, k = 2, iters = 30)
    val (trS, compS) = StreamingPca.topComponentsNow(spark, mDir, dim, k = 2, iters = 30)
    trS shouldBe trB +- 1e-6
    compS.map(_._1).zip(compB.map(_._1)).foreach { case (a, b) => a shouldBe b +- 1e-4 }
  }

  it("momentsNow before any batch is the zero row and covarianceNow is empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-empty").toString
    val m = StreamingPca.momentsNow(spark, dir, 3).collect().head
    m.getLong(0) shouldBe 0L
    StreamingPca.covarianceNow(spark, dir, 3).collect() shouldBe empty
  }

}
