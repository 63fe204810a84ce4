package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftnative.{FloatDoubleVectorDistSq, FloatDoubleVectorDot, FloatVectorDot,
  SortedIntersectCount, SortedIntersectCountLong}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions
import graft.operators.Similarity

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecRows = Seq(
    (0L, Array(0.25f, -1.5f, 3.75f, 0.125f)),
    (1L, Array(1.0f, 2.0f, -0.5f, 4.25f)),
    (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
  private val vecs = vecRows.toDF("vec_id", "embedding")

  // A session without GraftExtensions: NativeDotRule cannot rewrite the
  // HOF reference here, so the bit-identity tests compare the kernel with
  // the interpreted aggregate/zip_with, not with itself.
  private lazy val plain = spark.newSession()

  it("native fv_dot is bit-identical to the HOF formulation") {
    val pv = plain.createDataFrame(vecRows).toDF("vec_id", "embedding")
    val df = pv.as("a").crossJoin(pv.as("b")).select(
      VectorFunctions.fvDot($"a.embedding", $"b.embedding").as("native"),
      Similarity.dot($"a.embedding", $"b.embedding").as("hof"))
    df.queryExecution.optimizedPlan.toString should include("zip_with") // not rewritten
    val out = df.collect()
    out should have size 9
    out.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  it("computes the expected dot product") {
    val d = vecs.filter($"vec_id" === 0L).crossJoin(vecs.filter($"vec_id" === 1L).select($"embedding".as("b")))
      .select(VectorFunctions.fvDot($"embedding", $"b")).collect()(0).getDouble(0)
    d shouldBe (0.25 * 1.0 + -1.5 * 2.0 + 3.75 * -0.5 + 0.125 * 4.25) +- 1e-12
  }

  it("null array yields null; registered SQL function works") {
    vecs.createOrReplaceTempView("v")
    val r = spark.sql(
      "SELECT fv_dot(embedding, embedding) AS d FROM v WHERE vec_id = 1").collect()(0)
    r.getDouble(0) shouldBe (1.0 + 4.0 + 0.25 + 18.0625) +- 1e-12
    val n = vecs.select(VectorFunctions.fvDot(F.lit(null).cast("array<float>"), $"embedding")).collect()
    n.foreach(_.isNullAt(0) shouldBe true)
  }

  it("matches the HOF form on edge cases: unequal lengths and null elements both yield null") {
    val edgy = plain.createDataFrame(Seq(
      (0L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f, 4.0f)),  // clean
      (1L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f)),        // unequal length
      (2L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](3.0f, 4.0f))   // null element
    )).toDF("id", "a", "b")
    val out = edgy.select(
      $"id",
      VectorFunctions.fvDot($"a", $"b").as("native"),
      Similarity.dot($"a", $"b").as("hof")).collect()
    out.foreach { r =>
      withClue(s"id=${r.getLong(0)}:") {
        r.isNullAt(1) shouldBe r.isNullAt(2)
        if (!r.isNullAt(1)) r.getDouble(1) shouldBe r.getDouble(2)
      }
    }
    out.filter(_.getLong(0) > 0L).foreach(_.isNullAt(1) shouldBe true)
  }

  it("fd_dot / fd_distsq match the unrolled literal arithmetic bit-for-bit") {
    val w = Array(0.5, -2.25, 1.125, 3.0)
    val rows = vecs.select(
      $"embedding",
      VectorFunctions.fdDot($"embedding", F.typedlit(w.toSeq)).as("d"),
      VectorFunctions.fdDistSq($"embedding", F.typedlit(w.toSeq)).as("q")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val expDot = v.indices.map(i => v(i).toDouble * w(i)).reduceLeft(_ + _)
      val expDist = v.indices.map { i => val d = v(i).toDouble - w(i); d * d }.reduceLeft(_ + _)
      java.lang.Double.doubleToLongBits(r.getDouble(1)) shouldBe
        java.lang.Double.doubleToLongBits(expDot)
      java.lang.Double.doubleToLongBits(r.getDouble(2)) shouldBe
        java.lang.Double.doubleToLongBits(expDist)
    }
  }

  it("fd_dot / fd_distsq null out on length mismatch and null inputs") {
    val w3 = F.typedlit(Seq(1.0, 2.0, 3.0)) // 3-dim model vs 4-dim vectors
    vecs.select(VectorFunctions.fdDot($"embedding", w3)).collect()
      .foreach(_.isNullAt(0) shouldBe true)
    vecs.select(VectorFunctions.fdDistSq($"embedding", w3)).collect()
      .foreach(_.isNullAt(0) shouldBe true)
    vecs.select(VectorFunctions.fdDot(F.lit(null).cast("array<float>"), F.typedlit(Seq(1.0))))
      .collect().foreach(_.isNullAt(0) shouldBe true)
  }

  it("NativeDotRule rewrites the portable HOF dot into the native kernel (Rule[LogicalPlan])") {
    // parquet-backed: a local relation would be constant-folded away
    // before the plan assertion could see anything
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = emb.select($"vec_id", Similarity.dot($"embedding", $"embedding").as("d"))
    df.queryExecution.optimizedPlan.toString should include("fv_dot")
    // results unchanged by the rewrite (bit-identical accumulation)
    val rewritten = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = emb.select($"vec_id", VectorFunctions.fvDot($"embedding", $"embedding").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rewritten shouldBe native
    // cosineHof end-to-end now runs on the kernel too
    val cos = emb.select(Similarity.cosineHof($"embedding", $"embedding").as("c"))
    cos.queryExecution.optimizedPlan.toString should include("fv_dot")
    // double arrays are NOT rewritten (kernel is float-only)
    val dbl = emb.select(F.transform($"embedding", _.cast("double")).as("v"))
      .select(Similarity.dot($"v", $"v").as("d"))
    dbl.queryExecution.optimizedPlan.toString should not include "fv_dot"
  }

  it("NativeDotRule does NOT match look-alike lambdas (sum of squares, degenerate merge)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // (x, y) -> x * x zipped against ANOTHER array is a sum of squares of
    // the left side, not a dot product — must stay un-rewritten
    val sumSq = emb.select($"vec_id",
      F.aggregate(
        F.zip_with($"embedding", $"embedding", (x, _) => x.cast("double") * x.cast("double")),
        F.lit(0.0), (acc, v) => acc + v).as("s"))
    sumSq.queryExecution.optimizedPlan.toString should not include "fv_dot"
    // ...and it computes the actual sum of squares, same as fv_dot(v, v)
    val bySq = sumSq.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byDot = emb.select($"vec_id", VectorFunctions.fvDot($"embedding", $"embedding").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    bySq shouldBe byDot // equal here because both sides are the same array
    // (acc, v) -> acc + acc is not a sum — must stay un-rewritten
    val degenerate = emb.select(
      F.aggregate(
        F.zip_with($"embedding", $"embedding", (x, y) => x.cast("double") * y.cast("double")),
        F.lit(0.0), (acc, _) => acc + acc).as("s"))
    degenerate.queryExecution.optimizedPlan.toString should not include "fv_dot"
    degenerate.collect().foreach(_.getDouble(0) shouldBe 0.0) // 0 doubled forever
  }

  it("a GraftSession session runs UTC with shuffle partitions = cpus, no UI and WindowExec at ERROR") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") shouldBe "65536"
    spark.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
    spark.sparkContext.uiWebUrl shouldBe None
    org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.window.WindowExec").getLevel shouldBe
      org.apache.logging.log4j.Level.ERROR
  }

  it("GraftExtensions.setup is idempotent: one NativeDotRule and one AsOfJoinStrategy after two runs") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.graftnative.{AsOfJoinStrategy, GraftExtensions, NativeDotRule}
    // fv_dot is registered once: a re-registration logs this registry warning
    val registryLog = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry").asInstanceOf[Logger]
    val replaced = new java.util.concurrent.atomic.AtomicInteger(0)
    val spy = new AbstractAppender("fv-dot-spy", null, null, true, null) {
      def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    val level = registryLog.getLevel
    spy.start()
    registryLog.addAppender(spy)
    registryLog.setLevel(Level.WARN)
    try {
      GraftExtensions.setup(spark)
      GraftExtensions.setup(spark)
    } finally {
      registryLog.removeAppender(spy)
      registryLog.setLevel(level)
      spy.stop()
    }
    replaced.get() shouldBe 0
    spark.experimental.extraOptimizations.count(_ == NativeDotRule) shouldBe 1
    spark.experimental.extraStrategies.count(_ == AsOfJoinStrategy) shouldBe 1
    spark.sql("SELECT fv_dot(array(1.0f, 2.0f), array(3.0f, 4.0f))").collect()(0).getDouble(0) shouldBe 11.0
  }

  it("participates in whole-stage codegen (parquet-backed pipeline)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(VectorFunctions.fvDot($"embedding", $"embedding").as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) { plan should include("*(") }
  }

  it("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    import org.apache.spark.sql.{functions => F}
    val rnd = new scala.util.Random(7)
    def arr() = (0 until rnd.nextInt(30)).map(_ => s"t${rnd.nextInt(40)}").distinct.sorted
    val rows = (0 until 200).map(_ => (arr(), arr()))
    val df = rows.toDF("a", "b").select(
      org.apache.spark.sql.graftnative.SetFunctions
        .sortedIntersectCount(F.col("a"), F.col("b")).as("native"),
      F.size(F.array_intersect(F.col("a"), F.col("b"))).as("builtin"))
    df.filter(F.col("native") =!= F.col("builtin")).count() shouldBe 0L
    // empty sides
    Seq((Seq.empty[String], Seq("x"))).toDF("a", "b").select(
      org.apache.spark.sql.graftnative.SetFunctions
        .sortedIntersectCount(F.col("a"), F.col("b")).as("c"))
      .collect()(0).getInt(0) shouldBe 0
  }

  it("sorted_intersect_count_long equals size(array_intersect) on sorted distinct long arrays") {
    import org.apache.spark.sql.{functions => F}
    val rnd = new scala.util.Random(11)
    def arr() = (0 until rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong).distinct.sorted
    val rows = (0 until 200).map(_ => (arr(), arr()))
    val df = rows.toDF("a", "b").select(
      org.apache.spark.sql.graftnative.SetFunctions
        .sortedIntersectCountLong(F.col("a"), F.col("b")).as("native"),
      F.size(F.array_intersect(F.col("a"), F.col("b"))).as("builtin"))
    df.filter(F.col("native") =!= F.col("builtin")).count() shouldBe 0L
    Seq((Seq.empty[Long], Seq(3L))).toDF("a", "b").select(
      org.apache.spark.sql.graftnative.SetFunctions
        .sortedIntersectCountLong(F.col("a"), F.col("b")).as("c"))
      .collect()(0).getInt(0) shouldBe 0
  }

  /** `kernel` over two bound array inputs, evaluated per row both
    * interpreted (`eval`) and through a generated projection (its
    * `doGenCode`); doubles compare by their bits. */
  private def interpretedAndGenerated(kernel: (Expression, Expression) => Expression,
                                      types: (DataType, DataType),
                                      rows: Seq[(Seq[Any], Seq[Any])]): Seq[(Any, Any)] = {
    val e = kernel(BoundReference(0, types._1, nullable = true), BoundReference(1, types._2, nullable = true))
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    def arr(xs: Seq[Any]) = Option(xs).map(x => new GenericArrayData(x.toArray)).orNull
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    rows.map { case (a, b) =>
      val row = InternalRow(arr(a), arr(b))
      val out = generated(row)
      (bits(e.eval(row)), bits(if (out.isNullAt(0)) null else out.get(0, e.dataType)))
    }
  }

  /** Sorted distinct random arrays, with empty, NULL and NULL-element
    * cases (a NULL element makes the count NULL once the walk reaches it). */
  private def sortedPairs[A](draw: scala.util.Random => A, order: Ordering[A]): Seq[(Seq[Any], Seq[Any])] = {
    val rnd = new scala.util.Random(29)
    def arr(): Seq[Any] = Seq.fill(rnd.nextInt(25))(draw(rnd)).distinct.sorted(order)
    Seq.fill(300)((arr(), arr())) ++ Seq((Seq.empty, arr()), (null, arr()), (arr(), null),
      (Seq(draw(rnd), null), arr()), (arr() :+ null, arr()))
  }

  it("sorted_intersect_count's generated code agrees with its interpreted eval and the set intersection") {
    val rows = sortedPairs[UTF8String](r => UTF8String.fromString(s"t${r.nextInt(40)}"), Ordering.fromLessThan(_.compareTo(_) < 0))
    checkIntersectCounts(rows, interpretedAndGenerated((l, r) => SortedIntersectCount(l, r),
      (ArrayType(StringType), ArrayType(StringType)), rows))
  }

  it("sorted_intersect_count_long's generated code agrees with its interpreted eval and the set intersection") {
    val rows = sortedPairs[Long](_.nextInt(40).toLong, Ordering.Long)
    checkIntersectCounts(rows, interpretedAndGenerated((l, r) => SortedIntersectCountLong(l, r),
      (ArrayType(LongType), ArrayType(LongType)), rows))
  }

  it("both sorted_intersect_count kernels count up to a NULL element the merge walk never reaches, generated and interpreted") {
    val t = (s: String) => UTF8String.fromString(s)
    val strings = Seq[(Seq[Any], Seq[Any])](
      (Seq(t("t1"), null), Seq()), (Seq(t("t1"), null), Seq(t("t1"))), (Seq(t("t1"), null), Seq(t("t1"), t("t2"))))
    val longs = Seq[(Seq[Any], Seq[Any])]((Seq(1L, null), Seq()), (Seq(1L, null), Seq(1L)), (Seq(1L, null), Seq(1L, 2L)))
    val expected = Seq[(Any, Any)]((0, 0), (1, 1), (null, null))
    interpretedAndGenerated((l, r) => SortedIntersectCount(l, r),
      (ArrayType(StringType), ArrayType(StringType)), strings) shouldBe expected
    interpretedAndGenerated((l, r) => SortedIntersectCountLong(l, r),
      (ArrayType(LongType), ArrayType(LongType)), longs) shouldBe expected
  }

  private def checkIntersectCounts(rows: Seq[(Seq[Any], Seq[Any])], out: Seq[(Any, Any)]): Unit =
    rows.zip(out).foreach { case ((a, b), (interpreted, generated)) =>
      generated shouldBe interpreted
      if (a == null || b == null) interpreted shouldBe (null: Any)
      else if (!a.contains(null) && !b.contains(null)) interpreted shouldBe a.toSet.intersect(b.toSet).size
    }

  /** Float vectors against `other`-typed ones: equal and unequal lengths,
    * NULL elements, NULL arrays. */
  private def vectorPairs(other: scala.util.Random => Any): Seq[(Seq[Any], Seq[Any])] = {
    val rnd = new scala.util.Random(31)
    def floats(n: Int): Seq[Any] = Seq.fill(n)((rnd.nextGaussian() * 3).toFloat)
    def others(n: Int): Seq[Any] = Seq.fill(n)(other(rnd))
    (0 until 200).map { i => val n = rnd.nextInt(9); (floats(n), others(if (i % 10 == 0) n + 1 else n)) } ++
      Seq((floats(3).updated(1, null), others(3)), (floats(3), others(3).updated(2, null)),
        (null, others(2)), (floats(2), null), (Seq.empty, Seq.empty))
  }

  private def checkFloatKernel(kernel: (Expression, Expression) => Expression, other: DataType,
                               draw: scala.util.Random => Any): Unit = {
    val out = interpretedAndGenerated(kernel, (ArrayType(FloatType), ArrayType(other)), vectorPairs(draw))
    out.count(_._1 == null) shouldBe 24 // 20 length mismatches, 2 NULL elements, 2 NULL arrays
    out.foreach { case (interpreted, generated) => generated shouldBe interpreted }
  }

  it("fd_dot's generated code agrees bit-for-bit with its interpreted eval, edge cases included") {
    checkFloatKernel((l, r) => FloatDoubleVectorDot(l, r), DoubleType, _.nextGaussian() * 5)
  }

  it("fd_distsq's generated code agrees bit-for-bit with its interpreted eval, edge cases included") {
    checkFloatKernel((l, r) => FloatDoubleVectorDistSq(l, r), DoubleType, _.nextGaussian() * 5)
  }

  it("fv_dot's generated code agrees bit-for-bit with its interpreted eval, edge cases included") {
    checkFloatKernel((l, r) => FloatVectorDot(l, r), FloatType, r => (r.nextGaussian() * 5).toFloat)
  }
}
