package graft

import org.apache.spark.sql.{functions => F}
import org.scalacheck.Gen

import graft.operators.AsOfJoin

/** The native LogicalPlan/Strategy/SparkPlan as-of join must agree with
  * the union+window formulation on arbitrary inputs. */
class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  it("plans AsOfJoinExec with exchanges/sorts inserted by EnsureRequirements") {
    val left = Seq((1L, 1L, ts("2024-01-01T10:00:00Z"))).toDF("event_id", "user_id", "ts")
    val right = Seq((2L, 1L, ts("2024-01-01T09:00:00Z"))).toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.joinNative(left, right, "user_id", "ts", "ts", Seq("event_id"))
    val plan = out.queryExecution.executedPlan.toString
    plan should include("AsOfJoin") // AsOfJoinExec prints without the Exec suffix
    plan should include("Exchange hashpartitioning(user_id")
    plan should include("Sort [user_id")
    out.collect()(0).getLong(3) shouldBe 2L
  }

  it("plans on a session GraftSession did not build (joinNative installs its strategy)") {
    val other = spark.newSession()
    other.experimental.extraStrategies shouldBe empty
    val left = other.createDataFrame(Seq((1L, 1L, ts("2024-01-01T10:00:00Z"))))
      .toDF("event_id", "user_id", "ts")
    val right = other.createDataFrame(Seq((2L, 1L, ts("2024-01-01T09:00:00Z"))))
      .toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.joinNative(left, right, "user_id", "ts", "ts", Seq("event_id"))
    out.queryExecution.executedPlan.toString should include("AsOfJoin")
    out.collect()(0).getLong(3) shouldBe 2L
  }

  it("matches the union+window formulation on randomized data") {
    val rnd = new scala.util.Random(7)
    val leftRows = Seq.tabulate(400) { i =>
      (i.toLong, rnd.nextInt(12).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L))
    }
    val rightRows = Seq.tabulate(300) { i =>
      (1000L + i, rnd.nextInt(12).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L))
    }.distinctBy(r => (r._2, r._3)) // unique (key, time): tie semantics align
    val left = leftRows.toDF("event_id", "user_id", "ts")
    val right = rightRows.toDF("event_id", "user_id", "ts")

    val ref = AsOfJoin.join(left, right, "user_id", "ts", "ts",
      Seq("event_id"), "event_id", "event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(3)))).sortBy(_._1).toSeq
    val native = AsOfJoin.joinNative(left, right, "user_id", "ts", "ts", Seq("event_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(3)))).sortBy(_._1).toSeq
    native shouldBe ref
  }

  it("handles string carries (buffer-reuse safety) and empty right side") {
    val left = Seq((1L, 5L, ts("2024-01-01T10:00:00Z")), (2L, 5L, ts("2024-01-01T12:00:00Z")),
      (3L, 6L, ts("2024-01-01T10:00:00Z"))).toDF("event_id", "user_id", "ts")
    val right = Seq(("alpha", 5L, ts("2024-01-01T09:00:00Z")),
      ("beta", 5L, ts("2024-01-01T11:00:00Z"))).toDF("tag", "user_id", "ts")
    val out = AsOfJoin.joinNative(left, right, "user_id", "ts", "ts", Seq("tag"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    out(1L) shouldBe Some("alpha")
    out(2L) shouldBe Some("beta")
    out(3L) shouldBe None
  }
}
