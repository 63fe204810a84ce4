package graft

/** Mirror of the driver's smoke check: the flagship entry query returns
  * rows on sf0.001. */
class EntrySpec extends SparkSpec {
  it("entry() returns a non-empty pricing summary") {
    val rows = SparkEntry.entry(spark).collect()
    rows.length should be > 0
    rows.map(_.getAs[Long]("count_order")).sum should be > 1000L
  }

  it("every query is oracle-gated — including the real-codec decode round-trip") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    (o -- q) shouldBe empty
    (q -- o) shouldBe empty
  }

  /** A committed row-name list: one name a line. */
  private def committedNames(resource: String): Set[String] =
    scala.io.Source.fromFile(s"src/test/resources/$resource", "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toSet

  private def pinned(kind: String, resource: String, actual: Set[String]): Unit = {
    val listed = committedNames(resource)
    withClue(s"$kind rows missing from the registry: ${(listed -- actual).toSeq.sorted.mkString(", ")}; " +
        s"rows not on $resource: ${(actual -- listed).toSeq.sorted.mkString(", ")}") {
      actual shouldBe listed
    }
  }

  it("the board's query rows are exactly the committed list") {
    pinned("board", "board_queries.txt", SparkEntry.queries.keySet)
  }

  it("the bench-op rows are exactly the committed list") {
    pinned("bench-op", "bench_ops.txt", SparkEntry.benchOps.keySet)
  }

  it("a restricted run rejects unknown names, naming each one") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.onlyNames(SparkEntry.queries.keySet, Seq("q1,q_unshipped_cursor", "q_nope")))
    e.getMessage should include ("q1")
    e.getMessage should include ("q_nope")
    e.getMessage should not include ("q_unshipped_cursor")
    SparkEntry.onlyNames(SparkEntry.queries.keySet, Seq("q_unshipped_cursor")) shouldBe
      Some(Seq("q_unshipped_cursor"))
  }

  it("a restricted run's list is trimmed, skips empty items and repeats, and keeps its order") {
    SparkEntry.onlyNames(SparkEntry.queries.keySet,
      Seq(" q_unshipped_cursor , ,q_latest_event_time", "q_unshipped_cursor,")) shouldBe
      Some(Seq("q_unshipped_cursor", "q_latest_event_time"))
  }

  it("bench-op names restrict Bench, which runs them, but not Verify") {
    val bench = SparkEntry.queries.keySet ++ SparkEntry.benchOps.keySet
    SparkEntry.onlyNames(bench, Seq("ivf_pq_serve")) shouldBe Some(Seq("ivf_pq_serve"))
    an[IllegalArgumentException] should be thrownBy
      SparkEntry.onlyNames(SparkEntry.queries.keySet, Seq("ivf_pq_serve"))
  }
}
