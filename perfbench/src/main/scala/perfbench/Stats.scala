package perfbench

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toArray.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Nearest-rank percentile of an ascending array, `q` in (0, 1]. */
  def percentile(sorted: Array[Double], q: Double): Double =
    sorted(math.max(1, math.ceil(q * sorted.length).toInt) - 1)

  /** The `q` percentile, unless fewer than `minBeyond` samples lie above
    * its rank; then the highest percentile that has `minBeyond` samples
    * above it. Returns (percentile used, value); needs more than
    * `minBeyond` samples. */
  def tailPercentile(sorted: Array[Double], q: Double, minBeyond: Int = 10): (Double, Double) = {
    val n = sorted.length
    require(n > minBeyond, s"$n samples; need more than $minBeyond")
    val rank = math.min(math.max(1, math.ceil(q * n).toInt), n - minBeyond)
    (rank.toDouble / n, sorted(rank - 1))
  }
}

/** One timed operation. `parent` is 0 for a root span; `ids` are the
  * event guids the operation carried, `rows` a row count it returned. */
final case class Span(
    id: Long, name: String, parent: Long, start: Long, end: Long,
    ids: Seq[String] = Nil, rows: Long = 0L) {
  def nanos: Long = end - start
}

object Spans {
  /** A span's duration minus the part of it its children cover; children
    * may overlap one another (they can run on other threads). */
  def selfNanos(span: Span, children: Iterable[Span]): Long = {
    val clipped = children.toSeq
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.nanos - covered
  }
}
