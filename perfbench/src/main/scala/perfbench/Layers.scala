package perfbench

/** Per-layer metrics of a traced run, from its spans. A layer the
  * workload does not exercise reports 0. */
object Layers {
  final case class Extras(
      parseMs: Double = 0, files: Long = 0, bytesPerEvent: Double = 0,
      reshipRatio: Double = 0, genLateMs: Double = 0, genBacklog: Double = 0, peakRssMb: Double = 0,
      overheadMs: Double = 0, e2e: Seq[Metric] = Nil)

  /** Span kinds whose Spark work is reported per span. */
  val SparkKinds = Seq("store.write", "store.latest", "store.count", "store.unshipped_plan",
    "store.cursor", "shipper.tick")

  def metrics(spans: Seq[Span], work: JobAttribution, x: Extras): Seq[Metric] = {
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    def ms(n: String) = byName(n).map(_.nanos / 1e6)
    def medMs(n: String) = Stats.median(ms(n))
    def selfMs(n: String) = Stats.median(byName(n).map(s => Spans.selfNanos(s, children(s.id)) / 1e6))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    val gets = byName("sources.get")
    val writes = byName("store.write")
    val shipTicks = byName("shipper.tick")
    val fetched = gets.map(_.ids.size.toLong).sum
    val stored = writes.map(_.rows).sum
    val e2e = x.e2e.map(m => m.name -> m).toMap

    Seq(
      Metric("sources.pages", gets.size, "count"),
      Metric("sources.get_ms", medMs("sources.get"), "ms"),
      Metric("sources.parse_ms", x.parseMs, "ms"),
      Metric("collector.ticks", byName("collector.tick").size, "count"),
      Metric("collector.tick_s", medMs("collector.tick") / 1000, "s"),
      Metric("collector.self_ms", selfMs("collector.tick"), "ms"),
      Metric("collector.stored_per_fetched", if (fetched == 0) 0.0 else stored.toDouble / fetched, "ratio"),
      Metric("store.write_ms", medMs("store.write"), "ms"),
      Metric("store.write_jobs", Stats.median(writes.map(s => work.of(s.id).jobs.toDouble)), "count"),
      Metric("store.latest_ms", medMs("store.latest"), "ms"),
      Metric("store.unshipped_plan_ms", medMs("store.unshipped_plan"), "ms"),
      Metric("store.cursor_ms", medMs("store.cursor"), "ms"),
      Metric("store.count_ms", medMs("store.count"), "ms"),
      Metric("store.files", x.files, "count"),
      Metric("store.bytes_per_event", x.bytesPerEvent, "B"),
      Metric("shipper.ticks", shipTicks.size, "count"),
      Metric("shipper.tick_ms", medMs("shipper.tick"), "ms"),
      Metric("shipper.self_ms", selfMs("shipper.tick"), "ms"),
      Metric("shipper.posts", byName("hec.post").size, "count"),
      Metric("shipper.reship_ratio", x.reshipRatio, "ratio"),
      Metric("shipper.empty_tick_ratio",
        if (shipTicks.isEmpty) 0.0
        else shipTicks.count(t => !children(t.id).exists(_.name == "hec.post")).toDouble / shipTicks.size,
        "ratio"),
      Metric("informer.ticks", byName("informer.tick").size, "count"),
      Metric("informer.tick_ms", medMs("informer.tick"), "ms")) ++
      SparkKinds.flatMap { k =>
        val w = byName(k).map(s => work.of(s.id))
        Seq(
          Metric(s"spark.$k.jobs", mean(w.map(_.jobs.toDouble)), "count"),
          Metric(s"spark.$k.stages", mean(w.map(_.stages.toDouble)), "count"),
          Metric(s"spark.$k.task_ms", mean(w.map(_.taskNanos / 1e6)), "ms"),
          Metric(s"spark.$k.shuffle_kb", mean(w.map(_.shuffleBytes / 1024.0)), "KB"))
      } ++ Seq(
      Metric("gen.late_ms_max", x.genLateMs, "ms"),
      Metric("gen.backlog", x.genBacklog, "count"),
      Metric("daemon.peak_rss_mb", x.peakRssMb, "MB"),
      Metric("trace.overhead_ms", x.overheadMs, "ms")) ++
      Seq("events_per_s", "latency_p50_ms", "latency_p99_ms").map { n =>
        val m = e2e(n)
        Metric(s"traced.$n", m.value, m.unit)
      }
  }
}
