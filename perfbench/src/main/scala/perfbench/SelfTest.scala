package perfbench

import java.time.{Duration, Instant}

import scala.collection.mutable.ArrayBuffer

import graft.sources.{CfAuditEventFetcher, JdkHttpTransport}

/** Tests of the benchmark's own parts; exits non-zero on any failure.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  def main(args: Array[String]): Unit = {
    Stubs.noDelay()
    percentiles()
    selfTime()
    cfStub()
    hecStub()
    if (failures.nonEmpty) { println(s"${failures.size} failed"); sys.exit(1) }
    println("all passed")
  }

  private def percentiles(): Unit = {
    val hundred = Array.tabulate(100)(i => (i + 1).toDouble)
    check("p99 of 100 samples falls back to the highest percentile with 10 beyond") {
      Stats.tailPercentile(hundred, 0.99) == ((0.9, 90.0))
    }
    val many = Array.tabulate(2000)(i => (i + 1).toDouble)
    check("p99 of 2000 samples is p99 (20 beyond)") {
      Stats.tailPercentile(many, 0.99) == ((0.99, 1980.0))
    }
    check("exactly 10 beyond the fallback rank") {
      val (q, v) = Stats.tailPercentile(hundred, 0.99)
      hundred.count(_ > v) == 10 && q == 0.9
    }
    check("11 samples: the lowest rank is the only one with 10 beyond") {
      Stats.tailPercentile(hundred.take(11), 0.99) == ((1.0 / 11, 1.0))
    }
    check("median and nearest-rank p50") {
      Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5 && Stats.percentile(hundred, 0.5) == 50.0
    }
  }

  private def selfTime(): Unit = {
    val parent = Span(1, "tick", 0, 0, 100)
    def child(s: Long, e: Long) = Span(2, "c", 1, s, e)
    check("self time subtracts the union of overlapping children, clipped to the parent") {
      Spans.selfNanos(parent, Seq(child(10, 30), child(20, 50), child(60, 70), child(90, 120))) == 40
    }
    check("self time without children is the duration") { Spans.selfNanos(parent, Nil) == 100 }
    check("a child covering the parent leaves no self time") {
      Spans.selfNanos(parent, Seq(child(-5, 50), child(40, 200))) == 0
    }
  }

  private def cfStub(): Unit = {
    val gen = new Gen(7)
    val base = 1570192843L // 2019-10-04T12:40:43Z
    val evs = Gen.ordered(Array.tabulate(250)(i => gen.event(base - 10 + i / 2)))
    val stubs = new Stubs("test")
    stubs.publish(evs.toSeq)
    stubs.start()
    try {
      val fetcher = new CfAuditEventFetcher(
        new JdkHttpTransport(Duration.ofSeconds(5)), stubs.cfApi, paginationWaitMillis = 0)
      val since = Instant.ofEpochSecond(base)
      val pages = fetcher.fetchPages(since).toSeq
      val want = evs.filter(_.createdAt > base)
      check("the fetcher's start URL is served (q=timestamp>T, results-per-page)") {
        fetcher.startPageUrl(since) == "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
      }
      check("timestamp>T is honoured at second granularity and next_url walks every page") {
        pages.forall(_.error.isEmpty) && pages.map(_.events.size) == Seq(100, 100, want.length - 200) &&
          pages.flatMap(_.events.map(_.guid)) == want.map(_.guid).toSeq
      }
      check("wire fields flatten as the fetcher expects (FetcherSpec page shape)") {
        val w = pages.head.events.head
        val e = want.head
        w.created_at == e.raw && w.event_type == e.eventType && w.actor == e.actor &&
          w.organization_guid == e.org && w.space_guid == e.space && w.metadata == e.metadata
      }
      check("a page carries total_results, total_pages and an empty next_url at the end") {
        val body = stubs.eventsPage(Map("q" -> s"timestamp>${Gen.fmt(base)}", "results-per-page" -> "100", "page" -> "3"))
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        root.get("total_results").asInt == want.length && root.get("total_pages").asInt == 3 &&
          root.get("next_url").asText == "" && root.get("resources").size == want.length - 200
      }
      check("an event published later is served to a later request") {
        val late = gen.event(base + 500)
        stubs.publish(Seq(late))
        fetcher.fetchPages(Instant.ofEpochSecond(base + 499)).toSeq.flatMap(_.events.map(_.guid)) == Seq(late.guid)
      }
    } finally stubs.stop()
  }

  private def hecStub(): Unit = {
    val gen = new Gen(8)
    val e = gen.event(1570192843L).copy(org = "")
    val stubs = new Stubs("env")
    stubs.publish(Seq(e))
    def payload(source: String, tpe: String) =
      s"""{"sourcetype":"cf-audit-event","source":"$source","event":{"guid":"${e.guid}","created_at":"${e.raw}",""" +
        s""""type":"$tpe","actor":"${e.actor}","actor_type":"user","actor_name":"${e.actorName}",""" +
        s""""actor_username":"${e.actorUsername}","actee":"${e.actee}","actee_type":"${e.acteeType}",""" +
        s""""actee_name":"${e.acteeName}","organization_guid":"","space_guid":"${e.space}","metadata":${e.metadata}}}"""
    stubs.receive(payload("env", e.eventType), 1L)
    check("the HEC check accepts the exact payload") { stubs.problems.isEmpty && stubs.firstReceipt.size == 1 }
    stubs.receive(payload("env", e.eventType), 2L)
    check("a second receipt counts as a re-ship") { stubs.reships.get == 1 && stubs.firstReceipt.get(e.guid) == 1L }
    stubs.receive(payload("other-env", e.eventType), 3L)
    check("a wrong source is a payload mismatch") { stubs.badPayloads.contains(e.guid) }
    stubs.stop()
  }
}
