package graft

import java.time.Instant
import scala.collection.mutable

import graft.sources._

/** In-memory HTTP transport scripted with url → reply. */
final class FakeTransport(pages: Map[String, HttpReply]) extends HttpTransport {
  val requests: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def get(url: String, headers: Map[String, String]): HttpReply = {
    requests += url
    pages.getOrElse(url, throw new RuntimeException(s"connection refused: $url"))
  }
  def post(url: String, body: String, headers: Map[String, String]): HttpReply =
    throw new UnsupportedOperationException
}

/** Mirrors the reference's fetcher suite
  * (pkg/fetchers/cf_audit_event_fetcher_test.go): pagination order,
  * pushdown query string, channel close, error on network failure and on
  * any non-200 (even 201). */
class FetcherSpec extends SparkSpec {

  private val api = "https://cf.example.com"

  private def pageBody(guids: Seq[String], next: String): String = {
    val resources = guids.map { g =>
      s"""{"metadata":{"guid":"$g","created_at":"2019-10-04T12:41:00Z"},
         |"entity":{"type":"audit.app.update","actor":"a","actor_type":"at",
         |"actor_name":"an","actor_username":"au","actee":"e","actee_type":"et",
         |"actee_name":"en","organization_guid":"og","space_guid":"sg","metadata":{"k":1}}}""".stripMargin
    }.mkString(",")
    s"""{"total_results":${guids.size},"total_pages":1,"next_url":"$next","resources":[$resources]}"""
  }

  private val since = Instant.parse("2019-10-04T12:40:43Z")

  it("builds the exact pushdown start URL (fetcher_test.go:90-91)") {
    val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), api, paginationWaitMillis = 0)
    f.startPageUrl(since) shouldBe "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
  }

  it("walks pages in order, flattening the metadata envelope (S3), and stops at empty next_url") {
    val p1 = "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
    val p2 = "/v2/events?page=2"
    val transport = new FakeTransport(Map(
      api + p1 -> HttpReply(200, pageBody(Seq("g1", "g2"), p2)),
      api + p2 -> HttpReply(200, pageBody(Seq("g3"), ""))))
    val f = new CfAuditEventFetcher(transport, api, paginationWaitMillis = 0)
    val pages = f.fetchPages(since).toSeq
    pages.map(_.error) shouldBe Seq(None, None)
    pages.map(_.events.map(_.guid)) shouldBe Seq(Seq("g1", "g2"), Seq("g3"))
    pages.head.events.head.created_at shouldBe "2019-10-04T12:41:00Z"
    pages.head.events.head.event_type shouldBe "audit.app.update"
    pages.head.events.head.metadata shouldBe """{"k":1}"""
    transport.requests.toSeq shouldBe Seq(api + p1, api + p2)
  }

  it("malformed JSON bodies become a terminal error page") {
    val p1 = "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
    val transport = new FakeTransport(Map(api + p1 -> HttpReply(200, "{not json")))
    val f = new CfAuditEventFetcher(transport, api, paginationWaitMillis = 0)
    val pages = f.fetchPages(since).toSeq
    pages.size shouldBe 1
    pages.head.error.isDefined shouldBe true
  }

  it("propagates network errors as a terminal page (fetcher_test.go:124-161)") {
    val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), api, paginationWaitMillis = 0)
    val pages = f.fetchPages(since).toSeq
    pages.size shouldBe 1
    pages.head.error.get.getMessage should include("connection refused")
  }

  it("async prefetch preserves page order and terminal close (ST3)") {
    val p1 = "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
    val p2 = "/v2/events?page=2"
    val transport = new FakeTransport(Map(
      api + p1 -> HttpReply(200, pageBody(Seq("g1"), p2)),
      api + p2 -> HttpReply(200, pageBody(Seq("g2"), ""))))
    val f = new CfAuditEventFetcher(transport, api, paginationWaitMillis = 0)
    val pages = f.fetchPagesAsync(since, bufferPages = 2).toSeq
    pages.map(_.events.map(_.guid)) shouldBe Seq(Seq("g1"), Seq("g2"))
  }

  it("treats any non-200 — even 201 — as an error (fetcher.go:66-68)") {
    val p1 = "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
    val transport = new FakeTransport(Map(api + p1 -> HttpReply(201, "{}")))
    val f = new CfAuditEventFetcher(transport, api, paginationWaitMillis = 0)
    val pages = f.fetchPages(since).toSeq
    pages.head.error.get.getMessage should include("status code 201")
  }

  describe("UAA OAuth flow (main.go:45-48, cf_audit_event_fetcher_test.go:33-54)") {
    val uaa = "https://uaa.example.com"

    /** Stub CF+UAA: /v2/info discovery, /oauth/token exchange, and page
      * GETs that 401 unless the current token is presented. */
    class StubUaaTransport(pages: Map[String, String]) extends HttpTransport {
      val gets: mutable.ArrayBuffer[(String, Map[String, String])] = mutable.ArrayBuffer.empty
      val tokenPosts: mutable.ArrayBuffer[(String, String, Map[String, String])] = mutable.ArrayBuffer.empty
      var currentToken = "tok-1"
      def get(url: String, headers: Map[String, String]): HttpReply = {
        gets += ((url, headers))
        if (url == api + "/v2/info")
          HttpReply(200, s"""{"token_endpoint":"$uaa"}""")
        else if (headers.get("Authorization").contains(s"Bearer $currentToken"))
          HttpReply(200, pages(url))
        else HttpReply(401, """{"error":"invalid_token"}""")
      }
      def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
        tokenPosts += ((url, body, headers))
        HttpReply(200, s"""{"access_token":"$currentToken","token_type":"bearer","expires_in":43199}""")
      }
    }

    val p1 = "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"
    val p2 = "/v2/events?page=2"

    it("exchanges client credentials at the discovered UAA endpoint and sends Bearer on every page GET") {
      val stub = new StubUaaTransport(Map(
        api + p1 -> pageBody(Seq("g1"), p2),
        api + p2 -> pageBody(Seq("g2"), "")))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "auditor", clientSecret = "s3cret"))
      val f = new CfAuditEventFetcher(new AuthenticatedTransport(stub, auth), api, paginationWaitMillis = 0)
      val pages = f.fetchPages(since).toSeq
      pages.map(_.error) shouldBe Seq(None, None)
      pages.map(_.events.map(_.guid)) shouldBe Seq(Seq("g1"), Seq("g2"))
      // one discovery + one token exchange, then both page GETs authorized
      stub.tokenPosts.size shouldBe 1
      val (tokenUrl, tokenBody, tokenHeaders) = stub.tokenPosts.head
      tokenUrl shouldBe uaa + "/oauth/token"
      tokenBody shouldBe "grant_type=client_credentials"
      val basic = java.util.Base64.getEncoder.encodeToString("auditor:s3cret".getBytes("UTF-8"))
      tokenHeaders("Authorization") shouldBe s"Basic $basic"
      val pageGets = stub.gets.filter(_._1.contains("/v2/events"))
      pageGets.size shouldBe 2
      pageGets.foreach(_._2("Authorization") shouldBe "Bearer tok-1")
    }

    it("password grant uses the default public 'cf' client like go-cfclient") {
      val stub = new StubUaaTransport(Map(api + p1 -> pageBody(Seq("g1"), "")))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, username = "admin", password = "pw"))
      new CfAuditEventFetcher(new AuthenticatedTransport(stub, auth), api, paginationWaitMillis = 0)
        .fetchPages(since).toSeq.head.error shouldBe None
      val (_, body, headers) = stub.tokenPosts.head
      body shouldBe "grant_type=password&username=admin&password=pw"
      headers("Authorization") shouldBe
        s"Basic ${java.util.Base64.getEncoder.encodeToString("cf:".getBytes("UTF-8"))}"
    }

    it("refreshes the token and retries once on 401 (expired token mid-stream)") {
      val stub = new StubUaaTransport(Map(
        api + p1 -> pageBody(Seq("g1"), p2),
        api + p2 -> pageBody(Seq("g2"), "")))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "auditor", clientSecret = "s"))
      val f = new CfAuditEventFetcher(new AuthenticatedTransport(stub, auth), api, paginationWaitMillis = 0)
      val it1 = f.fetchPages(since)
      it1.next().events.map(_.guid) shouldBe Seq("g1")
      stub.currentToken = "tok-2" // server-side revocation between pages
      it1.next().events.map(_.guid) shouldBe Seq("g2") // 401 -> refresh -> retry
      stub.tokenPosts.size shouldBe 2
      stub.gets.filter(_._1 == api + p2).map(_._2("Authorization")) shouldBe
        Seq("Bearer tok-1", "Bearer tok-2")
    }

    it("a 401 that survives the refresh surfaces as a terminal non-200 error") {
      val stub = new StubUaaTransport(Map(api + p1 -> pageBody(Seq("g1"), ""))) {
        override def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
          super.post(url, body, headers)
          HttpReply(200, """{"access_token":"wrong","token_type":"bearer","expires_in":43199}""")
        }
      }
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"))
      val f = new CfAuditEventFetcher(new AuthenticatedTransport(stub, auth), api, paginationWaitMillis = 0)
      val pages = f.fetchPages(since).toSeq
      pages.head.error.get.getMessage should include("status code 401")
    }

    it("renews via the refresh_token grant on expiry, falling back to the full grant when the refresh is rejected") {
      var now = 0L
      class RefreshStub extends StubUaaTransport(Map(api + p1 -> pageBody(Seq("g1"), ""))) {
        var rejectRefresh = false
        override def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
          tokenPosts += ((url, body, headers))
          if (body.startsWith("grant_type=refresh_token") && rejectRefresh)
            HttpReply(401, """{"error":"invalid_token"}""")
          else
            HttpReply(200,
              s"""{"access_token":"$currentToken","refresh_token":"rt-1","token_type":"bearer","expires_in":43199}""")
        }
      }
      val stub = new RefreshStub
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, username = "admin", password = "pw"),
        nowMillis = () => now)
      auth.bearerToken()
      stub.tokenPosts.head._2 should startWith("grant_type=password")
      now += (43199L - 60L) * 1000L + 1L // past expires_in - skew
      auth.bearerToken()
      stub.tokenPosts.size shouldBe 2
      stub.tokenPosts(1)._2 shouldBe "grant_type=refresh_token&refresh_token=rt-1"
      // the refresh grant authenticates with the same client Basic pair
      stub.tokenPosts(1)._3("Authorization") shouldBe
        s"Basic ${java.util.Base64.getEncoder.encodeToString("cf:".getBytes("UTF-8"))}"
      // a rejected refresh (expired/rotated) falls back to the full grant
      stub.rejectRefresh = true
      now += (43199L - 60L) * 1000L + 1L
      auth.bearerToken()
      stub.tokenPosts.size shouldBe 4
      stub.tokenPosts(2)._2 should startWith("grant_type=refresh_token")
      stub.tokenPosts(3)._2 should startWith("grant_type=password")
    }

    it("caches the token until expiry and re-fetches after (60 s skew)") {
      var now = 0L
      val stub = new StubUaaTransport(Map(api + p1 -> pageBody(Seq("g1"), "")))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"),
        nowMillis = () => now)
      auth.bearerToken() shouldBe "tok-1"
      auth.bearerToken() shouldBe "tok-1"
      stub.tokenPosts.size shouldBe 1 // cached
      now = (43199L - 60L) * 1000L + 1L // past expires_in - skew
      auth.bearerToken()
      stub.tokenPosts.size shouldBe 2 // re-fetched
    }

    /** CF+UAA stub with fixed /v2/info and /oauth/token replies; page GETs
      * always succeed. */
    class ScriptedUaa(info: HttpReply, token: HttpReply) extends HttpTransport {
      var infoGets = 0
      var tokenPosts = 0
      val pageGets: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
      def get(url: String, headers: Map[String, String]): HttpReply =
        if (url == api + "/v2/info") { infoGets += 1; info }
        else { pageGets += url; HttpReply(200, pageBody(Seq("g1"), "")) }
      def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
        tokenPosts += 1
        token
      }
    }
    val okInfo = HttpReply(200, s"""{"token_endpoint":"$uaa"}""")
    val okToken = HttpReply(200, """{"access_token":"tok-1","token_type":"bearer","expires_in":43199}""")

    it("a failed token-endpoint discovery ends the fetch with an error page and sends no page GET") {
      val stub = new ScriptedUaa(HttpReply(503, "unavailable"), okToken)
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"))
      val pages = new CfAuditEventFetcher(new AuthenticatedTransport(stub, auth), api, paginationWaitMillis = 0)
        .fetchPages(since).toSeq
      pages.size shouldBe 1
      pages.head.error.get.getMessage should include("token endpoint discovery failed with status code 503")
      stub.tokenPosts shouldBe 0
      stub.pageGets shouldBe empty
    }

    it("a /v2/info reply without token_endpoint is an error naming the missing field") {
      val stub = new ScriptedUaa(HttpReply(200, """{"api_version":"2.0"}"""), okToken)
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"))
      intercept[RuntimeException](auth.bearerToken()).getMessage should include("no token_endpoint")
      stub.tokenPosts shouldBe 0
    }

    it("a non-200 token exchange is an error carrying its status") {
      val stub = new ScriptedUaa(okInfo, HttpReply(401, """{"error":"unauthorized"}"""))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, username = "admin", password = "bad"))
      intercept[RuntimeException](auth.bearerToken()).getMessage shouldBe
        "token exchange failed with status code 401"
    }

    it("a token reply without access_token is an error, not an empty Bearer") {
      val stub = new ScriptedUaa(okInfo, HttpReply(200, """{"token_type":"bearer","expires_in":600}"""))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"))
      intercept[RuntimeException](auth.bearerToken()).getMessage should include("no access_token")
    }

    it("a token reply without expires_in stays cached for 300 s minus the 60 s skew") {
      var now = 0L
      val stub = new ScriptedUaa(okInfo, HttpReply(200, """{"access_token":"tok-1","token_type":"bearer"}"""))
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"),
        nowMillis = () => now)
      auth.bearerToken() shouldBe "tok-1"
      now = 240000L - 1L
      auth.bearerToken()
      stub.tokenPosts shouldBe 1 // still cached
      now = 240000L
      auth.bearerToken()
      stub.tokenPosts shouldBe 2 // expired at exactly 240 s
    }

    it("discovers the token endpoint once and reuses it for every later grant") {
      val stub = new ScriptedUaa(okInfo, okToken)
      val auth = new UaaAuthenticator(stub, CfAuthConfig(api, clientId = "c", clientSecret = "s"))
      (1 to 3).foreach { _ => auth.invalidate(); auth.bearerToken() shouldBe "tok-1" }
      stub.tokenPosts shouldBe 3
      stub.infoGets shouldBe 1
    }

    it("auth is on with a client pair or a username, and off for a bare API address") {
      CfAuthConfig(api).enabled shouldBe false
      CfAuthConfig(api, password = "pw", clientSecret = "s").enabled shouldBe false
      CfAuthConfig(api, clientId = "c", clientSecret = "s").enabled shouldBe true
      CfAuthConfig(api, username = "admin", password = "pw").enabled shouldBe true
    }
  }
}
