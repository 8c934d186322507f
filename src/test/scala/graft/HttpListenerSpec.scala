package graft

import graft.wire.{HttpListener, WireMetrics, WireService}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The socket adapter's own laws (round-11 verdict item #3): the listener
  * must carry the middleware chain faithfully over real TCP — tenant
  * headers, proxy secret, IP whitelist against the actual peer address,
  * Content-Type codec selection, 404 routing — expose /metrics outside
  * the tenant wall, and shut down gracefully (drain, then refuse).
  */
class HttpListenerSpec extends SparkSuite {

  private def client = HttpClient.newHttpClient()

  private def get(port: Int, path: String,
      headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(
      java.net.URI.create(s"http://127.0.0.1:$port$path"))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def withListener(
      secret: Option[String] = None, whitelist: Seq[String] = Nil,
      metrics: Option[WireMetrics] = None)(f: (HttpListener, Int) => Unit): Unit = {
    val dir = Fs.tempDir("graft_http_spec_").toString
    val svc = new WireService(spark, dir,
      userPlans = Map("basic" -> graft.store.UserPlan()),
      proxySecret = secret, whiteListIps = whitelist, metrics = metrics)
    val l = new HttpListener(svc)
    try f(l, l.boundPort) finally l.close()
  }

  private val tenant = Map("X-User-Id" -> "u1", "X-Plan-Id" -> "basic")

  test("ping, 404 routing, and tenant middleware over a real socket") {
    withListener() { (_, port) =>
      val pong = get(port, "/ping", tenant)
      assert(pong.statusCode() == 200 && pong.body().contains("pong"))
      assert(pong.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/json"))
      assert(get(port, "/no/such/route", tenant).statusCode() == 404)
      // the app-header middleware runs behind the socket exactly like the
      // in-process face: no tenant headers → 400
      assert(get(port, "/ping").statusCode() == 400)
      assert(get(port, "/ping",
        Map("X-User-Id" -> "u1", "X-Plan-Id" -> "nope")).statusCode() == 403)
    }
  }

  test("oversized bodies 413 BEFORE the body is buffered or routed") {
    // the cap guards driver memory ahead of authentication: the listener
    // must reject on the declared length (and on the streamed length when
    // the declaration lies) without invoking the service
    val dir = Fs.tempDir("graft_http_spec_").toString
    val svc = new WireService(spark, dir,
      userPlans = Map("basic" -> graft.store.UserPlan()))
    val l = new graft.wire.HttpListener(svc, maxBodyBytes = 1024)
    try {
      val big = "x" * 2048
      val r = client.send(
        HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${l.boundPort}/ping"))
          .header("X-User-Id", "u1").header("X-Plan-Id", "basic")
          .POST(HttpRequest.BodyPublishers.ofString(big)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 413, s"got ${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("too large"))
      // an in-bounds body still routes normally on the same listener
      // (POST /collections is a real body-carrying route; a bad body is
      // the router's 400, not the listener's 413 — proving the cap only
      // rejects size)
      val ok = client.send(
        HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${l.boundPort}/collections"))
          .header("X-User-Id", "u1").header("X-Plan-Id", "basic")
          .POST(HttpRequest.BodyPublishers.ofString("not json")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 400, s"got ${ok.statusCode()}: ${ok.body()}")
    } finally l.close()
  }

  test("proxy-secret and IP whitelist see the real peer address") {
    withListener(secret = Some("s3cr3t")) { (_, port) =>
      assert(get(port, "/ping", tenant).statusCode() == 407)
      assert(get(port, "/ping",
        tenant + ("X-Proxy-Secret" -> "s3cr3t")).statusCode() == 200)
    }
    // loopback connects from 127.0.0.1; a whitelist without it must 403,
    // one with it must pass — proving RemoteAddr is the socket's, not a header
    withListener(whitelist = Seq("10.9.9.9")) { (_, port) =>
      assert(get(port, "/ping", tenant).statusCode() == 403)
    }
    withListener(whitelist = Seq("127.0.0.1")) { (_, port) =>
      assert(get(port, "/ping", tenant).statusCode() == 200)
    }
  }

  test("msgpack Content-Type round-trips through the socket") {
    withListener() { (_, port) =>
      val req = HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/ping"))
        .header("X-User-Id", "u1").header("X-Plan-Id", "basic")
        .header("Content-Type", "application/msgpack")
        .GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type")
        .orElse("") == "application/msgpack")
      val decoded = graft.model.MsgPack.decode(resp.body())
      assert((decoded \ "message") == org.json4s.JString("pong"))
    }
  }

  test("/metrics skips only the tenant wall — the security middlewares still gate it") {
    val m = new WireMetrics
    withListener(metrics = Some(m)) { (_, port) =>
      assert(get(port, "/ping", tenant).statusCode() == 200)
      // no tenant headers on purpose — a scraper doesn't have them
      val scrape = get(port, "/metrics")
      assert(scrape.statusCode() == 200)
      assert(scrape.body().contains("http_request_count"))
      assert(scrape.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain"))
      // the scrape itself is observed like every routed request
      assert(m.render().contains("handler=\"/metrics\""))
    }
    // a locked-down port must not leak the exposition to arbitrary peers:
    // proxy secret and IP whitelist apply to /metrics exactly as to routes
    withListener(secret = Some("s3cr3t"), metrics = Some(m)) { (_, port) =>
      assert(get(port, "/metrics").statusCode() == 407)
      assert(get(port, "/metrics",
        Map("X-Proxy-Secret" -> "s3cr3t")).statusCode() == 200)
    }
    withListener(whitelist = Seq("10.9.9.9"), metrics = Some(m)) { (_, port) =>
      assert(get(port, "/metrics").statusCode() == 403)
    }
    withListener() { (_, port) =>
      assert(get(port, "/metrics").statusCode() == 404)
    }
  }

  /** Round-12 verdict item #5: the listener pool is 8 threads sharing one
    * SparkSession and the walk-clone cache — routing, codec, and tenant
    * isolation had only ever been asserted one request at a time. Drive
    * 32 PARALLEL mixed requests (searches + inserts + metrics scrapes,
    * TWO tenants owning same-named collections) through real sockets and
    * assert every one succeeds and no row crosses the tenant wall.
    */
  test("32 concurrent mixed requests across two tenants: all succeed, isolation holds") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = new WireMetrics
    val dir = Fs.tempDir("graft_http_conc_").toString
    val svc = new WireService(spark, dir,
      userPlans = Map("basic" -> graft.store.UserPlan()), metrics = Some(m))
    val l = new HttpListener(svc)
    try {
      val port = l.boundPort
      val cl = client
      def call(user: String, method: String, path: String,
          body: String = ""): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path"))
          .method(method, HttpRequest.BodyPublishers.ofString(body))
        if (user.nonEmpty)
          b.header("X-User-Id", user).header("X-Plan-Id", "basic")
        cl.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      def insertBody(ids: Seq[String], size: Long): String =
        JsonMethods.compact(JsonMethods.render(JObject("points" -> JArray(
          ids.toList.map(id => JObject(
            "_id" -> JString(id), "p_size" -> JInt(BigInt(size))))))))
      val searchBody =
        """{"query":{"property":"p_size",
          |  "integer":{"value":0,"operator":"greaterThanOrEquals"}},
          | "select":[], "limit":100}""".stripMargin
      // both tenants own a collection NAMED "conc" — the strongest isolation
      // probe: any cross-tenant leak would surface under the same id
      Seq("u1", "u2").foreach { u =>
        val r = call(u, "POST", "/collections",
          """{"id":"conc","indexSchema":{"p_size":{"type":"integer"}}}""")
        assert(r.statusCode() == 200, s"$u create: ${r.body()}")
        assert(call(u, "POST", "/collections/conc/points",
          insertBody((0 until 10).map(i => s"${u}_base$i"), 1)).statusCode() == 200)
      }
      // 32 concurrent tasks on 16 threads: per tenant, 8 searches +
      // 4 inserts (disjoint id ranges); 8 unauthenticated metrics scrapes
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[(String, Int, String)]] =
          (0 until 32).map { t =>
            () => {
              // tenant from t/4, op from t%4: every op CLASS hits both
              // tenants (t%2 would give every insert slot an even t, i.e.
              // all inserts to u1 — u2's concurrent write path untested)
              val u = if ((t / 4) % 2 == 0) "u1" else "u2"
              t % 4 match {
                case 0 | 1 =>
                  val r = call(u, "POST", "/collections/conc/points/search", searchBody)
                  (s"search-$u-$t", r.statusCode(), r.body())
                case 2 =>
                  val r = call(u, "POST", "/collections/conc/points",
                    insertBody(Seq(s"${u}_conc$t"), 2))
                  (s"insert-$u-$t", r.statusCode(), r.body())
                case _ =>
                  val r = call("", "GET", "/metrics")
                  (s"metrics-$t", r.statusCode(), r.body())
              }
            }
          }
        val results = pool.invokeAll(tasks.asJava).asScala.map(_.get())
        results.foreach { case (label, status, body) =>
          assert(status == 200, s"$label -> $status: ${body.take(200)}")
        }
        // isolation: every id a tenant's search returned under the storm
        // belongs to that tenant (searches raced the inserts, so the SET
        // varies — membership must not)
        results.collect { case (label, _, body) if label.startsWith("search-") =>
          val u = label.split("-")(1)
          val ids = (JsonMethods.parse(body) \ "points").asInstanceOf[JArray]
            .arr.map(p => (p \ "_id").asInstanceOf[JString].s)
          assert(ids.nonEmpty, s"$label returned no rows")
          assert(ids.forall(_.startsWith(u + "_")),
            s"$label leaked foreign ids: ${ids.filterNot(_.startsWith(u + "_"))}")
        }
      } finally pool.shutdownNow()
      // settled state: each tenant sees its base rows + exactly its own
      // concurrent inserts — nothing lost, nothing leaked
      Seq("u1", "u2").foreach { u =>
        val ids = (JsonMethods.parse(call(u, "POST",
          "/collections/conc/points/search", searchBody).body()) \ "points")
          .asInstanceOf[JArray].arr.map(p => (p \ "_id").asInstanceOf[JString].s)
        val expected = (0 until 10).map(i => s"${u}_base$i").toSet ++
          (0 until 32).filter(t => t % 4 == 2 &&
            (if ((t / 4) % 2 == 0) "u1" else "u2") == u).map(t => s"${u}_conc$t")
        assert(ids.toSet == expected, s"$u settled set drift: got ${ids.sorted}")
      }
    } finally l.close()
  }

  test("graceful shutdown: close() drains, then the port refuses") {
    var port = 0
    withListener() { (l, p) =>
      port = p
      assert(get(port, "/ping", tenant).statusCode() == 200)
      l.close() // idempotent with the fixture's own close
    }
    intercept[java.io.IOException](get(port, "/ping", tenant))
  }
}
