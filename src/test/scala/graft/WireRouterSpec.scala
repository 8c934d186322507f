package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.wire.WireRouter

/** The reference's wire surface as in-process round-trips (reference
  * httpapi/v2/handlers.go + httpapi_test shapes): route dispatch, envelope
  * validation bounds, status codes, JSON and msgpack codecs, and the full
  * create → insert → search → update → delete → drop lifecycle.
  */
class WireRouterSpec extends SparkSuite {

  private def freshRouter(): WireRouter = {
    val dir = Fs.tempDir("graft_wire_").toString
    new WireRouter(graft.Graft(spark, dir))
  }

  private def json(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def parse(r: WireRouter.WireResponse): JValue = r.body

  private val schemaJson =
    """{"id": "mycol", "indexSchema": {
      |  "vec": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 2, "distanceMetric": "euclidean"}},
      |  "name": {"type": "string", "string": {"caseSensitive": false}},
      |  "size": {"type": "integer"}}}""".stripMargin

  test("ping, list, create, get, duplicate-create: routes + envelopes + status codes") {
    val r = freshRouter()
    assert(r.handle("GET", "/ping").status == 200)
    assert(parse(r.handle("GET", "/collections")) \ "collections" == JArray(Nil))

    // validation first: short id, non-alphanum id, bad schema type
    assert(r.handle("POST", "/collections", json("""{"id":"ab","indexSchema":{}}""")).status == 400)
    assert(r.handle("POST", "/collections", json("""{"id":"Bad-Id9","indexSchema":{}}""")).status == 400)
    assert(r.handle("POST", "/collections",
      json("""{"id":"okid1","indexSchema":{"x":{"type":"wat"}}}""")).status == 400)

    assert(r.handle("POST", "/collections", json(schemaJson)).status == 200)
    assert(r.handle("POST", "/collections", json(schemaJson)).status == 409)
    val listed = parse(r.handle("GET", "/collections")) \ "collections"
    assert(listed == JArray(List(JObject("id" -> JString("mycol")))))

    val got = parse(r.handle("GET", "/collections/mycol"))
    assert(got \ "id" == JString("mycol"))
    // the index schema round-trips through the reference wire format
    assert(got \ "indexSchema" \ "vec" \ "type" == JString("vectorFlat"))
    assert(got \ "indexSchema" \ "vec" \ "vectorFlat" \ "distanceMetric" == JString("euclidean"))
    assert(got \ "shards" == JArray(List(JObject(
      "id" -> JString("0"), "pointCount" -> JInt(0)))))

    assert(r.handle("GET", "/collections/absent1").status == 404)
    assert(r.handle("GET", "/collections/ab").status == 400)
    assert(r.handle("PATCH", "/collections/mycol").status == 404)
  }

  test("insert + search (JSON and msgpack) + update field-merge + delete points + drop") {
    val r = freshRouter()
    assert(r.handle("POST", "/collections", json(schemaJson)).status == 200)

    // insert validation: missing _id (this engine mints no ids),
    // undeclared field, empty batch
    assert(r.handle("POST", "/collections/mycol/points",
      json("""{"points":[{"name":"x"}]}""")).status == 400)
    assert(r.handle("POST", "/collections/mycol/points",
      json("""{"points":[{"_id":"a","wat":1}]}""")).status == 400)
    assert(r.handle("POST", "/collections/mycol/points",
      json("""{"points":[]}""")).status == 400)

    val ins = r.handle("POST", "/collections/mycol/points", json(
      """{"points":[
        |  {"_id":"p1","vec":[0.0,0.0],"name":"origin","size":1},
        |  {"_id":"p2","vec":[1.0,0.0],"name":"east","size":2},
        |  {"_id":"p3","vec":[0.0,3.0],"name":"north","size":3}]}""".stripMargin))
    assert(ins.status == 200, ins.json)
    assert(parse(ins) \ "message" == JString("success"))
    assert(parse(r.handle("GET", "/collections/mycol")) \ "shards" \\ "pointCount" == JInt(3))

    // search: vector near through the JSON wire
    val searchBody =
      """{"query":{"property":"vec","vectorFlat":{
        |"vector":[0.0,0.0],"operator":"near","limit":2}},
        |"select":["name"],"limit":2}""".stripMargin
    val found = parse(r.handle("POST", "/collections/mycol/points/search", json(searchBody)))
    val pts = (found \ "points").asInstanceOf[JArray].arr
    assert(pts.map(p => p \ "_id") == List(JString("p1"), JString("p2")), found)
    assert(pts.head \ "name" == JString("origin"))
    assert(pts.head \ "_distance" == JDouble(0.0))
    assert(pts.forall(p => p \ "_hybridScore" != JNothing))

    // the SAME search through the msgpack codec byte-for-byte round-trip
    val mp = graft.model.MsgPack.encode(JsonMethods.parse(searchBody))
    val foundMp = r.handle("POST", "/collections/mycol/points/search", mp,
      contentType = "application/msgpack")
    assert(foundMp.status == 200)
    assert(graft.model.MsgPack.decode(foundMp.msgpack) == found)

    // update: field-merge (only `name` changes; vec/size survive), mixed
    // field sets in one batch
    val upd = r.handle("PUT", "/collections/mycol/points", json(
      """{"points":[
        |  {"_id":"p2","name":"EAST"},
        |  {"_id":"p3","size":33,"name":"North"}]}""".stripMargin))
    assert(upd.status == 200, upd.json)
    val after = parse(r.handle("POST", "/collections/mycol/points/search", json(
      """{"query":{"property":"size","integer":{"value":0,"operator":"greaterThan"}},
        |"select":["name","size","vec"],"limit":10,
        |"sort":[{"property":"size"}]}""".stripMargin)))
    val rows = (after \ "points").asInstanceOf[JArray].arr
    assert(rows.map(p => p \ "name") ==
      List(JString("origin"), JString("EAST"), JString("North")), after)
    assert(rows.map(p => p \ "size") == List(JInt(1), JInt(2), JInt(33)))
    assert(rows(1) \ "vec" == JArray(List(JDouble(1.0), JDouble(0.0))))

    // delete points, then the collection
    assert(r.handle("DELETE", "/collections/mycol/points",
      json("""{"ids":["p1","p3"]}""")).status == 200)
    assert(parse(r.handle("GET", "/collections/mycol")) \ "shards" \\ "pointCount" == JInt(1))
    assert(r.handle("DELETE", "/collections/mycol/points",
      json("""{"ids":[]}""")).status == 400)
    assert(r.handle("DELETE", "/collections/mycol").status == 200)
    assert(r.handle("GET", "/collections/mycol").status == 404)
    assert(parse(r.handle("GET", "/collections")) \ "collections" == JArray(Nil))
  }

  test("batch search: K bodies in one call == K single searches, order preserved; guards") {
    val r = freshRouter()
    assert(r.handle("POST", "/collections", json(schemaJson)).status == 200)
    assert(r.handle("POST", "/collections/mycol/points", json(
      """{"points":[
        |  {"_id":"p1","vec":[0.0,0.0],"name":"origin","size":1},
        |  {"_id":"p2","vec":[1.0,0.0],"name":"east","size":2},
        |  {"_id":"p3","vec":[0.0,3.0],"name":"north","size":3}]}""".stripMargin)).status == 200)
    val near = (x: Double, y: Double) =>
      s"""{"query":{"property":"vec","vectorFlat":{
         |"vector":[$x,$y],"operator":"near","limit":2}},
         |"select":["name"],"limit":2}""".stripMargin
    val filter =
      """{"query":{"property":"size","integer":{"value":2,"operator":"greaterThanOrEquals"}},
        |"select":["size"],"sort":[{"property":"size"}],"limit":5}""".stripMargin
    // a combinator body rides the same batch (round 12: hybrid requests
    // decompose leaf-wise inside searchMany — the wire face must agree)
    val hybrid =
      s"""{"query":{"property":"_or","_or":[
         |  {"property":"vec","vectorFlat":{"vector":[1.0,0.0],"operator":"near","limit":2}},
         |  {"property":"size","integer":{"value":3,"operator":"greaterThanOrEquals"}}]},
         |"select":["name","size"],"limit":5}""".stripMargin
    val batch = parse(r.handle("POST", "/collections/mycol/points/search/batch",
      json(s"""{"requests":[${near(0.0, 0.0)},$filter,${near(0.0, 3.0)},$hybrid]}""")))
    val results = (batch \ "results").asInstanceOf[JArray].arr
    assert(results.length == 4)
    // element i of the batch == the single-request response for body i
    val singles = Seq(near(0.0, 0.0), filter, near(0.0, 3.0), hybrid).map(b =>
      parse(r.handle("POST", "/collections/mycol/points/search", json(b))))
    results.zip(singles).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got \ "points" == want \ "points", s"batch element $i drifted")
    }
    // guards: non-array, empty, oversized, malformed element
    assert(r.handle("POST", "/collections/mycol/points/search/batch",
      json("""{"requests":{}}""")).status == 400)
    assert(r.handle("POST", "/collections/mycol/points/search/batch",
      json("""{"requests":[]}""")).status == 400)
    val many = Seq.fill(101)(near(0.0, 0.0)).mkString("[", ",", "]")
    assert(r.handle("POST", "/collections/mycol/points/search/batch",
      json(s"""{"requests":$many}""")).status == 400)
    assert(r.handle("POST", "/collections/mycol/points/search/batch",
      json("""{"requests":[{"query":{"property":"nope","integer":{"value":1,"operator":"equals"}}}]}""")).status == 400)
  }

  test("batch caps mirror the reference bounds (insert 10000, update/delete 100)") {
    val r = freshRouter()
    assert(r.handle("POST", "/collections", json(
      """{"id":"caps1","indexSchema":{"size":{"type":"integer"}}}""")).status == 200)
    val over = (0 to 100).map(i => s"""{"_id":"u$i","size":$i}""").mkString(",")
    assert(r.handle("PUT", "/collections/caps1/points",
      json(s"""{"points":[$over]}""")).status == 400)
    val overIds = (0 to 100).map(i => s""""u$i"""").mkString(",")
    assert(r.handle("DELETE", "/collections/caps1/points",
      json(s"""{"ids":[$overIds]}""")).status == 400)
    // malformed body → 400, not an exception
    assert(r.handle("POST", "/collections/caps1/points", json("{nope")).status == 400)
  }

  test("WireService: app-header middleware + tenant isolation through the wire") {
    val root = Fs.tempDir("graft_wiresvc_").toString
    val svc = new graft.wire.WireService(spark, root,
      userPlans = Map("basic" -> graft.store.UserPlan()))
    // header validation mirrors the reference middleware
    assert(svc.handle("GET", "/collections", Map.empty).status == 400)
    assert(svc.handle("GET", "/collections",
      Map("X-User-Id" -> "alice", "X-Plan-Id" -> "wat")).status == 403)
    val alice = Map("X-User-Id" -> "alice", "X-Plan-Id" -> "basic")
    val bob = Map("X-User-Id" -> "bob", "X-Plan-Id" -> "basic")
    val mk = """{"id":"shared1","indexSchema":{"size":{"type":"integer"}}}"""
    // SAME collection name for two tenants - namespaced, no interference
    assert(svc.handle("POST", "/collections", alice, json(mk)).status == 200)
    assert(svc.handle("POST", "/collections", bob, json(mk)).status == 200)
    assert(svc.handle("POST", "/collections/shared1/points", alice,
      json("""{"points":[{"_id":"a1","size":1}]}""")).status == 200)
    val aliceGot = parse(svc.handle("GET", "/collections/shared1", alice))
    val bobGot = parse(svc.handle("GET", "/collections/shared1", bob))
    assert(aliceGot \\ "pointCount" == JInt(1))
    assert(bobGot \\ "pointCount" == JInt(0))
    // a hostile user id cannot escape the namespace
    assert(svc.handle("GET", "/collections",
      Map("X-User-Id" -> "../alice", "X-Plan-Id" -> "basic")).status == 400)
  }

  test("PUT is validate-then-commit: a bad point aborts the whole batch; dup ids apply in request order") {
    val r = freshRouter()
    assert(r.handle("POST", "/collections", json(schemaJson)).status == 200)
    assert(r.handle("POST", "/collections/mycol/points", json(
      """{"points":[{"_id":"p1","vec":[0.0,0.0],"name":"before","size":1}]}""")).status == 200)
    // second point is malformed (string in a float vector): the first
    // point's update must NOT land
    val bad = r.handle("PUT", "/collections/mycol/points", json(
      """{"points":[{"_id":"p1","name":"after"},{"_id":"p1","vec":["wat"]}]}"""))
    assert(bad.status == 400, bad.json)
    val check = parse(r.handle("POST", "/collections/mycol/points/search", json(
      """{"query":{"property":"size","integer":{"value":0,"operator":"greaterThan"}},
        |"select":["name"],"limit":10}""".stripMargin)))
    assert((check \\ "name") == JString("before"), check)
    // duplicate ids with DIFFERENT field sets: last-in-request wins
    assert(r.handle("PUT", "/collections/mycol/points", json(
      """{"points":[{"_id":"p1","name":"first"},{"_id":"p1","name":"second","size":9}]}""")).status == 200)
    val after = parse(r.handle("POST", "/collections/mycol/points/search", json(
      """{"query":{"property":"size","integer":{"value":0,"operator":"greaterThan"}},
        |"select":["name","size"],"limit":10}""".stripMargin)))
    assert((after \\ "name") == JString("second"), after)
    assert((after \\ "size") == JInt(9), after)
  }
  test("v1 legacy surface: create/list/get, insert, search, update, delete with v1 envelopes") {
    val r = freshRouter()
    assert(parse(r.handle("GET", "/v1/ping")) \ "message" == JString("pong"))
    assert(parse(r.handle("GET", "/v1/collections")) \ "collections" == JArray(Nil))

    // v1 create validation: id bounds 3-16 (not 24), vectorSize 1-4096,
    // metric restricted to the v1 trio (no haversine/hamming/jaccard)
    def mk(id: String, n: Int, m: String) =
      s"""{"id":"$id","vectorSize":$n,"distanceMetric":"$m"}"""
    assert(r.handle("POST", "/v1/collections", json(mk("ab", 2, "euclidean"))).status == 400)
    assert(r.handle("POST", "/v1/collections", json(mk("averyverylongname1", 2, "euclidean"))).status == 400)
    assert(r.handle("POST", "/v1/collections", json(mk("vcol1", 0, "euclidean"))).status == 400)
    assert(r.handle("POST", "/v1/collections", json(mk("vcol1", 5000, "euclidean"))).status == 400)
    assert(r.handle("POST", "/v1/collections", json(mk("vcol1", 2, "hamming"))).status == 400)
    assert(r.handle("POST", "/v1/collections", json(mk("vcol1", 2, "euclidean"))).status == 200)
    assert(r.handle("POST", "/v1/collections", json(mk("vcol1", 2, "euclidean"))).status == 409)

    // list carries the v1 {id, vectorSize, distanceMetric} triples
    assert(parse(r.handle("GET", "/v1/collections")) \ "collections" == JArray(List(
      JObject("id" -> JString("vcol1"), "vectorSize" -> JInt(2),
        "distanceMetric" -> JString("euclidean")))))

    // the v1 collection is the fixed reference shape THROUGH THE V2 FACE
    // too: one vectorVamana `vector` (75/64/1.2) + the payload column
    val v2got = parse(r.handle("GET", "/collections/vcol1"))
    assert(v2got \ "indexSchema" \ "vector" \ "type" == JString("vectorVamana"))
    assert(v2got \ "indexSchema" \ "vector" \ "vectorVamana" \ "searchSize" == JInt(75))
    assert(v2got \ "indexSchema" \ "vector" \ "vectorVamana" \ "degreeBound" == JInt(64))
    assert(v2got \ "indexSchema" \ "metadata" \ "type" == JString("string"))
    // and the explicit /v2 prefix aliases the bare table
    assert(parse(r.handle("GET", "/v2/collections/vcol1")) == v2got)

    val u1 = "00000000-0000-0000-0000-000000000001"
    val u2 = "00000000-0000-0000-0000-000000000002"
    val u3 = "00000000-0000-0000-0000-000000000003"
    // insert validation: non-uuid id, wrong dimension, absent id (this
    // engine mints no ids - documented divergence), empty batch
    assert(r.handle("POST", "/v1/collections/vcol1/points",
      json("""{"points":[{"id":"notauuid","vector":[0.0,0.0]}]}""")).status == 400)
    assert(r.handle("POST", "/v1/collections/vcol1/points",
      json(s"""{"points":[{"id":"$u1","vector":[0.0,0.0,9.0]}]}""")).status == 400)
    assert(r.handle("POST", "/v1/collections/vcol1/points",
      json("""{"points":[{"vector":[0.0,0.0]}]}""")).status == 400)
    assert(r.handle("POST", "/v1/collections/vcol1/points",
      json("""{"points":[]}""")).status == 400)

    val ins = r.handle("POST", "/v1/collections/vcol1/points", json(
      s"""{"points":[
         |  {"id":"$u1","vector":[0.0,0.0],"metadata":{"tag":"origin","rank":1}},
         |  {"id":"$u2","vector":[1.0,0.0],"metadata":{"tag":"east","rank":2}},
         |  {"id":"$u3","vector":[0.0,3.0]}]}""".stripMargin))
    assert(ins.status == 200, ins.json)
    assert(parse(ins) \ "message" == JString("success"))
    assert(parse(ins) \ "failedRanges" == JArray(Nil))
    assert(parse(r.handle("GET", "/v1/collections/vcol1")) \\ "pointCount" == JInt(3))

    // search: {vector, limit} -> {id, distance, metadata} triples with
    // the payload decoded back to structured JSON (distance = squared L2)
    val found = parse(r.handle("POST", "/v1/collections/vcol1/points/search",
      json("""{"vector":[0.0,0.0],"limit":2}""")))
    val pts = (found \ "points").asInstanceOf[JArray].arr
    assert(pts.map(p => p \ "id") == List(JString(u1), JString(u2)), found)
    assert(pts.map(p => p \ "distance") == List(JDouble(0.0), JDouble(1.0)))
    assert(pts.head \ "metadata" \ "tag" == JString("origin"))
    assert(pts.head \ "metadata" \ "rank" == JInt(1))
    // absent payload rides as null, like the reference's nil metadata
    val all = parse(r.handle("POST", "/v1/collections/vcol1/points/search",
      json("""{"vector":[0.0,3.0],"limit":3}""")))
    assert((all \ "points").asInstanceOf[JArray].arr.head \ "metadata" == JNull)
    // limit 0 defaults to 10; out-of-range limit rejected
    assert((parse(r.handle("POST", "/v1/collections/vcol1/points/search",
      json("""{"vector":[0.0,0.0],"limit":0}"""))) \ "points")
      .asInstanceOf[JArray].arr.length == 3)
    assert(r.handle("POST", "/v1/collections/vcol1/points/search",
      json("""{"vector":[0.0,0.0],"limit":76}""")).status == 400)
    assert(r.handle("POST", "/v1/collections/vcol1/points/search",
      json("""{"vector":[0.0]}""")).status == 400)

    // update is full-point replace in v1 (id+vector required)
    assert(r.handle("PUT", "/v1/collections/vcol1/points",
      json(s"""{"points":[{"id":"$u2","metadata":{"tag":"moved"}}]}""")).status == 400)
    assert(r.handle("PUT", "/v1/collections/vcol1/points", json(
      s"""{"points":[{"id":"$u2","vector":[5.0,0.0],"metadata":{"tag":"moved","rank":9}}]}""")).status == 200)
    val after = parse(r.handle("POST", "/v1/collections/vcol1/points/search",
      json("""{"vector":[5.0,0.0],"limit":1}""")))
    val hit = (after \ "points").asInstanceOf[JArray].arr.head
    assert(hit \ "id" == JString(u2), after)
    assert(hit \ "distance" == JDouble(0.0))
    assert(hit \ "metadata" \ "tag" == JString("moved"))

    // delete points (uuid-validated), then the collection
    assert(r.handle("DELETE", "/v1/collections/vcol1/points",
      json("""{"ids":["notauuid"]}""")).status == 400)
    assert(r.handle("DELETE", "/v1/collections/vcol1/points",
      json(s"""{"ids":["$u1","$u3"]}""")).status == 200)
    assert(parse(r.handle("GET", "/v1/collections/vcol1")) \\ "pointCount" == JInt(1))
    assert(r.handle("DELETE", "/v1/collections/vcol1").status == 200)
    assert(r.handle("GET", "/v1/collections/vcol1").status == 404)
    assert(r.handle("GET", "/v1/collections/ab").status == 400)
    assert(parse(r.handle("GET", "/v1/collections")) \ "collections" == JArray(Nil))
  }

  test("security middleware: ProxySecret 407, WhiteListIP 403, disabled configs pass") {
    val root = Fs.tempDir("graft_wiresec_").toString
    val plans = Map("basic" -> graft.store.UserPlan())
    val alice = Map("X-User-Id" -> "alice", "X-Plan-Id" -> "basic")
    // proxy secret: missing or wrong header → 407 "forbidden" (the
    // reference's StatusProxyAuthRequired, middleware.go:50-58)
    val sec = new graft.wire.WireService(spark, root, plans,
      proxySecret = Some("s3cr3t"))
    assert(sec.handle("GET", "/ping", alice).status == 407)
    assert(sec.handle("GET", "/ping",
      alice + ("X-Proxy-Secret" -> "nope")).status == 407)
    assert(sec.handle("GET", "/ping",
      alice + ("X-Proxy-Secret" -> "s3cr3t")).status == 200)
    // ip whitelist: exact-match over the sorted list; unlisted → 403
    val wl = new graft.wire.WireService(spark, root, plans,
      whiteListIps = Seq("10.0.0.2", "10.0.0.1"))
    assert(wl.handle("GET", "/ping", alice, remoteAddr = "10.0.0.9").status == 403)
    assert(wl.handle("GET", "/ping", alice, remoteAddr = "10.0.0.1").status == 200)
    // disabled semantics (middleware.go:46-49, 63-66): empty secret /
    // ["*"] whitelist pass everything
    val open = new graft.wire.WireService(spark, root, plans,
      proxySecret = Some(""), whiteListIps = Seq("*"))
    assert(open.handle("GET", "/ping", alice).status == 200)
  }

  test("metrics: request vectors + point counters, prometheus text exposition") {
    val root = Fs.tempDir("graft_wiremet_").toString
    val m = new graft.wire.WireMetrics
    val svc = new graft.wire.WireService(spark, root,
      Map("basic" -> graft.store.UserPlan()), metrics = Some(m))
    val alice = Map("X-User-Id" -> "alice", "X-Plan-Id" -> "basic")
    assert(svc.handle("POST", "/collections", alice, json(
      """{"id":"mcol1","indexSchema":{"size":{"type":"integer"}}}""")).status == 200)
    assert(svc.handle("POST", "/collections/mcol1/points", alice, json(
      """{"points":[{"_id":"a","size":1},{"_id":"b","size":2},{"_id":"c","size":3}]}""")).status == 200)
    assert(svc.handle("PUT", "/collections/mcol1/points", alice, json(
      """{"points":[{"_id":"a","size":9}]}""")).status == 200)
    assert(svc.handle("DELETE", "/collections/mcol1/points", alice, json(
      """{"ids":["b"]}""")).status == 200)
    val found = svc.handle("POST", "/collections/mcol1/points/search", alice, json(
      """{"query":{"property":"size","integer":{"value":0,"operator":"greaterThan"}},"limit":10}"""))
    assert(found.status == 200)
    // rejections are observed too (logger middleware is outermost)
    assert(svc.handle("GET", "/collections", Map.empty).status == 400)
    // point counters follow the reference's increments
    // (rpchandlers.go:420-511): inserted points, updated ids, deleted
    // ids, points RETURNED by search
    assert(m.pointInsertCount.sum() == 3)
    assert(m.pointUpdateCount.sum() == 1)
    assert(m.pointDeleteCount.sum() == 1)
    assert(m.pointSearchCount.sum() == 2)
    val text = m.render()
    // canonicalized handler labels, the reference's regex
    assert(text.contains(
      """http_request_count{code="200",method="POST",handler="/collections/{collectionId}/points"} 1"""), text)
    assert(text.contains("""code="400",method="GET",handler="/collections""""), text)
    // histogram exposition shape: cumulative buckets end at +Inf == count
    assert(text.contains("""http_request_duration_seconds_bucket"""), text)
    assert(text.contains("""le="+Inf""""), text)
    assert(text.contains("cluster_node_point_insert_count 3"), text)
    assert(text.contains("cluster_node_point_search_count 2"), text)
  }
}
