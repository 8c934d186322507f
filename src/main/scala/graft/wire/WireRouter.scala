package graft.wire

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.model.{IndexKind, IndexSchema, MsgPack}

/** The reference's HTTP/RPC surface as an IN-PROCESS router (reference
  * httpapi/v2/handlers.go:30–52 routes, 56–73 create envelope, 228–305
  * point writes, 435–488 search): the same METHOD + PATH routing, request
  * envelopes, validation bounds, status codes, and response shapes —
  * minus the socket, which rounds 4–6 ruled out of scope for a Spark
  * library. A real deployment mounts [[WireRouter.handle]] behind any
  * JVM HTTP server in a few lines; everything protocol-shaped lives here
  * and is testable as wire round-trips (WireRouterSpec).
  *
  * Request/response bodies speak BOTH wire codecs, selected by content
  * type: JSON (jackson) and msgpack (model/MsgPack.scala) — the
  * reference's two encodings (httpapi/utils DecodeValid).
  *
  * Documented divergences, all rooted in the engine's deterministic
  * column-typed store:
  *   - point `_id`s are arbitrary strings (the engine-wide id model),
  *     not UUIDs; insert REQUIRES `_id` rather than minting a random
  *     uuid.New() per point (a deterministic store cannot mint
  *     nondeterministic ids; reference models/point.go:14–20);
  *   - point fields must be declared in the index schema (a column
  *     store has no schemaless payload bucket);
  *   - GET /collections/{id} reports ONE logical shard whose pointCount
  *     is the collection count (sharding is Catalyst partitioning here,
  *     SURVEY §2.7).
  */
object WireRouter {

  final case class WireResponse(status: Int, body: JValue) {
    def json: String = JsonMethods.compact(JsonMethods.render(body))
    def msgpack: Array[Byte] = MsgPack.encode(body)
  }

  private def err(status: Int, message: String): WireResponse =
    WireResponse(status, JObject("error" -> JString(message)))
  private def msg(status: Int, message: String): WireResponse =
    WireResponse(status, JObject("message" -> JString(message)))

  // ---- reference-format index schema codec --------------------------------
  // (models/index.go:20–28: {type, <type>: {params}} per property; the
  // store's internal schema.json is a different, flat format — this codec
  // is the WIRE face.)

  private def quantizerOf(j: JValue): IndexKind.Quantizer = j match {
    case JNothing | JNull => IndexKind.Quantizer.NoQuant
    case q =>
      def trig(sub: JValue): Int = sub \ "triggerThreshold" match {
        case JInt(x) => x.toInt
        case JLong(x) => x.toInt
        case _ => 10000
      }
      q \ "type" match {
        case JString("none") | JNothing => IndexKind.Quantizer.NoQuant
        case JString("binary") => IndexKind.Quantizer.Binary(trig(q \ "binary"))
        case JString("product") =>
          val p = q \ "product"
          def i(k: String, d: Int) = p \ k match {
            case JInt(x) => x.toInt; case JLong(x) => x.toInt; case _ => d
          }
          IndexKind.Quantizer.Product(
            i("numCentroids", 256), i("numSubVectors", 8), trig(p))
        case JString("scalar") => IndexKind.Quantizer.Scalar(trig(q \ "scalar"))
        case JString("opq") =>
          val p = q \ "opq"
          def i(k: String, d: Int) = p \ k match {
            case JInt(x) => x.toInt; case JLong(x) => x.toInt; case _ => d
          }
          IndexKind.Quantizer.Opq(
            i("numCentroids", 256), i("numSubVectors", 8), trig(p))
        case JString("rabitq") => IndexKind.Quantizer.RaBitQ(trig(q \ "rabitq"))
        case other => throw new IllegalArgumentException(
          s"unknown quantizer type ${JsonMethods.compact(JsonMethods.render(other))}")
      }
  }

  def parseIndexSchema(j: JValue): IndexSchema = j match {
    case JObject(fields) =>
      IndexSchema(fields.map { case (prop, v) =>
        def sub(name: String): JValue = v \ name
        def i(o: JValue, k: String, d: Int) = o \ k match {
          case JInt(x) => x.toInt; case JLong(x) => x.toInt; case _ => d
        }
        def dbl(o: JValue, k: String, d: Double) = o \ k match {
          case JDouble(x) => x; case JInt(x) => x.toDouble; case _ => d
        }
        def metric(o: JValue): IndexKind.Metric = o \ "distanceMetric" match {
          case JString(m) => IndexKind.Metric.parse(m)
          case _ => throw new IllegalArgumentException(
            s"property $prop: distanceMetric is required")
        }
        val kind: IndexKind = v \ "type" match {
          case JString("vectorFlat") =>
            val p = sub("vectorFlat")
            IndexKind.VectorFlat(i(p, "vectorSize", 0), metric(p),
              quantizerOf(p \ "quantizer"))
          case JString("vectorVamana") =>
            val p = sub("vectorVamana")
            IndexKind.VectorVamana(i(p, "vectorSize", 0), metric(p),
              i(p, "searchSize", 75), i(p, "degreeBound", 64),
              dbl(p, "alpha", 1.2), quantizerOf(p \ "quantizer"))
          case JString("text") =>
            sub("text") \ "analyser" match {
              case JString(a) => IndexKind.Text(a)
              case _ => IndexKind.Text()
            }
          case JString("string") =>
            IndexKind.Str(sub("string") \ "caseSensitive" == JBool(true))
          case JString("stringArray") =>
            IndexKind.StrArray(sub("stringArray") \ "caseSensitive" == JBool(true))
          case JString("integer") => IndexKind.Integer
          case JString("float") => IndexKind.Float
          case other => throw new IllegalArgumentException(
            s"property $prop: unknown index type ${JsonMethods.compact(JsonMethods.render(other))}")
        }
        prop -> kind
      }.toMap)
    case _ => throw new IllegalArgumentException("indexSchema must be an object")
  }

  def encodeIndexSchema(s: IndexSchema): JValue = {
    def quant(q: IndexKind.Quantizer): JValue = q match {
      case IndexKind.Quantizer.NoQuant => JObject("type" -> JString("none"))
      case IndexKind.Quantizer.Binary(t) => JObject(
        "type" -> JString("binary"),
        "binary" -> JObject("triggerThreshold" -> JInt(t)))
      case IndexKind.Quantizer.Product(kc, m, t) => JObject(
        "type" -> JString("product"),
        "product" -> JObject("numCentroids" -> JInt(kc),
          "numSubVectors" -> JInt(m), "triggerThreshold" -> JInt(t)))
      case IndexKind.Quantizer.Scalar(t) => JObject(
        "type" -> JString("scalar"),
        "scalar" -> JObject("triggerThreshold" -> JInt(t)))
      case IndexKind.Quantizer.Opq(kc, m, t) => JObject(
        "type" -> JString("opq"),
        "opq" -> JObject("numCentroids" -> JInt(kc),
          "numSubVectors" -> JInt(m), "triggerThreshold" -> JInt(t)))
      case IndexKind.Quantizer.RaBitQ(t) => JObject(
        "type" -> JString("rabitq"),
        "rabitq" -> JObject("triggerThreshold" -> JInt(t)))
    }
    JObject(s.props.toSeq.sortBy(_._1).map { case (prop, k) =>
      val body: JValue = k match {
        case IndexKind.VectorFlat(n, m, q) => JObject(
          "type" -> JString("vectorFlat"),
          "vectorFlat" -> JObject("vectorSize" -> JInt(n),
            "distanceMetric" -> JString(m.name), "quantizer" -> quant(q)))
        case IndexKind.VectorVamana(n, m, ss, db, a, q) => JObject(
          "type" -> JString("vectorVamana"),
          "vectorVamana" -> JObject("vectorSize" -> JInt(n),
            "distanceMetric" -> JString(m.name), "searchSize" -> JInt(ss),
            "degreeBound" -> JInt(db), "alpha" -> JDouble(a),
            "quantizer" -> quant(q)))
        case IndexKind.Text(a) => JObject(
          "type" -> JString("text"), "text" -> JObject("analyser" -> JString(a)))
        case IndexKind.Str(cs) => JObject(
          "type" -> JString("string"),
          "string" -> JObject("caseSensitive" -> JBool(cs)))
        case IndexKind.StrArray(cs) => JObject(
          "type" -> JString("stringArray"),
          "stringArray" -> JObject("caseSensitive" -> JBool(cs)))
        case IndexKind.Integer => JObject("type" -> JString("integer"))
        case IndexKind.Float => JObject("type" -> JString("float"))
      }
      prop -> body
    }.toList)
  }

  // ---- Spark schema + point-map coercion ----------------------------------

  private def leafType(k: IndexKind): DataType = k match {
    case _: IndexKind.VectorFlat | _: IndexKind.VectorVamana => ArrayType(FloatType)
    case _: IndexKind.Text | _: IndexKind.Str => StringType
    case _: IndexKind.StrArray => ArrayType(StringType)
    case IndexKind.Integer => LongType
    case IndexKind.Float => DoubleType
  }

  /** The collection's column schema: `_id` + one (possibly nested, via
    * dotted property paths) column per declared index property.
    */
  def sparkSchema(s: IndexSchema): StructType = {
    def build(paths: Seq[(List[String], DataType)]): StructType =
      StructType(paths.groupBy(_._1.head).toSeq.sortBy(_._1).map { case (h, grp) =>
        grp.find(_._1.lengthCompare(1) == 0) match {
          case Some((_, t)) => StructField(h, t, nullable = true)
          case None => StructField(h,
            build(grp.map { case (p, t) => (p.tail, t) }), nullable = true)
        }
      })
    StructType(
      StructField("_id", StringType, nullable = false) +:
        build(s.props.toSeq.map { case (p, k) =>
          (p.split("\\.").toList, leafType(k))
        }).fields)
  }

  private def coerce(j: JValue, t: DataType, at: String): Any = (j, t) match {
    case (JNothing | JNull, _) => null
    case (JString(s), StringType) => s
    case (JInt(x), LongType) => x.toLong
    case (JLong(x), LongType) => x
    case (JInt(x), DoubleType) => x.toDouble
    case (JLong(x), DoubleType) => x.toDouble
    case (JDouble(x), DoubleType) => x
    case (JDecimal(x), DoubleType) => x.toDouble
    case (JArray(xs), ArrayType(FloatType, _)) => xs.map {
      case JDouble(x) => x.toFloat
      case JInt(x) => x.toFloat
      case JLong(x) => x.toFloat
      case JDecimal(x) => x.toFloat
      case other => throw new IllegalArgumentException(
        s"$at: expected a number in the vector, got ${JsonMethods.compact(JsonMethods.render(other))}")
    }
    case (JArray(xs), ArrayType(StringType, _)) => xs.map {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"$at: expected a string in the array, got ${JsonMethods.compact(JsonMethods.render(other))}")
    }
    case (o: JObject, st: StructType) => structRow(o, st, at)
    case (other, t0) => throw new IllegalArgumentException(
      s"$at: cannot read ${JsonMethods.compact(JsonMethods.render(other))} as $t0")
  }

  private def structRow(o: JObject, st: StructType, at: String): Row = {
    val fields = o.obj.toMap
    val unknown = fields.keySet -- st.fieldNames
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"$at: undeclared propert${if (unknown.size == 1) "y" else "ies"} " +
          s"${unknown.toSeq.sorted.mkString(", ")} (the column-typed store " +
          "requires every point field in the index schema)")
    Row.fromSeq(st.fields.toSeq.map(f =>
      coerce(fields.getOrElse(f.name, JNothing), f.dataType, s"$at.${f.name}")))
  }

  /** One point map → one typed Row. `requireId` = insert semantics (the
    * update path also requires it; the reference mints uuids on insert,
    * which a deterministic store deliberately does not).
    */
  def pointRow(o: JObject, st: StructType, idx: Int): Row = {
    o.obj.toMap.get("_id") match {
      case Some(JString(id)) if id.nonEmpty =>
        val rest = JObject(o.obj.filterNot(_._1 == "_id"))
        val body = structRow(rest,
          StructType(st.fields.filterNot(_.name == "_id")), s"point $idx")
        Row.fromSeq(id +: body.toSeq)
      case Some(_) => throw new IllegalArgumentException(
        s"invalid id for point $idx, expected a non-empty string")
      case None => throw new IllegalArgumentException(
        s"invalid id for point $idx, missing _id field (this engine does not mint ids)")
    }
  }

  // ---- result row → wire map ----------------------------------------------

  private def toJValue(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(BigInt(i))
    case l: Long => JInt(BigInt(l))
    case f: Float => JDouble(f.toDouble)
    case d: Double => JDouble(d)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case r: Row => JObject(r.schema.fields.toList.map(f =>
      f.name -> toJValue(r.getAs[Any](f.name))))
    case xs: scala.collection.Seq[_] => JArray(xs.toList.map(toJValue))
    case other => JString(other.toString)
  }

  def rowToPointMap(r: Row): JObject = {
    val fields = r.schema.fields.toList.flatMap { f =>
      val v = r.getAs[Any](f.name)
      // nulls are omitted (the reference omits nil _distance/_score,
      // handlers.go:471–478) — except _hybridScore, which always rides
      if (v == null && f.name != "_hybridScore") Nil
      else List(f.name -> toJValue(v))
    }
    JObject(fields)
  }
}

/** The router itself: stateless over a [[graft.Graft]] facade. */
final class WireRouter(db: graft.Graft,
    metrics: Option[WireMetrics] = None) {
  import WireRouter._

  private val CollectionId = "^/collections/([^/]+)$".r
  private val Points = "^/collections/([^/]+)/points$".r
  private val PointsSearch = "^/collections/([^/]+)/points/search$".r
  private val PointsSearchBatch = "^/collections/([^/]+)/points/search/batch$".r

  /** Dispatch one request. `contentType` selects the body codec for both
    * request and response ("application/msgpack" or JSON otherwise).
    */
  def handle(method: String, path: String, body: Array[Byte] = Array.empty,
      contentType: String = "application/json"): WireResponse = {
    def parsed: JValue =
      if (contentType == "application/msgpack") MsgPack.decode(body)
      else JsonMethods.parse(new String(body, java.nio.charset.StandardCharsets.UTF_8))
    try {
      if (path == "/v1/ping" || path.startsWith("/v1/collections"))
        return handleV1(method, path, parsed)
      // the bare table IS the v2 surface; accept the reference's explicit
      // /v2 prefix too (httpapi/setup.go mounts v1 and v2 side by side)
      val p = if (path.startsWith("/v2/")) path.substring(3) else path
      (method.toUpperCase, p) match {
        case ("GET", "/ping") => msg(200, "pong")
        case ("GET", "/collections") => listCollections()
        case ("POST", "/collections") => createCollection(parsed)
        case ("GET", CollectionId(id)) => withCollection(id)(getCollection)
        case ("DELETE", CollectionId(id)) => withCollection(id)(deleteCollection)
        case ("POST", Points(id)) => withCollection(id)(insertPoints(_, parsed))
        case ("PUT", Points(id)) => withCollection(id)(updatePoints(_, parsed))
        case ("DELETE", Points(id)) => withCollection(id)(deletePoints(_, parsed))
        case ("POST", PointsSearchBatch(id)) =>
          withCollection(id)(searchPointsBatch(_, parsed))
        case ("POST", PointsSearch(id)) =>
          withCollection(id)(searchPoints(_, body, contentType))
        case _ => err(404, s"no route for $method $path")
      }
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        err(400, s"invalid JSON body: ${e.getMessage}")
      case e: IllegalArgumentException => err(400, e.getMessage)
    }
  }

  /** Collection-id middleware (handlers.go:139–167): 3–24 chars,
    * lowercase alphanumeric, must exist.
    */
  private def withCollection(id: String)(f: String => WireResponse): WireResponse =
    if (id.length < 3 || id.length > 24)
      err(400, "collectionId must be between 3 and 24 characters")
    else if (!id.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')))
      err(400, s"id must be alphanumeric, got $id")
    else if (!db.listCollections().contains(id))
      err(404, s"collection $id not found")
    else f(id)

  private def listCollections(): WireResponse =
    WireResponse(200, JObject("collections" -> JArray(
      db.listCollections().sorted.toList.map(id =>
        JObject("id" -> JString(id))))))

  private def createCollection(j: JValue): WireResponse = {
    val id = j \ "id" match {
      case JString(s) => s
      case _ => return err(400, "id is required")
    }
    if (id.length < 3 || id.length > 24)
      return err(400, s"id must be between 3 and 24 characters, got ${id.length}")
    if (!id.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')))
      return err(400, s"id must be alphanumeric, got $id")
    val schema = parseIndexSchema(j \ "indexSchema")
    if (db.listCollections().contains(id))
      return err(409, "collection exists")
    val spark = db.spark
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), sparkSchema(schema))
    try {
      db.createCollection(id, schema, empty)
      msg(200, "collection created")
    } catch {
      case e: IllegalArgumentException if e.getMessage.contains("already exists") =>
        err(409, "collection exists")
      case e: IllegalArgumentException if e.getMessage.contains("user plan") =>
        err(403, "quota reached")
    }
  }

  private def getCollection(id: String): WireResponse = {
    val coll = db.collection(id)
    val n = coll.df.count()
    WireResponse(200, JObject(
      "id" -> JString(id),
      "indexSchema" -> encodeIndexSchema(coll.schema),
      "shards" -> JArray(List(JObject(
        "id" -> JString("0"), "pointCount" -> JInt(BigInt(n)))))))
  }

  private def deleteCollection(id: String): WireResponse = {
    db.dropCollection(id)
    msg(200, "collection deleted")
  }

  private def pointsOf(j: JValue, maxPoints: Int): List[JObject] = j \ "points" match {
    case JArray(xs) =>
      if (xs.isEmpty || xs.length > maxPoints)
        throw new IllegalArgumentException(
          s"number of points must be between 1 and $maxPoints, got ${xs.length}")
      xs.map {
        case o: JObject => o
        case other => throw new IllegalArgumentException(
          s"each point must be an object, got ${JsonMethods.compact(JsonMethods.render(other))}")
      }
    case _ => throw new IllegalArgumentException("points array is required")
  }

  private def insertPoints(id: String, j: JValue): WireResponse = {
    val coll = db.collection(id)
    val st = sparkSchema(coll.schema)
    val rows = pointsOf(j, graft.store.CollectionStore.MaxInsertBatch)
      .zipWithIndex.map { case (o, i) => pointRow(o, st, i) }
    import scala.jdk.CollectionConverters._
    db.insert(id, db.spark.createDataFrame(rows.asJava, st))
    metrics.foreach(_.pointInsertCount.add(rows.length))
    WireResponse(200, JObject(
      "message" -> JString("success"), "failedRanges" -> JArray(Nil)))
  }

  private def updatePoints(id: String, j: JValue): WireResponse = {
    val coll = db.collection(id)
    val st = sparkSchema(coll.schema)
    val points = pointsOf(j, graft.store.CollectionStore.MaxUpdateBatch)
    // field-merge semantics: only the fields a point CARRIES update.
    // COERCE EVERYTHING FIRST — a bad point must 400 before ANY write
    // lands (a mid-batch failure after partial commits would report
    // failure while leaving earlier updates durable) — then apply runs
    // of consecutive same-field-set points in REQUEST order, so
    // duplicate ids resolve by position like the reference's sequential
    // handler, not by hash-map iteration order.
    import scala.jdk.CollectionConverters._
    val coerced = points.zipWithIndex.map { case (o, i) =>
      val fieldSet = o.obj.map(_._1).toSet
      val sub = StructType(st.fields.filter(f =>
        f.name == "_id" || fieldSet.contains(f.name)))
      (sub, pointRow(o, sub, i))
    }
    val runs = coerced.foldLeft(List.empty[(StructType, List[Row])]) {
      case ((sub, rows) :: tail, (s2, r)) if s2 == sub =>
        (sub, rows :+ r) :: tail
      case (acc, (s2, r)) => (s2, List(r)) :: acc
    }.reverse
    runs.foreach { case (sub, rows) =>
      db.update(id, db.spark.createDataFrame(rows.asJava, sub))
    }
    metrics.foreach(_.pointUpdateCount.add(points.length))
    WireResponse(200, JObject(
      "message" -> JString("success"), "failedPoints" -> JArray(Nil)))
  }

  private def deletePoints(id: String, j: JValue): WireResponse = {
    val ids = j \ "ids" match {
      case JArray(xs) if xs.nonEmpty && xs.length <= graft.store.CollectionStore.MaxDeleteBatch =>
        xs.map {
          case JString(s) => s
          case other => throw new IllegalArgumentException(
            s"ids must be strings, got ${JsonMethods.compact(JsonMethods.render(other))}")
        }
      case JArray(xs) => return err(400,
        s"number of ids must be between 1 and ${graft.store.CollectionStore.MaxDeleteBatch}, got ${xs.length}")
      case _ => return err(400, "ids array is required")
    }
    db.delete(id, ids)
    metrics.foreach(_.pointDeleteCount.add(ids.length))
    WireResponse(200, JObject(
      "message" -> JString("success"), "failedPoints" -> JArray(Nil)))
  }

  private def searchPoints(id: String, body: Array[Byte], contentType: String): WireResponse = {
    val df =
      if (contentType == "application/msgpack") db.searchMsgPack(id, body)
      else db.search(id, new String(body, java.nio.charset.StandardCharsets.UTF_8))
    val points = df.collect().toList.map(rowToPointMap)
    metrics.foreach(_.pointSearchCount.add(points.length))
    WireResponse(200, JObject("points" -> JArray(points)))
  }

  /** Batch search (beyond the reference): `{"requests":[<search body>…]}`
    * → `{"results":[{"points":[…]}, …]}` in request order. The facade's
    * searchMany compiles every batchable leaf of the batch through its
    * family's batch route (engine Search.searchMany): graph-served leaves
    * walk as ONE hop-fused wave, quantized flat leaves share ONE
    * multi-query candidate scan, and text leaves share one postings
    * scan — so a K-query serving batch pays ~one request's heavy work
    * instead of K×. Each element is a complete v2
    * search body (the single-request codec, reused verbatim); a malformed
    * element 400s the whole batch, nothing partial executes first.
    */
  private def searchPointsBatch(id: String, j: JValue): WireResponse = {
    val arr = j \ "requests" match {
      case JArray(xs) => xs
      case _ => return err(400, "requests must be an array of search request bodies")
    }
    if (arr.isEmpty) return err(400, "requests must not be empty")
    if (arr.length > 100)
      return err(400, s"batch size ${arr.length} exceeds the maximum of 100")
    // decode straight from the parsed tree (the single-request codec's
    // JValue face): no re-render/re-parse per element, and msgpack bodies
    // carrying non-finite floats decode here exactly like the single route
    val reqs = arr.map(graft.model.Json.searchRequest)
    var served = 0L
    val out = db.searchMany(id, reqs).map { df =>
      val points = df.collect().toList.map(rowToPointMap)
      served += points.length
      JObject("points" -> JArray(points)): JValue
    }
    // count AFTER the whole batch materialized: a mid-batch failure 500s
    // with zero points returned, so it must also add zero to the counter
    // (the "exactly K independent calls" contract — a failed single call
    // counts nothing)
    metrics.foreach(_.pointSearchCount.add(served))
    WireResponse(200, JObject("results" -> JArray(out.toList)))
  }

  // ---- v1 legacy surface ----------------------------------------------------
  // The reference's OLDER pure-vector API, still mounted beside v2
  // (reference httpapi/v1/handlers.go:30–52): one fixed vectorVamana
  // property `vector` (searchSize 75, degreeBound 64, alpha 1.2) plus an
  // opaque per-point `metadata` payload. On this column-typed store the
  // payload rides as one JSON-encoded string column declared in the
  // schema (`metadata`), encoded on write and decoded back to structured
  // JSON on read — v1 treats it as opaque bytes either way, so the
  // round-trip is exact. Point ids are uuid-validated like the
  // reference, but REQUIRED on insert (handlers.go:316 mints uuid.New()
  // for absent ids; a deterministic engine cannot mint randomness — the
  // same documented divergence as the v2 surface above).

  private val V1CollectionId = "^/v1/collections/([^/]+)$".r
  private val V1Points = "^/v1/collections/([^/]+)/points$".r
  private val V1PointsSearch = "^/v1/collections/([^/]+)/points/search$".r

  private def handleV1(method: String, path: String, parsed: => JValue): WireResponse =
    (method.toUpperCase, path) match {
      case ("GET", "/v1/ping") => msg(200, "pong")
      case ("GET", "/v1/collections") => v1ListCollections()
      case ("POST", "/v1/collections") => v1CreateCollection(parsed)
      case ("GET", V1CollectionId(id)) => withV1Collection(id)(v1GetCollection)
      case ("DELETE", V1CollectionId(id)) => withV1Collection(id)(deleteCollection)
      case ("POST", V1Points(id)) => withV1Collection(id)(v1InsertPoints(_, parsed))
      case ("PUT", V1Points(id)) => withV1Collection(id)(v1UpdatePoints(_, parsed))
      case ("DELETE", V1Points(id)) => withV1Collection(id)(v1DeletePoints(_, parsed))
      case ("POST", V1PointsSearch(id)) => withV1Collection(id)(v1SearchPoints(_, parsed))
      case _ => err(404, s"no route for $method $path")
    }

  /** v1 URI middleware (handlers.go:160–167): only the LENGTH is checked
    * here (3–16 — v1's tighter bound, vs 24 for v2), then existence.
    */
  private def withV1Collection(id: String)(f: String => WireResponse): WireResponse =
    if (id.length < 3 || id.length > 16)
      err(400, "collectionId must be between 3 and 16 characters")
    else if (!db.listCollections().contains(id))
      err(404, s"collection $id not found")
    else f(id)

  /** The v1 vamana params of a collection, when it HAS the v1 shape (a
    * `vector` vectorVamana property). v2-created collections without it
    * are invisible to the v1 list (the reference would nil-deref on
    * them — handlers.go:146 assumes the shape; skipping is the safe
    * reading of the same contract).
    */
  private def v1Params(id: String): Option[graft.model.IndexKind.VectorVamana] =
    db.collection(id).schema.props.get("vector").collect {
      case v: graft.model.IndexKind.VectorVamana => v
    }

  private def v1ListCollections(): WireResponse =
    WireResponse(200, JObject("collections" -> JArray(
      db.listCollections().sorted.toList.flatMap(id => v1Params(id).map(p =>
        JObject("id" -> JString(id),
          "vectorSize" -> JInt(BigInt(p.vectorSize)),
          "distanceMetric" -> JString(p.metric.name)))))))

  private def v1CreateCollection(j: JValue): WireResponse = {
    val id = j \ "id" match {
      case JString(s) => s
      case _ => return err(400, "id is required")
    }
    if (id.length < 3 || id.length > 16)
      return err(400, "id must be between 3 and 16 characters")
    if (!id.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
      return err(400, "id must be alphanumeric")
    val vectorSize = j \ "vectorSize" match {
      case JInt(x) => x.toInt
      case JLong(x) => x.toInt
      case _ => return err(400, "vectorSize is required")
    }
    if (vectorSize < 1 || vectorSize > 4096)
      return err(400, s"vectorSize must be between 1 and 4096, got $vectorSize")
    val metric = j \ "distanceMetric" match {
      case JString(m @ ("euclidean" | "cosine" | "dot")) =>
        graft.model.IndexKind.Metric.parse(m)
      case JString(m) => return err(400,
        s"distanceMetric must be one of euclidean, cosine, dot, got $m")
      case _ => return err(400, "distanceMetric is required")
    }
    if (db.listCollections().contains(id))
      return err(409, "collection exists")
    // the reference's fixed v1 schema (handlers.go:93–109) + the payload
    // column this engine declares explicitly
    val schema = graft.model.IndexSchema(Map(
      "vector" -> graft.model.IndexKind.VectorVamana(
        vectorSize, metric, searchSize = 75, degreeBound = 64, alpha = 1.2),
      "metadata" -> graft.model.IndexKind.Str(caseSensitive = true)))
    val empty = db.spark.createDataFrame(
      java.util.Collections.emptyList[Row](), sparkSchema(schema))
    try {
      db.createCollection(id, schema, empty)
      msg(200, "collection created")
    } catch {
      case e: IllegalArgumentException if e.getMessage.contains("already exists") =>
        err(409, "collection exists")
      case e: IllegalArgumentException if e.getMessage.contains("user plan") =>
        err(403, "quota reached")
    }
  }

  private def v1GetCollection(id: String): WireResponse = v1Params(id) match {
    case None => err(404, s"collection $id not found")
    case Some(p) =>
      val n = db.collection(id).df.count()
      WireResponse(200, JObject(
        "id" -> JString(id),
        "vectorSize" -> JInt(BigInt(p.vectorSize)),
        "distanceMetric" -> JString(p.metric.name),
        "shards" -> JArray(List(JObject(
          "id" -> JString("0"), "pointCount" -> JInt(BigInt(n)))))))
  }

  private def v1Uuid(s: String, at: String): String =
    try { java.util.UUID.fromString(s); s }
    catch { case _: IllegalArgumentException =>
      throw new IllegalArgumentException(s"$at must be a valid uuid") }

  /** One v1 point body → the typed row (id, metadata-as-JSON-string,
    * vector), reusing the v2 coercion path. `maxPoints`/`requireId` carry
    * the v1 bounds: insert 1–10000 (id optional in the reference — here
    * required, see the section doc), update 1–100 (id required).
    */
  private def v1Rows(id: String, j: JValue, maxPoints: Int): (StructType, List[Row]) = {
    val p = v1Params(id).getOrElse(
      throw new IllegalArgumentException(s"collection $id is not a v1 collection"))
    val st = sparkSchema(db.collection(id).schema)
    val rows = pointsOf(j, maxPoints).zipWithIndex.map { case (o, i) =>
      val fields = o.obj.toMap
      val unknown = fields.keySet -- Set("id", "vector", "metadata")
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"point $i: unknown field(s) ${unknown.toSeq.sorted.mkString(", ")}")
      val pid = fields.get("id") match {
        case Some(JString(s)) if s.nonEmpty => v1Uuid(s, s"id for point $i")
        case _ => throw new IllegalArgumentException(
          s"invalid id for point $i, expected a uuid (this engine does not mint ids)")
      }
      val vec = fields.getOrElse("vector", JNothing) match {
        case JArray(xs) if xs.nonEmpty && xs.length <= 2000 =>
          if (xs.length != p.vectorSize) throw new IllegalArgumentException(
            s"invalid vector dimension, expected ${p.vectorSize} got ${xs.length} for point at index $i")
          JArray(xs)
        case JArray(xs) => throw new IllegalArgumentException(
          s"vector size must be between 1 and 2000, got ${xs.length}")
        case _ => throw new IllegalArgumentException(s"point $i: vector is required")
      }
      val meta: JValue = fields.getOrElse("metadata", JNothing) match {
        case JNothing | JNull => JNothing
        case m => JString(JsonMethods.compact(JsonMethods.render(m)))
      }
      pointRow(JObject(List(
        "_id" -> JString(pid), "vector" -> vec) ++
        (if (meta == JNothing) Nil else List("metadata" -> meta))), st, i)
    }
    (st, rows)
  }

  private def v1InsertPoints(id: String, j: JValue): WireResponse = {
    val (st, rows) = v1Rows(id, j, graft.store.CollectionStore.MaxInsertBatch)
    import scala.jdk.CollectionConverters._
    db.insert(id, db.spark.createDataFrame(rows.asJava, st))
    metrics.foreach(_.pointInsertCount.add(rows.length))
    WireResponse(200, JObject(
      "message" -> JString("success"), "failedRanges" -> JArray(Nil)))
  }

  private def v1UpdatePoints(id: String, j: JValue): WireResponse = {
    val (st, rows) = v1Rows(id, j, graft.store.CollectionStore.MaxUpdateBatch)
    import scala.jdk.CollectionConverters._
    db.update(id, db.spark.createDataFrame(rows.asJava, st))
    metrics.foreach(_.pointUpdateCount.add(rows.length))
    WireResponse(200, JObject(
      "message" -> JString("success"), "failedPoints" -> JArray(Nil)))
  }

  private def v1DeletePoints(id: String, j: JValue): WireResponse = {
    val ids = j \ "ids" match {
      case JArray(xs) if xs.nonEmpty && xs.length <= graft.store.CollectionStore.MaxDeleteBatch =>
        xs.zipWithIndex.map {
          case (JString(s), i) => v1Uuid(s, s"id at index $i")
          case (other, _) => throw new IllegalArgumentException(
            s"ids must be strings, got ${JsonMethods.compact(JsonMethods.render(other))}")
        }
      case JArray(xs) => return err(400,
        s"number of ids must be between 1 and ${graft.store.CollectionStore.MaxDeleteBatch}, got ${xs.length}")
      case _ => return err(400, "ids array is required")
    }
    db.delete(id, ids)
    metrics.foreach(_.pointDeleteCount.add(ids.length))
    WireResponse(200, JObject(
      "message" -> JString("success"), "failedPoints" -> JArray(Nil)))
  }

  /** v1 search (handlers.go:521–579): the fixed request {vector, limit}
    * compiles to the SAME v2 search request the reference builds
    * internally (property `vector`, operator `near`, searchSize 75,
    * select [metadata]) and runs through the one engine path; the
    * response re-shapes to v1's {id, distance, metadata} triples with
    * the stored payload decoded back to structured JSON.
    */
  private def v1SearchPoints(id: String, j: JValue): WireResponse = {
    val p = v1Params(id).getOrElse(
      return err(400, s"collection $id is not a v1 collection"))
    val vec = j \ "vector" match {
      case JArray(xs) if xs.nonEmpty && xs.length <= 2000 =>
        if (xs.length != p.vectorSize) return err(400,
          s"invalid vector dimension, expected ${p.vectorSize} got ${xs.length}")
        JArray(xs)
      case JArray(_) => return err(400, "vector size must be between 1 and 2000")
      case _ => return err(400, "vector is required")
    }
    val limit = j \ "limit" match {
      case JNothing | JNull => 10
      case JInt(x) if x >= 0 && x <= 75 => if (x == 0) 10 else x.toInt
      case JLong(x) if x >= 0 && x <= 75 => if (x == 0) 10 else x.toInt
      case _ => return err(400, "limit must be between 0 and 75")
    }
    val req = JObject(
      "query" -> JObject(
        "property" -> JString("vector"),
        "vectorVamana" -> JObject(
          "vector" -> vec, "operator" -> JString("near"),
          "searchSize" -> JInt(75), "limit" -> JInt(limit))),
      "select" -> JArray(List(JString("metadata"))),
      "limit" -> JInt(limit))
    val rows = db.search(id, JsonMethods.compact(JsonMethods.render(req))).collect()
    val points = rows.toList.map { r =>
      val names = r.schema.fieldNames.toSet
      val dist: Double =
        if (!names.contains("_distance") || r.isNullAt(r.fieldIndex("_distance"))) 0.0
        else r.getAs[Any]("_distance") match {
          case f: Float => f.toDouble
          case d: Double => d
          case other => other.toString.toDouble
        }
      val meta: JValue =
        if (!names.contains("metadata") || r.isNullAt(r.fieldIndex("metadata"))) JNull
        else JsonMethods.parse(r.getAs[String]("metadata"))
      JObject(
        "id" -> JString(r.getAs[String]("_id")),
        "distance" -> JDouble(dist),
        "metadata" -> meta)
    }
    metrics.foreach(_.pointSearchCount.add(points.length))
    WireResponse(200, JObject("points" -> JArray(points)))
  }
}

/** The reference's app-header middleware in front of the router
  * (httpapi/middleware/appheaders.go:23–49): every request must carry
  * `X-User-Id` + `X-Plan-Id`; the plan id resolves against the
  * configured plan table (403 on unknown), and the request executes
  * against the TENANT's namespace (Graft.forTenant — collections
  * prefixed by user id, per-tenant quotas) — the reference's own
  * isolation mechanism. Per-tenant facades are cached: the first request
  * pays store discovery, the rest reuse the collection cache.
  */
final class WireService(
    spark: org.apache.spark.sql.SparkSession, root: String,
    userPlans: Map[String, graft.store.UserPlan],
    proxySecret: Option[String] = None,
    whiteListIps: Seq[String] = Nil,
    val metrics: Option[WireMetrics] = None) {
  import WireRouter._

  // the reference's security middlewares disable themselves on the empty
  // config (middleware.go:46–49, 63–66: empty secret / nil-or-["*"]
  // whitelist log a warning and pass through)
  private val secretEnabled = proxySecret.exists(_.nonEmpty)
  private val whitelistEnabled =
    whiteListIps.nonEmpty && whiteListIps != Seq("*")
  private val whitelistSorted = whiteListIps.sorted.toArray

  /** Most tenants a long-lived service caches facades for at once: a
    * facade per (user, plan) holds a CollectionStore with its own caches,
    * so an attacker spraying distinct X-User-Id values must not grow
    * driver memory without bound. Past the cap, least-recently-used
    * facades are dropped (their collections re-open lazily on the
    * tenant's next request — the store is durable, nothing is lost).
    */
  private val MaxCachedTenants = 1024

  private val routers =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), WireRouter](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), WireRouter]): Boolean =
          size() > MaxCachedTenants
      })

  /** The reference's full middleware chain in evaluation order
    * (httpapi.go:42–52, outermost first): Recover → logger/metrics (times
    * and counts EVERYTHING inside, rejections included) → ProxySecret
    * (407 on a missing/mismatched X-Proxy-Secret, handlers.go convention)
    * → WhiteListIP (403 on a non-listed remote address, exact string
    * match over the sorted list) → app-header tenancy → routes.
    * `remoteAddr` plays http.Request.RemoteAddr; callers without a
    * socket pass the peer identity they have.
    */
  def handle(method: String, path: String,
      headers: Map[String, String], body: Array[Byte] = Array.empty,
      remoteAddr: String = ""): WireResponse = {
    val t0 = System.nanoTime()
    val resp =
      try inner(method, path, headers, body, remoteAddr)
      catch {
        // the Recover middleware (middleware.go:82–93): a panic anywhere
        // below surfaces as a plain 500, never a torn connection
        case scala.util.control.NonFatal(e) =>
          WireResponse(500, org.json4s.JObject("error" ->
            org.json4s.JString(s"internal error: ${e.getMessage}")))
      }
    metrics.foreach(_.observe(resp.status, method, path,
      (System.nanoTime() - t0) / 1e9, body.length.toLong))
    resp
  }

  /** The Prometheus exposition gated by the SECURITY middlewares only
    * (proxy secret + IP whitelist — a scraper has no tenant headers, so
    * the tenant wall is skipped by design, but a locked-down port must
    * not leak per-path request counts and latencies to arbitrary peers).
    * Returns (status, body): 200 + text, 407/403 on a failed middleware,
    * 404 when no metrics registry is configured. The scrape itself is
    * counted through `metrics.observe` like every routed request.
    */
  def handleMetrics(headers: Map[String, String],
      remoteAddr: String): (Int, String) = {
    val t0 = System.nanoTime()
    val out = securityGate(headers, remoteAddr) match {
      case Some(denied) => (denied.status, denied.json)
      case None => metrics match {
        case Some(m) => (200, m.render())
        case None => (404, "")
      }
    }
    metrics.foreach(_.observe(out._1, "GET", "/metrics",
      (System.nanoTime() - t0) / 1e9, 0L))
    out
  }

  /** ProxySecret + WhiteListIP, shared by the routed path and /metrics;
    * Some(denial) when a middleware rejects.
    */
  private def securityGate(headers: Map[String, String],
      remoteAddr: String): Option[WireResponse] = {
    if (secretEnabled &&
        !headers.get("X-Proxy-Secret").contains(proxySecret.get))
      return Some(WireResponse(407,
        org.json4s.JObject("error" -> org.json4s.JString("forbidden"))))
    if (whitelistEnabled &&
        java.util.Arrays.binarySearch(
          whitelistSorted.asInstanceOf[Array[AnyRef]], remoteAddr) < 0)
      return Some(WireResponse(403,
        org.json4s.JObject("error" -> org.json4s.JString("forbidden"))))
    None
  }

  private def inner(method: String, path: String,
      headers: Map[String, String], body: Array[Byte],
      remoteAddr: String): WireResponse = {
    securityGate(headers, remoteAddr) match {
      case Some(denied) => return denied
      case None => ()
    }
    val userId = headers.getOrElse("X-User-Id", "")
    val planId = headers.getOrElse("X-Plan-Id", "")
    if (userId.isEmpty || planId.isEmpty)
      return WireResponse(400,
        org.json4s.JObject("error" ->
          org.json4s.JString("missing X-User-Id or X-Plan-Id headers")))
    userPlans.get(planId) match {
      case None => WireResponse(403,
        org.json4s.JObject("error" ->
          org.json4s.JString(s"unknown user plan $planId")))
      case Some(plan) =>
        val router =
          try routers.computeIfAbsent((userId, planId), _ =>
            new WireRouter(graft.Graft.forTenant(spark, root, userId, plan),
              metrics))
          catch {
            case e: IllegalArgumentException =>
              return WireResponse(400,
                org.json4s.JObject("error" -> org.json4s.JString(e.getMessage)))
          }
        router.handle(method, path, body,
          headers.getOrElse("Content-Type", "application/json"))
    }
  }
}
