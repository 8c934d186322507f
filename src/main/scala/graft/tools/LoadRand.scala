package graft.tools

import org.apache.spark.sql.SparkSession
import org.json4s._
import graft.model.MsgPack
import graft.wire.{WireMetrics, WireService}

/** The reference's `loadrand` ingestion stress tool (internal/loadrand/
  * loadrand.go): generate random vectors and push them through the HTTP
  * surface — msgpack-encoded v1 requests with the app headers
  * (X-User-Id: loadrand, X-Plan-Id: BASIC) — to exercise the ingestion
  * and indexing pipeline end-to-end, then report throughput. Here the
  * "HTTP surface" is [[WireService]] (the socketless convention), so the
  * run covers the full middleware chain, the msgpack codec, the v1
  * envelopes, the store write path, and index maintenance exactly as a
  * wire client would.
  *
  * Deterministic by construction (seeded RNG) — reruns load identical
  * vectors, so an ingest bug reproduces.
  */
object LoadRand {

  final case class Report(
      inserted: Long, seconds: Double, pointsPerSec: Double, searched: Int)

  def run(spark: SparkSession, root: String,
      nPoints: Int = 2000, dim: Int = 64, batch: Int = 1000,
      seed: Long = 42L, searchQueries: Int = 5): Report = {
    require(batch > 0 && batch <= graft.store.CollectionStore.MaxInsertBatch,
      s"batch must be in (0, ${graft.store.CollectionStore.MaxInsertBatch}]: $batch")
    val metrics = new WireMetrics
    val svc = new WireService(spark, root,
      userPlans = Map("BASIC" -> graft.store.UserPlan()),
      metrics = Some(metrics))
    val hdrs = Map(
      "X-User-Id" -> "loadrand", "X-Plan-Id" -> "BASIC",
      "Content-Type" -> "application/msgpack")
    def call(method: String, path: String, body: JValue = JNothing): JValue = {
      val bytes = body match {
        case JNothing => Array.empty[Byte]
        case v => MsgPack.encode(v)
      }
      val resp = svc.handle(method, path, hdrs, bytes)
      require(resp.status == 200, s"$method $path -> ${resp.status}: ${resp.json}")
      resp.body
    }
    val rnd = new scala.util.Random(seed)
    def randVec(): List[JValue] =
      List.fill(dim)(JDouble(rnd.nextFloat().toDouble))
    def uuid(i: Int): String = f"00000000-0000-4000-8000-$i%012d"

    call("POST", "/v1/collections", JObject(
      "id" -> JString("loadrand"), "vectorSize" -> JInt(BigInt(dim)),
      "distanceMetric" -> JString("euclidean")))
    val t0 = System.nanoTime()
    (0 until nPoints).grouped(batch).foreach { b =>
      call("POST", "/v1/collections/loadrand/points", JObject(
        "points" -> JArray(b.toList.map { i =>
          JObject("id" -> JString(uuid(i)), "vector" -> JArray(randVec()))
        })))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    var searched = 0
    (0 until searchQueries).foreach { _ =>
      val found = call("POST", "/v1/collections/loadrand/points/search", JObject(
        "vector" -> JArray(randVec()), "limit" -> JInt(BigInt(10))))
      searched += (found \ "points" match {
        case JArray(a) => a.length
        case _ => 0
      })
    }
    Report(metrics.pointInsertCount.sum(), seconds,
      nPoints / math.max(seconds, 1e-9), searched)
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(2000)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = graft.Sessions.local()
    val root = graft.Fs.tempDir("graft_loadrand_").toString
    val r = run(spark, root, nPoints = n, dim = dim)
    // stash → stop → print: the record must be the process's last stdout line
    val line = s"""{"tool":"loadrand","inserted":${r.inserted},"seconds":${f"${r.seconds}%.2f"},"points_per_sec":${f"${r.pointsPerSec}%.1f"},"searched":${r.searched}}"""
    spark.stop()
    println(line)
  }
}
