package graft

import org.apache.spark.sql.functions._
import graft.model.IndexKind

/** Serving-throughput floor through the REAL listener (round-12 verdict
  * item #1's spec band): the at-scale numbers live in RECALL.md
  * (tools/MeasureQps at the 100k × 1536-d flagship shape, measured once);
  * this pins the two properties a regression would break, at a size every
  * commit can afford:
  *
  *   - the full socket → middleware → store → engine serve path clears a
  *     conservative single-stream QPS floor (a 2× collapse of the
  *     per-request fixed cost trips it long before users would);
  *   - the batch endpoint AMORTIZES: K requests in one
  *     `points/search/batch` body cost no more wall-clock than the same
  *     K as sequential singles (they share one fused candidate scan).
  */
class QpsSpec extends SparkSuite {

  test("listener serving clears the QPS floor; the batch endpoint amortizes") {
    val root = Fs.tempDir("graft_qps_spec_").toString
    // SQ8-quantized flat collection: trigger fires at create, so
    // `"approx": true` requests serve from the artifact and a batch of
    // them is the FUSED multi-query scan (the batchable shape)
    val db = Graft.forTenant(spark, root, "u1")
    db.createCollection("qemb", graft.model.IndexSchema(
      "vec" -> IndexKind.VectorFlat(64, IndexKind.Metric.Cosine,
        quantizer = IndexKind.Quantizer.Scalar(triggerThreshold = 1))),
      Tables.embeddings(spark, sf0001).select(
        col("vec_id").cast("string").as("_id"), col("embedding").as("vec")))
    val svc = new graft.wire.WireService(spark, root,
      userPlans = Map("basic" -> graft.store.UserPlan()))
    val l = new graft.wire.HttpListener(svc)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String): String = {
        val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${l.boundPort}$path"))
          .header("X-User-Id", "u1").header("X-Plan-Id", "basic")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, s"$path -> ${resp.statusCode()}: ${resp.body()}")
        resp.body()
      }
      def body(i: Long): String = {
        val qv = queries.TestCollections.queryVector(spark, sf0001, i)
        s"""{"query":{"property":"vec","vectorFlat":{
           |"vector":[${qv.mkString(",")}],"operator":"near",
           |"limit":5,"approx":true}},"select":["_id"],"limit":5}""".stripMargin
      }
      val bodies = (0L until 10L).map(body)
      // warm: attach + JIT, and rows actually come back
      assert(post("/collections/qemb/points/search", bodies.head).contains("\"_id\""))
      post("/collections/qemb/points/search", bodies(1))
      val t0 = System.nanoTime()
      bodies.foreach(b => post("/collections/qemb/points/search", b))
      val singles = (System.nanoTime() - t0) / 1e9
      val qps = bodies.length / singles
      // conservative floor: the smoke measurement on this box reads ~3-4
      // QPS at this size; 0.5 trips only on a multiple-x collapse of the
      // per-request fixed cost, not on ambient box noise
      assert(qps >= 0.5, f"single-stream serving fell to $qps%.2f QPS")
      // warm the batch route like the singles got (attach path is shared
      // but the fused-scan codegen is not), then min-of-2 so a stray GC
      // pause inside one sample can't fail the law on a loaded box
      val batchBody = s"""{"requests":[${bodies.mkString(",")}]}"""
      post("/collections/qemb/points/search/batch", batchBody)
      val batch = (1 to 2).map { _ =>
        val b0 = System.nanoTime()
        post("/collections/qemb/points/search/batch", batchBody)
        (System.nanoTime() - b0) / 1e9
      }.min
      // 1.25× margin: the singles sample is a single unguarded run, so a
      // strict <= would let ambient noise on EITHER side fabricate an
      // "amortization lost" failure (this box swings ±20% on identical
      // code); a real collapse of the batch route is a multiple-× event
      assert(batch <= singles * 1.25,
        f"batch of ${bodies.length} took $batch%.2f s vs $singles%.2f s as singles — amortization lost")
    } finally l.close()
  }
}
