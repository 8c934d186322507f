package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.IndexKind
import graft.operators.Embeddings

/** Serving THROUGHPUT through the real TCP listener at the reference's
  * flagship shape (round-12 verdict item #1 — the last baseline column
  * with no repo-side number: the reference's headline table is
  * recall/QPS pairs, README.md:191–196, e.g. 519.9 QPS at
  * 100k × 1536-d).
  *
  * The harness is the honest end-to-end path: a store-backed collection
  * per serving regime (exact walk / PQ-coded walk / RaBitQ-coded walk),
  * the graph built ONCE offline and published to every regime
  * (CollectionStore.importVamanaIndex — the DiskANN offline-build /
  * online-serve split; the code source never shapes the graph), then
  * real HTTP requests over loopback through HttpListener → WireService →
  * tenant middleware → engine serving. Three request patterns per
  * regime:
  *
  *   - `single`: sequential `POST points/search` — the per-request
  *     floor (one walk + one exact re-rank job per request);
  *   - `conc16`: 16 client threads — what the 8-thread listener pool +
  *     Spark's scheduler overlap buys;
  *   - `batchK`: `POST points/search/batch` with K requests per body —
  *     the batch-amortized walk/scan path (searchMany).
  *
  * Two serving phases for the exact regime: the PAST-BUDGET distributed
  * walk (bucket-pruned point reads per hop — the 100 TB artifact shape)
  * and the LOCAL fast path (driver-held graph snapshot — the regime a
  * single-node reference deployment runs, and the apples-to-apples
  * comparison against the reference's in-RAM QPS). Coded regimes
  * measure distributed (their raison d'être is the >memory artifact).
  *
  * Store/session fittings mirror tools/MeasureRecall.scala (broadcast
  * bound, zstd, hash-agg threshold — measurement-box fittings for the
  * KB-wide 1536-d rows, documented there).
  *
  * Usage: `runMain graft.tools.MeasureQps [sfDir] [factor] [dOut]
  * [nSingles] [batchK] [regimes]` — the store root is derived from
  * (factor, dOut) and REUSED across runs, so a rerun (e.g. sweeping
  * request patterns) skips the corpus ingest and the build.
  */
object MeasureQps {

  final case class Pat(name: String, qps: Double, p50Ms: Double, p99Ms: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(50)
    val dOut = args.lift(2).map(_.toInt).getOrElse(1536)
    val nSingles = args.lift(3).map(_.toInt).getOrElse(40)
    val batchK = args.lift(4).map(_.toInt).getOrElse(16)
    val regimes = args.lift(5).map(_.split(",").toSet)
      .getOrElse(Set("exact", "pq", "rbq"))
    val spark = graft.Sessions.local(MeasureRecall.harness: _*)

    val storeRoot = s"/tmp/graft_qps_store_f${factor}_d$dOut"
    // the lifted+replicated corpus is a pure function of (base, factor,
    // dOut) and costs ~10 single-core minutes at the flagship shape (the
    // per-element hash chains) — snapshot it beside the store so a rerun
    // (or a crash recovery) pays a parquet read instead
    val corpusPath = s"$storeRoot/corpus_parquet"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$corpusPath/_SUCCESS"))) {
      val emb0 = graft.Tables.embeddings(spark, sfDir)
      val emb =
        if (dOut > 0) Embeddings.jlLift(
          emb0, col("vec_id"), col("embedding"), dIn = 64, dOut = dOut)
        else emb0
      Embeddings.replicatePerturbed(
        emb, col("vec_id"), col("embedding"), factor, 0.05)
        .repartition(32).write.mode("overwrite").parquet(corpusPath)
    }
    val big = spark.read.parquet(corpusPath).persist()
    val n = big.count()
    val dim = big.select("embedding").head().getSeq[Float](0).length
    println(s"[qps] corpus n=$n dim=$dim")
    val data = big.select(
      col("vec_id").cast("string").as("_id"), col("embedding").as("vec"))

    val db = graft.Graft.forTenant(spark, storeRoot, "qps")
    val colls = Seq(
      "exact" -> (("qpsex", IndexKind.Quantizer.NoQuant: IndexKind.Quantizer)),
      "pq" -> (("qpspq", IndexKind.Quantizer.Product(
        numCentroids = 16, numSubVectors = 16, triggerThreshold = 1))),
      "rbq" -> (("qpsrbq", IndexKind.Quantizer.RaBitQ(triggerThreshold = 1))))
      .filter(r => regimes(r._1))
    // graph built once, published everywhere (pure function of the rows)
    var graph: Option[(DataFrame, DataFrame)] =
      colls.iterator.map(c => db.vamanaIndex(c._2._1, "vec"))
        .collectFirst { case Some(g) => g }
    colls.foreach { case (tag, (name, quant)) =>
      val t0 = System.nanoTime()
      if (!db.listCollections().contains(name))
        db.createCollection(name, graft.model.IndexSchema(
          "vec" -> IndexKind.VectorVamana(dim, IndexKind.Metric.Euclidean,
            degreeBound = 32, quantizer = quant)), data)
      // a crashed earlier run can leave the collection WITHOUT its graph —
      // the artifact presence, not the collection, is the resume marker
      if (db.vamanaIndex(name, "vec").isEmpty) {
        graph match {
          case None =>
            db.buildVamanaIndex(name, "vec")
            graph = db.vamanaIndex(name, "vec")
          case Some((g, m)) => db.importVamanaIndex(name, "vec", g, m)
        }
        println(f"[qps] prepared $name ($tag) in ${(System.nanoTime() - t0) / 1e9}%.0f s")
        System.gc() // free build shuffle files (ContextCleaner needs a GC)
      } else if (graph.isEmpty) graph = db.vamanaIndex(name, "vec")
    }

    // query vectors: unperturbed replica-0 base points (the MeasureRecall
    // convention), enough distinct ones to cycle every pattern
    val qIds = (0L until 64L)
    val qvecs = big.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Float](1))
    def body(i: Int): String =
      s"""{"query":{"property":"vec","vectorVamana":{
         |"vector":[${qvecs(i % qvecs.length).mkString(",")}],
         |"operator":"near","searchSize":75,"limit":10,"approx":true}},
         |"select":["_id"],"limit":10}""".stripMargin

    // the coded-walk opt-in must be live BEFORE a coded collection's
    // first search (attach-time sampling — Graft.codedOrFlat doc)
    spark.conf.set("graft.vamana.codedWalk", "true")

    def measure(port: Int, cname: String, label: String): Unit = {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, b: String): String = {
        val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path"))
          .header("X-User-Id", "qps").header("X-Plan-Id", "basic")
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(b)).build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"$path -> ${resp.statusCode()}: ${resp.body().take(300)}")
        resp.body()
      }
      val searchPath = s"/collections/$cname/points/search"
      // warm: attach + JIT + page cache, and sanity-check rows come back
      val first = post(searchPath, body(0))
      require(first.contains("\"_id\""), s"no rows in $first")
      (1 to 2).foreach(i => post(searchPath, body(i)))

      def stats(lat: Seq[Double], wall: Double, nq: Int): Pat = {
        val s = lat.sorted
        def pct(p: Double) =
          if (s.isEmpty) 0.0 else s(math.min(s.length - 1, (p * s.length).toInt))
        Pat("", nq / wall, pct(0.50) * 1000, pct(0.99) * 1000)
      }
      // single-stream
      val t0 = System.nanoTime()
      val lats = (0 until nSingles).map { i =>
        val s0 = System.nanoTime()
        post(searchPath, body(i))
        (System.nanoTime() - s0) / 1e9
      }
      val single = stats(lats, (System.nanoTime() - t0) / 1e9, nSingles)
      // 16 concurrent client threads
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val c0 = System.nanoTime()
      val clats = try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Double]] =
          (0 until nSingles).map { i =>
            () => {
              val s0 = System.nanoTime()
              post(searchPath, body(i))
              (System.nanoTime() - s0) / 1e9
            }
          }
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdownNow()
      val conc = stats(clats, (System.nanoTime() - c0) / 1e9, nSingles)
      // batch endpoint: ceil(nSingles / batchK) rounds of K requests
      val rounds = math.max(1, (nSingles + batchK - 1) / batchK)
      val b0 = System.nanoTime()
      val blats = (0 until rounds).map { r =>
        val s0 = System.nanoTime()
        val reqs = (0 until batchK).map(i => body(r * batchK + i)).mkString(",")
        post(s"$searchPath/batch", s"""{"requests":[$reqs]}""")
        (System.nanoTime() - s0) / 1e9 / batchK // per-query latency share
      }
      val batch = stats(blats, (System.nanoTime() - b0) / 1e9, rounds * batchK)
      println(f"[qps] $label | single ${single.qps}%.2f QPS (p50 ${single.p50Ms}%.0f ms, p99 ${single.p99Ms}%.0f ms) | conc16 ${conc.qps}%.2f QPS (p50 ${conc.p50Ms}%.0f ms, p99 ${conc.p99Ms}%.0f ms) | batch$batchK ${batch.qps}%.2f QPS (${batch.p50Ms}%.0f ms/query p50)")
    }

    // phase A: the 100 TB serving shape — distributed walks (exact past
    // the local budget; coded by construction). At SMALL (factor, dOut)
    // arguments the raw artifact fits the default 128 MB local budget and
    // the exact regime silently serves the driver-held snapshot — label
    // honestly, or a small smoke run's numbers would misattribute the
    // distributed walk cost (phase A == phase B regime there).
    // MUST mirror VamanaServe.tryLocal's row estimate (80 ≈ fixed + id
    // string) — a lower constant here would label runs in the gap
    // "local-sized" while the walk actually runs distributed
    val rawArtBytes = n * (80L + 4L * dim + 8L * 32)
    val phaseA =
      if (rawArtBytes > (128L << 20)) "distributed"
      else "local-sized (raw artifact under the 128 MB local budget — exact serves the driver snapshot, same regime as phase B)"
    locally {
      val svc = new graft.wire.WireService(spark, storeRoot,
        userPlans = Map("basic" -> graft.store.UserPlan()))
      val l = new graft.wire.HttpListener(svc)
      try colls.foreach { case (tag, (name, _)) =>
        measure(l.boundPort, name,
          f"$tag%-5s $phaseA, n=$n d=$dim")
      } finally l.close()
    }
    // phase B: the single-node reference deployment shape — the exact
    // walk over a driver-held snapshot (zero jobs per hop); a FRESH
    // service so the attach re-samples the conf
    if (regimes("exact")) {
      spark.conf.set("graft.vamana.localMaxBytes", (2048L << 20).toString)
      val svc = new graft.wire.WireService(spark, storeRoot,
        userPlans = Map("basic" -> graft.store.UserPlan()))
      val l = new graft.wire.HttpListener(svc)
      try measure(l.boundPort, "qpsex", f"exact local-fast-path, n=$n d=$dim")
      finally { l.close(); spark.conf.unset("graft.vamana.localMaxBytes") }
    }
    spark.stop()
  }
}
