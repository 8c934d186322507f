package graft

import org.apache.spark.sql.functions._
import graft.functions.Distances
import graft.model.IndexKind.Metric
import graft.operators.{IvfPq, ProductQuantizer}

class IvfPqSpec extends SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf001)

  private def exactTopK(qv: Seq[Float], k: Int): Seq[Long] =
    emb.select(col("vec_id"),
        Distances.distanceToQuery(Metric.Cosine, col("embedding"), qv).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k)
      .select("vec_id").as[Long].collect().toSeq

  test("sign coarse cells: every populated cell has a full-dim centroid") {
    val coarse = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
    assert(coarse.centroids.nonEmpty)
    assert(coarse.centroids.keys.forall(b => b >= 0 && b < 16))
    assert(coarse.centroids.values.forall(_.length == 64))
    // a cell centroid is the mean of members: its first-dim sign agrees
    // with the cell's first sign bit (members share that sign strictly
    // above/below zero)
    coarse.centroids.foreach { case (b, c) =>
      if ((b & 1) == 1) assert(c(0) > 0.0, s"cell $b centroid dim0 ${c(0)}")
      else assert(c(0) <= 0.0, s"cell $b centroid dim0 ${c(0)}")
    }
  }

  test("residual IVF-PQ artifact: partition-pruned probes, high recall with rescore") {
    val dir = Fs.tempDir("graft_ivfpq_").toString
    val coarse = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
    val pq = IvfPq.fitResidualPq(emb, col("embedding"), coarse, m = 16, k = 16)
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), coarse, pq, dir)

    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 7)
    val served = IvfPq.searchArtifact(spark, dir, qv, coarse, pq,
      k = 10, rescore = 100, metric = Metric.Cosine, nprobe = 8)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined, plan)

    val got = served.select("id").as[Long].collect().toSeq
    val exact = exactTopK(qv, 10)
    // the query's own cell is probed, so the self-match must survive
    assert(got.head == exact.head)
    // rescored recall: most of the exact top-10 passes through the probes
    assert(got.toSet.intersect(exact.toSet).size >= 7,
      s"recall too low: got $got vs exact $exact")
  }

  test("artifact is self-contained: loaded model serves identically to the fit state") {
    val dir = Fs.tempDir("graft_ivfpq_self_").toString
    val coarse = IvfPq.kmeansCoarse(emb, col("embedding"), k = 16)
    val pq = IvfPq.fitResidualPq(emb, col("embedding"), coarse, m = 8, k = 16)
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), coarse, pq, dir)
    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 250)
    val viaFit = IvfPq.searchArtifact(spark, dir, qv, coarse, pq,
      k = 10, rescore = 50, metric = Metric.Cosine, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    // model round-trips bit-exactly (shortest-decimal text), so the
    // model-free overload must return the identical frame
    val (lc, lpq) = IvfPq.loadModel(spark, dir)
    assert(lc.kind == coarse.kind && lc.param == coarse.param)
    assert(lc.centroids.keySet == coarse.centroids.keySet)
    lc.centroids.foreach { case (b, c) => assert(c.sameElements(coarse.centroids(b))) }
    for (i <- 0 until pq.m; j <- 0 until pq.k)
      assert(lpq.centroids(i)(j).sameElements(pq.centroids(i)(j)))
    val viaLoad = IvfPq.searchArtifact(spark, dir, qv,
      k = 10, rescore = 50, metric = Metric.Cosine, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(viaLoad == viaFit)
  }

  test("meta guard: probing with a different geometry fails fast") {
    val dir = Fs.tempDir("graft_ivfpq_").toString
    val coarse = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
    val pq = IvfPq.fitResidualPq(emb, col("embedding"), coarse, m = 8, k = 16)
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), coarse, pq, dir)
    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 0)
    val otherPq = IvfPq.fitResidualPq(emb, col("embedding"), coarse, m = 16, k = 16)
    val e = intercept[IllegalArgumentException] {
      IvfPq.searchArtifact(spark, dir, qv, coarse, otherPq,
        k = 5, rescore = 50, metric = Metric.Cosine, nprobe = 3)
    }
    assert(e.getMessage.contains("probed as"))
  }

  test("kmeans coarse IVF-PQ reaches high recall at a quarter-corpus probe budget") {
    val km = IvfPq.kmeansCoarse(emb, col("embedding"), k = 32)
    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 99)
    val pq = IvfPq.fitResidualPq(emb, col("embedding"), km, m = 16, k = 16)
    val dir = Fs.tempDir("graft_ivfpq_cmp_").toString
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), km, pq, dir)
    val got = IvfPq.searchArtifact(spark, dir, qv, km, pq,
      k = 10, rescore = 60, metric = Metric.Cosine, nprobe = 8)
      .select("id").as[Long].collect().toSet
    val recall = got.intersect(exactTopK(qv, 10).toSet).size
    assert(recall >= 7, s"kmeans ivf-pq recall too low: $recall/10")
  }

  test("spill=2 multi-assignment: recall ≥0.8 at the quarter-cells budget, no dup ids") {
    val km = IvfPq.kmeansCoarse(emb, col("embedding"), k = 32)
    val pq = IvfPq.fitResidualPq(emb, col("embedding"), km, m = 16, k = 16)
    val dir1 = Fs.tempDir("graft_ivfpq_s1_").toString
    val dir2 = Fs.tempDir("graft_ivfpq_s2_").toString
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), km, pq, dir1)
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), km, pq, dir2, spill = 2)
    // the spilled artifact carries exactly 2 copies of every vector
    assert(spark.read.parquet(dir2).count() == 2 * emb.count())
    val qids = Seq(0, 7, 99, 250)
    var hits1 = 0; var hits2 = 0
    qids.foreach { q =>
      val qv = graft.queries.TestCollections.queryVector(spark, sf001, q)
      val exact = exactTopK(qv, 10).toSet
      def got(dir: String): Seq[Long] =
        IvfPq.searchArtifact(spark, dir, qv, km, pq,
          k = 10, rescore = 100, metric = Metric.Cosine, nprobe = 8)
          .select("id").as[Long].collect().toSeq
      val g2 = got(dir2)
      // a vector stored in two probed cells must still surface once
      assert(g2.distinct.size == g2.size, s"duplicate ids in $g2")
      hits1 += got(dir1).toSet.intersect(exact).size
      hits2 += g2.toSet.intersect(exact).size
    }
    // coarse-cell coverage is the recall ceiling; the second assignment
    // converts boundary misses into hits at the SAME probe budget
    assert(hits2 >= hits1, s"spill=2 recall $hits2/40 below spill=1 $hits1/40")
    assert(hits2 >= 32, s"spill=2 recall $hits2/40 below the 0.8 operating point")
    // the built spill is recorded in the model header...
    assert(IvfPq.artifactSpill(spark, dir1).contains(1))
    assert(IvfPq.artifactSpill(spark, dir2).contains(2))
    // ...and the facade refuses to serve an artifact at a different spill
    // than requested (a silent spill=1 reuse would deliver the lower-recall
    // operating point with no signal)
    val base = graft.queries.TestCollections.docs(spark, sf001)
    val e = intercept[IllegalArgumentException] {
      base.withIvfPqVectorIndex(
        "embedding", dir1, () => km, _ => pq, nprobe = 8, spill = 2)
    }
    assert(e.getMessage.contains("spill"))
  }

  test("engine approx near serves from an attached IVF-PQ artifact with pruned probes") {
    import graft.engine.Search
    val dir = Fs.tempDir("graft_ivfpq_engine_").toString
    val base = graft.queries.TestCollections.docs(spark, sf001)
    val coll = base.withIvfPqVectorIndex(
      "embedding", dir,
      () => IvfPq.signCoarse(base.df, col("embedding"), nBits = 4),
      c => IvfPq.fitResidualPq(base.df, col("embedding"), c, m = 16, k = 16),
      nprobe = 8)
    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 7)
    val req =
      s"""{"query":{"property":"embedding","vectorFlat":{
         |"vector":[${qv.mkString(",")}],"operator":"near","limit":10,
         |"approx":true}},"limit":100}""".stripMargin
    // the candidate fold runs while compiling: its scan reads only the
    // probed cells
    val (res, execs) = captureExecutions(Search.searchJson(coll, req))
    val folds = topKFolds(execs).map(_.toString)
    assert(folds.size == 1, execs.map(_.executedPlan).mkString("\n"))
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(folds.head).isDefined, folds.head)
    val rows = res.select("_id", "_distance", "_hybridScore").collect()
    assert(rows.head.getString(0) == "7") // self-match survives the probes
    assert(rows.forall(r => math.abs(r.getFloat(2) + r.getFloat(1)) < 1e-6f))
    // identical candidates to the standalone artifact search (same budget):
    // engine budget = max(5*limit, 50) = 50, same nprobe and tie-breaks
    val standalone = IvfPq.searchArtifact(spark, dir, qv,
        k = 10, rescore = 50, metric = Metric.Cosine, nprobe = 8)
      .select("id").as[String].collect().toSeq
    assert(rows.map(_.getString(0)).toSeq == standalone)
    // re-attaching over the same dir LOADS the persisted model (no refit)
    // and serves identically
    val coll2 = base.withIvfPqVectorIndex(
      "embedding", dir,
      () => sys.error("must not refit over an existing artifact"),
      _ => sys.error("must not refit over an existing artifact"),
      nprobe = 8)
    val rows2 = Search.searchJson(coll2, req)
      .select("_id", "_distance", "_hybridScore").collect()
    assert(rows2.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("engine approx near over a SPILLED artifact: unique ids, exact self-match") {
    import graft.engine.Search
    val dir = Fs.tempDir("graft_ivfpq_spill_eng_").toString
    val base = graft.queries.TestCollections.docs(spark, sf001)
    val coll = base.withIvfPqVectorIndex(
      "embedding", dir,
      () => IvfPq.kmeansCoarse(base.df, col("embedding"), k = 16),
      c => IvfPq.fitResidualPq(base.df, col("embedding"), c, m = 16, k = 16),
      nprobe = 4, spill = 2)
    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 99)
    val req =
      s"""{"query":{"property":"embedding","vectorFlat":{
         |"vector":[${qv.mkString(",")}],"operator":"near","limit":10,
         |"approx":true}},"limit":100}""".stripMargin
    val rows = Search.searchJson(coll, req).select("_id").as[String].collect().toSeq
    // a vector stored in two probed cells must still surface exactly once
    assert(rows.distinct.size == rows.size, s"duplicate ids in $rows")
    assert(rows.head == "99", "self-match survives the probes")
    assert(rows.size == 10)
  }

  test("residual codes quantize tighter than raw-vector codes (same budget)") {
    // mean ADC error of residual PQ vs raw PQ against true euclidean² —
    // the reason IVF-PQ encodes residuals at all
    val coarse = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
    val resPq = IvfPq.fitResidualPq(emb, col("embedding"), coarse, m = 16, k = 16)
    val rawPq = ProductQuantizer.fit(emb, col("embedding"), m = 16, k = 16, dim = 64)
    val qv = graft.queries.TestCollections.queryVector(spark, sf001, 250)

    val exact = emb.select(col("vec_id").as("id"),
      Distances.distanceToQuery(Metric.Euclidean, col("embedding"), qv).as("true_d"))

    // raw ADC approx
    val rawCodes = ProductQuantizer.encode(emb, col("vec_id"), col("embedding"), rawPq)
    val rawErr = rawCodes
      .select(col("id"), ProductQuantizer.adcDistance(col("codes"), qv, rawPq).as("a"))
      .join(exact, "id")
      .agg(avg(abs(col("a") - col("true_d")))).as[Double].head()

    // residual ADC approx via the artifact search's scoring path
    val dir = Fs.tempDir("graft_ivfpq_err_").toString
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), coarse, resPq, dir)
    val art = spark.read.parquet(dir)
    val cells = art.select("bucket").distinct().as[Int].collect().toSeq
    val tables = IvfPq.queryTables(coarse, resPq, qv, cells)
    val adc = udf { (b: Int, cs: Seq[Int]) =>
      var acc = 0.0; var i = 0
      val t = tables(b)
      while (i < cs.length) { acc += t(i)(cs(i)); i += 1 }
      acc
    }
    val resErr = art.select(col("id"), adc(col("bucket"), col("codes")).as("a"))
      .join(exact, "id")
      .agg(avg(abs(col("a") - col("true_d")))).as[Double].head()

    assert(resErr < rawErr,
      s"residual ADC error $resErr not below raw ADC error $rawErr")
  }

  test("dot probing + dot tables: MIPS cells win, table sum equals -dot(q, c + r-hat)") {
    import graft.operators.IvfPq
    // q aligned with a FAR-but-long centroid: L2 probing picks cell 0
    // (nearby), dot probing must pick cell 1 (high inner product)
    val coarse = IvfPq.Coarse("kmeans", 2, Map(
      0 -> Array(0.9, 0.0, 0.0, 0.0),
      1 -> Array(5.0, 0.0, 0.0, 0.0)))
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    assert(IvfPq.probes(coarse, q, 1) == Seq(0))
    assert(IvfPq.probesDot(coarse, q, 1) == Seq(1))
    // hand model: m=2 subspaces of dim 2, k=2 centroids each
    val pq = graft.operators.PQModel(2, 2, 4, Array(
      Array(Array(0.1f, 0.2f), Array(-0.3f, 0.4f)),
      Array(Array(0.0f, 0.5f), Array(0.7f, -0.1f))))
    val tables = IvfPq.queryTablesDot(coarse, pq, q, Seq(1))
    val codes = Seq(1, 0) // subspace 0 -> centroid 1, subspace 1 -> centroid 0
    val got = tables(1)(0)(codes(0)) + tables(1)(1)(codes(1))
    // expected: -dot(q, c_cell) - dot(q_sub, residual centroids)
    val recon = Array(5.0 + (-0.3), 0.0 + 0.4, 0.0 + 0.0, 0.0 + 0.5)
    val want = -q.map(_.toDouble).zip(recon).map { case (a, b) => a * b }.sum
    assert(math.abs(got - want) < 1e-6, s"$got vs $want") // float32 centroid literals
  }

  test("engine-served IVF-PQ under the Dot metric: MIPS probing + dot tables, approx == exact") {
    // unnormalized corpus (norms 1..5): exactly the regime where L2
    // probing/tables would bury long vectors
    val scaled = emb.select(col("vec_id"), transform(col("embedding"),
      x => (x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
        .cast("float")).as("v"))
    val dir = Fs.tempDir("graft_ivfpq_dot_").toString
    val coll = graft.engine.Collection(
        scaled.select(col("vec_id").cast("string").as("_id"), col("v")),
        graft.model.IndexSchema("v" -> graft.model.IndexKind.VectorFlat(64, Metric.Dot)))
      .withIvfPqVectorIndex("v", dir,
        () => IvfPq.kmeansCoarse(scaled, col("v"), k = 8),
        c => IvfPq.fitResidualPq(scaled, col("v"), c, m = 16, k = 16),
        nprobe = 8)
    val qv = scaled.filter(col("vec_id") === 7).select("v").head().getSeq[Float](0)
    def run(approx: Boolean): Seq[String] =
      engine.Search.search(coll, model.SearchRequest(
        model.Query("v", vectorFlat = Some(model.VectorFlatOpts(
          qv, model.Op.Near, 10, approx = approx))),
        limit = 10)).select("_id").as[String].collect().toSeq
    assert(run(approx = true) == run(approx = false))
    coll.vectorIndexes.values.foreach(_.release())
  }
}
