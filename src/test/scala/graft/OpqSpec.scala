package graft

import org.apache.spark.sql.functions._
import graft.operators.{Opq, OpqCodes, PQModel, ProductQuantizer}

/** Laws for OPQ (operators/Opq.scala — Ge et al. 2013): the allocation's
  * balance/degeneracy behavior, the learned rotation's orthonormality and
  * isometry, the store lifecycle round-trip, the ragged-vector attach
  * shed, the coded-walk source semantics — and the reason OPQ exists:
  * strictly better ADC recall than plain PQ at equal (m, k) on a
  * deliberately correlated/anisotropic corpus (the near-isotropic 64-d
  * testdata would show OPQ ≈ PQ, which proves nothing).
  */
class OpqSpec extends SparkSuite {
  import spark.implicits._

  // ---- eigenvalue allocation ----------------------------------------------

  test("eigenAllocation returns a balanced permutation; big axes spread") {
    val eig = Array(16.0, 8.0, 4.0, 2.0, 1.0, 0.5, 0.25, 0.125)
    val alloc = Opq.eigenAllocation(eig, m = 4, subDim = 2)
    assert(alloc.sorted.toSeq == (0 until 8), s"not a permutation: ${alloc.toSeq}")
    // output dims [r*subDim, (r+1)*subDim) form bucket r — each bucket
    // holds exactly subDim axes, and the m largest eigenvalues land in m
    // DISTINCT buckets (the greedy assigns each to the emptiest product)
    val buckets = alloc.grouped(2).toSeq
    assert(buckets.forall(_.length == 2))
    val bucketOfAxis = buckets.zipWithIndex
      .flatMap { case (axes, b) => axes.map(_ -> b) }.toMap
    assert((0 until 4).map(bucketOfAxis).toSet.size == 4,
      s"the 4 largest axes share a bucket: ${buckets.map(_.toSeq)}")
    // log-variance products are as balanced as pairing allows: the greedy
    // pairs largest-with-smallest on this spectrum
    val prods = buckets.map(_.map(eig).product)
    assert(prods.max / prods.min <= 2.0 + 1e-9, prods.toSeq)
  }

  test("eigenAllocation handles zero eigenvalues: finite products, even spread") {
    val eig = Array(4.0, 2.0, 0.0, 0.0, 0.0, 0.0)
    val alloc = Opq.eigenAllocation(eig, m = 2, subDim = 3)
    assert(alloc.sorted.toSeq == (0 until 6))
    val buckets = alloc.grouped(3).toSeq
    // the log floor keeps a zero's contribution finite, so the greedy
    // still terminates with full, balanced buckets: each of the two
    // non-degenerate axes anchors its own bucket and the four zero axes
    // split 2/2 behind them
    assert(buckets.forall(_.length == 3))
    assert(buckets.forall(axes => axes.count(a => eig(a) == 0.0) == 2),
      s"zero axes not spread: ${buckets.map(_.toSeq)}")
    assert(buckets.map(_.count(a => eig(a) > 0.0)).sorted == Seq(1, 1),
      s"non-zero axes not spread: ${buckets.map(_.toSeq)}")
  }

  test("all-equal eigenvalues allocate round-robin (deterministic ties)") {
    val alloc = Opq.eigenAllocation(Array.fill(6)(3.0), m = 3, subDim = 2)
    assert(alloc.sorted.toSeq == (0 until 6))
    assert(alloc.grouped(2).toSeq.map(_.toSeq) ==
      Seq(Seq(0, 3), Seq(1, 4), Seq(2, 5)))
  }

  // ---- learned rotation ----------------------------------------------------

  lazy val embModel: Opq.OpqModel = Opq.fit(
    Tables.embeddings(spark, sf0001), col("embedding"), dim = 64, m = 8, k = 16)

  test("learned rotation rows are orthonormal") {
    val r = embModel.rotation
    for (i <- r.indices; j <- i until r.length) {
      val dot = (0 until 64).map(t => r(i)(t) * r(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"row $i · row $j = $dot")
    }
  }

  test("rotation is an isometry: ||Rx - Rq|| = ||x - q|| (float tolerance)") {
    val vs = Tables.embeddings(spark, sf0001).orderBy("vec_id").limit(5)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    for (Seq(x, q) <- vs.toSeq.combinations(2)) {
      val raw = l2(x, q)
      val rot = l2(embModel.rotate(x), embModel.rotate(q))
      assert(math.abs(raw - rot) <= 1e-3 * math.max(raw, 1.0), s"$raw vs $rot")
    }
  }

  // ---- the recall law: OPQ >= PQ on a correlated corpus ---------------------

  /** Anisotropic corpus: variance concentrated along DENSE directions
    * (a seeded Givens-product rotation of a decaying diagonal spectrum),
    * so every axis-aligned subspace sees correlated, mixed-scale
    * coordinates — the regime Ge et al. built OPQ for.
    */
  private def correlatedCorpus(n: Int, d: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    // Q starts as identity; 300 random Givens rotations make it dense
    val q = Array.tabulate(d)(i => Array.tabulate(d)(j => if (i == j) 1.0 else 0.0))
    for (_ <- 0 until 300) {
      val i = rnd.nextInt(d)
      val j = (i + 1 + rnd.nextInt(d - 1)) % d
      val th = rnd.nextDouble() * math.Pi
      val (c, s) = (math.cos(th), math.sin(th))
      var t = 0
      while (t < d) {
        val a = q(i)(t); val b = q(j)(t)
        q(i)(t) = c * a - s * b; q(j)(t) = s * a + c * b
        t += 1
      }
    }
    val scales = Array.tabulate(d)(k => 2.0 * math.pow(0.8, k))
    Array.fill(n) {
      val z = Array.tabulate(d)(k => rnd.nextGaussian() * scales(k))
      Array.tabulate(d)(jj =>
        (0 until d).map(k => q(k)(jj) * z(k)).sum.toFloat)
    }
  }

  private def encodeLocal(pq: PQModel, v: Array[Float]): Array[Int] = {
    val sub = pq.dim / pq.m
    Array.tabulate(pq.m) { i =>
      var best = 0; var bd = Double.MaxValue
      for (j <- 0 until pq.centroids(i).length) {
        var acc = 0.0; var t = 0
        while (t < sub) {
          val dx = v(i * sub + t).toDouble - pq.centroids(i)(j)(t)
          acc += dx * dx; t += 1
        }
        if (acc < bd) { bd = acc; best = j }
      }
      best
    }
  }

  private def adcLocal(pq: PQModel, codes: Array[Int], q: Array[Float]): Double = {
    val sub = pq.dim / pq.m
    (0 until pq.m).map { i =>
      var acc = 0.0; var t = 0
      while (t < sub) {
        val dx = q(i * sub + t).toDouble - pq.centroids(i)(codes(i))(t)
        acc += dx * dx; t += 1
      }
      acc
    }.sum
  }

  test("OPQ ADC recall beats plain PQ at equal (m, k) on the correlated corpus") {
    val d = 32; val n = 1200; val m = 4; val k = 16
    val corpus = correlatedCorpus(n, d)
    val df = spark.createDataset(corpus.toIndexedSeq.map(_.toSeq)).toDF("v")
    val pq = ProductQuantizer.fit(df, col("v"), m = m, k = k, dim = d)
    val opq = Opq.fit(df, col("v"), dim = d, m = m, k = k)
    val pqCodes = corpus.map(encodeLocal(pq, _))
    val opqCodes = corpus.map(v => encodeLocal(opq.pq, opq.rotate(v)))
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val queries = (0 until 24).map(corpus)
    def recall(adcOf: (Int, Array[Float]) => Double): Double = {
      val hits = queries.map { qv =>
        val exact = corpus.indices.sortBy(i => (l2(corpus(i), qv), i)).take(10).toSet
        val approx = corpus.indices.sortBy(i => (adcOf(i, qv), i)).take(10)
        approx.count(exact).toDouble / 10.0
      }
      hits.sum / hits.size
    }
    val rPq = recall((i, qv) => adcLocal(pq, pqCodes(i), qv))
    val rOpq = recall((i, qv) => adcLocal(opq.pq, opqCodes(i), opq.rotate(qv)))
    info(f"ADC recall@10: plain PQ $rPq%.3f, OPQ $rOpq%.3f")
    assert(rOpq >= rPq,
      f"OPQ recall $rOpq%.3f below plain PQ $rPq%.3f on the anisotropic corpus")
    assert(rOpq - rPq >= 0.03,
      f"OPQ should clearly beat PQ here (got $rOpq%.3f vs $rPq%.3f)")
  }

  // ---- store lifecycle ------------------------------------------------------

  test("store lifecycle: opq schema round-trips, trigger fits, JSON reloads the model") {
    val dir = Fs.tempDir("graft_opq_spec_").toString
    val store = new graft.store.CollectionStore(spark, dir)
    val schema = graft.model.IndexSchema("vec" ->
      graft.model.IndexKind.VectorFlat(64, graft.model.IndexKind.Metric.Cosine,
        graft.model.IndexKind.Quantizer.Opq(
          numCentroids = 16, numSubVectors = 8, triggerThreshold = 1)))
    // the flat schema.json codec round-trips the declaration
    val json = graft.store.CollectionStore.schemaToJson(schema)
    assert(graft.store.CollectionStore.jsonToSchema(json) == schema, json)
    // and the wire-face codec does too
    val wire = graft.wire.WireRouter.encodeIndexSchema(schema)
    assert(graft.wire.WireRouter.parseIndexSchema(wire) == schema)

    val emb = Tables.embeddings(spark, sf0001).select(
      col("vec_id").cast("string").as("_id"), col("embedding").as("vec"))
    store.create("emb", schema, emb)
    val fitted = store.loadQuantizer("emb", "vec")
      .getOrElse(fail("trigger crossed but no quantizer artifact"))
    val model = fitted match {
      case graft.store.FittedOpq(mm) => mm
      case other => fail(s"expected FittedOpq, got $other")
    }
    // the reloaded model equals a direct deterministic fit on the same rows
    val direct = Opq.fit(store.load("emb").df, col("vec"), dim = 64, m = 8, k = 16)
    assert(model.rotation.length == 64 &&
      model.rotation.zip(direct.rotation).forall { case (a, b) => a.sameElements(b) },
      "rotation did not survive the JSON round-trip bit-identically")
    assert(model.pq.m == direct.pq.m && model.pq.k == direct.pq.k &&
      model.pq.dim == direct.pq.dim)
    assert(model.pq.centroids.zip(direct.pq.centroids).forall { case (sa, sb) =>
      sa.zip(sb).forall { case (a, b) => a.sameElements(b) } },
      "codebooks did not survive the JSON round-trip bit-identically")
  }

  // ---- attach tolerance ------------------------------------------------------

  test("attach sheds ragged and null vectors like the fit (no encode crash)") {
    val good = Tables.embeddings(spark, sf0001).limit(20)
      .select(col("vec_id").cast("string").as("_id"), col("embedding"))
    val bad = Seq(
      ("short", Seq(1.0f, 2.0f, 3.0f)),
      ("nullv", null.asInstanceOf[Seq[Float]])).toDF("_id", "embedding")
    val coll = engine.Collection(good.unionByName(bad),
      graft.model.IndexSchema("embedding" ->
        graft.model.IndexKind.VectorFlat(64, graft.model.IndexKind.Metric.Cosine)))
    val withIdx = coll.withOpqVectorIndex("embedding", embModel)
    val idx = withIdx.vectorIndexes("embedding")
      .asInstanceOf[engine.OpqVectorIndex]
    val ids = idx.encoded.select("_id").as[String].collect().toSet
    assert(ids.size == 20 && !ids("short") && !ids("nullv"), ids)
    idx.release()
  }

  // ---- coded-walk source ------------------------------------------------------

  test("seeded-rotation golden route ties to un-rotated geometry at the gate's params") {
    // opq_adc_topk pins a GOLDEN (DuckDB can replay neither the Jacobi
    // eigensolve nor seeded Lloyd's) — determinism, not correctness of
    // the rotation path (round-9 verdict #6). Close the gap: at the
    // gate's EXACT params (sf0.01 corpus, dim 64, m=8, k=32, query
    // vec_id 7), the production ADC estimate — per-subspace table
    // lookups against the ROTATED query — must equal plain un-rotated
    // geometry: ‖q − Rᵀ·recon(codes)‖², with recon the rotated-space
    // codebook reconstruction explicitly rotated BACK. Orthogonality is
    // what makes them equal; plain PQ's ADC fold is already closed-form
    // oracled (pq_adc_fixed), so this law transfers that authority to
    // the rotated route, and re-deriving the gate's top-10 re-proves the
    // pinned rows.
    val gateEmb = Tables.embeddings(spark, sf001)
    val model = Opq.fit(gateEmb, col("embedding"), dim = 64, m = 8, k = 32)
    val d = 64
    val sub = model.pq.subDim
    val q = gateEmb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val codes = Opq.encode(gateEmb, col("vec_id"), col("embedding"), model)
    val prod = Opq.adcSearch(codes, q.toSeq, model, k = 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val codeRows = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val indep = codeRows.map { case (id, cs) =>
      // rotated-space reconstruction from the codebooks...
      val recon = new Array[Double](d)
      for (i <- 0 until model.pq.m; t <- 0 until sub)
        recon(i * sub + t) = model.pq.centroids(i)(cs(i))(t).toDouble
      // ...rotated BACK to the original space (Rᵀ = R⁻¹, rows orthonormal)
      val reconBack = Array.tabulate(d)(j =>
        (0 until d).map(i => model.rotation(i)(j) * recon(i)).sum)
      val dist = q.zip(reconBack).map { case (a, b) =>
        (a.toDouble - b) * (a.toDouble - b) }.sum
      // production rotates q to FLOAT before the table build — allow that
      // rounding (≤ ~1e-6 here), nothing more
      assert(math.abs(dist - prod(id)) < 1e-5,
        s"ADC estimate != un-rotated geometry at $id: ${prod(id)} vs $dist")
      id -> dist
    }
    val indepTop = indep.toSeq.sortBy { case (id, e) => (e, id) }.take(10)
      .map(_._1)
    val prodTop = Opq.adcSearch(codes, q.toSeq, model, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(prodTop == indepTop, s"gate top-10 not re-derived: $prodTop vs $indepTop")
  }

  test("OpqCodes: query map is the rotation; encode equals PQ-encode of rotated vectors") {
    val src = OpqCodes(embModel)
    val q = Tables.embeddings(spark, sf0001).limit(1)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    assert(src.mapQuery(q).sameElements(embModel.rotate(q)))
    val df = Tables.embeddings(spark, sf0001).limit(10)
      .select(col("vec_id"), col("embedding"))
    val viaSource = df.select(col("vec_id"), src.encodeExpr(col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val viaRotatePq = df
      .select(col("vec_id"),
        ProductQuantizer.encodeUdf(embModel.pq)(
          Opq.rotateUdf(embModel.rotation)(col("embedding"))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaSource == viaRotatePq)
  }
}
