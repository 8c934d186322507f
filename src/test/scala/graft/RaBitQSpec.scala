package graft

import org.apache.spark.sql.functions._
import graft.operators.{BinaryQuantizer, RaBitQ}
import graft.operators.RaBitQ.RbqModel

/** Laws for RaBitQ (operators/RaBitQ.scala — Gao & Long, SIGMOD 2024):
  * the rotation's orthonormality, the estimator's UNBIASEDNESS and its
  * O(1/√D) error concentration (the paper's Theorems 3.2/3.3, asserted
  * empirically), the ranking advantage over the same-budget plain binary
  * quantizer, the store lifecycle round-trip, and the degenerate cases
  * (zero residual, ragged vectors).
  */
class RaBitQSpec extends SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf0001)
  lazy val vecs: Array[Array[Float]] = emb.orderBy("vec_id")
    .select("embedding").collect().map(_.getSeq[Float](0).toArray)

  test("randomRotation rows are orthonormal and deterministic") {
    val r1 = RaBitQ.randomRotation(48, seed = 7L)
    val r2 = RaBitQ.randomRotation(48, seed = 7L)
    assert(r1.zip(r2).forall { case (a, b) => a.sameElements(b) })
    for (i <- r1.indices; j <- i until r1.length) {
      val dot = (0 until 48).map(t => r1(i)(t) * r1(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-10, s"row $i · row $j = $dot")
    }
    // a different seed gives a different rotation
    val r3 = RaBitQ.randomRotation(48, seed = 8L)
    assert(!r1(0).sameElements(r3(0)))
  }

  /** Driver-side replay of encode + estimator for one (x, q) pair. */
  private def estimate(model: RbqModel, x: Array[Float], q: Array[Float]): Double = {
    val d = model.dim
    def fold(v: Array[Float]): (Array[Double], Double) = {
      val r = Array.tabulate(d)(i => v(i).toDouble - model.centroid(i))
      val n = math.sqrt(r.map(t => t * t).sum)
      if (n > 0) (r.map(_ / n), n) else (r.map(_ => 0.0), 0.0)
    }
    def rot(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).map(j => model.rotation(i)(j) * v(j)).sum)
    val (ox, nx) = fold(x)
    val (oq, nq) = fold(q)
    if (nx == 0.0) return nq * nq
    val px = rot(ox)
    val pq = rot(oq)
    val invSqrtD = 1.0 / math.sqrt(d.toDouble)
    val dotq = px.map(math.abs).sum * invSqrtD
    val uDotQ = px.zip(pq).map { case (p, qq) => (if (p > 0) qq else -qq) }.sum * invSqrtD
    val cosEst = uDotQ / dotq
    nx * nx + nq * nq - 2.0 * nx * nq * cosEst
  }

  private def exactL2(x: Array[Float], q: Array[Float]): Double =
    x.zip(q).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum

  test("the cos estimator is unbiased and its error concentrates at O(1/sqrt(D))") {
    val model = RaBitQ.fit(emb, col("embedding"), 64)
    val q = vecs(0)
    // signed error of the <o_x, o_q> factor across the corpus: mean ~ 0
    // (unbiased), |error| small at D=64 (the paper's concentration)
    val errs = vecs.drop(1).take(400).map { x =>
      val est = estimate(model, x, q)
      val exact = exactL2(x, q)
      // recover the cos-factor error from the distance identity
      val nx = math.sqrt(x.zip(model.centroid).map { case (a, c) => (a - c) * (a - c) }.sum)
      val nq = math.sqrt(q.zip(model.centroid).map { case (a, c) => (a - c) * (a - c) }.sum)
      (exact - est) / (2.0 * nx * nq)
    }
    val mean = errs.sum / errs.length
    val rmse = math.sqrt(errs.map(e => e * e).sum / errs.length)
    info(f"cos-factor error at D=64: mean $mean%.5f, rmse $rmse%.5f")
    assert(math.abs(mean) < 0.02, s"estimator biased: mean error $mean")
    assert(rmse < 3.0 / math.sqrt(64.0), s"error rmse $rmse above the O(1/sqrt(D)) band")
  }

  test("error shrinks with dimensionality (the 1/sqrt(D) trend)") {
    def rmseAt(d: Int): Double = {
      val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("v"))
      val model = RaBitQ.fit(sliced, col("v"), d)
      val cut = vecs.map(_.take(d))
      val q = cut(0)
      val errs = cut.drop(1).take(300).flatMap { x =>
        val nx = math.sqrt(x.zip(model.centroid).map { case (a, c) => (a - c) * (a - c) }.sum)
        val nq = math.sqrt(q.zip(model.centroid).map { case (a, c) => (a - c) * (a - c) }.sum)
        if (nx == 0 || nq == 0) None
        else Some((exactL2(x, q) - estimate(model, x, q)) / (2.0 * nx * nq))
      }
      math.sqrt(errs.map(e => e * e).sum / errs.length)
    }
    val r16 = rmseAt(16)
    val r64 = rmseAt(64)
    info(f"cos-factor rmse: D=16 $r16%.5f vs D=64 $r64%.5f")
    assert(r64 < r16, s"error did not shrink with D: $r64 >= $r16")
  }

  test("candidate ranking beats plain-BQ hamming at the same bit budget") {
    // top-10 straight from the 1-bit codes (no rescore): RaBitQ's
    // magnitude-aware estimate vs raw hamming of threshold signs
    val model = RaBitQ.fit(emb, col("embedding"), 64)
    val th = BinaryQuantizer.fit(emb, col("embedding"), 64)
    val rbqCodes = RaBitQ.encode(emb, col("vec_id"), col("embedding"), model).persist()
    val bqCodes = BinaryQuantizer.encode(emb, col("embedding"), th)
      .select(col("vec_id"), col("packed")).persist()
    val queries = Seq(0L, 3L, 77L, 250L, 444L)
    def recallOf(got: Seq[Set[Long]], want: Seq[Set[Long]]): Double =
      got.zip(want).map { case (g, w) => g.intersect(w).size.toDouble / w.size }
        .sum / got.length
    val exact = queries.map { qi =>
      val q = vecs(qi.toInt)
      vecs.indices.sortBy(i => (exactL2(vecs(i), q), i)).take(10).map(_.toLong).toSet
    }
    val viaRbq = queries.map { qi =>
      RaBitQ.search(rbqCodes, vecs(qi.toInt), model, 10)
        .select("id").as[Long].collect().toSet
    }
    val viaBq = queries.map { qi =>
      BinaryQuantizer.search(
          bqCodes.withColumnRenamed("packed", "packed"), col("vec_id"),
          vecs(qi.toInt), th, k = 10)
        .select("id").as[Long].collect().toSet
    }
    val rRbq = recallOf(viaRbq, exact)
    val rBq = recallOf(viaBq, exact)
    info(f"candidates@10 recall: RaBitQ $rRbq%.3f vs plain BQ hamming $rBq%.3f")
    assert(rRbq >= rBq,
      f"RaBitQ ranking $rRbq%.3f below plain hamming $rBq%.3f at equal bits")
    rbqCodes.unpersist(false); bqCodes.unpersist(false)
  }

  test("seeded-rotation golden route ties to the un-rotated closed form at the gate's params") {
    // rbq_rot_topk pins a GOLDEN because DuckDB cannot replay the seeded
    // Gaussian Gram-Schmidt — which proves determinism, not correctness
    // of the production rotation path (round-9 verdict #6). Close the gap
    // here: at the gate's EXACT params (sf0.01 corpus, dim 64, default
    // seed, query vec_id 7), every production estimate — computed in
    // ROTATED space from the encoded bits (the l2Scorer/dotScorer fold) —
    // must equal an INDEPENDENT un-rotated formulation: x̄ = Pᵀ·s/√D
    // reconstructed explicitly, ⟨x̄,o_q⟩ and ⟨o,x̄⟩ taken as plain dot
    // products in the original space. The identity-rotation route
    // (rbq_topk/rbq_dot_topk) is DuckDB-oracled end-to-end and shares
    // every line of code except P, so this law transfers the oracle's
    // authority to the seeded route; re-deriving the gate's top-10 from
    // the independent estimates then re-proves the pinned rows.
    val gateEmb = Tables.embeddings(spark, sf001)
    val model = RaBitQ.fit(gateEmb, col("embedding"), 64)
    val d = model.dim
    val q = gateEmb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    // the production route: encoded frame + the rotated-space scorers
    val enc = RaBitQ.encode(gateEmb, col("vec_id"), col("embedding"), model)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val l2Prod = RaBitQ.l2Scorer(model, q.toSeq)
    val dotProd = RaBitQ.dotScorer(model, q.toSeq)
    // the independent route: raw vectors, un-rotated algebra
    val raw = gateEmb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def centerFold(v: Array[Float]): (Array[Double], Double) = {
      val r = Array.tabulate(d)(i => v(i).toDouble - model.centroid(i))
      val n = math.sqrt(r.map(t => t * t).sum)
      if (n > 0) (r.map(_ / n), n) else (r, 0.0)
    }
    val (oq, qn) = centerFold(q)
    val invSqrtD = 1.0 / math.sqrt(d.toDouble)
    val indep = enc.map { case (id, bits, norm, dotqStored, dotcStored) =>
      val (ox, nx) = centerFold(raw(id))
      assert(math.abs(nx - norm) < 1e-9, s"norm drift at $id")
      // x̄ = Pᵀ·s/√D in the ORIGINAL space: column sums of P over the
      // sign pattern — never touches the production fold
      val xbar = Array.tabulate(d) { j =>
        var acc = 0.0
        var i = 0
        while (i < d) {
          val s = if ((bits(i >> 6) >> (i & 63) & 1L) == 1L) 1.0 else -1.0
          acc += model.rotation(i)(j) * s
          i += 1
        }
        acc * invSqrtD
      }
      val dotqIndep = ox.zip(xbar).map { case (a, b) => a * b }.sum
      assert(math.abs(dotqIndep - dotqStored) < 1e-9,
        s"stored <o,x̄> != un-rotated reconstruction at $id: $dotqStored vs $dotqIndep")
      val dotcIndep = ox.zip(model.centroid).map { case (a, b) => a * b }.sum
      assert(math.abs(dotcIndep - dotcStored) < 1e-9, s"<o,c> drift at $id")
      val cosEst = xbar.zip(oq).map { case (a, b) => a * b }.sum / dotqIndep
      val l2Indep = norm * norm + qn * qn - 2.0 * norm * qn * cosEst
      val cq = model.centroid.zip(q).map { case (c, x) => c * x }.sum
      val dotIndep = -(cq + norm * (qn * cosEst + dotcStored))
      val l2P = l2Prod(bits, norm, dotqStored)
      val dotP = dotProd(bits, norm, dotqStored, dotcStored)
      assert(math.abs(l2P - l2Indep) < 1e-8,
        s"L2 estimate drift at $id: production $l2P vs closed form $l2Indep")
      assert(math.abs(dotP - dotIndep) < 1e-8,
        s"dot estimate drift at $id: production $dotP vs closed form $dotIndep")
      id -> l2Indep
    }
    // re-derive the gate's top-10 purely from the independent estimates
    val indepTop = indep.sortBy { case (id, e) => (e, id) }.take(10)
      .map { case (id, e) =>
        id -> BigDecimal(e).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val prodTop = RaBitQ.search(
        RaBitQ.encode(gateEmb, col("vec_id"), col("embedding"), model), q.toSeq, model, 10)
      .collect().map(r => r.getLong(0) ->
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(prodTop.toSeq == indepTop.toSeq,
      s"gate top-10 not re-derived: $prodTop vs $indepTop")
  }

  test("store lifecycle: rabitq schema round-trips, trigger fits, JSON reloads the model") {
    val dir = Fs.tempDir("graft_rbq_spec_").toString
    val store = new graft.store.CollectionStore(spark, dir)
    val schema = graft.model.IndexSchema("vec" ->
      graft.model.IndexKind.VectorFlat(64, graft.model.IndexKind.Metric.Cosine,
        graft.model.IndexKind.Quantizer.RaBitQ(triggerThreshold = 1)))
    val json = graft.store.CollectionStore.schemaToJson(schema)
    assert(graft.store.CollectionStore.jsonToSchema(json) == schema, json)
    val wire = graft.wire.WireRouter.encodeIndexSchema(schema)
    assert(graft.wire.WireRouter.parseIndexSchema(wire) == schema)

    store.create("emb", schema, emb.select(
      col("vec_id").cast("string").as("_id"), col("embedding").as("vec")))
    val model = store.loadQuantizer("emb", "vec") match {
      case Some(graft.store.FittedRbq(m)) => m
      case other => fail(s"expected FittedRbq, got $other")
    }
    val direct = RaBitQ.fit(store.load("emb").df, col("vec"), 64)
    assert(model.centroid.sameElements(direct.centroid),
      "centroid did not survive the JSON round-trip bit-identically")
    assert(model.rotation.zip(direct.rotation).forall { case (a, b) => a.sameElements(b) },
      "rotation did not survive the JSON round-trip bit-identically")
  }

  test("zero residual is exact; ragged and null vectors shed at attach") {
    // corpus {v, -v, 0} has centroid exactly 0 (decimal means of
    // {x, -x, 0} round to 0), so the zero row IS the centroid
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val rows = Seq(
      ("a", v.toSeq), ("b", v.map(-_).toSeq), ("zero", Seq.fill(8)(0.0f)),
      ("short", Seq(1.0f)), ("nullv", null.asInstanceOf[Seq[Float]]))
      .toDF("_id", "vec")
    val clean = rows.filter(col("vec").isNotNull && size(col("vec")) === 8)
    val model = RaBitQ.fit(clean, col("vec"), 8)
    assert(model.centroid.forall(_ == 0.0), model.centroid.toSeq)
    val coll = engine.Collection(rows,
      graft.model.IndexSchema("vec" ->
        graft.model.IndexKind.VectorFlat(8, graft.model.IndexKind.Metric.Euclidean)))
    val withIdx = coll.withRbqVectorIndex("vec", model)
    val idx = withIdx.vectorIndexes("vec").asInstanceOf[engine.RbqVectorIndex]
    val ids = idx.encoded.select("_id").as[String].collect().toSet
    assert(ids == Set("a", "b", "zero"), ids)
    // the zero-residual row's estimate is EXACT: ||0 - q||^2 = ||q - c||^2
    val q = v.map(_ * 0.5f)
    val est = idx.encoded
      .select(col("_id"),
        RaBitQ.estimateExpr(col("_bits"), col("_norm"), col("_dotq"), q, model).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exactZero = q.map(x => x.toDouble * x).sum
    assert(math.abs(est("zero") - exactZero) < 1e-9, s"${est("zero")} vs $exactZero")
    assert(!est.values.exists(_.isNaN), est)
    idx.release()
  }
}
