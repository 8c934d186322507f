package graft

import org.apache.spark.sql.functions._
import graft.model.IndexKind.Metric
import graft.operators.{IvfPq, IvfRbq, RaBitQ}

/** Laws for IVF-RaBitQ (operators/IvfRbq.scala — the RaBitQ paper's own
  * IVF deployment): the probe restriction must be PARTITION pruning on
  * the written artifact, every per-cell score must equal the flat RaBitQ
  * estimator centered at that cell (the composition is algebraic reuse,
  * not a reimplementation), recall holds a band under the seeded
  * production rotation, and the MIPS route (round 10 — per-cell ⟨o,c⟩
  * in the layout) tracks exact inner-product ranking on an
  * unnormalized corpus.
  */
class IvfRbqSpec extends SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf0001)
  lazy val vecs: Array[Array[Float]] = emb.orderBy("vec_id")
    .select("embedding").collect().map(_.getSeq[Float](0).toArray)
  lazy val coarse = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
  lazy val rotation = RaBitQ.randomRotation(64, seed = 42L)

  private def exactTopK(q: Array[Float], k: Int): Seq[Long] = {
    def cos(a: Array[Float]): Double =
      1.0 - a.zip(q).map { case (x, y) => x.toDouble * y }.sum
    vecs.indices.sortBy(i => (cos(vecs(i)), i)).take(k).map(_.toLong)
  }

  test("written artifact probes are partition-pruned; recall band holds") {
    val dir = Fs.tempDir("graft_ivfrbq_").toString
    IvfRbq.writeArtifact(emb, col("vec_id"), col("embedding"), coarse, rotation, dir)
    val art = spark.read.parquet(dir)
    val qv = vecs(7)
    val served = IvfRbq.search(art, qv, coarse, rotation,
      k = 10, rescore = 100, metric = Metric.Cosine, nprobe = 8)
    val got = served.select("id").as[Long].collect().toSeq
    // the probe filter must land in PartitionFilters, not a row filter
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined, plan)
    val exact = exactTopK(qv, 10)
    assert(got.head == exact.head, s"self-match lost: $got vs $exact")
    assert(got.toSet.intersect(exact.toSet).size >= 7,
      s"recall too low: got $got vs exact $exact")
  }

  test("per-cell codes equal the flat RaBitQ encode centered at that cell") {
    // the composition law: an IVF row's (bits, norm, dotq) must be
    // byte-identical to flat RaBitQ.encode under a model whose centroid
    // is that row's CELL centroid — the when-chain in search then scores
    // through the very same estimateExpr, so encode equality IS scorer
    // equality
    val enc = IvfRbq.encode(emb, col("vec_id"), col("embedding"), coarse, rotation)
      .persist()
    val cells = IvfPq.probes(coarse, vecs(0), 4)
    cells.foreach { b =>
      val model = RaBitQ.RbqModel(coarse.centroids(b), rotation)
      val viaIvf = enc.filter(col("bucket") === b)
        .select("id", "bits", "norm", "dotq", "dotc")
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val cellIds = viaIvf.keySet.toSeq
      val viaFlat = RaBitQ.encode(
          emb.filter(col("vec_id").isin(cellIds: _*)),
          col("vec_id"), col("embedding"), model)
        .select("id", "bits", "norm", "dotq", "dotc")
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      assert(viaIvf.nonEmpty && viaIvf == viaFlat, s"cell $b codes diverge")
    }
    enc.unpersist(false)
  }

  test("encode round-trips through the artifact byte-identically") {
    val dir = Fs.tempDir("graft_ivfrbq_rt_").toString
    IvfRbq.writeArtifact(emb, col("vec_id"), col("embedding"), coarse, rotation, dir)
    val mem = IvfRbq.encode(emb, col("vec_id"), col("embedding"), coarse, rotation)
      .select("id", "bucket", "bits", "norm", "dotq", "dotc")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Long](2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val disk = spark.read.parquet(dir)
      .select("id", "bucket", "bits", "norm", "dotq", "dotc")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Long](2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(mem == disk)
  }

  test("MIPS serves: dot probes high-dot cells, per-cell <o,c> closes the algebra") {
    // deliberately UNNORMALIZED corpus (the sq8_dot convention — each
    // vector scaled by 1 + id % 5): inner-product ranking then surfaces
    // long vectors an L2 ranking would bury, so a wrong probe order or a
    // broken dot reconstruction measurably loses the exact top-k
    val scaled = emb.select(col("vec_id"),
      transform(col("embedding"), x =>
        (x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .cast("float")).as("embedding"))
    val sVecs = scaled.orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val sCoarse = IvfPq.signCoarse(scaled, col("embedding"), nBits = 4)
    val enc = IvfRbq.encode(scaled, col("vec_id"), col("embedding"), sCoarse, rotation)
    val q = sVecs(7)
    val got = IvfRbq.search(enc, q, sCoarse, rotation,
        k = 10, rescore = 100, metric = Metric.Dot, nprobe = 8)
      .select("id").as[Long].collect().toSeq
    def negDot(a: Array[Float]): Double =
      -a.zip(q).map { case (x, y) => x.toDouble * y }.sum
    val exact = sVecs.indices.sortBy(i => (negDot(sVecs(i)), i)).take(10).map(_.toLong)
    assert(got.head == exact.head, s"best MIPS match lost: $got vs $exact")
    assert(got.toSet.intersect(exact.toSet).size >= 7,
      s"MIPS recall too low: $got vs $exact")
  }

  test("engine approx near serves from the attached artifact; meta guard fails fast") {
    val base = queries.TestCollections.docs(spark, sf0001)
    val dir = Fs.tempDir("graft_ivfrbq_eng_").toString + "/art"
    val coll = base.withIvfRbqVectorIndex("embedding", dir,
      () => IvfPq.signCoarse(base.df, col("embedding"), nBits = 4),
      rotation, nprobe = 8)
    def req(approx: Boolean) = graft.model.SearchRequest(
      graft.model.Query("embedding", vectorFlat = Some(graft.model.VectorFlatOpts(
        vecs(0).toSeq, graft.model.Op.Near, 10, approx = approx))),
      limit = 10)
    val exact = engine.Search.search(base, req(approx = false))
      .select("_id").as[String].collect().toSet
    val served = engine.Search.search(coll, req(approx = true))
      .select("_id").as[String].collect().toSeq
    assert(served.toSet.intersect(exact).size >= 8,
      s"engine-served recall too low: $served vs $exact")
    // the probe restriction is partition pruning in the engine plan too
    val idx = coll.vectorIndexes("embedding")
      .asInstanceOf[engine.IvfRbqVectorIndex]
    // a second attach with the SAME pure-function params reuses the artifact
    val again = base.withIvfRbqVectorIndex("embedding2_unused", dir,
      () => IvfPq.signCoarse(base.df, col("embedding"), nBits = 4),
      rotation, nprobe = 8)
    assert(again.vectorIndexes.contains("embedding2_unused"))
    // ... and a DIFFERENT rotation against the same dir fails fast
    val other = RaBitQ.randomRotation(64, seed = 99L)
    val e = intercept[IllegalArgumentException] {
      base.withIvfRbqVectorIndex("embedding3_unused", dir,
        () => IvfPq.signCoarse(base.df, col("embedding"), nBits = 4),
        other, nprobe = 8)
    }
    assert(e.getMessage.contains("was written as"), e.getMessage)
    // MIPS through the engine serves from the same artifact (round 10 —
    // the stored per-cell <o,c> closes the dot reconstruction): the
    // served top-10 must track exact inner-product ranking
    val dotColl = coll.copy(schema = graft.model.IndexSchema(
      "embedding" -> graft.model.IndexKind.VectorFlat(
        64, graft.model.IndexKind.Metric.Dot)))
    val dotBase = base.copy(schema = dotColl.schema)
    val dotExact = engine.Search.search(dotBase, req(approx = false))
      .select("_id").as[String].collect().toSet
    val dotServed = engine.Search.search(dotColl, req(approx = true))
      .select("_id").as[String].collect().toSeq
    assert(dotServed.toSet.intersect(dotExact).size >= 8,
      s"engine-served MIPS recall too low: $dotServed vs $dotExact")
    idx.release()
  }
}
