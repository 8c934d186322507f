package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Distances
import graft.model.IndexKind
import graft.model.IndexKind.Metric
import graft.operators.{Embeddings, IvfPq, ScalarQuantizer}

/** Recall of the flagship approximate paths at a SYNTHESIZED scale point
  * (round-7 verdict item: every RECALL.md row was sf0.1's 2,000 vectors —
  * publish evidence above toy scale). The corpus is the deterministic
  * perturbed replication of the real embeddings table
  * ([[Embeddings.replicatePerturbed]]): factor× copies, each dimension
  * nudged in [−eps, +eps] and re-normalized, so every vector is distinct,
  * replica clouds preserve neighborhood structure, and the whole corpus
  * is a pure function of (base table, factor, eps) — reproducible by
  * construction, which is what lets a SPEC assert these rows.
  *
  * Three operating points, the ones a serving deployment actually runs:
  * engine-served Vamana (degree 32, 3 NN-Descent rounds — the RECALL.md
  * headline build — beam 75 + exact re-rank; 2 rounds measures 0.88 at
  * 100k, 3 rounds 0.96), residual IVF-PQ spill=3 nprobe=8 + rescore,
  * SQ8 + rescore.
  */
object ScaleRecall {

  final case class Row(method: String, config: String, recall: Double)

  /** Measure recall@k of the three serving paths on `emb` replicated
    * `factor`× with perturbation `eps`. Query points are the (unperturbed)
    * replica-0 copies of `queryBaseIds`; ground truth is brute-force
    * top-k by the codegen distance kernel over the full replicated corpus.
    */
  def measure(
      spark: SparkSession, emb: DataFrame, factor: Int,
      queryBaseIds: Seq[Long], k: Int = 10, eps: Double = 0.05,
      searchSize: Int = 75, rescore: Int = 200,
      buildParams: graft.operators.VamanaBuild.Params =
        graft.operators.VamanaBuild.Params(degreeBound = 32, iterations = 3),
      methods: Set[String] = Set("vamana", "ivfpq", "sq8"),
      // Where the graph artifact lives, or an existing one to reuse (a
      // prior run's graphDir with its _SUCCESS marker): the corpus is a
      // pure function of (base table, factor, eps), so a same-parameters
      // rerun — e.g. sweeping searchSize — can skip the dominant build
      // cost. The caller owns parameter consistency. Without it the graph
      // goes to a temp dir that is removed at JVM exit.
      graphDir: Option[String] = None): Seq[Row] =
      graft.operators.VamanaBuild.withPersisted { persist =>
    import spark.implicits._
    val big = persist(Embeddings.replicatePerturbed(
      emb, col("vec_id"), col("embedding"), factor, eps))
    val n = big.count()
    val queryVecs: Map[Long, Seq[Float]] = queryBaseIds.map(q =>
      q -> big.filter(col("vec_id") === q).select("embedding")
        .head().getSeq[Float](0)).toMap
    // dimensionality comes from the corpus, not a constant: the harness
    // also measures lifted shapes (jlLift 256-d), not just the 64-d table
    val dim = queryVecs(queryBaseIds.head).length

    def exactTop(qv: Seq[Float], metric: Metric): Set[Long] =
      big.select(col("vec_id"),
          Distances.distanceToQuery(metric, col("embedding"), qv).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    def recallOf(got: Seq[Set[Long]], want: Seq[Set[Long]]): Double =
      got.zip(want).map { case (g, w) => w.count(g.contains).toDouble / k }
        .sum / got.length
    lazy val exactL2 = queryBaseIds.map(q => exactTop(queryVecs(q), Metric.Euclidean))
    lazy val exactCos = queryBaseIds.map(q => exactTop(queryVecs(q), Metric.Cosine))
    val out = Seq.newBuilder[Row]

    // MEASURED per-hop payload evidence for the coded rows (verdict r10
    // #2: the "192 B vs 6 KB at 1536-d" claim was arithmetic, not
    // measurement): on-disk bytes/row of the materialized coded serving
    // layout, read from the actual parquet files the hops fetch.
    def dirBytes(path: String): Long = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) -1L
      else {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(f => java.nio.file.Files.isRegularFile(f))
            .map(java.nio.file.Files.size(_)).sum
        } finally s.close()
      }
    }
    def payloadNote(src: graft.operators.CodedSource, artDir: String): String = {
      val codedDisk = dirBytes(artDir.stripSuffix("/") + "_serve_coded_" + src.tag)
      val disk = if (codedDisk > 0) s", coded layout ${codedDisk / n} B/row on disk" else ""
      s", hop payload ${src.payloadBytes(dim)} B vs raw vector ${4L * dim} B$disk"
    }

    // Build-parameter sidecar for graph-artifact reuse: the graph is a
    // pure function of (corpus, buildParams), and the corpus of
    // (base table, factor, eps, dim) — so a reused `graphDir` from a run
    // with ANY different parameter silently yields recall numbers for a
    // mismatched graph, and these numbers land in RECALL.md as published
    // evidence (round-12 advice). The stamp is written next to the
    // artifact when this run creates it, and REQUIRED to match when a
    // prior run's dir is supplied.
    val paramStamp: String = {
      val b = buildParams
      s"factor=$factor eps=$eps dim=$dim n=$n degreeBound=${b.degreeBound} " +
        s"alpha=${b.alpha} iterations=${b.iterations} ringDegree=${b.ringDegree} " +
        s"randomDegree=${b.randomDegree} maxCandidates=${b.maxCandidates}"
    }
    def stampOrCheck(artDir: String): Unit = {
      val p = java.nio.file.Paths.get(
        artDir.stripSuffix("/") + "_build_params.txt")
      if (java.nio.file.Files.exists(p)) {
        val found = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).trim
        require(found == paramStamp,
          s"graphDir $artDir was built under different parameters:\n" +
            s"  artifact: $found\n  this run: $paramStamp")
      } else {
        // only THIS run's fresh build may stamp: an already-existing
        // artifact without a sidecar predates the stamp guard and its
        // build parameters are unknown — writing this run's stamp beside
        // it would bless a possibly-mismatched graph forever (and publish
        // recall numbers under wrong provenance)
        require(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(artDir, "_SUCCESS")),
          s"graphDir $artDir exists but carries no _build_params.txt " +
            "sidecar (pre-stamp artifact, parameters unknown) — rebuild " +
            "it fresh or restore its original sidecar")
        java.nio.file.Files.write(p,
          (paramStamp + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }

    // engine-served Vamana: the full `"approx": true` loop — attach-built
    // graph artifact, beam walk (local fast path at this artifact size),
    // exact re-rank through Search
    if (methods("vamana")) {
      // the graph is source-independent, so the override reuses a coded
      // run's artifact for the uncompressed-walk row too
      val vamDir = graphDir.getOrElse(
        graft.Fs.tempDir(s"graft_scale_vamana_f$factor").resolve("art").toString)
      stampOrCheck(vamDir)
    val coll = graft.engine.Collection(
        big.select(col("vec_id").cast("string").as("_id"),
          col("embedding").as("vec_l2")),
        graft.model.IndexSchema(
          "vec_l2" -> IndexKind.VectorVamana(dim, Metric.Euclidean)))
      .withVamanaVectorIndex("vec_l2", vamDir, buildParams)
    val vamServed = queryBaseIds.map { q =>
      graft.engine.Search.search(coll, graft.model.SearchRequest(
        graft.model.Query("vec_l2", vectorVamana = Some(
          graft.model.VectorVamanaOpts(queryVecs(q), graft.model.Op.Near,
            searchSize = searchSize, limit = k, approx = true))),
        limit = k))
        .select("_id").as[String].collect().map(_.toLong).toSet
    }
      out += Row("engine-served Vamana",
        s"degree ${buildParams.degreeBound}, ${buildParams.iterations} NN-Descent rounds, beam $searchSize + exact re-rank, n=$n",
        recallOf(vamServed, exactL2))
      coll.vectorIndexes.values.foreach(_.release())
      // shuffle/checkpoint files free only when their owners are GC'd
      // (ContextCleaner): without this an at-scale multi-method run
      // accumulates tens of GB of dead spill across blocks (the
      // ScaleSweep lesson)
      System.gc()
    }

    // coded-walk Vamana (DiskANN regime): the distributed walk forced on
    // (localMaxBytes=1) with a PQ model attached — hops fetch m-byte
    // codes from the bucketed serving table and rank by ADC; the engine's
    // exact re-rank of the pool is unchanged. This is the serving shape
    // a >memory artifact actually runs, so its recall band is the one
    // that matters at 100 TB.
    // ONE graph serves both coded methods: the build is a pure function of
    // the corpus (the code source only steers the walk, it never shapes the
    // graph), and the coded serving tables are tag-suffixed per source
    // (dir_serve_coded_pq / _rbq) — so the second attach reuses the
    // _SUCCESS-marked graph parquet and the measurement pays the dominant
    // build cost once instead of per source.
    lazy val codedGraphDir = {
      val d = graphDir.getOrElse(
        graft.Fs.tempDir(s"graft_scale_vamcoded_f$factor").resolve("art").toString)
      stampOrCheck(d)
      d
    }
    if (methods("vamana_coded")) {
      val codDir = codedGraphDir
      val pq = graft.operators.ProductQuantizer.fit(
        big, col("embedding"), m = 16, k = 16, dim = dim)
      val coll = graft.engine.Collection(
          big.select(col("vec_id").cast("string").as("_id"),
            col("embedding").as("vec_l2")),
          graft.model.IndexSchema(
            "vec_l2" -> IndexKind.VectorVamana(dim, Metric.Euclidean)))
        .withVamanaVectorIndex("vec_l2", codDir, buildParams, coded = Some(graft.operators.PqCodes(pq)))
      spark.conf.set("graft.vamana.localMaxBytes", "1")
      val codGot =
        try queryBaseIds.map { q =>
          graft.engine.Search.search(coll, graft.model.SearchRequest(
            graft.model.Query("vec_l2", vectorVamana = Some(
              graft.model.VectorVamanaOpts(queryVecs(q), graft.model.Op.Near,
                searchSize = searchSize, limit = k, approx = true))),
            limit = k))
            .select("_id").as[String].collect().map(_.toLong).toSet
        }
        finally spark.conf.unset("graft.vamana.localMaxBytes")
      out += Row("coded-walk Vamana (DiskANN)",
        s"degree ${buildParams.degreeBound}, ${buildParams.iterations} NN-Descent rounds, PQ m=16/k=16 ADC hops, beam $searchSize + exact re-rank, n=$n" +
          payloadNote(graft.operators.PqCodes(pq), codDir),
        recallOf(codGot, exactL2))
      coll.vectorIndexes.values.foreach(_.release())
      // shuffle/checkpoint files free only when their owners are GC'd
      // (ContextCleaner): without this an at-scale multi-method run
      // accumulates tens of GB of dead spill across blocks (the
      // ScaleSweep lesson)
      System.gc()
    }

    // RBQ-coded walk: the same DiskANN regime with the RaBitQ 1-bit
    // payload as the code source (RbqCodes) — D/64 longs + 3 scalars per
    // hop instead of m bytes, the narrowest fetch the family offers; hops
    // rank by the paper's unbiased estimator.
    if (methods("vamana_rbq")) {
      val codDir = codedGraphDir // shared build, own tag-suffixed serving table
      val rbq = graft.operators.RaBitQ.fit(big, col("embedding"), dim)
      val coll = graft.engine.Collection(
          big.select(col("vec_id").cast("string").as("_id"),
            col("embedding").as("vec_l2")),
          graft.model.IndexSchema(
            "vec_l2" -> IndexKind.VectorVamana(dim, Metric.Euclidean)))
        .withVamanaVectorIndex("vec_l2", codDir, buildParams,
          coded = Some(graft.operators.RbqCodes(rbq)))
      spark.conf.set("graft.vamana.localMaxBytes", "1")
      val rbqGot =
        try queryBaseIds.map { q =>
          graft.engine.Search.search(coll, graft.model.SearchRequest(
            graft.model.Query("vec_l2", vectorVamana = Some(
              graft.model.VectorVamanaOpts(queryVecs(q), graft.model.Op.Near,
                searchSize = searchSize, limit = k, approx = true))),
            limit = k))
            .select("_id").as[String].collect().map(_.toLong).toSet
        }
        finally spark.conf.unset("graft.vamana.localMaxBytes")
      out += Row("RBQ-coded walk Vamana (DiskANN)",
        s"degree ${buildParams.degreeBound}, ${buildParams.iterations} NN-Descent rounds, 1-bit RaBitQ estimator hops, beam $searchSize + exact re-rank, n=$n" +
          payloadNote(graft.operators.RbqCodes(rbq), codDir),
        recallOf(rbqGot, exactL2))
      coll.vectorIndexes.values.foreach(_.release())
      // shuffle/checkpoint files free only when their owners are GC'd
      // (ContextCleaner): without this an at-scale multi-method run
      // accumulates tens of GB of dead spill across blocks (the
      // ScaleSweep lesson)
      System.gc()
    }

    if (methods("ivfpq")) {
    // residual IVF-PQ, spill=3, nprobe=8 of 32 cells, ADC + exact rescore
    val coarse = IvfPq.kmeansCoarse(big, col("embedding"), k = 32)
    val pqModel = IvfPq.fitResidualPq(big, col("embedding"), coarse, m = 16, k = 16)
    val ivfDir = graft.Fs.tempDir(s"graft_scale_ivfpq_f$factor").toString
    IvfPq.writeArtifact(big, col("vec_id"), col("embedding"), coarse, pqModel,
      ivfDir, spill = 3)
    val ivfGot = queryBaseIds.map { q =>
      IvfPq.searchArtifact(spark, ivfDir, queryVecs(q), coarse, pqModel,
          k, rescore = rescore, metric = Metric.Cosine, nprobe = 8)
        .select("id").as[Long].collect().toSet
    }
    out += Row("residual IVF-PQ spill=3 + rescore",
      s"nprobe=8/32 cells, m=16/k=16, rescore $rescore, n=$n",
      recallOf(ivfGot, exactCos))
    }

    // OPQ vs plain PQ at EQUAL code budget (m=16/k=16): ADC top-`rescore`
    // candidates -> exact cosine re-rank. The paired rows record what the
    // learned rotation + eigenvalue allocation buys at scale (Ge et al.
    // 2013 — operators/Opq.scala); on this near-isotropic synthetic
    // corpus the gap is small by construction — OpqSpec's correlated
    // corpus is where the rotation's value is asserted as a law.
    if (methods("opq")) {
      val pq = graft.operators.ProductQuantizer.fit(
        big, col("embedding"), m = 16, k = 16, dim = dim)
      val opq = graft.operators.Opq.fit(big, col("embedding"), dim = dim, m = 16, k = 16)
      val pqCodes = persist(graft.operators.ProductQuantizer.encode(
        big, col("vec_id"), col("embedding"), pq))
      val opqCodes = persist(graft.operators.Opq.encode(
        big, col("vec_id"), col("embedding"), opq))
      def rescored(cands: org.apache.spark.sql.DataFrame, qv: Seq[Float]): Set[Long] = {
        val cand = cands.select("id").collect().map(_.getLong(0)).toSeq
        big.filter(col("vec_id").isin(cand: _*))
          .select(col("vec_id"),
            Distances.distanceToQuery(Metric.Cosine, col("embedding"), qv).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(k)
          .select("vec_id").as[Long].collect().toSet
      }
      val pqGot = queryBaseIds.map(q => rescored(
        graft.operators.ProductQuantizer.adcSearch(pqCodes, queryVecs(q), pq, rescore),
        queryVecs(q)))
      val opqGot = queryBaseIds.map(q => rescored(
        graft.operators.Opq.adcSearch(opqCodes, queryVecs(q), opq, rescore),
        queryVecs(q)))
      out += Row("plain PQ ADC + rescore",
        s"m=16/k=16, rescore $rescore, n=$n", recallOf(pqGot, exactCos))
      out += Row("OPQ ADC + rescore",
        s"learned rotation + eigen-allocation, m=16/k=16, rescore $rescore, n=$n",
        recallOf(opqGot, exactCos))
      pqCodes.unpersist(false); opqCodes.unpersist(false)
    }

    // IVF-RaBitQ: learned coarse cells (partition-pruned probes) +
    // per-cell 1-bit residual codes under the seeded global rotation —
    // the RaBitQ paper's own deployment shape (operators/IvfRbq.scala)
    if (methods("ivfrbq")) {
      val coarse = IvfPq.kmeansCoarse(big, col("embedding"), k = 32)
      val rotation = graft.operators.RaBitQ.randomRotation(dim, seed = 42L)
      val enc = persist(graft.operators.IvfRbq.encode(
        big, col("vec_id"), col("embedding"), coarse, rotation))
      val got = queryBaseIds.map { q =>
        graft.operators.IvfRbq.search(enc, queryVecs(q), coarse, rotation,
            k = k, rescore = rescore, metric = Metric.Cosine, nprobe = 8)
          .select("id").as[Long].collect().toSet
      }
      out += Row("IVF-RaBitQ + rescore",
        s"nprobe=8/32 cells, 1 bit/dim residual codes, rescore $rescore, n=$n",
        recallOf(got, exactCos))
      enc.unpersist(false)
    }

    // RaBitQ + rescore: 1-bit estimator candidates -> exact cosine
    // re-rank — the binary-budget point of the quantizer family with the
    // paper's unbiased estimator (operators/RaBitQ.scala)
    if (methods("rbq")) {
      val model = graft.operators.RaBitQ.fit(big, col("embedding"), dim)
      val codes = persist(graft.operators.RaBitQ.encode(
        big, col("vec_id"), col("embedding"), model))
      val rbqGot = queryBaseIds.map { q =>
        val cand = graft.operators.RaBitQ.search(codes, queryVecs(q), model, rescore)
          .select("id").collect().map(_.getLong(0)).toSeq
        big.filter(col("vec_id").isin(cand: _*))
          .select(col("vec_id"),
            Distances.distanceToQuery(Metric.Cosine, col("embedding"), queryVecs(q)).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(k)
          .select("vec_id").as[Long].collect().toSet
      }
      out += Row("RaBitQ + rescore",
        s"1 bit/dim unbiased estimator, rescore $rescore, n=$n",
        recallOf(rbqGot, exactCos))
      codes.unpersist(false)
    }

    if (methods("sq8")) {
    // SQ8 + rescore: reconstructed-L2 top-`rescore` → exact cosine re-rank
    val (lo, hi) = ScalarQuantizer.fitMinMax(big, col("embedding"), dim)
    val codes = persist(ScalarQuantizer.encode(
      big, col("vec_id"), col("embedding"), lo, hi))
    val sqGot = queryBaseIds.map { q =>
      val cand = ScalarQuantizer.search(codes, queryVecs(q), lo, hi, rescore)
        .select("id").collect().map(_.getLong(0)).toSeq
      big.filter(col("vec_id").isin(cand: _*))
        .select(col("vec_id"),
          Distances.distanceToQuery(Metric.Cosine, col("embedding"), queryVecs(q)).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    }
    out += Row("SQ8 + rescore",
      s"top-$rescore reconstructed-L2 → exact cosine, n=$n",
      recallOf(sqGot, exactCos))
    codes.unpersist(false)
    }

    out.result()
  }
}
