package graft

import org.apache.spark.sql.functions._
import graft.functions.Distances
import graft.model.IndexKind.Metric
import graft.operators.{BinaryQuantizer, IvfPq, ProductQuantizer, ScalarQuantizer, Similarity, VamanaBuild}

/** Measures recall@10 of every approximate search path against exact
  * top-k over the embeddings table and writes RECALL.md — the analogue of
  * the reference's ann-benchmarks recall table (BASELINE.md). Run:
  * `sbt "runMain graft.RecallReport /root/testdata/sf0.01"`.
  */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local()
    import spark.implicits._

    val emb = Tables.embeddings(spark, sfDir).persist()
    val n = emb.count()
    val queryIds = Seq(0L, 7L, 99L, 250L, 444L).filter(_ < n)
    val k = 10

    // fetch each query vector ONCE — vec() is called inside every method's
    // per-query loop (~80 uses), and a filter+head Spark job per call would
    // dominate the report's wall-clock
    val queryVecs: Map[Long, Seq[Float]] = queryIds.map(id =>
      id -> emb.filter(col("vec_id") === id)
        .select("embedding").head().getSeq[Float](0)).toMap
    def vec(id: Long): Seq[Float] = queryVecs(id)
    def exactTop(qv: Seq[Float], metric: Metric): Set[Long] =
      emb.select(col("vec_id"),
          Distances.distanceToQuery(metric, col("embedding"), qv).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    def recallOf(got: Seq[Set[Long]], want: Seq[Set[Long]]): Double =
      got.zip(want).map { case (g, w) => w.count(g.contains).toDouble / k }.sum / got.length

    // exact ground truth (cosine for quantized/IVF paths, euclidean for vamana)
    val exactCos = queryIds.map(q => exactTop(vec(q), Metric.Cosine))
    val exactL2 = queryIds.map(q => exactTop(vec(q), Metric.Euclidean))

    // BQ: hamming over mean-threshold sign bits vs true cosine — pure and
    // rescored (top-`rescoreC` = 20·k hamming candidates re-ranked by
    // exact cosine)
    val th = BinaryQuantizer.fit(emb, col("embedding"), 64)
    val encoded = BinaryQuantizer.encode(
      emb.select(col("vec_id"), col("embedding")), col("embedding"), th).persist()
    val bq = queryIds.map { q =>
      BinaryQuantizer.search(encoded, col("vec_id"), vec(q), th, k)
        .select("id").as[Long].collect().toSet
    }
    val rescoreC = 20 * k
    val bqR = queryIds.map { q =>
      BinaryQuantizer.searchRescored(encoded, col("vec_id"), col("embedding"),
          vec(q), th, k, rescoreC, Metric.Cosine)
        .select("id").as[Long].collect().toSet
    }
    // asymmetric 1-bit ADC (round 7): full-precision query vs two learned
    // levels per dim — same packed scan, magnitude-aware ranking
    val (bqLo, bqHi) = BinaryQuantizer.fitLevels(emb, col("embedding"), 64, th)
    val bqAsym = queryIds.map { q =>
      BinaryQuantizer.searchAsymmetric(encoded, col("vec_id"), vec(q), bqLo, bqHi, k)
        .select("id").as[Long].collect().toSet
    }
    val bqAsymR = queryIds.map { q =>
      val cand = BinaryQuantizer.searchAsymmetric(
          encoded, col("vec_id"), vec(q), bqLo, bqHi, rescoreC)
        .select("id").collect().map(_.getLong(0)).toSeq
      emb.filter(col("vec_id").isin(cand: _*))
        .select(col("vec_id"),
          Distances.distanceToQuery(Metric.Cosine, col("embedding"), vec(q)).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    }

    // SQ8: reconstructed-L2 candidates (rank-equivalent to cosine on the
    // normalized corpus) — pure top-k and rescored-from-top-rescoreC
    val (sqLo, sqHi) = ScalarQuantizer.fitMinMax(emb, col("embedding"), 64)
    val sqCodes = ScalarQuantizer.encode(
      emb, col("vec_id"), col("embedding"), sqLo, sqHi).persist()
    val sq = queryIds.map { q =>
      ScalarQuantizer.search(sqCodes, vec(q), sqLo, sqHi, k)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    val sqR = queryIds.map { q =>
      val cand = ScalarQuantizer.search(sqCodes, vec(q), sqLo, sqHi, 20 * k)
        .select("id").collect().map(_.getLong(0)).toSeq
      emb.filter(col("vec_id").isin(cand: _*))
        .select(col("vec_id"),
          Distances.distanceToQuery(Metric.Cosine, col("embedding"), vec(q)).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    }

    // PQ ADC — the round-1 m=8/k=32 point, a finer m=16/k=64 codebook,
    // and the finer codebook with exact re-rank
    val model8 = ProductQuantizer.fit(emb, col("embedding"), m = 8, k = 32, dim = 64)
    val codes8 = ProductQuantizer.encode(emb, col("vec_id"), col("embedding"), model8).persist()
    val pq8 = queryIds.map { q =>
      ProductQuantizer.adcSearch(codes8, vec(q), model8, k)
        .select("id").as[Long].collect().toSet
    }
    val model16 = ProductQuantizer.fit(emb, col("embedding"), m = 16, k = 64, dim = 64)
    val codes16 = ProductQuantizer.encode(emb, col("vec_id"), col("embedding"), model16).persist()
    val model16f = ProductQuantizer.fit(emb, col("embedding"), m = 16, k = 128, dim = 64)
    val codes16f = ProductQuantizer.encode(emb, col("vec_id"), col("embedding"), model16f).persist()
    val pq16f = queryIds.map { q =>
      ProductQuantizer.adcSearch(codes16f, vec(q), model16f, k)
        .select("id").as[Long].collect().toSet
    }
    val pq16 = queryIds.map { q =>
      ProductQuantizer.adcSearch(codes16, vec(q), model16, k)
        .select("id").as[Long].collect().toSet
    }
    val pq16R = queryIds.map { q =>
      ProductQuantizer.adcSearchRescored(codes16, emb, col("vec_id"), col("embedding"),
          vec(q), model16, k, rescoreC, Metric.Cosine)
        .select("id").as[Long].collect().toSet
    }

    // sign-bit IVF (6 bits, hamming-1 probing) + learned k-means IVF
    val ivf = queryIds.map { q =>
      Similarity.ivfSearch(emb, col("vec_id"), col("embedding"), vec(q), k,
          Metric.Cosine, nBits = 6)
        .select("id").as[Long].collect().toSet
    }
    val cents = Similarity.kmeansCentroids(emb, col("embedding"), kClusters = 32)
    val ivfKm = queryIds.map { q =>
      Similarity.kmeansIvfSearch(emb, col("vec_id"), col("embedding"), vec(q), k,
          Metric.Cosine, cents, nprobe = 4)
        .select("id").as[Long].collect().toSet
    }
    val ivfKm8 = queryIds.map { q =>
      Similarity.kmeansIvfSearch(emb, col("vec_id"), col("embedding"), vec(q), k,
          Metric.Cosine, cents, nprobe = 8)
        .select("id").as[Long].collect().toSet
    }

    // residual IVF-PQ (learned coarse cells + residual codebook): pure
    // ADC and the rescored production mode, at two probe budgets
    val ivfPqCoarse = IvfPq.kmeansCoarse(emb, col("embedding"), k = 32)
    val ivfPqModel = IvfPq.fitResidualPq(emb, col("embedding"), ivfPqCoarse, m = 16, k = 16)
    val ivfPqDir = Fs.tempDir("graft_recall_ivfpq_").toString
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), ivfPqCoarse, ivfPqModel, ivfPqDir)
    def ivfPqAt(nprobe: Int, rescore: Int): Seq[Set[Long]] = queryIds.map { q =>
      IvfPq.searchArtifact(spark, ivfPqDir, vec(q), ivfPqCoarse, ivfPqModel,
          k, rescore = rescore, metric = Metric.Cosine, nprobe = nprobe)
        .select("id").as[Long].collect().toSet
    }
    val ivfPq4 = ivfPqAt(nprobe = 4, rescore = k) // rescore=k ≈ pure ADC ranking
    val ivfPq4R = ivfPqAt(nprobe = 4, rescore = rescoreC)
    val ivfPq8R = ivfPqAt(nprobe = 8, rescore = rescoreC)

    // spill=2 (multi-assignment): each vector's residual codes live in its
    // 2 nearest cells — coarse-cell coverage is the recall ceiling, and
    // spilling converts boundary misses into hits at the same probe budget
    val ivfPqDirS = Fs.tempDir("graft_recall_ivfpq_s2_").toString
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), ivfPqCoarse, ivfPqModel,
      ivfPqDirS, spill = 2)
    def ivfPqSpillAt(nprobe: Int, rescore: Int): Seq[Set[Long]] = queryIds.map { q =>
      IvfPq.searchArtifact(spark, ivfPqDirS, vec(q), ivfPqCoarse, ivfPqModel,
          k, rescore = rescore, metric = Metric.Cosine, nprobe = nprobe)
        .select("id").as[Long].collect().toSet
    }
    val ivfPqS4R = ivfPqSpillAt(nprobe = 4, rescore = rescoreC)
    val ivfPqS8R = ivfPqSpillAt(nprobe = 8, rescore = rescoreC)
    val ivfPqDirS3 = Fs.tempDir("graft_recall_ivfpq_s3_").toString
    IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), ivfPqCoarse, ivfPqModel,
      ivfPqDirS3, spill = 3)
    val ivfPqS38R = queryIds.map { q =>
      IvfPq.searchArtifact(spark, ivfPqDirS3, vec(q), ivfPqCoarse, ivfPqModel,
          k, rescore = rescoreC, metric = Metric.Cosine, nprobe = 8)
        .select("id").as[Long].collect().toSet
    }

    // batch Vamana + beam search (euclidean) at 3/2/1 NN-Descent rounds
    // (1 round is the bench build point)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().map { case (i, v) => i -> v.toArray }.toMap
    def vamAt(rounds: Int): Seq[Set[Long]] = {
      val graph = VamanaBuild.build(emb, col("vec_id"), col("embedding"),
        Metric.Euclidean, VamanaBuild.Params(degreeBound = 32, iterations = rounds))
      val adj = graph.as[(Long, Seq[Long])].collect().toMap
      queryIds.map { q =>
        VamanaBuild.greedySearch(adj, vecs, vecs(q), k, searchSize = 75,
          start = adj.keys.min, metric = Metric.Euclidean).toSet
      }
    }
    val vam = vamAt(3)
    val vam2 = vamAt(2)
    val vam1 = vamAt(1)

    // incrementally maintained Vamana: build on 90% of the corpus, patch
    // in the remaining 10% (insertBatch), then delete 5% (deleteBatch) —
    // the graph a write-heavy user actually serves from
    val cut = n / 10
    val baseGraph = VamanaBuild.build(
      emb.filter(col("vec_id") >= cut), col("vec_id"), col("embedding"),
      Metric.Euclidean, VamanaBuild.Params(degreeBound = 32, iterations = 3))
    val patched = VamanaBuild.insertBatch(baseGraph, emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < cut).select("vec_id"), Metric.Euclidean,
      VamanaBuild.Params(degreeBound = 32))
    val delLo = n / 2
    val delHi = delLo + n / 20
    val shrunk = VamanaBuild.deleteBatch(patched, emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") >= delLo && col("vec_id") < delHi).select("vec_id"),
      Metric.Euclidean, VamanaBuild.Params(degreeBound = 32))
    val sAdj = shrunk.as[(Long, Seq[Long])].collect().toMap
    val aliveEmb = emb.filter(col("vec_id") < delLo || col("vec_id") >= delHi)
    val vamMaint = queryIds.filter(q => q < delLo || q >= delHi).map { q =>
      val exact = aliveEmb.select(col("vec_id"),
          Distances.distanceToQuery(Metric.Euclidean, col("embedding"), vec(q)).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
      val got = VamanaBuild.greedySearch(sAdj, vecs, vecs(q), k, searchSize = 75,
        start = sAdj.keys.min, metric = Metric.Euclidean).toSet
      exact.count(got.contains).toDouble / k
    }
    val vamMaintRecall = vamMaint.sum / vamMaint.length

    // engine-SERVED Vamana: the JSON `"approx": true` path end-to-end —
    // VamanaVectorIndex attach (artifact build + serving-frame join),
    // hop-batched beam (VamanaServe), exact re-rank through Search
    val vamColl = graft.engine.Collection(
      emb.select(col("vec_id").cast("string").as("_id"),
        col("embedding").as("vec_l2")),
      graft.model.IndexSchema(
        "vec_l2" -> graft.model.IndexKind.VectorVamana(64, Metric.Euclidean)))
      .withVamanaVectorIndex("vec_l2",
        Fs.tempDir("graft_recall_vamana_")
          .resolve("art").toString)
    val vamServed = queryIds.map { q =>
      graft.engine.Search.search(vamColl, graft.model.SearchRequest(
        graft.model.Query("vec_l2", vectorVamana = Some(
          graft.model.VectorVamanaOpts(vec(q), graft.model.Op.Near,
            searchSize = 75, limit = k, approx = true))),
        limit = k))
        .select("_id").as[String].collect().map(_.toLong).toSet
    }

    val report =
      f"""# RECALL — approximate search vs exact top-$k (graft rounds 2–5)
         |
         |Dataset: `$sfDir/embeddings.parquet` ($n vectors, 64-d, L2-normalized).
         |Queries: vec_ids ${queryIds.mkString(", ")}. Exact baseline = brute-force
         |top-$k via the codegen distance kernel (recall 1.0 by construction —
         |this engine's `near` semantic). Reference recall context in BASELINE.md.
         |
         || method | config | recall@$k vs exact |
         ||---|---|---|
         || exact `near` (S1/S2) | TakeOrderedAndProject scan | 1.000 |
         || binary quantizer | mean thresholds, packed hamming, vs cosine | ${recallOf(bq, exactCos)}%.3f |
         || binary quantizer + rescore | hamming top-$rescoreC → exact cosine re-rank | ${recallOf(bqR, exactCos)}%.3f |
         || binary quantizer, ASYMMETRIC 1-bit ADC (r7) | two learned levels/dim, same packed scan | ${recallOf(bqAsym, exactCos)}%.3f |
         || asymmetric ADC + rescore (r7) | asym top-$rescoreC → exact cosine re-rank | ${recallOf(bqAsymR, exactCos)}%.3f |
         || SQ8 scalar quantizer | per-dim min/max grid, reconstructed L2 | ${recallOf(sq, exactCos)}%.3f |
         || SQ8 + rescore | top-$rescoreC → exact cosine re-rank | ${recallOf(sqR, exactCos)}%.3f |
         || product quantizer ADC | m=8, k=32, seeded Lloyd's | ${recallOf(pq8, exactCos)}%.3f |
         || product quantizer ADC | m=16, k=64 | ${recallOf(pq16, exactCos)}%.3f |
         || product quantizer ADC | m=16, k=128 | ${recallOf(pq16f, exactCos)}%.3f |
         || product quantizer + rescore | m=16/k=64 top-$rescoreC → exact re-rank | ${recallOf(pq16R, exactCos)}%.3f |
         || sign-bit IVF | 6 bits, hamming-1 probes (7/64 buckets) | ${recallOf(ivf, exactCos)}%.3f |
         || learned IVF (k-means) | 32 centroids, nprobe=4 (⅛ of corpus) | ${recallOf(ivfKm, exactCos)}%.3f |
         || learned IVF (k-means) | 32 centroids, nprobe=8 (¼ of corpus) | ${recallOf(ivfKm8, exactCos)}%.3f |
         || residual IVF-PQ ADC | 32 learned cells, m=16/k=16 residual codes, nprobe=4 | ${recallOf(ivfPq4, exactCos)}%.3f |
         || residual IVF-PQ + rescore | nprobe=4, ADC top-$rescoreC → exact re-rank | ${recallOf(ivfPq4R, exactCos)}%.3f |
         || residual IVF-PQ + rescore | nprobe=8, ADC top-$rescoreC → exact re-rank | ${recallOf(ivfPq8R, exactCos)}%.3f |
         || residual IVF-PQ, spill=2 + rescore | nprobe=4 (⅛ of cells), 2× codes | ${recallOf(ivfPqS4R, exactCos)}%.3f |
         || residual IVF-PQ, spill=2 + rescore | nprobe=8 (¼ of cells), 2× codes | ${recallOf(ivfPqS8R, exactCos)}%.3f |
         || residual IVF-PQ, spill=3 + rescore | nprobe=8 (¼ of cells), 3× codes | ${recallOf(ivfPqS38R, exactCos)}%.3f |
         || batch Vamana + beam | degree 32, α 1.2, 3 rounds, searchSize 75 | ${recallOf(vam, exactL2)}%.3f |
         || batch Vamana + beam | degree 32, α 1.2, 2 rounds, searchSize 75 | ${recallOf(vam2, exactL2)}%.3f |
         || batch Vamana + beam | degree 32, α 1.2, 1 round, searchSize 75 (bench build point) | ${recallOf(vam1, exactL2)}%.3f |
         || maintained Vamana + beam | 90%% built, +10%% insertBatch, −5%% deleteBatch | $vamMaintRecall%.3f |
         || engine-served Vamana (`"approx": true`) | VamanaVectorIndex: hop-batched beam 75 over the artifact + exact re-rank | ${recallOf(vamServed, exactL2)}%.3f |
         |
         |Interpretation: exact search IS the correctness surface (always
         |available, recall 1.0); the approximate artifacts trade recall for
         |scan reduction (IVF: partition pruning; BQ: 32× smaller scans +
         |popcount; PQ: byte codes + table lookups; Vamana: graph traversal
         |for serving layers). The 64-d corpus yields only 64 sign bits, so
         |pure hamming/ADC ranking saturates low (the reference's published
         |BQ points ride 768–1536-bit signatures); the production operating
         |mode at this dimensionality is quantized scan-reduction + exact
         |re-rank of ~10k candidates, which restores ≈1.0 recall while still
         |reading the wide vectors for only the candidate rows.
         |
         |Round 3: the two-stage mode is the ENGINE's serving path — a
         |request with `"approx": true` on a vector operator runs quantized
         |candidates (budget = max(5·limit, 50) flat / searchSize vamana) + exact
         |re-rank against an attached BQ or PQ artifact, and both pipelines are
         |oracle-checked end-to-end (s2_near_bq_approx, s2_near_pq_approx).
         |Exact search remains the default and the fallback without an artifact.
         |Residual IVF-PQ composes all three reductions — probe nprobe/32 of
         |the partition directories (pruned scan), rank m-byte residual codes
         |by per-cell ADC, re-rank only the candidates — and is oracle-checked
         |end-to-end with a closed-form codebook (ann_ivfpq_fixed).
         |
         |Round 4: coarse-CELL coverage, not code fidelity, is the recall
         |ceiling (rescored IVF-PQ tracks plain learned-IVF at every nprobe),
         |so the recall lever is multi-assignment: `writeArtifact(spill = 2)`
         |stores each vector's residual codes in its 2 nearest cells and the
         |search dedups by id. At the same ¼-of-cells probe budget this lifts
         |recall ${recallOf(ivfPq8R, exactCos)}%.3f → ${recallOf(ivfPqS8R, exactCos)}%.3f for a ~2× artifact: each
         |spilled copy carries the full row — codes (m bytes) AND the wide
         |float vec, which dominates — a deliberate trade, because the
         |rescore stage reads vecs ONLY from probed cells (partition
         |pruning); a shared single-copy vec table would shrink storage
         |spill-fold but turn every query's re-rank into an unpruned
         |corpus-wide vec scan. The ADC stage itself stays narrow either
         |way (column pruning reads id/bucket/codes only). spill=3 adds
         |little (${recallOf(ivfPqS38R, exactCos)}%.3f): past two assignments the residual-ADC candidate
         |ranking, not cell membership, binds.
         |
         |Round 5: every learned fit now trains on a canonically SORTED
         |sample (Similarity.vectorSample), so codebooks/centroids are pure
         |functions of the corpus — which let pq_adc_topk pin a value golden
         |in the driver gate (no more rows-only entries). Artifacts record
         |their build spill in the model header and the facade refuses a
         |mismatched reuse. This table is regenerated at sf0.1 each round
         |(`sbt "runMain graft.RecallReport /root/testdata/sf0.1"`); the
         |asserted regression guards live in IvfPqSpec (spill=2 ≥ 0.8 at
         |quarter-cells, kmeans IVF-PQ ≥ 0.7) and VamanaSpec.
         |""".stripMargin
    // ---- @100k: recall above toy scale --------------------------------
    // Deterministic perturbed replication of this corpus up to ≥100k
    // vectors (tools/ScaleRecall); the flagship serving paths re-measured
    // there. ScaleRecallSpec asserts the Vamana row (≥ the reference's
    // 0.92 glove point) and the 10× bands on every test run.
    val scaleFactor = math.max(1, math.ceil(100000.0 / n).toInt)
    val scaleRows = graft.tools.ScaleRecall.measure(
      spark, emb, scaleFactor, queryIds,
      methods = Set("vamana", "ivfpq", "opq", "rbq", "ivfrbq", "sq8"))
    val scaleSection =
      f"""
         |## @100k — recall above toy scale (round 7)
         |
         |Corpus: deterministic perturbed replication of this table ×$scaleFactor
         |(`Embeddings.replicatePerturbed`, eps 0.05, re-normalized — every
         |vector distinct, replica clouds preserve neighborhood structure;
         |a pure row function, so these rows are exactly reproducible and
         |spec-asserted in ScaleRecallSpec). Exact baseline = brute-force
         |top-10 over the full replicated corpus.
         |
         || method | config | recall@10 |
         ||---|---|---|
         |${scaleRows.map(r => s"| ${r.method} | ${r.config} | ${f"${r.recall}%.3f"} |").mkString("\n")
           // rows joined BEFORE stripMargin sees them: double the pipe so
           // margin-stripping leaves each row's leading table pipe intact
           .replace("\n|", "\n||")}
         |
         |The Vamana row uses the RECALL.md headline build (degree 32, α 1.2,
         |3 NN-Descent rounds — 2 rounds measures 0.880 at this size) and
         |clears the reference's published 0.92 glove-25-angular row
         |(BASELINE.md) at the same beam the engine's searchSize cap allows
         |(75). IVF-PQ and SQ8 hold their rescored operating points: the
         |rescore stage reads wide vectors for candidates only, so the
         |at-scale cost story is unchanged. The PQ/OPQ pair runs at an
         |equal m=16/k=16 code budget: OPQ's learned rotation + eigenvalue
         |allocation (operators/Opq.scala) can only show its margin on
         |correlated corpora (OpqSpec asserts OPQ > PQ there as a law);
         |this near-isotropic replication is the neutral-ground reading. The
         |RaBitQ row is the family's 1-bit/dim budget point (unbiased
         |estimator, O(1/√D) error — RaBitQSpec asserts the bound and the
         |ranking advantage over plain hamming).
         |""".stripMargin
    // ---- static sections: values spec-asserted per run, recorded here --
    // (measuring them in this main would add ~10 min of graph builds per
    // regeneration; the bands break a test run if they drift)
    val secondShapeSection =
      """
        |## 256-d — recall at a second dimensionality (round 8)
        |
        |The @100k table above is 64-d; round-7 verdict item 5 asked for
        |evidence at a second shape so the recall story doesn't rest on one
        |dimensionality. Corpus: the 64-d table lifted to 256 dims by a
        |deterministic ±1 random projection (`Embeddings.jlLift` — a wide
        |xxhash64 sign matrix, then re-normalize; near-isometric, so base
        |neighborhood structure survives the lift rather than degenerating
        |to uniform-random points), then the same perturbed replication.
        |All rows exactly reproducible (pure functions of the base table);
        |the first two are spec-asserted in ScaleRecallSpec every run.
        |
        || method | corpus | config | recall@10 |
        ||---|---|---|---|
        || engine-served Vamana | 5,000 × 256-d (sf0.01 ×10) | degree 32, 3 NN-Descent rounds, beam 75 + exact re-rank | 1.000 |
        || residual IVF-PQ spill=3 + rescore | 5,000 × 256-d | nprobe=8/32 cells, m=16/k=16, rescore 200 | 1.000 |
        || SQ8 + rescore | 5,000 × 256-d | top-200 reconstructed-L2 → exact cosine | 1.000 |
        || engine-served Vamana | 10,000 × 256-d (sf0.1 ×5) | same build/serve path (per-commit spec guard) | 1.000 |
        || engine-served Vamana | 50,000 × 256-d (sf0.1 ×25) | same; measured once, ~10 min build — too slow for the suite, recorded here | 1.000 |
        |
        |256-d is an easier regime than 64-d for every artifact (4× the
        |sign bits for BQ-family codes, richer subspaces for PQ, better
        |hubness behaviour for the graph walk), which is why these points
        |sit above their 64-d counterparts; the 64-d @100k table remains
        |the harder, binding evidence.
        |
        |## Coded walk — DiskANN compressed navigation (rounds 8–10)
        |
        |Past the local-graph budget the distributed walk can attach a code
        |source (`VamanaVectorIndex(coded = Some(src))`): per-hop fetches
        |then read `(_gid, _codes, _nbrs)` from a code-narrow bucketed
        |serving table and rank by the source's estimator — the DiskANN
        |design (Subramanya et al. 2019: compressed vectors steer
        |navigation, full precision only re-ranks). Three sources: PQ ADC
        |(m bytes/node), OPQ ADC (m bytes, rotated space), and — round 10 —
        |RaBitQ (D/64 longs + 3 scalars: 32 B at 64-d vs PQ m=16's 64 B —
        |the narrowest hop payload at ≤128-d; above that PQ's payload is
        |CONSTANT in D while RaBitQ's grows as D/8, so at 1536-d PQ m=16
        |reads 64 B/hop vs RaBitQ's 216 B vs 6 KB raw — RaBitQ's edge
        |there is being codebook-free with error that SHRINKS as O(1/√D),
        |not width; the 1536-d table below measures both).
        |The pool is approximate, so this regime's band is SERVED recall
        |(exact re-rank of the pool vs exact search), measured with the
        |distributed regime forced on (`graft.vamana.localMaxBytes=1`):
        |
        || corpus | config | served recall@10 |
        ||---|---|---|
        || 500 × 64-d (sf0.001) | degree 32, PQ m=16/k=16 ADC hops, beam 75 | 0.960 |
        || 500 × 64-d (sf0.001) | degree 32, RaBitQ 1-bit estimator hops, beam 75 | 0.940 |
        || 5,000 × 64-d (sf0.01 ×10) | PQ ADC hops | 1.000 |
        || 5,000 × 64-d (sf0.01 ×10) | RaBitQ 1-bit estimator hops | 1.000 |
        || 5,000 × 256-d (jlLift ×10) | PQ ADC hops — 16-byte codes vs 1,024-byte vectors: 64× narrower hops | 1.000 |
        || 5,000 × 256-d (jlLift ×10) | RaBitQ hops — 56-byte payload (4 longs + 3 scalars) vs 1,024-byte vectors: 18× narrower, no codebook | 1.000 |
        |
        |Spec-asserted per run (VamanaServeSpec ≥0.9 for the PQ, OPQ and
        |RBQ bands with the bucket-pruned code-narrow plan shape;
        |ScaleRecallSpec ≥0.9 at 5k for PQ- and RBQ-coded; the 256-d rows
        |measured once via `runMain graft.tools.MeasureRecall`, the shape
        |where the code/vector width ratio bites).
        |
        |## 1536-d — the reference's flagship shape (round 11)
        |
        |The reference's headline dataset is dbpedia-openai-100k-angular at
        |1536-d: served recall 0.990 uncompressed, 0.920 PQ-compressed,
        |0.766 BQ-compressed (reference README.md:191–196). These rows
        |measure the SAME (n, D) shape — the 64-d table jlLift-ed to 1536-d,
        |perturbed-replicated to n — with the per-hop payload MEASURED from
        |the coded serving layout the hops actually read
        |(ScaleRecall.payloadNote), not arithmetic. Raw vector: 6,144 B.
        |Every walk rides beam 75, the searchSize ceiling the engine's
        |validation enforces (25–75, the reference's own bound,
        |models/search.go:271). All serving runs in the PAST-BUDGET
        |distributed regime — bucket-pruned point reads per hop, the shape a
        |100 TB artifact actually serves.
        |
        || corpus | config | payload (B/hop, disk B/row) | served recall@10 |
        ||---|---|---|---|
        || 5,000 × 1536-d (sf0.01 ×10) | engine-served Vamana, degree 32, beam 75 | full vector | 1.000 |
        || 5,000 × 1536-d (sf0.01 ×10) | PQ m=16/k=16 ADC hops — 96× narrower than raw | 64 B, 108 B/row | 1.000 |
        || 5,000 × 1536-d (sf0.01 ×10) | RaBitQ 1-bit hops — 28× narrower, no codebook | 216 B, 319 B/row | 0.980 |
        || 20,000 × 1536-d (sf0.1 ×10) | PQ ADC hops | 64 B | 0.980 |
        || 20,000 × 1536-d (sf0.1 ×10) | RaBitQ hops | 216 B | 0.980 |
        || 50,000 × 1536-d (sf0.1 ×25) | PQ ADC hops | 64 B, 123 B/row | 0.980 |
        || 50,000 × 1536-d (sf0.1 ×25) | RaBitQ hops | 216 B, 333 B/row | 1.000 |
        || **100,000 × 1536-d (sf0.1 ×50) — the flagship (n, D)** | **exact distributed walk (uncompressed hops)** | 6,144 B | **1.000** |
        || 100,000 × 1536-d (sf0.1 ×50) | PQ ADC hops | 64 B, 128 B/row | 0.980 |
        || 100,000 × 1536-d (sf0.1 ×50) | RaBitQ hops | 216 B, 338 B/row | 0.980 |
        |
        |At the reference's exact flagship (n, D), every serving regime
        |measures ABOVE the published row it mirrors: uncompressed walk
        |1.000 vs 0.990; PQ-compressed navigation 0.980 vs 0.920; 1-bit
        |compressed navigation 0.980 vs 0.766 (their BQ row; ours is the
        |RaBitQ estimator at the same 1 bit/dim budget). The 100k × 1536-d
        |builds became single-box-feasible this round: the NN-Descent
        |prune's collect_list previously hit ObjectHashAggregate's 128-key
        |sort fallback and externally sorted ~50 GB of 6 KB-wide rows per
        |round (a disk kill here, ordinary shuffle volume on a cluster) —
        |the measurement session now keeps that aggregate hashing
        |(tools/MeasureRecall.scala session confs) and one shared graph
        |serves all three regimes (the code source never shapes the graph).
        |
        |A 1.5k × 1536-d slice of this table is spec-asserted every run
        |(ScaleRecallSpec third shape, including the payload strings); the
        |at-scale rows are measured once via
        |`runMain graft.tools.MeasureRecall <sfDir> <factor> <dOut> <methods>
        |[searchSize] [graphDir]` (graphDir reuses a prior run's graph
        |artifact, so a method or beam sweep pays the dominant build once).
        |The engine serves the RBQ-coded walk end-to-end through the store
        |facade under the same `graft.vamana.codedWalk` opt-in as PQ/OPQ
        |(gate w14_rbq_coded_walk, exact-SQL oracled). The exact
        |distributed walk remains the default — coded is the opt-in for
        |artifacts whose per-hop vector reads dominate serving cost.
        |""".stripMargin
    val fullReport = report + scaleSection + secondShapeSection
    java.nio.file.Files.writeString(java.nio.file.Paths.get("RECALL.md"), fullReport)
    println(fullReport)
    spark.stop()
  }
}
