package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Scale smoke test: replicate the documents/embeddings corpus N× (ids
  * offset per replica) and time the heavy operators. The point is not the
  * absolute numbers but the SHAPE — every timing here should grow ~linearly
  * with the factor, because the quadratic-risk stages (near-dup pairing)
  * run behind exact dedup, which collapses the replicas first — the same
  * reason real corpus curation runs exact-dedup before near-dup.
  *
  *   sbt "runMain graft.tools.ScaleSmoke /root/testdata/sf0.1 10"
  */
object ScaleSmoke {

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def replicateDocs(docs: DataFrame, factor: Int, idStep: Long): DataFrame =
    docs.crossJoin(
        spark(docs).range(factor).select(col("id").as("_rep")))
      .withColumn("doc_id", col("doc_id") + col("_rep") * idStep)
      .drop("_rep")

  /** Replicas with DISJOINT shingle spaces: every token gets a per-replica
    * suffix, so each replica reproduces the base corpus's near-dup
    * structure and NO pairs form across replicas. A factor-f corpus
    * therefore has exactly f× the true pairs of the base — the harness
    * that turns "PPJoin candidates grow linearly, not quadratically" into
    * a measured exponent.
    */
  def replicateDocsDisjoint(docs: DataFrame, factor: Int, idStep: Long): DataFrame =
    docs.crossJoin(
        spark(docs).range(factor).select(col("id").as("_rep")))
      .withColumn("doc_id", col("doc_id") + col("_rep") * idStep)
      // suffix every ALPHANUMERIC RUN (the tokenizer's own token unit),
      // not whitespace runs: a whitespace-run suffix lands after trailing
      // punctuation ("art." → "art.x3"), which the [^\p{L}\p{N}]+ split
      // shears into the UNsuffixed base token plus a shared "x3" filler —
      // cross-replica shingles that break the exactly-f×-pairs invariant.
      // Appending to each \p{L}\p{N} run keeps tokens 1:1 with the
      // original shingle structure ("tokenx3") and replicas fully disjoint
      .withColumn("text",
        regexp_replace(col("text"), lit("([\\p{L}\\p{N}]+)"),
          concat(lit("$1x"), col("_rep"))))
      .drop("_rep")

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val s = graft.Sessions.local()

    val base = graft.Tables.documents(s, sfDir)
    val idStep = base.agg(max("doc_id")).head().getLong(0) + 1
    val docs = replicateDocs(base, factor, idStep).persist()
    val n = time("replicate + materialize")(docs.count())
    println(s"[scale] corpus: $n docs (factor $factor)")

    time("vocabulary (groupBy token)")(
      TextAnalysis.vocabulary(docs, col("doc_id"), col("text"), minCount = 5L)
        .limit(200).count())
    time("exact-dup stats (hash groupBy)")(
      Dedup.exactStats(docs, col("text")).count())
    time("quality metrics (one pass)")(
      TextAnalysis.quality(docs, col("doc_id"), col("text")).count())
    time("minhash signatures")(
      Dedup.minhashSigArrays(docs, col("doc_id"), col("text")).count())
    time("winnow sketch (rolling hash)")(
      TextAnalysis.winnow(docs, col("doc_id"), col("text")).count())
    time("feature extract (payload histogram)")(
      graft.operators.Multimodal.featureExtract(
        graft.operators.Multimodal.withPayload(
          docs, col("doc_id"), col("text"), "image/fake"), dim = 32).count())
    // video frame extraction: synth + multi-frame decode are per-row work
    // (no shuffle at all) — linear by construction, this row watches the
    // per-payload codec cost stay flat as the corpus grows; the synth is
    // the gate query's own definition, so this measures that workload
    val synthGif = udf(graft.queries.PipelineQueries.videoSynthGif)
    time("video frame extract (gif decode)")(
      graft.operators.Multimodal.frameExtract(
        graft.operators.Multimodal.withPayload(
          docs.select(col("doc_id")), col("doc_id"), synthGif(col("doc_id")),
          "video/gif"), stride = 2).count())
    time("unigram LM score (fit + score)")(
      TextAnalysis.lmScore(docs, col("doc_id"), col("text")).count())
    time("dsir weights (target = src0)")(
      TextAnalysis.dsirWeights(docs, col("doc_id"), col("text"),
        col("source") === "src0").count())
    time("line dedup (maxDf 1)")(
      Dedup.lineDedup(docs, col("doc_id"), col("text")).count())
    time("pii scan + redact")(
      TextAnalysis.piiScan(docs, col("doc_id"), col("text")).count())
    time("bigram LM score (2 fits + joins)")(
      TextAnalysis.bigramLmScore(docs, col("doc_id"), col("text")).count())
    time("substring dup stats (window hash)")(
      Dedup.substringDupStats(docs, col("doc_id"), col("text"), n = 20).count())
    // the corpus pays ONE word-count pass; the merge loop then runs over
    // the (factor-INDEPENDENT) distinct-word dict driver-side — this
    // timing should grow with the corpus pass only
    time("bpe learnMerges 16 (corpus pass + driver loop)")(
      graft.operators.Bpe.learnMerges(docs, col("text"), numMerges = 16).length)
    // per-row explode, no shuffle — linear by construction
    time("rag chunking (64/48 windows)")(
      graft.operators.Chunking.chunk(docs, col("doc_id"), col("text"),
        size = 64, stride = 48).count())
    // build = one 20-byte-per-row shuffle into 64 shard buffers; probe =
    // bucket cogroup — both sides linear, filter memory constant
    time("bloom build + self-probe (sharded)")(
      graft.operators.BloomDedup.noveltyAgainst(docs, col("text"),
        docs, col("doc_id"), col("text"),
        expectedItems = math.max(1L, n * 2), fpp = 0.001, buckets = 64).count())
    // the output stays ≤ k × |sources| however big the corpus gets — the
    // timing watches the map-side-partial scan, the ONLY part that grows
    time("top-k per source (bounded agg)")(
      graft.operators.Curation.topKPerGroup(docs, col("source"), col("doc_id"),
        col("n_chars").cast("double"), k = 10).count())
    // digest-only outer join: 16 bytes per row shuffled, linear
    time("snapshot diff (digest join)")(
      graft.operators.Audit.diff(docs,
        docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text")).count())
    // sentence segmentation + greedy packing: per-row regex + bounded fold
    time("sentence chunking (budget 64)")(
      graft.operators.Chunking.chunkBySentences(docs, col("doc_id"), col("text"), 64).count())
    // KN fit+score: three count tables off one explode, equi-join scoring
    time("kneser-ney lm (fit + score)")(
      graft.operators.TextAnalysis.knLmScore(docs, col("doc_id"), col("text")).count())
    // per-stratum presence counts + anti-join reconstruction
    time("boilerplate removal (per source)")(
      graft.operators.Dedup.boilerplate(docs, col("doc_id"), col("text"),
        col("source"), minDocs = 10L, frac = 0.5).count())
    // pHash: per-row decode+DCT, no shuffle until the banded pair join
    locally {
      val synth = udf((id: Long) =>
        graft.queries.PipelineQueries.phashSynthPng((id / 4).toInt % 500, (id % 4).toInt))
      val imgs = graft.operators.Multimodal.withPayload(
        s.range(2000L * factor / 10).toDF("doc_id"), col("doc_id"),
        synth(col("doc_id")), "image/png")
      time("phash + banded pairs (images)")(
        graft.operators.Phash.phashPairs(
          graft.operators.Phash.phash(imgs), maxHamming = 3).count())
    }

    // JL projection over factor-replicated embeddings: per-row
    // multiply-add inside codegen, no shuffle — linear by construction
    val emb0 = graft.Tables.embeddings(s, sfDir)
    val vStep = emb0.agg(max("vec_id")).head().getLong(0) + 1
    val emb = emb0.crossJoin(s.range(factor).select(col("id").as("_rep")))
      .withColumn("vec_id", col("vec_id") + col("_rep") * vStep)
      .drop("_rep")
    time("jl projection 64->16 (per-row)")(
      graft.operators.Embeddings.jlProject(emb, col("vec_id"), col("embedding"),
        dIn = 64, dOut = 16).count())

    // as-of join over a factor-replicated events stream (disjoint users
    // per replica): one shuffle on the key, per-key ordered scan — linear
    val ev0 = graft.Tables.events(s, sfDir)
    val uStep = ev0.agg(max("user_id")).head().getLong(0) + 1
    val eStep = ev0.agg(max("event_id")).head().getLong(0) + 1
    val ev = ev0.crossJoin(s.range(factor).select(col("id").as("_rep")))
      .withColumn("user_id", col("user_id") + col("_rep") * uStep)
      .withColumn("event_id", col("event_id") + col("_rep") * eStep)
      // shift each replica into its own 40-day lane (base span ≈ 30 days):
      // time-window operators then see constant DENSITY as the corpus
      // grows — the keyless range join's pair count is exactly f× linear,
      // where same-lane replication would grow it f² by densifying time
      .withColumn("ts", expr("timestampadd(DAY, CAST(_rep * 40 AS INT), ts)"))
      .drop("_rep").persist()
    ev.count()
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(col("event_id")).as("click_id"),
        expr("max_by(value, event_id)").as("click_value"))
    time("asof join (per-key window)")(
      graft.operators.Temporal.asofJoin(views, clicks, "user_id", "ts",
        "click_id", Seq("click_id", "click_value")).count())
    // keyless BETWEEN pairing via the bucketized equi-join — per-bucket
    // load is time-density × width, constant under lane-shifted replicas
    val tus = expr(
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    val rjClicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), tus.as("v"))
    val rjPurch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), (tus - 600000000L).as("lo"), tus.as("hi"))
    time("range join (bucketized, 10 min)")(
      graft.operators.RangeJoin.pointInInterval(
        rjClicks, col("event_id"), col("v"),
        rjPurch, col("event_id"), col("lo"), col("hi"),
        bucketWidth = 600000000L).count())
    // z codes: one bounded min/max agg + a per-row interleave — linear
    time("z-order codes (user_id, value)")(
      graft.operators.Layout.zorder(
        ev.select(col("event_id"), col("user_id"), col("value")),
        Seq(col("user_id"), col("value")), bits = 12).count())
    ev.unpersist()
    // the scorers persist their shared fit frames internally; drop them
    // before the curation stages so the timings don't compete for cache
    s.catalog.clearCache()
    // clearCache dropped the replicated corpus too — re-pin it for the
    // stages below (lazy persist: the next count re-materializes)
    docs.persist()

    // curation shape: exact dedup FIRST (collapses the replicas), then the
    // pairing stages run over the canonical set — linear in the factor up
    // to here, constant after
    val canon = docs.join(
      docs.groupBy(md5(col("text")).as("_k")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"),
      Seq("doc_id"), "left_semi").persist()
    time("exact dedup -> canonical set")(canon.count())
    // count INSIDE the timed block — plan construction and persist() are
    // lazy; the join/verify work only runs at the action
    val pairs = Dedup.ngramJaccardPairs(canon, col("doc_id"), col("text"),
      n = 3, threshold = 0.5).persist()
    val nPairs = time("ngram-jaccard pairs on canon")(pairs.count())
    println(s"[scale] near-dup pairs: $nPairs")
    // driverLimit = 0: measure the DISTRIBUTED star rounds — the smoke
    // exists to time the path that runs when edges outgrow the driver
    time("connected components (distributed)")(
      Dedup.connectedComponents(pairs, col("id_a"), col("id_b"), driverLimit = 0).count())

    docs.unpersist(); canon.unpersist(); pairs.unpersist()

    // ---- dedup-family growth exponents --------------------------------
    // Disjoint-shingle replication: the corpus grows f×, the TRUE pair
    // count grows exactly f×, so a PPJoin whose candidates track near-dups
    // (not co-occurrences) measures exponent ≈ 1.0 — a naive
    // inverted-index join would trend toward 2.0. CC star rounds should
    // stay FLAT (component diameters don't grow with replication), inside
    // the O(log² n) bound.
    println("[scale] dedup family at disjoint-replica factors 1/4/8:")
    val factors = Seq(1, 4, 8)
    val measured = factors.map { f =>
      val corpus = replicateDocsDisjoint(base, f, idStep).persist()
      corpus.count()
      val (bse, cand) = graft.operators.Dedup.ngramJaccardStages(
        corpus, col("doc_id"), col("text"), n = 3, threshold = 0.5,
        maxShingleDf = None)
      val nCand = time(s"  f=$f ppjoin candidates")(cand.count())
      // verify from the SAME stages — re-deriving them (as ngramJaccardPairs
      // would) re-runs candidate generation and contaminates this timing
      val prs = graft.operators.Dedup.ngramJaccardVerify(bse, cand, threshold = 0.5)
        .persist()
      val nPrs = time(s"  f=$f verified pairs")(prs.count())
      var rounds = -1
      time(s"  f=$f cc (distributed)")(
        graft.operators.Dedup.connectedComponents(prs, col("id_a"), col("id_b"),
          driverLimit = 0, onRounds = rounds = _).count())
      corpus.unpersist(); prs.unpersist()
      org.apache.spark.sql.graft.Bridge.release(bse)
      println(s"[scale]   f=$f: candidates=$nCand pairs=$nPrs ccRounds=$rounds")
      (f, nCand, nPrs, rounds)
    }
    def exponent(a: (Int, Long), b: (Int, Long)): Double =
      math.log(b._2.toDouble / a._2) / math.log(b._1.toDouble / a._1)
    val (f1, c1, p1, _) = measured.head
    val (f8, c8, p8, _) = measured.last
    if (c1 == 0 || p1 == 0)
      // log(x/0) would print NaN/Infinity as the headline metric — say
      // outright that the base corpus carries no signal at this threshold
      println(s"[scale] growth exponent 1x->8x: NOT MEASURABLE — base corpus has " +
        s"$c1 candidates / $p1 pairs at f=1; use a larger sf or lower threshold")
    else
      println(f"[scale] growth exponent 1x->8x: candidates ${exponent((f1, c1), (f8, c8))}%.2f" +
        f" pairs ${exponent((f1, p1), (f8, p8))}%.2f (1.0 = linear; naive join -> 2.0)")
    println(s"[scale] cc rounds by factor: ${measured.map(m => s"f=${m._1}:${m._4}").mkString(" ")}")

    // ---- recall bands at 10× ------------------------------------------
    // Runtime exponents alone don't guard QUALITY: the approximate-search
    // operating points must hold at a second scale point too. Perturbed
    // replication (deterministic) grows the corpus 10×; the bands are the
    // RECALL.md operating points and ScaleRecallSpec asserts the same
    // rows in the test suite — here they fail the smoke run loudly.
    val recallRows = ScaleRecall.measure(
      s, emb0, factor = 10, queryBaseIds = Seq(0L, 7L, 99L, 250L, 444L))
    recallRows.foreach(r =>
      println(f"[scale] recall@10 ${r.method}%-36s ${r.recall}%.3f (${r.config})"))
    val byMethod = recallRows.map(r => r.method -> r.recall).toMap
    // vamana band: ≥0.95, comfortably above the reference's published
    // 0.92 glove bar — the measured point at THIS corpus ×10 (20k) is
    // 0.980 with the 3-round default build (ScaleRecallSpec asserts the
    // sf0.01×10 point at ≥0.99, where the graph is effectively exact)
    require(byMethod("engine-served Vamana") >= 0.95,
      s"vamana recall band broken at 10×: $byMethod")
    require(byMethod("SQ8 + rescore") >= 0.99,
      s"sq8 recall band broken at 10×: $byMethod")
    require(byMethod("residual IVF-PQ spill=3 + rescore") >= 0.95,
      s"ivfpq recall band broken at 10×: $byMethod")

    s.stop()
  }
}
