package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Distances

/** Deduplication operators for large-scale text/embedding corpora: exact
  * (hash-group), n-gram Jaccard (inverted-index join — no cross product),
  * MinHash signatures + LSH banding, SimHash, and embedding-cosine
  * near-dup pairs.
  *
  * Hashing is md5-based (first 15 hex chars → 60-bit non-negative long) so
  * every stage is reproducible in any engine with md5 — the correctness
  * oracles replay these pipelines verbatim in SQL.
  *
  * Scale notes (100 TB): every pairing step is an equi-join on a derived
  * key (shingle, band hash, block id) — Spark shuffles on that key and
  * never materializes the O(n²) pair space. The one skew hazard is a
  * shingle shared by a large fraction of documents; `maxShingleDf` drops
  * such stop-shingles (trading exactness, off by default so oracles stay
  * closed-form).
  */
object Dedup {

  // ONE definition with the analyzer (functions.TextAnalyzer): both are
  // inlined verbatim into generated DuckDB oracles, so an edit to one
  // copy would silently desynchronize dedup vs analyzed tokenization
  val TokenPattern: String = graft.functions.TextAnalyzer.TokenPattern

  /** Raw lowercase tokens (stopwords kept — dedup wants verbatim shape). */
  def tokens(text: Column): Column =
    filter(split(lower(text), TokenPattern), t => t =!= "")

  /** Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    * array column. Important: passing `tokens(text)` directly here is an
    * O(L²) trap — higher-order functions are interpreted, so every
    * `element_at(toks, i)` reference would re-run the tokenize pipeline
    * per element. Tokenize into a column first (behind a persist or at
    * least a separate projection) and shingle from the reference.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(gramsFromTokens(toks, n))

  /** Contiguous word n-grams WITH multiplicity (the distinct-free builder
    * [[shinglesFromTokens]] wraps; repetition measurement needs the
    * duplicates). Same O(L²) trap as above: `toks` must be a materialized
    * column, never `tokens(text)` inline.
    */
  def gramsFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Tokenized view of (id, tokens), persisted — the shared first stage of
    * every shingle-based operator.
    */
  private def tokenized(df: DataFrame, id: Column, text: Column): DataFrame =
    // no persist: since the shingler became a single UDF call, every
    // consumer reads this exactly once (the multi-consumer frames —
    // `base`, `sigs` — carry their own persists)
    df.select(id.as("_pid"), tokens(text).as("_toks"))

  /** Primitive-loop shingler — same distinct word n-grams as
    * [[shinglesFromTokens]] but SORTED rather than first-occurrence order
    * (no consumer is order-sensitive), without the interpreted per-element
    * HOF walk. Shingle VALUES are identical, so the SQL oracles replay
    * unchanged.
    */
  private def shingleUdf(n: Int) = udf { (toks: Seq[String]) =>
    // null-text rows reach here as a null array (split/filter propagate
    // null); the Column formulation returned empty — match it
    if (toks == null || toks.length < n) Array.empty[String]
    else {
      val out = new Array[String](toks.length - n + 1)
      var i = 0
      while (i < out.length) {
        val sb = new StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        out(i) = sb.toString
        i += 1
      }
      // SORTED distinct: no consumer is order-sensitive (postings explode,
      // minhash takes a min, oracles intersect), and sorted arrays let the
      // jaccard verifier merge-count in O(|A|+|B|) without re-sorting
      val d = out.distinct
      java.util.Arrays.sort(d.asInstanceOf[Array[Object]])
      d
    }
  }

  private def shingled(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    tokenized(df, id, text)
      .select(col("_pid"), shingleUdf(n)(col("_toks")).as("_sh"))
      .filter(size(col("_sh")) > 0)

  /** 60-bit non-negative hash of a string column (md5 prefix). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Exact-duplicate summary: total rows, distinct texts, duplicate groups. */
  def exactStats(df: DataFrame, text: Column): DataFrame =
    df.select(md5(text).as("_k"))
      .groupBy("_k").agg(count(lit(1)).as("_n"))
      .agg(
        sum(col("_n")).as("n_total"),
        // count(col) skips the null-text group, matching SQL
        // count(DISTINCT md5(text)) which ignores NULL keys
        count(col("_k")).as("n_distinct"),
        sum(when(col("_n") > 1, 1L).otherwise(0L)).as("n_dup_groups"))

  /** Cross-corpus line-level deduplication (the Dolma/C4 paragraph-dedup
    * family, made deterministic): drop every non-blank line whose TOTAL
    * occurrence count across the corpus exceeds `maxDf` — recurring
    * boilerplate (nav bars, license headers, cookie banners) vanishes
    * from every document at once — and reassemble each document from its
    * surviving lines in original order. Unlike Dolma's first-seen bloom
    * filter, the decision is a pure function of the corpus (no scan-order
    * dependence), so the result is reproducible and oracle-replayable.
    *
    * Output: (id, n_lines, n_kept, kept_text), kept_text NULL when every
    * line was dropped (n_lines counts non-blank lines only).
    *
    * Scale: line counts are a groupBy on the line (map-side partial agg
    * absorbs hot boilerplate); the drop set — only lines with df > maxDf,
    * a tiny fraction of any real corpus — feeds a LEFT ANTI equi-join
    * (broadcastable when small, AQE-skew-splittable when not), so the
    * full per-line df is never shuffled back onto the postings. Document
    * reassembly groups by id, bounded by one document's lines.
    */
  def lineDedup(df: DataFrame, id: Column, text: Column,
      maxDf: Long = 1L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")
    val base = df.filter(text.isNotNull)
      .select(id.as("id"),
        filter(split(text, "\n"), l => trim(l) =!= "").as("_ls"))
      // two consumers (exploded lines + per-doc totals) — eager
      // localCheckpoint, not persist(): no unreleased CacheManager entry
      .localCheckpoint()
    val lines = base.select(col("id"), posexplode(col("_ls")).as(Seq("_p", "line")))
    val hot = lines.groupBy("line").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select("line")
    val agg = lines.join(hot, Seq("line"), "left_anti")
      .groupBy("id").agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_p"), col("line")))),
            s => s.getField("line")),
          "\n").as("kept_text"))
    base.select(col("id"), size(col("_ls")).cast("long").as("n_lines"))
      .join(agg, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_text"))
  }

  /** Per-stratum BOILERPLATE removal — the per-domain complement of
    * [[lineDedup]]'s global duplicate cut (RefinedWeb §3.2 practice:
    * navigation, cookie banners, footers repeat across a DOMAIN's pages,
    * not the whole web). A line counts once per document (presence, not
    * occurrences) and is boilerplate in its stratum when it appears in
    * more than `frac` of the stratum's documents AND at least `minDocs`
    * of them (small strata can't convict a line). Removal preserves the
    * original line order of what survives.
    *
    * Scale: presence rows shuffle on (stratum, line) with map-side
    * combine; the hot set is a bounded anti-join side; reconstruction is
    * an id-bounded sort, no window.
    */
  def boilerplate(df: DataFrame, id: Column, text: Column, stratum: Column,
      minDocs: Long = 10L, frac: Double = 0.5): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1 (got $minDocs)")
    require(frac > 0.0 && frac < 1.0, s"frac must be in (0,1) (got $frac)")
    val base = df.filter(text.isNotNull && stratum.isNotNull)
      .select(id.as("id"), stratum.cast("string").as("_src"),
        filter(split(text, "\n"), l => trim(l) =!= "").as("_ls"))
      .localCheckpoint() // three consumers (lines, presence, totals)
    val lines = base.select(col("id"), col("_src"),
      posexplode(col("_ls")).as(Seq("_p", "line")))
    val docsPer = base.groupBy("_src").agg(count(lit(1)).as("_docs"))
    val presence = base.select(col("id"), col("_src"),
        explode(array_distinct(col("_ls"))).as("line"))
      .groupBy("_src", "line").agg(count(lit(1)).as("_ldf"))
    val hot = presence.join(docsPer, Seq("_src"))
      .filter(col("_ldf") >= minDocs && col("_ldf") > lit(frac) * col("_docs"))
      .select("_src", "line")
    val agg = lines.join(hot, Seq("_src", "line"), "left_anti")
      .groupBy("id").agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_p"), col("line")))),
            s => s.getField("line")),
          "\n").as("kept_text"))
    base.select(col("id"), col("_src").as("stratum"),
        size(col("_ls")).cast("long").as("n_lines"))
      .join(agg, Seq("id"), "left")
      .select(col("id"), col("stratum"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_text"))
  }

  /** Exact n-gram Jaccard similar pairs via PPJoin-style prefix filtering
    * (Xiao et al.): order each document's shingles by global document
    * frequency (rarest first), keep only the prefix of length
    * |A| − ⌈τ·|A|⌉ + 1 — any pair with jaccard ≥ τ must collide inside
    * both prefixes — join on prefix shingles, then verify candidates
    * exactly with an array intersection. Same results as the naive
    * inverted-index join, but the join fan-out is driven by RARE shingles
    * only (frequent shingles never pair), which is what survives a 1000×
    * corpus: candidates ≈ near-dups, not all co-occurrences.
    *
    * `maxShingleDf` additionally drops stop-shingles from candidate
    * generation (approximate; off by default).
    */
  def ngramJaccardPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // materialize the shingle arrays once: base feeds three consumers
    // (postings, and both verification sides). Eager checkpoint, not
    // persist() — a CacheManager entry would outlive the call with no
    // release handle, while checkpoint blocks are GC-reclaimed once the
    // returned frame is unreferenced
    val base = shingled(df, id, text, n)
      .withColumn("_cnt", size(col("_sh")))
      .localCheckpoint()
    val prefix = prefixStage(base, threshold, maxShingleDf)
    // the same DECIMAL threshold the prefix bound used (prefixStage) — the
    // candidate filters below must replay it exactly
    val tauD = lit(threshold).cast("decimal(12,6)")
    // PPJoin candidate filters (both provably lossless, so the result stays
    // exact — decimal arithmetic again to dodge fp boundary drift):
    //  - length: J ≥ τ forces τ·max(|A|,|B|) ≤ min(|A|,|B|)
    //  - positional: a collision at prefix positions (ra, rb) caps the
    //    achievable overlap at 1 + min(|A|−ra, |B|−rb), which must still
    //    reach the minimum overlap τ/(1+τ)·(|A|+|B|); comparing
    //    (1+min)·(1+τ) ≥ τ·(|A|+|B|) keeps it integer×decimal-exact.
    // Together they cut the candidate pairs ~20× on the sf0.1 corpus —
    // and candidates, not postings, drive the verify stage's cost.
    val pa = prefix.select(col("_pid").as("id_a"), col("_s"),
      col("_rank").as("_ra"), col("_cnt").as("_ca"))
    val pb = prefix.select(col("_pid").as("id_b"), col("_s"),
      col("_rank").as("_rb"), col("_cnt").as("_cb"))
    val cand = pa.join(pb, Seq("_s"))
      .filter(col("id_a") < col("id_b"))
      .filter(tauD * greatest(col("_ca"), col("_cb")) <= least(col("_ca"), col("_cb")))
      .filter((lit(1) + least(col("_ca") - col("_ra"), col("_cb") - col("_rb"))) *
        (lit(1) + tauD) >= tauD * (col("_ca") + col("_cb")))
      .select("id_a", "id_b")
      .distinct()
    // exact verification: array_intersect (not a UDF) on purpose — it
    // consumes the array data as raw UTF8Strings inside codegen, where a
    // Scala UDF would first materialize 2×|A| java Strings per candidate
    // pair (measured 2× slower than the intersect)
    val setsA = base.select(col("_pid").as("id_a"), col("_sh").as("_sha"), col("_cnt").as("ca"))
    val setsB = base.select(col("_pid").as("id_b"), col("_sh").as("_shb"), col("_cnt").as("cb"))
    // HASH, not sort-merge, joins: after the first join every candidate
    // row carries a full shingle array (~KB-wide), and SMJ would SORT
    // that stream — measured at a 100× corpus (500k docs, ~5M
    // candidates) the id_b-side sort spilled the entire 78 GB disk. The
    // build side is the per-doc shingle table (corpus-linear, hashed per
    // partition — bounded by partition count, AQE-splittable), so the
    // wide candidate stream just probes and never sorts.
    cand.join(setsA.hint("shuffle_hash"), "id_a")
      .join(setsB.hint("shuffle_hash"), "id_b")
      .withColumn("common", size(array_intersect(col("_sha"), col("_shb"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("ca") + col("cb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** PPJoin prefix postings (`_pid`, `_s`, `_rank`, `_cnt`) from a
    * shingled `base` (`_pid`, `_sh`, `_cnt`) — THE prefix derivation.
    */
  private def prefixStage(
      base: DataFrame, threshold: Double,
      maxShingleDf: Option[Int]): DataFrame = {
    val posts = base.select(col("_pid"), col("_cnt"), explode(col("_sh")).as("_s"))
    // global document frequency per shingle as groupBy + join-back, NOT a
    // count-over-window: WindowExec has no map-side partial aggregation, so
    // a stop-shingle appearing in 30% of a 100 TB corpus would funnel every
    // one of its postings into ONE task — a wall, not a slowdown. The
    // groupBy absorbs hot keys map-side (partial_count per partition), and
    // the join back is AQE-skew-splittable where a window never is.
    val dfTable = posts.groupBy("_s").agg(count(lit(1)).as("_df"))
    // the cap prunes the df TABLE before the join, so stop-shingle postings
    // are dropped by the inner join — before the per-doc ranking window ever
    // sees them
    val dfKept = maxShingleDf match {
      case None => dfTable
      case Some(cap) => dfTable.filter(col("_df") <= cap)
    }
    val withDf = posts.join(dfKept, "_s")
    // rank shingles per doc by (global df asc, shingle asc); keep the prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(col("_df").asc, col("_s").asc)
    val tauD = lit(threshold).cast("decimal(12,6)")
    withDf
      .withColumn("_rank", row_number().over(w))
      // exact prefix bound: the threshold multiplies as DECIMAL, not
      // DOUBLE — an fp product one ulp above the true integer would
      // shorten the prefix and silently drop qualifying pairs
      .filter(col("_rank") <= col("_cnt") - ceil(tauD * col("_cnt")) + 1)
      .select("_pid", "_s", "_rank", "_cnt")
  }

  /** MinHash base hashes: two independent 30-bit hashes per shingle
    * (md5 salt "#1"/"#2"); permutation j is the affine combination
    * (h1 + j·h2) mod (2^31−1) — the standard 2-universal construction, so
    * the whole P-permutation signature costs 2 md5s per shingle and stays
    * narrow (no explode, no shuffle).
    */
  val MinhashMod = 2147483647L // 2^31 − 1
  private val H30 = 1073741824L // 2^30

  /** md5-prefix 60-bit hash computed JVM-side — bit-identical to
    * [[hash60]]'s Column algebra (`conv(substring(md5(s),1,15),16,10)`):
    * the first 15 hex chars are bytes 0–6 plus the high nibble of byte 7.
    */
  private[operators] def hash60Local(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Primitive-loop MinHash signature: 2 MD5s per shingle + P affine
    * combinations inside ONE UDF call per document. The round-1 HOF
    * formulation (`transform(sequence…, array_min(zip_with(…)))`) was
    * interpreted per (perm, element) step and dominated the dedup bench;
    * values here are bit-identical, so the SQL oracles replay unchanged.
    */
  private def minhashSigUdf(perms: Int) = udf { (shingles: Seq[String]) =>
    val out = Array.fill(perms)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    shingles.foreach { s =>
      val h1 = hash60Local(md, s + "#1") % H30
      val h2 = hash60Local(md, s + "#2") % H30
      var j = 0
      while (j < perms) {
        val v = (h1 + j * h2) % MinhashMod
        if (v < out(j)) out(j) = v
        j += 1
      }
    }
    out
  }

  /** Per-document signature array: sig[j] = min over shingles. */
  def minhashSigArrays(
      df: DataFrame, id: Column, text: Column,
      n: Int = 3, perms: Int = 16): DataFrame =
    shingled(df, id, text, n)
      .select(col("_pid").as("id"), minhashSigUdf(perms)(col("_sh")).as("sig"))

  /** Exploded (id, perm, minhash) view of the signatures. */
  def minhashSignatures(
      df: DataFrame, id: Column, text: Column,
      n: Int = 3, perms: Int = 16): DataFrame =
    minhashSigArrays(df, id, text, n, perms)
      .select(col("id"), posexplode(col("sig")))
      .select(col("id"), col("pos").as("perm"), col("col").as("minhash"))

  /** LSH candidate pairs from banded signature arrays, verified by
    * signature agreement: band key = md5 of the band's slice; pairs
    * sharing any band are estimated as (equal perms)/perms and kept at
    * ≥ threshold. Joins are equi-joins on (band, bandkey) — the only
    * rows that pair are actual collisions.
    */
  def minhashLshPairs(
      sigs: DataFrame, perms: Int = 16, bandRows: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // a non-dividing bandRows silently leaves the tail permutations out
    // of candidate generation (recall below the documented banding
    // guarantee); bandRows > perms would generate a NEGATIVE band via
    // sequence's descending default and key garbage slices
    require(bandRows > 0 && perms % bandRows == 0,
      s"bandRows ($bandRows) must divide perms ($perms)")
    val nBands = perms / bandRows
    // eager checkpoint, not persist(): three consumers read it (banding +
    // both verify sides), but CacheManager entries outlive the call —
    // checkpoint blocks are GC-reclaimed once the result is unreferenced
    val sigsM = sigs.localCheckpoint()
    val banded = sigsM
      .select(col("id"), explode(sequence(lit(0), lit(nBands - 1))).as("band"),
        col("sig"))
      .withColumn("bandkey",
        md5(concat_ws(",",
          transform(slice(col("sig"), col("band") * bandRows + 1, lit(bandRows)),
            _.cast("string")))))
      .select("id", "band", "bandkey")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandkey") === col("b.bandkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sa = sigsM.select(col("id").as("id_a"), col("sig").as("_siga"))
    val sb = sigsM.select(col("id").as("id_b"), col("sig").as("_sigb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("_siga"), col("_sigb"),
          (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / perms)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** 60-bit SimHash per document: bit j of the fingerprint is set when
    * Σ_terms freq · (±1 by bit j of hash60(term)) > 0.
    */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val posts = df.select(id.as("_pid"), explode(tokens(text)).as("_t"))
      .groupBy("_pid", "_t").agg(count(lit(1)).as("_freq"))
      .withColumn("_h", hash60(col("_t")))
    posts
      .select(col("_pid"), col("_freq"), col("_h"),
        explode(sequence(lit(0), lit(59))).as("j"))
      .withColumn("_sign",
        when(expr("((_h >> j) & 1) = 1"), col("_freq")).otherwise(-col("_freq")))
      .groupBy("_pid", "j")
      .agg(sum(col("_sign")).as("_s"))
      .groupBy("_pid")
      .agg(sum(when(col("_s") > 0,
        expr("CAST(power(2, j) AS BIGINT)")).otherwise(0L)).as("simhash"))
      .select(col("_pid").as("id"), col("simhash"))
  }

  /** Embedding near-duplicate pairs: true-cosine similarity ≥ threshold,
    * restricted to a blocking column (label, IVF bucket, LSH band — at
    * scale the block IS the shuffle key; never an unblocked cross join).
    */
  def embeddingCosinePairs(
      df: DataFrame, id: Column, vec: Column, block: Column,
      threshold: Double): DataFrame = {
    // precompute each vector's norm once (narrow pass), then the pair loop
    // is a single codegen'd dot product per candidate
    val base = df.select(id.as("_pid"), vec.as("_v"), block.as("_blk"))
      .withColumn("_norm", sqrt(aggregate(
        transform(col("_v"), x => x.cast("double") * x.cast("double")),
        lit(0.0d), (acc, x) => acc + x)))
    val a = base.select(col("_pid").as("id_a"), col("_v").as("va"),
      col("_norm").as("na"), col("_blk"))
    val b = base.select(col("_pid").as("id_b"), col("_v").as("vb"),
      col("_norm").as("nb"), col("_blk"))
    a.join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        -Distances.distance(graft.model.IndexKind.Metric.Dot, col("va"), col("vb")) /
          (col("na") * col("nb")))
      .filter(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("_blk").as("block"), col("cosine_sim"))
  }

  /** Connected components over an undirected edge list — duplicate PAIRS
    * become duplicate CLUSTERS, the step that turns any of the pair
    * operators above into an actual dedup policy ("keep the min-id doc of
    * each cluster"). Alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each round
    * is two groupBy-join passes over the edge set, converges in O(log² n)
    * rounds, and never asks any single machine to hold a whole component —
    * the 100 TB-safe alternative to both driver-side union-find and
    * diameter-bound label propagation.
    *
    * Returns `(node, component)` for every node incident to an edge, with
    * `component` = the minimum node id in its component (any orderable id
    * type). Isolated nodes never appear — callers union them back as their
    * own singletons if needed.
    */
  def connectedComponents(
      edges: DataFrame, src: Column, dst: Column, maxIter: Int = 30,
      driverLimit: Int = 1 << 20,
      onRounds: Int => Unit = _ => ()): DataFrame = {
    val e0 = edges.select(src.as("_u"), dst.as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull && col("_u") =!= col("_v"))
      .distinct()
    // Small edge sets (the usual case: VERIFIED near-dup pairs are tiny
    // relative to the corpus) collapse with a driver union-find — one
    // collect instead of O(log² n) distributed rounds of job scheduling,
    // the same size-adaptive pattern as the store's live-id mirror. The
    // star rounds below remain the path for edge sets past `driverLimit`
    // (pass 0 to force them). Labels are identical: min id per component
    // under the column's BINARY order (long asc / UTF-8 code points).
    // Both columns must share one type — a mixed int/long edge list would
    // split components on boxed equality, so it takes the distributed
    // path (whose union coerces).
    val dt = e0.schema.head.dataType
    val driverable = dt == e0.schema(1).dataType && (dt match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    // checkpoint ONCE up front: the size probe and (on fallthrough) the
    // star rounds both read it — without this the probe would execute the
    // whole upstream pipeline and the rounds would re-execute it again
    val e0ck = e0.localCheckpoint()
    if (driverLimit > 0 && driverable) {
      // count-guard before collecting: a too-big edge set costs one cheap
      // count on the checkpointed frame, not a driver-OOM materialization
      if (e0ck.limit(driverLimit + 1).count() <= driverLimit) {
        val rows = e0ck.collect()
        val out = driverComponents(e0ck.sparkSession, rows, dt)
        org.apache.spark.sql.graft.Bridge.release(e0ck)
        onRounds(0) // driver union-find: no distributed rounds ran
        return out
      }
    }
    def sym(df: DataFrame): DataFrame =
      df.unionByName(df.select(col("_v").as("_u"), col("_u").as("_v")))
    // one star pass over m = min(Γ(u)∪{u}): large-star re-points each
    // STRICTLY LARGER neighbor at m; small-star re-points each strictly
    // smaller neighbor AND u ITSELF at m (dropping the (u,m) self-edges
    // loses connectivity — a pure star {(2,1),(3,1)} would empty out)
    def star(df: DataFrame, large: Boolean): DataFrame = {
      val s = sym(df)
      val mins = s.groupBy(col("_u").as("_w")).agg(min(col("_v")).as("_nmin"))
        .withColumn("_m", least(col("_nmin"), col("_w")))
        .select("_w", "_m")
      val repointed = s.join(mins, col("_u") === col("_w"))
        .filter(if (large) col("_v") > col("_u") else col("_v") < col("_u"))
        .select(col("_v").as("_u"), col("_m").as("_v"))
      val out =
        if (large) repointed
        else repointed.unionByName(mins.select(col("_w").as("_u"), col("_m").as("_v")))
      out.filter(col("_u") =!= col("_v")).distinct()
    }
    // each round MUST truncate lineage (eager localCheckpoint): sym() and
    // the star joins multiply the logical plan every iteration, so a
    // persist-only loop OOMs the driver on plan growth alone
    var e = e0ck
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = star(star(e, large = true), large = false).localCheckpoint()
      // exact fixpoint test (two anti-joins); the paper guarantees
      // convergence, so the cost is O(log² n) such checks
      converged = next.exceptAll(e).unionByName(e.exceptAll(next)).isEmpty
      org.apache.spark.sql.graft.Bridge.release(e) // comparison already ran
      e = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents did not converge in $maxIter rounds")
    onRounds(it) // scale diagnostic: the star-round count (O(log² n) bound)
    // star state: every edge is (node, root); roots map to themselves
    val out = e.select(col("_u").as("node"), col("_v").as("component"))
      .unionByName(e.select(col("_v").as("node"), col("_v").as("component")))
      .groupBy("node").agg(min("component").as("component"))
      .localCheckpoint()
    org.apache.spark.sql.graft.Bridge.release(e)
    out
  }

  /** Driver union-find over a collected edge list (path compression +
    * union by size), labels = min member per component under the natural
    * order of `dt` — bit-identical to the distributed star rounds.
    */
  private def driverComponents(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.HashMap[Any, Any]()
    val size = mutable.HashMap[Any, Int]()
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def add(x: Any): Unit = if (!parent.contains(x)) { parent(x) = x; size(x) = 1 }
    rows.foreach { r =>
      val (u, v) = (r.get(0), r.get(1))
      add(u); add(v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        val (big, small) = if (size(ru) >= size(rv)) (ru, rv) else (rv, ru)
        parent(small) = big
        size(big) += size(small)
      }
    }
    // string order compares CODE POINTS (== UTF-8 byte order, what the
    // distributed path's min() over UTF8String uses) — String.compareTo
    // sorts UTF-16 surrogates below U+E000..U+FFFF and would label
    // non-BMP ids differently on the two paths
    def codePointLt(x: String, y: String): Boolean = {
      var i = 0; var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i); val cy = y.codePointAt(j)
        if (cx != cy) return cx < cy
        i += Character.charCount(cx); j += Character.charCount(cy)
      }
      x.length - i < y.length - j
    }
    val lt: (Any, Any) => Boolean = dt match {
      case org.apache.spark.sql.types.StringType =>
        (a, b) => codePointLt(a.asInstanceOf[String], b.asInstanceOf[String])
      case _ => (a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    }
    val minOf = mutable.HashMap[Any, Any]()
    parent.keys.foreach { n =>
      val r = find(n)
      minOf.get(r) match {
        case Some(m) => if (lt(n, m)) minOf(r) = n
        case None => minOf(r) = n
      }
    }
    val outRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(parent.keys.toSeq.map(n =>
        org.apache.spark.sql.Row(n, minOf(find(n)))): _*)
    spark.createDataFrame(outRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", dt),
        org.apache.spark.sql.types.StructField("component", dt))))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): drop documents whose
    * EMBEDDING nearly duplicates another document's, even when the text
    * differs — the semantic complement of the lexical operators above.
    *
    * Shape follows the paper: cluster the embedding space (`cell` — any
    * deterministic assignment: [[Similarity.signBucket]], a learned
    * k-means cell, a label), compare pairs ONLY within a cell
    * ([[embeddingCosinePairs]] — the cell is the shuffle key, never a
    * cross join), and keep one representative per duplicate
    * neighborhood.
    *
    * Keep policy — "dominated by any earlier id": doc b is dropped iff
    * some doc a < b in the same cell has cosine ≥ `tau`. One self-join +
    * one aggregation, no sequential scan — unlike the paper's in-order
    * greedy (which compares each doc only against previously KEPT docs),
    * every comparison here is independent, so the policy parallelizes
    * and stays a pure function of the corpus. On chains (a~b, b~c,
    * a≁c) it drops at most as many extra docs as the chain length;
    * FineWeb-family pipelines accept either convention.
    *
    * Returns every input doc: (id, cell, kept, drop_sim) with `drop_sim`
    * the max dominating similarity (null when kept) — callers filter
    * `kept` for the surviving corpus, or audit `drop_sim` against `tau`.
    */
  def semDedup(
      df: DataFrame, id: Column, vec: Column, cell: Column,
      tau: Double): DataFrame = {
    val base = df.select(id.as("id"), vec.as("_v"), cell.as("cell"))
    val dominated = embeddingCosinePairs(
        base, col("id"), col("_v"), col("cell"), tau)
      .groupBy(col("id_b").as("id"))
      .agg(max(col("cosine_sim")).as("drop_sim"))
    base.join(dominated, Seq("id"), "left")
      .select(col("id"), col("cell"),
        col("drop_sim").isNull.as("kept"), col("drop_sim"))
  }

  /** Exact substring-duplication statistics — the ExactSubstr family of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed for Spark. The paper asks "which spans of ≥N
    * tokens appear more than once anywhere in the corpus?" and answers it
    * with a single-machine suffix array; the distributed equivalent needs
    * no suffix structure at all: every length-`n` token window is keyed
    * by hash, a corpus-wide groupBy finds the hashes occurring more than
    * once (across documents or repeated inside one), and a token is
    * COVERED when any duplicated window contains it.
    *
    * Per document: `n_toks`, `n_windows` (= max(n_toks-n+1, 0)),
    * `n_dup_windows`, `covered_toks` (size of the union of the duplicated
    * windows' [start, start+n-1] intervals — an interval-union over the
    * doc's sorted duplicated starts, never a per-token explode), and
    * `dup_frac_r` = covered/n_toks rounded (null when the doc has no
    * tokens). Callers drop or trim docs above a coverage threshold.
    *
    * Scale: the postings frame is one row per window (O(total tokens),
    * the same footprint as every shingle operator here); window TEXT
    * exists only inside the explode projection — what shuffles is the
    * 60-bit hash. The duplicated-hash set is the output of a map-side-
    * combined groupBy and is tiny for any real corpus (duplication is
    * the exception), so the join back onto postings is AQE-broadcastable;
    * per-doc interval math is bounded by one document's length.
    */
  def substringDupStats(
      df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    require(n >= 2, s"window must span at least 2 tokens, got $n")
    // one corpus tokenize, shared by the totals and the postings
    val toks = df.select(id.as("id"), tokens(text).as("_toks"))
      .select(col("id"),
        coalesce(size(col("_toks")), lit(0)).cast("long").as("n_toks"),
        col("_toks"))
      .localCheckpoint()
    val base = toks.select(col("id"), col("n_toks"),
      greatest(col("n_toks") - (n - 1), lit(0)).cast("long").as("n_windows"))
    // (id, pos, window-hash): 1-based start positions; the window string
    // is hashed in the same projection it is born in, so it never moves
    val posts = toks
      .filter(col("n_toks") >= n)
      .select(col("id"),
        posexplode(gramsFromTokens(col("_toks"), n)).as(Seq("_p0", "_g")))
      .select(col("id"), (col("_p0") + 1).cast("long").as("pos"),
        hash60(col("_g")).as("_wh"))
    val dupW = posts.groupBy("_wh").agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select("_wh")
    val nL = lit(n.toLong)
    val starts = sort_array(collect_list(col("pos")))
    val docDup = posts.join(dupW, Seq("_wh"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_dup_windows"), starts.as("_s"))
      // union of [s, s+n-1]: n for the first interval, then each next
      // start adds min(n, gap) — the guard matters because Spark's
      // sequence(1, 0) counts DOWN, it is not empty like SQL range(1, 1)
      .withColumn("covered_toks",
        when(size(col("_s")) > 1,
          nL + aggregate(
            transform(sequence(lit(1), size(col("_s")) - 1),
              i => least(nL, element_at(col("_s"), i + 1) - element_at(col("_s"), i))),
            lit(0L), (acc, x) => acc + x))
          .otherwise(nL))
      .select(col("id"), col("n_dup_windows"), col("covered_toks"))
    base.join(docDup, Seq("id"), "left")
      .select(col("id"), col("n_toks"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_toks"), lit(0L)).as("covered_toks"),
        when(col("n_toks") > 0,
          graft.queries.dround(
            coalesce(col("covered_toks"), lit(0L)).cast("double") / col("n_toks"), 4))
          .as("dup_frac_r"))
  }
}
