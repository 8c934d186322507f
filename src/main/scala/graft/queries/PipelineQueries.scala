package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.EventsStream
import graft.model.IndexKind.Metric

/** LLM-pipeline operator queries: text analysis, batch kNN join, grid-IVF
  * ANN, multimodal plumbing, sessionization and windowed event aggregation.
  */
object PipelineQueries {

  private val rawToksSql = sqlRawToks // the one shared tokenizer snippet

  val textLangId = NamedQuery(
    "text_langid",
    s"""WITH tok AS (SELECT doc_id AS id, coalesce($rawToksSql, []) AS raw FROM documents),
       |c AS (
       |  SELECT id,
       |    len(list_filter(raw, t -> t IN ('the','a','is','and','of'))) AS c_en,
       |    len(list_filter(raw, t -> t IN ('der','die','das','und','ist'))) AS c_de,
       |    len(list_filter(raw, t -> t IN ('el','los','las','y','es'))) AS c_es,
       |    len(list_filter(raw, t -> t IN ('le','les','une','et','est'))) AS c_fr
       |  FROM tok)
       |SELECT id,
       |  CASE WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
       |       WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
       |       WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
       |       WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  c_en, c_de, c_es, c_fr
       |FROM c ORDER BY id""".stripMargin) { (s, d) =>
    TextAnalysis.languageId(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("id")
  }

  val textQuality = NamedQuery(
    "text_quality",
    s"""WITH tok AS (
       |  SELECT doc_id AS id, length(text) AS n_chars, $rawToksSql AS raw, text
       |  FROM documents),
       |m AS (
       |  SELECT id, n_chars, len(raw) AS n_tokens,
       |    CAST(len(list_filter(raw, t -> t IN (${graft.functions.TextAnalyzer.SqlStopList}))) AS DOUBLE) / len(raw) AS stopword_ratio,
       |    CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}${graft.operators.TextAnalysis.WsClass}]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
       |    CAST(len(list_distinct(raw)) AS DOUBLE) / len(raw) AS uniq_ratio,
       |    least(CAST(len(raw) AS DOUBLE) / 100.0, 1.0) AS len_score
       |  FROM tok WHERE len(raw) > 0)
       |SELECT id, n_chars, n_tokens,
       |  CAST(round(CAST(stopword_ratio AS DECIMAL(28,6)), 4) AS DOUBLE) AS stopword_r,
       |  CAST(round(CAST(punct_ratio AS DECIMAL(28,6)), 4) AS DOUBLE) AS punct_r,
       |  CAST(round(CAST(uniq_ratio AS DECIMAL(28,6)), 4) AS DOUBLE) AS uniq_r,
       |  CAST(round(CAST(0.25*len_score + 0.25*(1-stopword_ratio) + 0.25*(1-punct_ratio) + 0.25*uniq_ratio AS DECIMAL(28,6)), 4) AS DOUBLE) AS quality_r
       |FROM m ORDER BY id""".stripMargin) { (s, d) =>
    TextAnalysis.quality(Tables.documents(s, d), col("doc_id"), col("text"))
      .select(col("id"), col("n_chars"), col("n_tokens"),
        dround(col("stopword_ratio"), 4).as("stopword_r"),
        dround(col("punct_ratio"), 4).as("punct_r"),
        dround(col("uniq_ratio"), 4).as("uniq_r"),
        dround(col("quality"), 4).as("quality_r"))
      .orderBy("id")
  }

  val textTokens = NamedQuery(
    "text_tokens",
    s"""SELECT doc_id AS id,
       |  len(list_filter(string_split_regex(text, '[${graft.operators.TextAnalysis.WsClass}]+'), t -> t != '')) AS ws_tokens,
       |  len(${graft.functions.TextAnalyzer.sqlAnalyze("text")}) AS analyzed_tokens,
       |  len(regexp_extract_all(text, '${graft.operators.TextAnalysis.BpeLikePattern}')) AS bpe_like_tokens,
       |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_subword_tokens
       |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
    TextAnalysis.tokenCounts(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("id")
  }

  /** Top-of-vocabulary: the tokenizer-training precursor. LIMIT applies
    * after the deterministic (count desc, token asc) order, so the slice
    * is stable across engines.
    */
  val textVocab = NamedQuery(
    "text_vocab",
    s"""WITH tok AS (SELECT doc_id AS id, unnest($rawToksSql) AS token FROM documents),
       |v AS (
       |  SELECT token, count(*) AS occurrences, count(DISTINCT id) AS doc_freq
       |  FROM tok GROUP BY token HAVING count(*) >= 5)
       |SELECT token, occurrences, doc_freq
       |FROM v ORDER BY occurrences DESC, token ASC LIMIT 200""".stripMargin) { (s, d) =>
    TextAnalysis.vocabulary(Tables.documents(s, d), col("doc_id"), col("text"), minCount = 5L)
      .limit(200)
  }

  /** Winnowing sketch (rolling-hash document fingerprinting): rightmost
    * min of each 4-window over token-3-gram hashes; the oracle replays
    * window selection with list slicing (`hs[ws:we]` inclusive, matching
    * the engine's `<=` rightmost-tie rule via list_max over argmins).
    */
  val textWinnow = NamedQuery(
    "text_winnow",
    s"""WITH $winnowSelCte
       |SELECT DISTINCT id, CAST(pos AS INT) AS pos, mn AS hash
       |FROM sel ORDER BY id, pos""".stripMargin) { (s, d) =>
    TextAnalysis.winnow(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("id", "pos")
  }

  val textFingerprint = NamedQuery(
    "text_fingerprint",
    s"""WITH tok AS (SELECT doc_id AS id, $rawToksSql AS raw FROM documents)
       |SELECT id, md5(array_to_string(list_sort(list_distinct(raw)), ' ')) AS fingerprint
       |FROM tok ORDER BY id""".stripMargin) { (s, d) =>
    TextAnalysis.fingerprint(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("id")
  }

  /** The fused single-scan document profile: every langid/quality/token
    * signal from one pass over the corpus (the four standalone queries
    * above read it once each). Oracle = the union of their formulas over
    * one tokenized CTE.
    */
  val textProfile = NamedQuery(
    "text_profile",
    s"""WITH tok AS (
       |  SELECT doc_id AS id, text, length(text) AS n_chars, $rawToksSql AS raw
       |  FROM documents WHERE text IS NOT NULL),
       |m AS (
       |  SELECT id, text, n_chars, len(raw) AS n_tokens,
       |    len(list_filter(raw, t -> t IN ('the','a','is','and','of'))) AS c_en,
       |    len(list_filter(raw, t -> t IN ('der','die','das','und','ist'))) AS c_de,
       |    len(list_filter(raw, t -> t IN ('el','los','las','y','es'))) AS c_es,
       |    len(list_filter(raw, t -> t IN ('le','les','une','et','est'))) AS c_fr,
       |    CASE WHEN len(raw) > 0 THEN CAST(len(list_filter(raw, t -> t IN (${graft.functions.TextAnalyzer.SqlStopList}))) AS DOUBLE) / len(raw) END AS stopword_ratio,
       |    CASE WHEN len(raw) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}${graft.operators.TextAnalysis.WsClass}]', '', 'g')) AS DOUBLE) / n_chars END AS punct_ratio,
       |    CASE WHEN len(raw) > 0 THEN CAST(len(list_distinct(raw)) AS DOUBLE) / len(raw) END AS uniq_ratio,
       |    least(CAST(len(raw) AS DOUBLE) / 100.0, 1.0) AS len_score,
       |    len(list_filter(string_split_regex(text, '[${graft.operators.TextAnalysis.WsClass}]+'), t -> t != '')) AS ws_tokens,
       |    len(regexp_extract_all(text, '${graft.operators.TextAnalysis.BpeLikePattern}')) AS bpe_like_tokens,
       |    CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_subword_tokens,
       |    md5(array_to_string(list_sort(list_distinct(raw)), ' ')) AS fingerprint
       |  FROM tok)
       |SELECT id,
       |  CASE WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
       |       WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
       |       WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
       |       WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  ${sqlDround("stopword_ratio", 4)} AS stopword_r,
       |  ${sqlDround("punct_ratio", 4)} AS punct_r,
       |  ${sqlDround("uniq_ratio", 4)} AS uniq_r,
       |  CASE WHEN n_tokens > 0 THEN ${sqlDround("0.25*len_score + 0.25*(1-stopword_ratio) + 0.25*(1-punct_ratio) + 0.25*uniq_ratio", 4)} END AS quality_r,
       |  CAST(ws_tokens AS BIGINT) AS ws_tokens,
       |  CAST(bpe_like_tokens AS BIGINT) AS bpe_like_tokens,
       |  est_subword_tokens, fingerprint
       |FROM m ORDER BY id""".stripMargin) { (s, d) =>
    TextAnalysis.profile(Tables.documents(s, d), col("doc_id"), col("text"))
      .select(col("id"), col("pred_lang"), col("n_chars"), col("n_tokens"),
        dround(col("stopword_ratio"), 4).as("stopword_r"),
        dround(col("punct_ratio"), 4).as("punct_r"),
        dround(col("uniq_ratio"), 4).as("uniq_r"),
        dround(col("quality"), 4).as("quality_r"),
        col("ws_tokens"), col("bpe_like_tokens"),
        col("est_subword_tokens"), col("fingerprint"))
      .orderBy("id")
  }

  /** Flagship training-data curation pipeline, end-to-end in ONE oracled
    * query: language filter (en) → quality filter (rounded score ≥ 0.5) →
    * exact dedup (keep min id per identical text) → near-dup CLUSTER dedup
    * (ngram-jaccard pairs → connected components → keep each component's
    * min id) → per-source survivor counts + estimated subword tokens.
    * Every stage is an operator this library ships; the oracle replays the
    * whole composition, closing the cluster step with a recursive CTE.
    * Filters compare on ROUNDED quality (both engines), so an ulp of float
    * drift can't flip an admission decision.
    */
  val pipelineCuration = NamedQuery(
    "pipeline_curation",
    s"""WITH RECURSIVE tokl AS (
       |  SELECT doc_id AS id, coalesce($rawToksSql, []) AS raw FROM documents),
       |lc AS (
       |  SELECT id,
       |    len(list_filter(raw, t -> t IN ('the','a','is','and','of'))) AS c_en,
       |    len(list_filter(raw, t -> t IN ('der','die','das','und','ist'))) AS c_de,
       |    len(list_filter(raw, t -> t IN ('el','los','las','y','es'))) AS c_es,
       |    len(list_filter(raw, t -> t IN ('le','les','une','et','est'))) AS c_fr
       |  FROM tokl),
       |pred AS (
       |  SELECT id,
       |    CASE WHEN greatest(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
       |         WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
       |         WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
       |         WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
       |         ELSE 'fr' END AS pred_lang
       |  FROM lc),
       |qtok AS (
       |  SELECT doc_id AS id, length(text) AS n_chars, $rawToksSql AS raw, text
       |  FROM documents),
       |qm AS (
       |  SELECT id,
       |    CAST(len(list_filter(raw, t -> t IN (${graft.functions.TextAnalyzer.SqlStopList}))) AS DOUBLE) / len(raw) AS stopword_ratio,
       |    CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}${graft.operators.TextAnalysis.WsClass}]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
       |    CAST(len(list_distinct(raw)) AS DOUBLE) / len(raw) AS uniq_ratio,
       |    least(CAST(len(raw) AS DOUBLE) / 100.0, 1.0) AS len_score
       |  FROM qtok WHERE len(raw) > 0),
       |qr AS (
       |  SELECT id,
       |    CAST(round(CAST(0.25*len_score + 0.25*(1-stopword_ratio) + 0.25*(1-punct_ratio) + 0.25*uniq_ratio AS DECIMAL(28,6)), 4) AS DOUBLE) AS quality_r
       |  FROM qm),
       |kept1 AS (
       |  SELECT d.doc_id, d.text, d.source
       |  FROM documents d
       |  JOIN pred ON d.doc_id = pred.id
       |  JOIN qr ON d.doc_id = qr.id
       |  WHERE pred.pred_lang = 'en' AND qr.quality_r >= 0.5),
       |canon AS (SELECT min(doc_id) AS doc_id FROM kept1 GROUP BY md5(text)),
       |kept2 AS (SELECT k.* FROM kept1 k JOIN canon USING (doc_id)),
       |tok2 AS (
       |  SELECT doc_id, $rawToksSql AS raw FROM kept2),
       |sh2 AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(raw) >= 3
       |      THEN list_transform(range(1, len(raw) - 1),
       |           i -> raw[i] || ' ' || raw[i+1] || ' ' || raw[i+2])
       |      ELSE [] END) AS sh3
       |  FROM tok2),
       |posts2 AS (SELECT doc_id, len(sh3) AS cnt, unnest(sh3) AS s FROM sh2 WHERE len(sh3) > 0),
       |prs2 AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.cnt AS ca, b.cnt AS cb,
       |         count(*) AS common
       |  FROM posts2 a JOIN posts2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |good AS (
       |  SELECT id_a, id_b FROM prs2
       |  WHERE CAST(common AS DOUBLE) / (ca + cb - common) >= 0.5),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM good
       |  UNION SELECT id_b, id_a FROM good),
       |reach(node, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node),
       |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1),
       |kept3 AS (
       |  SELECT k.* FROM kept2 k
       |  WHERE k.doc_id NOT IN (SELECT node FROM comp WHERE node != component))
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT) AS subword_tokens
       |FROM kept3 GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // language + quality are pure per-row Column algebra over the same
    // tokenization, so admission is ONE projection over ONE corpus scan —
    // no per-operator scans joined back by doc_id (the round-3 shape ran
    // the tokenizer twice and paid two extra shuffles). The token array
    // is materialized behind a persist BARRIER before the lang/quality
    // expressions reference it: those are interpreted higher-order
    // filters, outside codegen's common-subexpression elimination, so an
    // inlined tokens(text) re-runs the tokenizer regex once PER
    // REFERENCE (~10× per row across the marker counts and ratio
    // components — the O(L²) trap Dedup.shinglesFromTokens documents;
    // measured ~2× on this whole query). The persist is transient
    // (released before return) and holds only this one derived column.
    val tokd = docs.select(col("doc_id"), col("text"), col("source"),
      coalesce(Dedup.tokens(col("text")), array().cast("array<string>"))
        .as("_toks")).persist()
    val langExpr = TextAnalysis.predLangExpr(col("_toks"))
    val qualExpr = dround(
      TextAnalysis.qualityExpr(col("text"), col("_toks")), 4)
    // materialized: the admission frame feeds the exact-dedup groupBy, the
    // semi-join, the shingle pipeline, and the final anti-join — without a
    // barrier each consumer replays langid+quality over the corpus.
    // localCheckpoint, NOT persist(): a CacheManager entry has no release
    // handle here and would accumulate across bench/driver rounds, while
    // checkpoint blocks are GC-reclaimed once the returned frame drops
    // (the same rule Dedup.ngramJaccardPairs documents)
    val kept1 = tokd
      .filter(langExpr === "en" && qualExpr >= 0.5)
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint()
    tokd.unpersist(false)
    val canon = kept1.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"))
    val kept2 = kept1.join(canon.select("doc_id"), Seq("doc_id"), "left_semi")
    val pairs = Dedup.ngramJaccardPairs(kept2, col("doc_id"), col("text"),
      n = 3, threshold = 0.5)
    val dropIds = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    kept2.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum(ceil(length(col("text")).cast("double") / 4.0).cast("long")).as("subword_tokens"))
      .orderBy("source")
  }

  val annKnnJoin = NamedQuery(
    "ann_knn_join",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |d AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id,
      |         1.0 - list_sum(list_transform(range(1, 65), t -> CAST(e.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS dist,
      |         row_number() OVER (PARTITION BY q.query_id
      |                            ORDER BY 1.0 - list_sum(list_transform(range(1, 65), t -> CAST(e.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))), e.vec_id) AS rank
      |  FROM embeddings e CROSS JOIN q)
      |SELECT query_id, corpus_id, rank,
      |  CAST(round(CAST(dist AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r
      |FROM d WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.knnJoin(
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        emb, col("vec_id"), col("embedding"),
        k = 5, metric = Metric.Cosine)
      .select(col("query_id"), col("corpus_id"), col("rank").cast("long").as("rank"),
        dround(col("distance"), 4).as("dist_r"))
      .orderBy("query_id", "rank")
  }

  /** Matryoshka prefix funnel: stage 1 ranks by 1−dot over the FIRST 16
    * dims and keeps 50 candidates per query, stage 2 re-ranks those with
    * the full 64-dim metric. The oracle replays both stages — including
    * the stage-1 (prefix-distance, id) candidate cut, so the funnel
    * boundary itself is hash-checked, not just the final ranking.
    */
  val annMatryoshka = NamedQuery(
    "ann_matryoshka_topk",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |s1 AS (
      |  SELECT q.query_id, e.vec_id AS corpus_id, e.embedding, q.qv,
      |         row_number() OVER (PARTITION BY q.query_id
      |           ORDER BY 1.0 - list_sum(list_transform(range(1, 17), t -> CAST(e.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))), e.vec_id) AS r1
      |  FROM embeddings e CROSS JOIN q),
      |s2 AS (
      |  SELECT query_id, corpus_id,
      |         1.0 - list_sum(list_transform(range(1, 65), t -> CAST(embedding[t] AS DOUBLE) * CAST(qv[t] AS DOUBLE))) AS dist,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY 1.0 - list_sum(list_transform(range(1, 65), t -> CAST(embedding[t] AS DOUBLE) * CAST(qv[t] AS DOUBLE))), corpus_id) AS rank
      |  FROM s1 WHERE r1 <= 50)
      |SELECT query_id, corpus_id, rank,
      |  CAST(round(CAST(dist AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r
      |FROM s2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.matryoshkaSearch(
        emb.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
        emb, col("vec_id"), col("embedding"),
        dPrefix = 16, budget = 50, k = 10, metric = Metric.Cosine)
      .select(col("query_id"), col("corpus_id"), col("rank").cast("long").as("rank"),
        dround(col("distance"), 4).as("dist_r"))
      .orderBy("query_id", "rank")
  }

  val annIvfGrid = NamedQuery(
    "ann_ivf_grid",
    """WITH q AS (
      |  SELECT embedding AS qv,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
      |     + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
      |     + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS qb
      |  FROM embeddings WHERE vec_id = 7),
      |bucketed AS (
      |  SELECT vec_id AS id, embedding,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
      |     + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
      |     + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bucket
      |  FROM embeddings)
      |SELECT b.id, b.bucket,
      |  CAST(round(CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(b.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r
      |FROM bucketed b CROSS JOIN q
      |WHERE b.bucket = q.qb OR b.bucket IN
      |  (xor(q.qb, 1), xor(q.qb, 2), xor(q.qb, 4), xor(q.qb, 8), xor(q.qb, 16), xor(q.qb, 32))
      |ORDER BY 1.0 - list_sum(list_transform(range(1, 65), t -> CAST(b.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) ASC, b.id ASC
      |LIMIT 5""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val qv = TestCollections.queryVector(s, d, 7)
    Similarity.ivfSearch(emb, col("vec_id"), col("embedding"), qv,
        k = 5, metric = Metric.Cosine, nBits = 6)
      .select(col("id"), col("bucket"), dround(col("distance"), 4).as("dist_r"))
  }

  /** Same sign-bit IVF semantics (identical oracle), but served from a
    * bucket-PARTITIONED parquet artifact — the probe set prunes partition
    * directories instead of filtering a full scan. This is the layout the
    * 100 TB deployment uses; PipelineSpec asserts the `PartitionFilters`
    * in the physical plan.
    */
  // one artifact per (app, sfDir): building is a separate batch job (like
  // a collection's graph artifact), so the query measures the
  // partition-pruned SERVE path, and repeated runs don't leak temp dirs.
  // Keyed by applicationId, NOT the session object — a map key would pin
  // every stopped SparkSession's whole object graph in a long-lived JVM.
  // Temp dirs are removed at JVM exit.
  private val ivfArtifactCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  val annIvfPruned = NamedQuery(
    "ann_ivf_pruned",
    annIvfGrid.oracle.get) { (s, d) =>
    val dir = ivfArtifactCache.computeIfAbsent((s.sparkContext.applicationId, d), _ => {
      val tmp = graft.Fs.tempDir("graft_ivf_")
      Similarity.writeIvfArtifact(
        Tables.embeddings(s, d), col("vec_id"), col("embedding"), nBits = 6, tmp.toString)
      tmp.toString
    })
    val qv = TestCollections.queryVector(s, d, 7)
    Similarity.ivfSearchArtifact(s, dir, qv, k = 5, metric = Metric.Cosine, nBits = 6)
      .select(col("id"), col("bucket"), dround(col("distance"), 4).as("dist_r"))
  }

  /** Residual IVF-PQ, end-to-end under an oracle: sign-bit coarse cells
    * (nBits=4) with decimal-rounded per-cell mean centroids, float32
    * residuals, a CLOSED-FORM residual codebook (subvectors of the
    * residuals of vec_ids 0–7 — no k-means, so DuckDB replays the fit),
    * centroid-distance-ranked probes (nprobe=4), per-cell ADC candidate
    * scoring (budget 50), exact cosine re-rank. The serving path is the
    * bucket-partitioned artifact — probes are partition pruning
    * (IvfPqSpec asserts PartitionFilters); learned-centroid operating
    * points live in RECALL.md.
    */
  private val ivfPqArtifactCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String),
      (String, graft.operators.IvfPq.Coarse, graft.operators.PQModel)]()

  /** IVF-RaBitQ (operators/IvfRbq.scala — the RaBitQ paper's §4
    * deployment: coarse cells + per-cell 1-bit residual codes under one
    * global rotation), FULLY oracled under the closed-form configuration:
    * sign-bit cells (deterministic), per-cell decimal-mean centroids
    * (replayable), IDENTITY rotation — DuckDB recomputes the cell
    * assignment, the probe ranking, every per-cell residual code, both
    * stored scalars, the per-cell unbiased estimator, the candidate cut,
    * and the exact float32 cosine re-rank from raw data. No golden. The
    * seeded-rotation production fit stays covered by rbq_rot_topk's
    * pinned convention + IvfRbqSpec's recall/pruning laws.
    */
  val annIvfRbq = NamedQuery(
    "ann_ivf_rbq",
    """WITH corpus AS (
      |  SELECT vec_id AS id, embedding,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |dims AS (SELECT unnest(range(1, 65)) AS i),
      |cmeans AS (
      |  SELECT bucket, i,
      |    CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY bucket, i),
      |cents AS (SELECT bucket, list(m ORDER BY i) AS c FROM cmeans GROUP BY bucket),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
      |probe AS (
      |  SELECT ct.bucket, ct.c
      |  FROM cents ct CROSS JOIN q
      |  ORDER BY list_sum(list_transform(range(1, 65),
      |      i -> (CAST(q.qv[i] AS DOUBLE) - ct.c[i]) * (CAST(q.qv[i] AS DOUBLE) - ct.c[i]))) ASC,
      |    ct.bucket ASC
      |  LIMIT 4),
      |qr AS (
      |  SELECT p.bucket,
      |    list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) - p.c[i]) AS rq
      |  FROM probe p CROSS JOIN q),
      |qn AS (SELECT bucket, rq, sqrt(list_sum(list_transform(rq, x -> x * x))) AS qnorm FROM qr),
      |qu AS (SELECT bucket, list_transform(rq, x -> x / qnorm) AS qp, qnorm FROM qn),
      |enc AS (
      |  SELECT co.id, co.bucket, co.embedding,
      |    list_transform(range(1, 65), i -> CAST(co.embedding[i] AS DOUBLE) - p.c[i]) AS r
      |  FROM corpus co JOIN probe p USING (bucket)),
      |en AS (SELECT id, bucket, embedding, r,
      |  sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm FROM enc),
      |est AS (
      |  SELECT en.id, en.embedding,
      |    CASE WHEN en.nrm = 0 THEN qu.qnorm * qu.qnorm
      |    ELSE nrm * nrm + qu.qnorm * qu.qnorm - 2 * nrm * qu.qnorm *
      |      ((list_sum(list_transform(range(1, 65),
      |          i -> CASE WHEN en.r[i] > 0 THEN qu.qp[i] ELSE -qu.qp[i] END)) / sqrt(64.0))
      |       / (list_sum(list_transform(en.r, x -> abs(x / en.nrm))) / sqrt(64.0)))
      |    END AS e
      |  FROM en JOIN qu ON en.bucket = qu.bucket),
      |cand AS (SELECT id, embedding FROM est ORDER BY e ASC, id ASC LIMIT 50),
      |rr AS (
      |  SELECT c.id, CAST(1.0 - list_sum(list_transform(range(1, 65),
      |    t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand c CROSS JOIN q),
      |top AS (SELECT id, dist32 FROM rr ORDER BY dist32 ASC, id ASC LIMIT 10)
      |SELECT CAST(id AS BIGINT) AS id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r
      |FROM top ORDER BY dist_r, id""".stripMargin) { (s, d) =>
    import graft.operators.{IvfPq, IvfRbq}
    val emb = Tables.embeddings(s, d)
    val coarse = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
    val rotation = Array.tabulate(64)(i =>
      Array.tabulate(64)(j => if (i == j) 1.0 else 0.0))
    val enc = IvfRbq.encode(emb, col("vec_id"), col("embedding"), coarse, rotation)
    IvfRbq.search(enc, TestCollections.queryVector(s, d, 7), coarse, rotation,
        k = 10, rescore = 50, metric = graft.model.IndexKind.Metric.Cosine, nprobe = 4)
      .select(col("id"), dround(col("distance"), 4).as("dist_r"))
      .orderBy(col("dist_r"), col("id"))
  }

  /** The IVF-RaBitQ MIPS route (round 10 — the layout's new per-cell
    * ⟨o,c⟩ scalar closes the dot reconstruction): deliberately
    * UNNORMALIZED corpus (the sq8_dot convention, each vector scaled by
    * 1 + id % 5, so inner-product ranking surfaces long vectors an L2
    * ranking would bury), sign cells fitted on the scaled corpus,
    * IDENTITY rotation — DuckDB replays the whole pipeline inline: the
    * scaled corpus, cell assignment, decimal-mean centroids, the
    * HIGH-DOT probe order (IvfPq.probesDot — L2 probing would skip the
    * cells an unnormalized query needs), every per-cell residual code
    * and both stored scalars plus ⟨o,c⟩, the per-cell dot estimator
    * ⟨x,q⟩ ≈ ⟨c,q⟩ + ‖r‖(‖q−c‖·cosEst + ⟨o,c⟩) negated, the candidate
    * cut, and the exact double −⟨x,q⟩ re-rank. No golden.
    */
  val annIvfRbqDot = NamedQuery(
    "ann_ivf_rbq_dot",
    """WITH s AS (
      |  SELECT vec_id, list_transform(range(1, 65),
      |    i -> CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + CAST(vec_id % 5 AS DOUBLE)) AS REAL)) AS embedding
      |  FROM embeddings),
      |corpus AS (
      |  SELECT vec_id AS id, embedding,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      |  FROM s),
      |dims AS (SELECT unnest(range(1, 65)) AS i),
      |cmeans AS (
      |  SELECT bucket, i,
      |    CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY bucket, i),
      |cents AS (SELECT bucket, list(m ORDER BY i) AS c FROM cmeans GROUP BY bucket),
      |q AS (SELECT embedding AS qv FROM s WHERE vec_id = 7),
      |probe AS (
      |  SELECT ct.bucket, ct.c
      |  FROM cents ct CROSS JOIN q
      |  ORDER BY -(list_sum(list_transform(range(1, 65),
      |      i -> CAST(q.qv[i] AS DOUBLE) * ct.c[i]))) ASC,
      |    ct.bucket ASC
      |  LIMIT 4),
      |qr AS (
      |  SELECT p.bucket,
      |    list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) - p.c[i]) AS rq,
      |    list_sum(list_transform(range(1, 65), i -> p.c[i] * CAST(q.qv[i] AS DOUBLE))) AS cq
      |  FROM probe p CROSS JOIN q),
      |qn AS (SELECT bucket, rq, cq, sqrt(list_sum(list_transform(rq, x -> x * x))) AS qnorm FROM qr),
      |qu AS (SELECT bucket, list_transform(rq, x -> x / qnorm) AS qp, qnorm, cq FROM qn),
      |enc AS (
      |  SELECT co.id, co.bucket, co.embedding,
      |    list_transform(range(1, 65), i -> CAST(co.embedding[i] AS DOUBLE) - p.c[i]) AS r,
      |    p.c AS c
      |  FROM corpus co JOIN probe p USING (bucket)),
      |en AS (SELECT id, bucket, embedding, r, c,
      |  sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm FROM enc),
      |en2 AS (
      |  SELECT en.id, en.bucket, en.embedding, en.r, en.nrm,
      |    CASE WHEN en.nrm = 0 THEN 0.0
      |      ELSE list_sum(list_transform(range(1, 65), i -> (en.r[i] / en.nrm) * en.c[i]))
      |    END AS dotc
      |  FROM en),
      |est AS (
      |  SELECT en2.id, en2.embedding,
      |    CASE WHEN en2.nrm = 0 THEN -qu.cq
      |    ELSE -(qu.cq + en2.nrm * (qu.qnorm *
      |      ((list_sum(list_transform(range(1, 65),
      |          i -> CASE WHEN en2.r[i] > 0 THEN qu.qp[i] ELSE -qu.qp[i] END)) / sqrt(64.0))
      |       / (list_sum(list_transform(en2.r, x -> abs(x / en2.nrm))) / sqrt(64.0)))
      |      + en2.dotc))
      |    END AS e
      |  FROM en2 JOIN qu ON en2.bucket = qu.bucket),
      |cand AS (SELECT id, embedding FROM est ORDER BY e ASC, id ASC LIMIT 50),
      |rr AS (
      |  SELECT c.id, -(list_sum(list_transform(range(1, 65),
      |    t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE)))) AS dist
      |  FROM cand c CROSS JOIN q),
      |top AS (SELECT id, dist FROM rr ORDER BY dist ASC, id ASC LIMIT 10)
      |SELECT CAST(id AS BIGINT) AS id,
      |  CAST(round(CAST(dist AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r
      |FROM top ORDER BY dist_r, id""".stripMargin) { (s, d) =>
    import graft.operators.{IvfPq, IvfRbq}
    val scaled = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x =>
        (x.cast("double") * (lit(1.0) + (col("vec_id") % 5).cast("double")))
          .cast("float")).as("embedding"))
    val coarse = IvfPq.signCoarse(scaled, col("embedding"), nBits = 4)
    val rotation = Array.tabulate(64)(i =>
      Array.tabulate(64)(j => if (i == j) 1.0 else 0.0))
    val enc = IvfRbq.encode(scaled, col("vec_id"), col("embedding"), coarse, rotation)
    val qv = scaled.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0)
    IvfRbq.search(enc, qv, coarse, rotation,
        k = 10, rescore = 50, metric = graft.model.IndexKind.Metric.Dot, nprobe = 4)
      .select(col("id"), dround(col("distance"), 4).as("dist_r"))
      .orderBy(col("dist_r"), col("id"))
  }

  val annIvfPqFixed = NamedQuery(
    "ann_ivfpq_fixed",
    """WITH corpus AS (
      |  SELECT vec_id AS id, embedding,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |dims AS (SELECT unnest(range(1, 65)) AS i),
      |cmeans AS (
      |  SELECT bucket, i,
      |    CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY bucket, i),
      |cents AS (SELECT bucket, list(m ORDER BY i) AS c FROM cmeans GROUP BY bucket),
      |resid AS (
      |  SELECT co.id, co.bucket,
      |    list_transform(range(1, 65),
      |      i -> CAST(CAST(co.embedding[i] AS DOUBLE) - ct.c[i] AS REAL)) AS r
      |  FROM corpus co JOIN cents ct USING (bucket)),
      |subs AS (SELECT unnest(range(4)) AS si),
      |cb AS (
      |  SELECT s.si, r8.id AS cj, list_slice(r8.r, s.si*16 + 1, s.si*16 + 16) AS cv
      |  FROM resid r8 CROSS JOIN subs s WHERE r8.id < 8),
      |codes AS (
      |  SELECT id, si, cj AS code FROM (
      |    SELECT re.id, cb.si, cb.cj,
      |      row_number() OVER (PARTITION BY re.id, cb.si ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          t -> (CAST(re.r[cb.si*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE))
      |             * (CAST(re.r[cb.si*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE)))),
      |        cb.cj) AS rn
      |    FROM resid re CROSS JOIN cb) WHERE rn = 1),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
      |probe AS (
      |  SELECT ct.bucket, ct.c
      |  FROM cents ct CROSS JOIN q
      |  ORDER BY list_sum(list_transform(range(1, 65),
      |      i -> (CAST(q.qv[i] AS DOUBLE) - ct.c[i]) * (CAST(q.qv[i] AS DOUBLE) - ct.c[i]))) ASC,
      |    ct.bucket ASC
      |  LIMIT 4),
      |qtab AS (
      |  SELECT p.bucket, cb.si, cb.cj,
      |    list_sum(list_transform(range(1, 17),
      |      t -> ((CAST(q.qv[cb.si*16 + t] AS DOUBLE) - p.c[cb.si*16 + t]) - CAST(cb.cv[t] AS DOUBLE))
      |         * ((CAST(q.qv[cb.si*16 + t] AS DOUBLE) - p.c[cb.si*16 + t]) - CAST(cb.cv[t] AS DOUBLE)))) AS d2
      |  FROM probe p CROSS JOIN cb CROSS JOIN q),
      |scores AS (
      |  SELECT co.id, list_sum(list(t.d2 ORDER BY t.si)) AS approx
      |  FROM corpus co
      |  JOIN codes cd ON cd.id = co.id
      |  JOIN qtab t ON t.bucket = co.bucket AND t.si = cd.si AND t.cj = cd.code
      |  GROUP BY co.id),
      |cand AS (SELECT id FROM scores ORDER BY approx ASC, id ASC LIMIT 50),
      |rr AS (
      |  SELECT co.id, co.bucket, 1.0 - list_sum(list_transform(range(1, 65), t -> CAST(co.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS dist
      |  FROM cand JOIN corpus co USING (id) CROSS JOIN q),
      |top AS (SELECT id, bucket, dist FROM rr ORDER BY dist ASC, id ASC LIMIT 10)
      |SELECT id, bucket,
      |  CAST(round(CAST(dist AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r
      |FROM top ORDER BY dist_r, id""".stripMargin) { (s, d) =>
    import graft.operators.{IvfPq, PQModel}
    val (dir, coarse, pq) = ivfPqArtifactCache.computeIfAbsent(
      (s.sparkContext.applicationId, d), _ => {
        val emb = Tables.embeddings(s, d)
        val co = IvfPq.signCoarse(emb, col("embedding"), nBits = 4)
        // closed-form residual codebook: the float32 residuals of
        // vec_ids 0..7, sliced into 4 subvectors of 16 dims each
        val seed = emb.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(col("vec_id"), col("embedding")).collect()
          .map { r =>
            val v = r.getSeq[Float](1)
            // the shared driver-side twin of signBucket — a hand-rolled
            // `v(i) > 0f` here would bucket a NaN dimension differently
            // than the stored copy (Spark SQL orders NaN above every value)
            val qb = Similarity.signBucketLocal(v, nBits = 4)
            val c = co.centroids(qb)
            Array.tabulate(64)(i => (v(i).toDouble - c(i)).toFloat)
          }
        val cents = (0 until 4).map { si =>
          (0 until 8).map(j =>
            java.util.Arrays.copyOfRange(seed(j), si * 16, (si + 1) * 16)).toArray
        }.toArray
        val model = PQModel(m = 4, k = 8, dim = 64, centroids = cents)
        val tmp = graft.Fs.tempDir("graft_ivfpq_")
        IvfPq.writeArtifact(emb, col("vec_id"), col("embedding"), co, model, tmp.toString)
        (tmp.toString, co, model)
      })
    val qv = TestCollections.queryVector(s, d, 7)
    IvfPq.searchArtifact(s, dir, qv, coarse, pq,
        k = 10, rescore = 50, metric = Metric.Cosine, nprobe = 4)
      .select(col("id"), col("bucket"), dround(col("distance"), 4).as("dist_r"))
      .orderBy(col("dist_r"), col("id"))
  }

  val q6Sessionize = NamedQuery(
    "q6_sessionize",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |sessions AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_no, count(*) AS n FROM sessions GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events,
      |       max(n) AS max_session_events
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    EventsStream.sessionizeBatch(Tables.events(s, d))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  val q7StreamWindow = NamedQuery(
    "q7_stream_window",
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_r
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    EventsStream.windowedAgg(Tables.events(s, d))
      .select(col("hour"), col("event_type"), col("n"),
        dsum0(col("sum_value")).as("sum_r"))
      .orderBy("hour", "event_type")
  }

  // windowedAgg already summed (exactly, via DECIMAL accumulation — its
  // double output is order-independent); re-round it to the hash scale
  private def dsum0(c: org.apache.spark.sql.Column) = dround(c, 2)

  // octet_length(encode(..)): the engine's payload is the utf-8 BYTES of
  // the text (withPayload casts to BINARY), so the stub's width/height are
  // functions of the byte count — a char-based length(text) would diverge
  // on the first non-ASCII document
  val multimodalDecode = NamedQuery(
    "multimodal_decode",
    """SELECT doc_id AS id,
      |  (octet_length(encode(text)) % 640) + 1 AS width,
      |  ((octet_length(encode(text)) * 7) % 480) + 1 AS height,
      |  3 AS channels
      |FROM documents
      |-- decode() sheds null payloads (nothing to decode)
      |WHERE text IS NOT NULL
      |ORDER BY id""".stripMargin) { (s, d) =>
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d), col("doc_id"), col("text"), "text/plain")
    Multimodal.decode(payloads)
      .select(col("id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))
      .orderBy("id")
  }

  /** Feature extraction over binary payloads: code-point histogram mod 32,
    * L2-normalized (the kernel is real and deterministic — an image/audio
    * embedder slots into the same partition-batched shape). Exploded to
    * scalar (id, bin, feat_r) rows for the hash compare. Bin counts are
    * integers, so the squared-sum under the norm is exact in double and
    * order-independent — both engines land on identical normalized values.
    */
  val multimodalFeatures = NamedQuery(
    "multimodal_features",
    """WITH cps AS (
      |  SELECT doc_id AS id, list_transform(string_split(text, ''), c -> unicode(c)) AS cp
      |  FROM documents WHERE length(text) > 0),
      |hist AS (
      |  SELECT id, list_transform(range(0, 32),
      |    b -> CAST(len(list_filter(cp, c -> c % 32 = b)) AS DOUBLE)) AS h
      |  FROM cps),
      |n AS (SELECT id, h, sqrt(list_sum(list_transform(h, x -> x*x))) AS nrm FROM hist)
      |SELECT id, CAST(i AS INT) AS bin,
      |  CAST(round(CAST(h[CAST(i AS INT) + 1] / nrm AS DECIMAL(28,6)), 4) AS DOUBLE) AS feat_r
      |FROM n CROSS JOIN unnest(range(0, 32)) AS t(i)
      |ORDER BY id, bin""".stripMargin) { (s, d) =>
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d), col("doc_id"), col("text"), "image/fake")
    Multimodal.featureExtract(payloads, dim = 32)
      .select(col("id"), posexplode(col("feature")))
      .select(col("id"), col("pos").cast("int").as("bin"),
        dround(col("col"), 4).as("feat_r"))
      .orderBy("id", "bin")
  }

  // frameSample slices the BINARY payload at byte offsets and hashes raw
  // bytes; DuckDB's md5 is VARCHAR-only and blobs can't be sliced, so a
  // byte-faithful replay is only expressible where bytes == chars. Both
  // engines therefore restrict to ASCII-clean documents (today that is
  // every driver document; the filter keeps the compare honest if a
  // regen introduces multi-byte text — non-ASCII payloads are covered
  // byte-for-byte by ImageDecodeSpec/PipelineSpec instead). The frame
  // range is correlated per document — no silent frame-count cap.
  val multimodalFrames = NamedQuery(
    "multimodal_frames",
    """SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
      |  CAST(i * 100 AS BIGINT) AS "offset",
      |  md5(substr(text, CAST(i * 100 AS INT) + 1, 100)) AS frame_sha
      |FROM documents
      |CROSS JOIN unnest(range(0, (length(text) - 1) // 100 + 1)) AS t(i)
      |-- length > 0 matches frameSample's empty-payload drop (DuckDB's //
      |-- truncates toward zero, so empty text would yield one bogus frame)
      |WHERE octet_length(encode(text)) = length(text) AND length(text) > 0
      |ORDER BY id, frame_idx""".stripMargin) { (s, d) =>
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d).filter(col("text").rlike("^[\\x00-\\x7F]*$")),
      col("doc_id"), col("text"), "video/fake")
    Multimodal.frameSample(payloads, stride = 100)
      .orderBy("id", "frame_idx")
  }

  /** The REAL audio decode path (javax.sound.sampled, WAV/PCM) through
    * the driver gate: one deterministic synthesized WAV per document
    * (frame count and amplitude derived from doc_id), decoded
    * distributed, summarized as totals + an integer-quantized feature
    * digest. DuckDB cannot parse RIFF containers, so this pins a golden
    * (the vamana_graph convention): the synth is pure arithmetic and the
    * decoder is header-driven integer math, so the digest is
    * byte-stable across JVMs — any drift in the RIFF writer, the
    * sample parser, or the histogram flips it. Regenerate after an
    * intentional change via `python3 tools/check_oracle.py
    * /root/testdata/sf0.01 /tmp/v multimodal_audio`.
    */
  val multimodalAudio = NamedQuery(
    "multimodal_audio",
    """SELECT CAST(500 AS BIGINT) AS n_rows, CAST(497500 AS BIGINT) AS total_frames,
      |'486e51998e3d986a5cb58c2b9a00848e' AS digest""".stripMargin) { (s, d) =>
    val synth = udf { (id: Long) =>
      Multimodal.synthWav(
        nFrames = 500 + (id % 100).toInt * 10, rate = 8000f,
        amp = 2000 + (id % 8).toInt * 4000)
    }
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d).select(col("doc_id")),
      col("doc_id"), synth(col("doc_id")), "audio/wav")
    Multimodal.decode(payloads)
      .select(col("id"), col("height"),
        concat_ws(":", col("id"), col("width"), col("height"), col("channels"),
          concat_ws(",", transform(col("feature"),
            f => round(f * 1000000f).cast("long")))).as("_row"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("height")).cast("long").as("total_frames"),
        md5(concat_ws("|", sort_array(collect_list(col("_row"))))).as("digest"))
  }

  /** The REAL video decode path (multi-frame animated GIF via ImageIO)
    * through the driver gate: one deterministic synthesized GIF per
    * document (frame count / dims / phase derived from doc_id), frames
    * extracted DECODED (stride 2 exercises sampling), summarized as
    * totals + an order-free digest over (id, frame_idx, dims,
    * luminance-sha) rows. DuckDB cannot parse GIF/LZW, so this pins a
    * golden (the multimodal_audio convention): the synthesizer is pure
    * integer arithmetic through the JDK's own GIF sequence writer and
    * the digest hashes DECODED luminance bytes, so any drift in the
    * writer, the LZW round-trip, or the frame sampler flips it.
    * Regenerate after an intentional change via
    * `python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/v multimodal_video`.
    */
  /** The per-document GIF synthesis — ONE definition shared by the
    * `multimodal_video` and `multimodal_video_pairs` gates, whose goldens
    * both hash its frames.
    */
  val videoSynthGif: Long => Array[Byte] = id =>
    Multimodal.synthGif(
      nFrames = 3 + (id % 5).toInt, w = 16 + (id % 8).toInt, h = 12,
      phase = 17 + (id % 3).toInt * 31)

  val multimodalVideo = NamedQuery(
    "multimodal_video",
    """SELECT CAST(500 AS BIGINT) AS n_payloads, CAST(1400 AS BIGINT) AS total_frames,
      |'de21ac88bf0e5cf4ae534723e687483e' AS digest""".stripMargin) { (s, d) =>
    val synth = udf(videoSynthGif)
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d).select(col("doc_id")),
      col("doc_id"), synth(col("doc_id")), "video/gif")
    Multimodal.frameExtract(payloads, stride = 2)
      .select(concat_ws(":", col("id"), col("frame_idx"), col("width"),
        col("height"), col("frame_sha")).as("_row"), col("id"))
      .agg(
        countDistinct(col("id")).as("n_payloads"),
        count(lit(1)).as("total_frames"),
        md5(concat_ws("|", sort_array(collect_list(col("_row"))))).as("digest"))
  }

  /** The REAL pixel-resize path through the driver gate: one
    * deterministic two-tone PNG per document (dims/split from doc_id,
    * every width past the 32 cap), box-filter downscaled by
    * Multimodal.resizeImage, then DECODED AGAIN — the digest hashes the
    * round-tripped rasters (dims + quantized luminance histogram), so
    * any drift in the PNG writer, the box filter, or the decoder flips
    * it. Pinned golden (the multimodal_audio/video convention — DuckDB
    * cannot parse PNG). Regenerate after an intentional change via
    * `python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/v multimodal_resize`.
    */
  val multimodalResize = NamedQuery(
    "multimodal_resize",
    """SELECT CAST(500 AS BIGINT) AS n_rows, CAST(303840 AS BIGINT) AS total_px,
      |'3f1d08f9100550ade8044dfed59a9268' AS digest""".stripMargin) { (s, d) =>
    val synth = udf { (id: Long) =>
      val w = 40 + (id % 32).toInt
      val h = 24 + (id % 16).toInt
      Multimodal.synthPng(w, h, split = (id % 7).toInt * w * h / 7,
        loGray = 30, hiGray = 220)
    }
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d).select(col("doc_id")),
      col("doc_id"), synth(col("doc_id")), "image/png")
    Multimodal.decode(Multimodal.resizeImage(payloads, maxDim = 32))
      .select(col("id"), (col("width") * col("height")).cast("long").as("px"),
        concat_ws(":", col("id"), col("width"), col("height"), col("channels"),
          concat_ws(",", transform(col("feature"),
            f => round(f * 1000000f).cast("long")))).as("_row"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("px")).as("total_px"),
        md5(concat_ws("|", sort_array(collect_list(col("_row"))))).as("digest"))
  }

  /** The REAL image-decode path under a TRUE cross-engine oracle (no
    * pinned golden): each document synthesizes a two-tone gray PNG whose
    * decoded luminance histogram is CLOSED-FORM — PNG is lossless and
    * Rec. 601 luminance of gray g is exactly g ((299+587+114)/1000·g),
    * so bin(lo) holds exactly `split` of the w·h pixels and bin(hi) the
    * rest — arithmetic DuckDB replays from doc_id alone. The compare is
    * on INTEGER per-bin pixel counts recovered from the normalized
    * float histogram (`round(frac·w·h)`: float error ≤ n·2⁻²⁴ ≪ ½, so
    * recovery is exact — fraction-level compare would double-round
    * through the decimal(28,6) step and flip a last digit). Any defect
    * in the PNG writer, the ImageIO reader, the header budget, or the
    * histogram shifts a count and the hash breaks — the analytic
    * complement to multimodal_audio/video's digest goldens.
    */
  val multimodalDecodePng = NamedQuery(
    "multimodal_decode_png",
    """WITH dims AS (
      |  SELECT doc_id AS id,
      |    8 + doc_id % 16 AS w, 6 + doc_id % 8 AS h,
      |    (doc_id * 37) % ((8 + doc_id % 16) * (6 + doc_id % 8)) AS split
      |  FROM documents)
      |SELECT id, w AS width, h AS height, 3 AS channels, bin, px
      |FROM (
      |  SELECT id, w, h, 0 AS bin, split AS px FROM dims
      |  UNION ALL
      |  SELECT id, w, h, 6 AS bin, w * h - split AS px FROM dims)
      |-- decode drops nothing here (every payload is a valid PNG), but a
      |-- zero-mass bin has no row in the exploded Spark output either
      |WHERE px > 0
      |ORDER BY id, bin""".stripMargin) { (s, d) =>
    val synth = udf { (id: Long) =>
      val w = 8 + (id % 16).toInt
      val h = 6 + (id % 8).toInt
      Multimodal.synthPng(w, h, split = ((id * 37) % (w * h)).toInt,
        loGray = 10, hiGray = 200) // bins 0 and 6 (g >> 5)
    }
    val payloads = Multimodal.withPayload(
      Tables.documents(s, d).select(col("doc_id")),
      col("doc_id"), synth(col("doc_id")), "image/png")
    Multimodal.decode(payloads)
      .select(col("id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        posexplode(col("feature")))
      .filter(col("col") > 0f)
      .select(col("id"), col("width"), col("height"), col("channels"),
        col("pos").cast("int").as("bin"),
        round(col("col") * col("width") * col("height")).cast("long").as("px"))
      .orderBy("id", "bin")
  }

  /** One-pass heavy hitters by count–min sketch under a TRUE exact
    * oracle: at width 2²⁰ over this corpus's vocabulary the head
    * estimates are collision-free in at least one of the 4 hash rows,
    * so the sketch's top-10 EQUALS the exact top-10 DuckDB computes —
    * and because the sketch hashes are fixed-seed xxhash64 (pure
    * function of the corpus multiset), the equality is deterministic:
    * verified once, it holds every run. What the gate proves at sf0.01
    * is the ALGORITHM (bucketing, min-over-rows, tie-break); what holds
    * it at 100 TB is the shape — the sketch pass shuffles ≤ depth×width
    * cells regardless of corpus size, where exact counting shuffles the
    * vocabulary.
    */
  val sketchHeavyHitters = NamedQuery(
    "sketch_heavy_hitters",
    s"""WITH tok AS (SELECT unnest($rawToksSql) AS item FROM documents)
       |SELECT item, count(*) AS est
       |FROM tok GROUP BY item
       |ORDER BY est DESC, item ASC LIMIT 10""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(graft.operators.Dedup.tokens(col("text"))).as("item"))
    graft.operators.Sketches.heavyHitters(
      toks, col("item"), width = 1 << 20, depth = 4, k = 10)
  }

  /** HLL cardinality profiling under a TOLERANCE contract oracle: Spark
    * computes both the exact distinct count and the HyperLogLog++
    * estimate (`approx_count_distinct`, rsd 2%) and emits exact + a
    * within-5% flag; DuckDB replays the exact count and asserts the
    * flag is true. The estimate itself never crosses engines (HLL
    * internals are implementation-specific) — what's gated is the
    * CONTRACT: if Spark's sketch ever drifts past the tolerance, the
    * flag flips and the hash breaks. At 100 TB the estimate is the only
    * affordable side (fixed ~kB of state per group vs a distinct
    * shuffle); the exact column exists here because the gate needs a
    * cross-engine ground truth.
    */
  val sketchCardinality = NamedQuery(
    "sketch_cardinality",
    """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("_est"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("_est") - col("n_exact")) <= col("n_exact") * 0.05).as("within_5pct"))
      .orderBy("event_type")
  }

  /** Quantile-sketch profiling: cross-engine EXACT interpolated medians
    * (Spark `percentile` vs DuckDB `quantile_cont` — the same
    * (1−g)·a + g·b formula over the same doubles) plus a rank-band
    * contract on the sketch (`percentile_approx`, accuracy 100): the
    * estimate must land between the exact p±5% quantiles. The sketch is
    * the at-scale side — bounded state per group, one pass — and the
    * band flag breaks the gate if its rank error ever exceeds spec.
    */
  val sketchQuantiles = NamedQuery(
    "sketch_quantiles",
    """SELECT event_type,
      |  CAST(round(CAST(quantile_cont(value, 0.5) AS DECIMAL(28,6)), 4) AS DOUBLE) AS p50_r,
      |  CAST(round(CAST(quantile_cont(value, 0.9) AS DECIMAL(28,6)), 4) AS DOUBLE) AS p90_r,
      |  true AS ok50, true AS ok90
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, array(0.45, 0.5, 0.55, 0.85, 0.9, 0.95))").as("_ex"),
        expr("percentile_approx(value, array(0.5, 0.9), 100)").as("_ap"))
      .select(col("event_type"),
        dround(col("_ex")(1), 4).as("p50_r"),
        dround(col("_ex")(4), 4).as("p90_r"),
        (col("_ap")(0) >= col("_ex")(0) && col("_ap")(0) <= col("_ex")(2)).as("ok50"),
        (col("_ap")(1) >= col("_ex")(3) && col("_ap")(1) <= col("_ex")(5)).as("ok90"))
      .orderBy("event_type")
  }

  /** The STREAMING sketch face (seventh streaming surface): the exact
    * same `countMinSketch` aggregation runs over a real Structured
    * Stream of the events table in complete mode — a (d, bucket) count
    * is precisely the bounded state a stream can maintain forever,
    * which is the operational point of sketches — then the landed
    * sketch serves batch-side top-10 estimation. Same TRUE oracle as
    * sketch_heavy_hitters: at width 2²⁰ the head estimates are
    * collision-free, so DuckDB's exact per-user counts replay the
    * stream+sketch pipeline end-to-end. SketchSpec separately asserts
    * the streamed sketch is cell-identical to the batch sketch.
    */
  val q15StreamSketch = NamedQuery(
    "q15_stream_sketch",
    """WITH it AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events)
      |SELECT item, count(*) AS est FROM it GROUP BY item
      |ORDER BY est DESC, item ASC LIMIT 10""".stripMargin) { (s, d) =>
    import graft.operators.Sketches
    val sketch = graft.streaming.EventsStream.runAsStream(s, d,
      ev => Sketches.countMinSketch(
        ev.select(col("user_id").cast("string").as("item")),
        col("item"), width = 1 << 20, depth = 4),
      outputMode = "complete")
    val candidates = Tables.events(s, d).select(col("user_id").cast("string").as("item"))
    Sketches.cmsEstimate(sketch, candidates, col("item"), width = 1 << 20, depth = 4)
      .orderBy(col("est").desc, col("item"))
      .limit(10)
  }

  /** Deterministic textured PNG for the pHash gate: per-pixel hash noise
    * seeded by `seed`, with an optional one-pixel tweak — kept in main
    * (not test) code because the gate query synthesizes its corpus here.
    */
  def phashSynthPng(seed: Int, tweak: Int): Array[Byte] = {
    val w = 64; val h = 64
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val mix = x * 73856093 ^ y * 19349663 ^ seed * 83492791
        val g = ((mix * 2246822519L.toInt) >>> 24) & 0xFF
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    if (tweak > 0) { // variant v edits pixel (7·v, 11·v) to white
      img.setRGB((7 * tweak) % w, (11 * tweak) % h, 0xFFFFFF)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Perceptual-hash image near-dup pairs over a synthesized corpus of
    * 10 textured base images × 4 variants (base + three one-pixel
    * edits): the REAL PNG decode → 32×32 area-average → DCT-II → median
    * threshold pipeline, paired by multi-index hamming banding. PINNED
    * GOLDEN (the vamana_graph convention — DuckDB cannot decode images;
    * the hash is a pure function of the payload bytes since PNG is
    * lossless and the DCT is fixed-order arithmetic). Within-group pairs
    * at hamming ≤ 3 must appear; cross-group pairs must not.
    */
  val multimodalPhashPairs = NamedQuery(
    "multimodal_phash_pairs",
    """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      |  CAST(hamming AS INT) AS hamming
      |FROM (VALUES
      |  (0, 1, 0), (0, 2, 0), (0, 3, 2), (1, 2, 0), (1, 3, 2), (2, 3, 2), (4, 5,
      |  2), (4, 6, 0), (4, 7, 0), (5, 6, 2), (5, 7, 2), (6, 7, 0), (8, 9, 0),
      |  (8, 10, 0), (8, 11, 0), (9, 10, 0), (9, 11, 0), (10, 11, 0), (12, 13,
      |  0), (12, 14, 0), (12, 15, 2), (13, 14, 0), (13, 15, 2), (14, 15, 2),
      |  (16, 17, 2), (16, 18, 0), (16, 19, 2), (17, 18, 2), (17, 19, 0), (18,
      |  19, 2), (20, 21, 0), (20, 22, 0), (20, 23, 0), (21, 22, 0), (21, 23, 0),
      |  (22, 23, 0), (24, 25, 0), (24, 26, 0), (24, 27, 0), (25, 26, 0), (25,
      |  27, 0), (26, 27, 0), (28, 29, 0), (28, 30, 0), (28, 31, 0), (29, 30, 0),
      |  (29, 31, 0), (30, 31, 0), (32, 33, 0), (32, 34, 0), (32, 35, 0), (33,
      |  34, 0), (33, 35, 0), (34, 35, 0), (36, 37, 0), (36, 38, 2), (36, 39, 0),
      |  (37, 38, 2), (37, 39, 0), (38, 39, 2)) t(id_a, id_b, hamming)
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    import s.implicits._
    val synth = udf((id: Long) => phashSynthPng((id / 4).toInt, (id % 4).toInt))
    val corpus = Multimodal.withPayload(
      s.range(40).toDF("doc_id"), col("doc_id"), synth(col("doc_id")), "image/png")
    graft.operators.Phash.phashPairs(graft.operators.Phash.phash(corpus), maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** Two-tone synthetic WAV for the audio-fingerprint gate: frequencies
    * seeded by `seed`; variant 1 halves the gain, variant 2 adds a faint
    * third tone — the edits a spectral print must survive.
    */
  def audioSynthWav(seed: Int, variant: Int): Array[Byte] = {
    val rate = 8000f
    val n = 4000
    val amp = if (variant == 1) 3000 else 8000
    val f1 = 300.0 + (seed * 137) % 1500
    val f2 = 600.0 + (seed * 211) % 2500
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      var v = math.sin(2 * math.Pi * f1 * i / rate) * amp +
        math.sin(2 * math.Pi * f2 * i / rate) * (amp / 2)
      if (variant == 2) v += math.sin(2 * math.Pi * 1234.0 * i / rate) * (amp / 16)
      val s = v.toInt.toShort
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio near-dup pairs over 8 two-tone bases × 3 variants (base,
    * re-gained, faint extra tone) through the REAL WAV decode →
    * Goertzel band energies → spectral-contour bits → multi-index
    * hamming banding. PINNED GOLDEN (fixed-order arithmetic over a
    * lossless decode = pure function of the bytes; DuckDB has no audio
    * codec). Within-group variants must pair; distinct tone stacks must
    * not.
    */
  val multimodalAudioprintPairs = NamedQuery(
    "multimodal_audioprint_pairs",
    """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      |  CAST(hamming AS INT) AS hamming
      |FROM (VALUES
      |  (0, 1, 0), (0, 2, 1), (1, 2, 1), (3, 4, 0), (3, 5, 2), (4, 5, 2), (6, 7,
      |  0), (6, 8, 0), (7, 8, 0), (9, 10, 1), (12, 13, 0), (12, 14, 0), (13, 14,
      |  0), (15, 16, 0), (15, 17, 2), (16, 17, 2), (18, 19, 0), (18, 20, 2),
      |  (19, 20, 2), (21, 22, 0), (21, 23, 0), (22, 23, 0)) t(id_a, id_b, hamming)
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    import s.implicits._
    val synth = udf((id: Long) => audioSynthWav((id / 3).toInt * 7 + 1, (id % 3).toInt))
    val corpus = Multimodal.withPayload(
      s.range(24).toDF("doc_id"), col("doc_id"), synth(col("doc_id")), "audio/wav")
    graft.operators.Phash.phashPairs(
        graft.operators.AudioPrint.fingerprint(corpus), maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** Video near-dup pairs by SHARED DECODED FRAMES over the real
    * animated-GIF path: 48 synthesized clips where ids congruent mod 24
    * share (width, phase) and therefore share their common frame
    * indices' pixels exactly — containment near-dups by construction —
    * while different parameter tuples share nothing. Frame identity is
    * frameExtract's decoded-luminance digest, so the whole pipeline
    * (GIF writer → LZW round-trip → decode → digest → equi-join) is
    * under the pinned golden (DuckDB cannot parse GIF).
    */
  val multimodalVideoPairs = NamedQuery(
    "multimodal_video_pairs",
    """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      |  CAST(shared AS BIGINT) AS shared
      |FROM (VALUES
      |  (0, 24, 3), (1, 25, 3), (2, 26, 4), (3, 27, 5), (4, 28, 6), (5, 29, 3),
      |  (6, 30, 3), (7, 31, 4), (8, 32, 5), (9, 33, 6), (10, 34, 3), (11, 35,
      |  3), (12, 36, 4), (13, 37, 5), (14, 38, 6), (15, 39, 3), (16, 40, 3),
      |  (17, 41, 4), (18, 42, 5), (19, 43, 6), (20, 44, 3), (21, 45, 3), (22,
      |  46, 4), (23, 47, 5)) t(id_a, id_b, shared)
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    import s.implicits._
    val synth = udf(videoSynthGif)
    val corpus = Multimodal.withPayload(
      s.range(48).toDF("doc_id"), col("doc_id"), synth(col("doc_id")), "video/gif")
    graft.operators.Phash.frameSharePairs(
        Multimodal.frameExtract(corpus, stride = 1), minShared = 3)
      .orderBy("id_a", "id_b")
  }

  /** Johnson–Lindenstrauss sparse-sign projection of the embeddings
    * table, 64 → 8 dims. The ±1 matrix entries are the md5 PARITY of
    * "i,j,salt" — DuckDB derives the identical matrix from its own md5
    * in a 512-row CTE and replays the full projected vectors; the
    * per-dim sums accumulate in DECIMAL (exact, order-free) in both
    * engines, with the irrational 1/√k factor applied once in double
    * from the same injected literal. EmbeddingsSpec carries the JL
    * distance-preservation and norm laws at k=32.
    */
  val annJlProject = {
    val scale = 1.0 / math.sqrt(8.0)
    // the oracle replays the operator's EXACT left-fold chain: one
    // explicit 64-term sum per output dim with the operator's own ±1
    // literals (whose md5 derivation the EmbeddingsSpec parity test
    // verifies through SQL md5 separately) — SQL `+` is left-associative,
    // so the IEEE result is bit-identical and the dround can't straddle
    val dims = (0 until 8).map { j =>
      val chain = (0 until 64).map { i =>
        val s = graft.operators.Embeddings.signAt(i, j, "graft-jl")
        s"CAST(embedding[${i + 1}] AS DOUBLE) * $s"
      }.mkString(" + ")
      s"${sqlDround(s"($chain) * $scale", 6)} AS p$j"
    }.mkString(",\n  |  ")
    NamedQuery(
      "ann_jl_project",
      s"""SELECT vec_id AS id,
         |  $dims
         |FROM embeddings
         |WHERE embedding IS NOT NULL AND len(embedding) >= 64
         |ORDER BY id""".stripMargin) { (s, d) =>
      val proj = graft.operators.Embeddings.jlProject(
        Tables.embeddings(s, d), col("vec_id"), col("embedding"), dIn = 64, dOut = 8)
      proj.select((col("id") +:
          (0 until 8).map(j => dround(col(s"p$j"), 6).as(s"p$j"))): _*)
        .orderBy("id")
    }
  }

  /** The fitted PCA spectrum over `embeddings` — top-8 eigenvalues and
    * explained-variance ratios, hash-compared against a PINNED GOLDEN
    * (the vamana_graph convention — DuckDB cannot eigendecompose, but
    * the fit is bit-identical under any layout by construction: DECIMAL
    * covariance sums + a fixed-order driver Jacobi, PcaSpec's
    * bit-equality law). Any drift in the explode/join pass, decimal
    * accumulation, Jacobi rotations, or ordering flips the pinned rows.
    * Regenerate after an INTENTIONAL fit change via
    * `python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/v
    * ann_pca_spectrum` and pin the printed spark rows.
    */
  val annPcaSpectrum = NamedQuery(
    "ann_pca_spectrum",
    """SELECT CAST(c AS INT) AS c, CAST(eig_r AS DOUBLE) AS eig_r,
      |  CAST(evr_r AS DOUBLE) AS evr_r
      |FROM (VALUES (0, 0.0275, 0.0276), (1, 0.0272, 0.0272), (2, 0.0266, 0.0267),
      |  (3, 0.0256, 0.0257), (4, 0.0254, 0.0254), (5, 0.0251, 0.0251),
      |  (6, 0.0239, 0.0240), (7, 0.0232, 0.0232)) t(c, eig_r, evr_r)
      |ORDER BY c""".stripMargin) { (s, d) =>
    val m = graft.operators.Embeddings.fitPca(
      Tables.embeddings(s, d), col("embedding"), dIn = 64)
    val evr = m.explainedVariance
    import s.implicits._
    (0 until 8).map(c => (c, m.eigenvalues(c), evr(c)))
      .toDF("c", "eig", "evr")
      .select(col("c"), dround(col("eig"), 4).as("eig_r"), dround(col("evr"), 4).as("evr_r"))
      .orderBy("c")
  }

  /** Late-interaction MaxSim scoring (ColBERT shape): each `label` group
    * of the embeddings table is a multi-vector document; the query is
    * THREE md5-parity sign vectors (the JL derivation convention, salts
    * maxsim-q0..q2 — deterministic, so their ±1 literals and exact
    * |q| = 8.0 are injected into both engines), and the score is
    * Σ_q max_v cos(q, v). Every cosine is an explicit left-fold chain,
    * the max is order-free, and the 3-term sum is explicit — the whole
    * pipeline hashes bit-exactly cross-engine with no golden needed.
    */
  val annMaxsimScore = {
    val dIn = 64
    val salts = Seq("maxsim-q0", "maxsim-q1", "maxsim-q2")
    val qs = salts.map(s => (0 until dIn).map(i =>
      graft.operators.Embeddings.signAt(i, 0, s)))
    val qNorm = 8.0 // sqrt(64) exactly
    val selfChain = (0 until dIn)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) * CAST(embedding[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
    val dotChains = qs.map(q => (0 until dIn)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) * ${q(i)}")
      .mkString(" + "))
    NamedQuery(
      "ann_maxsim_score",
      s"""WITH per_row AS (
         |  SELECT label AS grp, ($selfChain) AS n2,
         |    (${dotChains(0)}) AS d0, (${dotChains(1)}) AS d1, (${dotChains(2)}) AS d2
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) >= $dIn),
         |sims AS (
         |  SELECT grp, d0 / (sqrt(n2) * $qNorm) AS s0,
         |    d1 / (sqrt(n2) * $qNorm) AS s1, d2 / (sqrt(n2) * $qNorm) AS s2
         |  FROM per_row WHERE n2 > 0)
         |SELECT CAST(grp AS BIGINT) AS "group",
         |  ${sqlDround("((max(s0) + max(s1)) + max(s2))", 5)} AS score_r
         |FROM sims GROUP BY grp ORDER BY "group"""".stripMargin) { (s, d) =>
      graft.operators.LateInteraction.maxSimScore(
          Tables.embeddings(s, d), col("label"), col("embedding"),
          qs.map(_.toSeq), dIn = dIn)
        .select(col("group"), dround(col("score"), 5).as("score_r"))
        .orderBy("group")
    }
  }

  /** MMR diverse re-rank of the exact cosine top-50 for the vec_id-0
    * query (k=10, λ=0.7), hash-compared against a PINNED GOLDEN (the
    * vamana_graph convention — the greedy argmax chain is driver-side
    * IEEE arithmetic DuckDB cannot replay digit-for-digit, but it is
    * deterministic by construction: (-rel, id)-sorted scan, strict->
    * argmax, lower-id ties; CurationSpec's layout law is the guarantee).
    * Any drift in candidate generation, cosine, or the greedy rule flips
    * the pinned rows. Regenerate after an INTENTIONAL change via
    * `python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/v
    * s1_near_mmr` and pin the printed spark rows.
    */
  val s1NearMmr = NamedQuery(
    "s1_near_mmr",
    """SELECT CAST(id AS BIGINT) AS id, CAST(rank AS INT) AS rank,
      |  CAST(obj_r AS DOUBLE) AS obj_r
      |FROM (VALUES (0, 1, 0.0), (365, 2, -0.5520), (334, 3, -0.5549),
      |  (387, 4, -0.5675), (423, 5, -0.5812), (73, 6, -0.5818),
      |  (320, 7, -0.5849), (464, 8, -0.5893), (190, 9, -0.5951),
      |  (483, 10, -0.5973)) t(id, rank, obj_r)
      |ORDER BY rank""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cands = Similarity.knnJoin(
        emb.filter(col("vec_id") === 0), col("vec_id"), col("embedding"),
        emb, col("vec_id"), col("embedding"),
        k = 50, metric = Metric.Cosine)
      .select(col("corpus_id").as("cid"), (lit(0.0) - col("distance")).as("rel"))
      .join(emb.select(col("vec_id").as("cid"), col("embedding")), Seq("cid"))
    graft.operators.Curation.mmr(cands, col("cid"), col("rel"), col("embedding"),
        k = 10, lambda = 0.7)
      .select(col("id"), col("rank"), dround(col("objective"), 4).as("obj_r"))
      .orderBy("rank")
  }

  /** Sentence-aware chunking (budget 40 tokens): the greedy
    * whole-sentence packing is a sequential per-doc fold, which DuckDB
    * replays EXACTLY with a recursive CTE walking each document's
    * sentence list in order — same sentence regex (\z-anchored: Java and
    * RE2 agree on \z where they disagree on $), same tokenizer, same
    * "new chunk when the budget would overflow" rule. A full
    * cross-engine gate for an operator whose core is imperative.
    */
  val pipelineChunkSentences = NamedQuery(
    "pipeline_chunk_sentences",
    s"""WITH RECURSIVE raw AS (
       |  SELECT doc_id AS id, regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+\\z') AS ss
       |  FROM documents WHERE text IS NOT NULL),
       |sent0 AS (
       |  SELECT id, trim(ss[i]) AS sent, i
       |  FROM raw CROSS JOIN unnest(range(1, len(ss) + 1)) t(i)
       |  WHERE trim(ss[i]) != ''),
       |sent AS (
       |  SELECT id, sent,
       |    row_number() OVER (PARTITION BY id ORDER BY i) AS idx,
       |    len(list_filter(string_split_regex(lower(sent), '[^\\p{L}\\p{N}]+'), t -> t != '')) AS nt
       |  FROM sent0),
       |rec AS (
       |  SELECT id, idx, sent, nt, 0 AS chunk, nt AS cum
       |  FROM sent WHERE idx = 1
       |  UNION ALL
       |  SELECT s.id, s.idx, s.sent, s.nt,
       |    CASE WHEN r.cum + s.nt > 40 THEN r.chunk + 1 ELSE r.chunk END,
       |    CASE WHEN r.cum + s.nt > 40 THEN s.nt ELSE r.cum + s.nt END
       |  FROM rec r JOIN sent s ON s.id = r.id AND s.idx = r.idx + 1)
       |SELECT id, CAST(chunk AS INT) AS chunk_id,
       |  CAST(count(*) AS INT) AS n_sentences,
       |  CAST(sum(nt) AS INT) AS n_tokens,
       |  string_agg(sent, ' ' ORDER BY idx) AS chunk_text
       |FROM rec GROUP BY id, chunk
       |ORDER BY id, chunk_id""".stripMargin) { (s, d) =>
    graft.operators.Chunking.chunkBySentences(
        Tables.documents(s, d), col("doc_id"), col("text"), maxTokens = 40)
      .orderBy("id", "chunk_id")
  }

  /** RAG chunking over the whole corpus: size=64, stride=48 overlapping
    * token windows. Chunk identity and text are pure row properties of
    * the shared tokenizer, so DuckDB replays the FULL chunk set — ids,
    * offsets, and reassembled chunk text. Plan: one narrow per-row
    * explode, zero shuffles before the gate's orderBy.
    */
  val pipelineChunks = NamedQuery(
    "pipeline_chunks",
    s"""WITH tok AS (SELECT doc_id AS id, $rawToksSql AS raw FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT id, raw, len(raw) AS n FROM tok WHERE len(raw) > 0),
       |x AS (SELECT id, raw, n,
       |  CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM c),
       |e AS (SELECT id, raw, n, unnest(range(0, nc)) AS ci FROM x)
       |SELECT id, CAST(ci AS INT) AS chunk_id,
       |  CAST(ci * 48 AS BIGINT) AS tok_start,
       |  CAST(least(64, n - ci * 48) AS BIGINT) AS n_tokens,
       |  array_to_string(raw[ci * 48 + 1 : least(ci * 48 + 64, n)], ' ') AS chunk_text
       |FROM e ORDER BY id, chunk_id""".stripMargin) { (s, d) =>
    graft.operators.Chunking.chunk(
        Tables.documents(s, d), col("doc_id"), col("text"), size = 64, stride = 48)
      .orderBy("id", "chunk_id")
  }

  /** Chunk-level BM25 retrieval — the composed RAG face: chunk the corpus
    * (the pipeline_chunks operator), give every chunk a derivable id, and
    * Okapi-rank CHUNKS for the query, which is what a retrieval pipeline
    * actually serves (a long document's one relevant passage shouldn't be
    * drowned by its length). Pure composition of two gated operators —
    * the chunker feeds bm25 unchanged; both engines re-analyze the
    * space-joined chunk text (an identity re-tokenization, since tokens
    * contain no separators) and collapse scores to float32 before
    * ranking, same as text_bm25.
    */
  val pipelineChunkBm25 = NamedQuery(
    "pipeline_chunk_bm25",
    s"""WITH tok0 AS (SELECT doc_id AS id, $rawToksSql AS raw FROM documents WHERE text IS NOT NULL),
       |c0 AS (SELECT id, raw, len(raw) AS n FROM tok0 WHERE len(raw) > 0),
       |x AS (SELECT id, raw, n,
       |  CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM c0),
       |e AS (SELECT id, raw, n, unnest(range(0, nc)) AS ci FROM x),
       |chunks AS (
       |  SELECT id * 100000 + ci AS cid,
       |    array_to_string(raw[ci * 48 + 1 : least(ci * 48 + 64, n)], ' ') AS chunk_text
       |  FROM e),
       |tok AS (SELECT cid AS id, ${graft.functions.TextAnalyzer.sqlAnalyze("chunk_text")} AS terms FROM chunks),
       |grouped AS (
       |  SELECT id, len(terms) AS dl, term, count(*) AS tf
       |  FROM (SELECT id, terms, unnest(terms) AS term FROM tok)
       |  GROUP BY id, dl, term),
       |stats AS (
       |  SELECT count(*) AS n, CAST(sum(len(terms)) AS DOUBLE) / count(*) AS avgdl
       |  FROM tok),
       |dfreq AS (
       |  SELECT term, count(*) AS df FROM grouped
       |  WHERE term IN ('spark', 'filter', 'merge') GROUP BY term),
       |ranked AS (
       |  SELECT g.id,
       |    CAST(sum(
       |      ln(1 + (n - df + 0.5) / (df + 0.5))
       |        * (CAST(tf AS DOUBLE) * 2.2)
       |        / (CAST(tf AS DOUBLE) + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       |    ) AS REAL) AS score32
       |  FROM grouped g JOIN dfreq USING (term) CROSS JOIN stats
       |  GROUP BY g.id
       |  ORDER BY score32 DESC, g.id ASC LIMIT 20)
       |SELECT id,
       |  CAST(round(CAST(score32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS score_r
       |FROM ranked ORDER BY score_r DESC, id""".stripMargin) { (s, d) =>
    val chunks = graft.operators.Chunking.chunk(
        Tables.documents(s, d), col("doc_id"), col("text"), size = 64, stride = 48)
      .select((col("id") * 100000L + col("chunk_id")).as("cid"), col("chunk_text"))
    TextAnalysis.bm25(chunks, col("cid"), col("chunk_text"),
        queryText = "the spark AND filter, merge!", k = 20)
      .select(col("id"), dround(col("score32"), 4).as("score_r"))
      .orderBy(col("score_r").desc, col("id"))
  }

  val all: Seq[NamedQuery] = Seq(
    textLangId, textQuality, textTokens, textVocab, textFingerprint, textWinnow,
    textProfile,
    pipelineCuration, annKnnJoin, annMatryoshka, annIvfGrid, annIvfPruned,
    annIvfPqFixed, annIvfRbq, annIvfRbqDot,
    q6Sessionize, q7StreamWindow,
    multimodalDecode, multimodalFeatures, multimodalFrames, multimodalAudio,
    multimodalVideo, multimodalResize, multimodalDecodePng, sketchHeavyHitters,
    sketchCardinality, sketchQuantiles, q15StreamSketch, pipelineChunks,
    pipelineChunkBm25, annJlProject, annPcaSpectrum, pipelineChunkSentences,
    s1NearMmr, annMaxsimScore, multimodalPhashPairs, multimodalAudioprintPairs,
    multimodalVideoPairs)
}
