package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Search
import graft.functions.TextAnalyzer
import graft.model._

/** S3 text-search queries: tf-idf scored containsAny / containsAll with
  * analyzer parity (tokenize + lowercase + stopword removal replicated in
  * the DuckDB oracle), plus a pre-filtered variant.
  *
  * Score determinism across engines: the engine surfaces float32 scores
  * (like the reference); the oracle casts its double score to REAL before
  * rounding so both sides round the same 32-bit value.
  */
object TextQueries {

  /** Oracle CTE scaffolding shared by the text queries. `terms` must be the
    * already-analyzed query terms (the Scala side analyzes at query build).
    */
  private def sqlText(terms: Seq[String], having: String, where: String, k: Int): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS _id, lang,
       |         ${TextAnalyzer.sqlAnalyze("text")} AS terms
       |  FROM documents JOIN embeddings ON doc_id = vec_id),
       |posts AS (
       |  SELECT _id, lang, len(terms) AS doclen, unnest(terms) AS term FROM tok),
       |grouped AS (
       |  SELECT _id, lang, doclen, term, count(*) AS freq
       |  FROM posts GROUP BY _id, lang, doclen, term),
       |stats AS (SELECT count(*) AS numdocs FROM tok),
       |dfreq AS (
       |  SELECT term, count(*) AS df FROM grouped
       |  WHERE term IN ($termList) GROUP BY term),
       |scored AS (
       |  SELECT g._id, g.lang, count(*) AS nterms,
       |    sum((CAST(g.freq AS DOUBLE) / g.doclen)
       |        * log10(CAST(numdocs AS DOUBLE) / (d.df + 1))) AS score
       |  FROM grouped g JOIN dfreq d USING (term) CROSS JOIN stats
       |  GROUP BY g._id, g.lang),
       |ranked AS (
       |  SELECT _id, CAST(score AS REAL) AS score32 FROM scored
       |  WHERE ($having) AND ($where)
       |  ORDER BY score DESC, _id ASC LIMIT $k)
       |SELECT _id,
       |  CAST(round(CAST(score32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS score_r
       |FROM ranked ORDER BY score_r DESC, _id""".stripMargin
  }

  private def textQuery(name: String, sql: String)(req: SearchRequest): NamedQuery =
    NamedQuery(name, sql) { (s, d) =>
      Search.search(TestCollections.docs(s, d), req)
        .select(col("_id"), dround(col("_score"), 4).as("score_r"))
        .orderBy(col("score_r").desc, col("_id"))
    }

  // "the spark AND filter, merge!" analyzes to [spark, filter, merge] —
  // exercises tokenizer + stopword removal on the query side too.
  val s3ContainsAny = textQuery(
    "s3_text_containsany",
    sqlText(Seq("spark", "filter", "merge"), "TRUE", "TRUE", 10))(
    SearchRequest(
      Query("text", text = Some(TextOpts("the spark AND filter, merge!", Op.ContainsAny, 10))),
      limit = 100))

  val s3ContainsAll = textQuery(
    "s3_text_containsall",
    sqlText(Seq("spark", "window"), "nterms = 2", "TRUE", 10))(
    SearchRequest(
      Query("text", text = Some(TextOpts("spark window", Op.ContainsAll, 10))),
      limit = 100))

  val s3Filtered = textQuery(
    "s3_text_filtered",
    sqlText(Seq("vector", "table"), "TRUE", "lang = 'de'", 10))(
    SearchRequest(
      Query("text", text = Some(TextOpts("vector table", Op.ContainsAny, 10,
        filter = Some(Query("lang", string = Some(StringOpts("de", Op.Equals))))))),
      limit = 100))

  /** BM25 top-20 over `documents` for an analyzed 3-term query — the
    * Okapi successor to the reference's tf-idf weighting, same analyzed
    * postings. Both engines collapse the double score sum to float32
    * BEFORE ranking and rounding (see TextAnalysis.bm25), which is what
    * makes the cross-engine hash exact despite per-term addition order.
    */
  val textBm25 = NamedQuery(
    "text_bm25",
    s"""WITH tok AS (
       |  SELECT doc_id AS id, ${TextAnalyzer.sqlAnalyze("text")} AS terms
       |  FROM documents WHERE text IS NOT NULL),
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
    graft.operators.TextAnalysis.bm25(
        graft.Tables.documents(s, d), col("doc_id"), col("text"),
        queryText = "the spark AND filter, merge!", k = 20)
      .select(col("id"), dround(col("score32"), 4).as("score_r"))
      .orderBy(col("score_r").desc, col("id"))
  }

  /** Batch-amortized TEXT serving (round 12): three complete text
    * requests — mixed containsAny/containsAll, limits and weights — go
    * through Search.searchMany in ONE call: the group shares one
    * postings restriction (union of all query terms), one fused
    * per-doc conditional-scoring aggregate and one bounded
    * per-query top-k (QueryCompiler.compileTextMany). Results are
    * per-request identical to independent searches (SearchManySpec text
    * laws, 4-decimal rounding — the float32 cast absorbs per-term sum
    * order); the oracle replays each request's full tf-idf pipeline over
    * SHARED tokenization CTEs, windowed by request, same analyzer parity
    * and REAL-cast convention as the single-text gates.
    */
  val s3TextMany = NamedQuery(
    "s3_text_many",
    s"""WITH tok AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS _id,
       |         ${TextAnalyzer.sqlAnalyze("text")} AS terms
       |  FROM documents JOIN embeddings ON doc_id = vec_id),
       |posts AS (
       |  SELECT _id, len(terms) AS doclen, unnest(terms) AS term FROM tok),
       |grouped AS (
       |  SELECT _id, doclen, term, count(*) AS freq
       |  FROM posts GROUP BY _id, doclen, term),
       |stats AS (SELECT count(*) AS numdocs FROM tok),
       |df0 AS (SELECT term, count(*) AS df FROM grouped
       |  WHERE term IN ('spark', 'filter', 'merge') GROUP BY term),
       |sc0 AS (SELECT g._id, count(*) AS nterms,
       |    sum((CAST(g.freq AS DOUBLE) / g.doclen)
       |        * log10(CAST(numdocs AS DOUBLE) / (d.df + 1))) AS score
       |  FROM grouped g JOIN df0 d USING (term) CROSS JOIN stats GROUP BY g._id),
       |rk0 AS (SELECT _id, CAST(score AS REAL) AS score32 FROM sc0
       |  ORDER BY score DESC, _id ASC LIMIT 10),
       |df1 AS (SELECT term, count(*) AS df FROM grouped
       |  WHERE term IN ('spark', 'window') GROUP BY term),
       |sc1 AS (SELECT g._id, count(*) AS nterms,
       |    sum((CAST(g.freq AS DOUBLE) / g.doclen)
       |        * log10(CAST(numdocs AS DOUBLE) / (d.df + 1))) AS score
       |  FROM grouped g JOIN df1 d USING (term) CROSS JOIN stats GROUP BY g._id),
       |rk1 AS (SELECT _id, CAST(score AS REAL) AS score32 FROM sc1
       |  WHERE nterms = 2 ORDER BY score DESC, _id ASC LIMIT 7),
       |df2 AS (SELECT term, count(*) AS df FROM grouped
       |  WHERE term IN ('vector', 'table') GROUP BY term),
       |sc2 AS (SELECT g._id, count(*) AS nterms,
       |    sum((CAST(g.freq AS DOUBLE) / g.doclen)
       |        * log10(CAST(numdocs AS DOUBLE) / (d.df + 1))) AS score
       |  FROM grouped g JOIN df2 d USING (term) CROSS JOIN stats GROUP BY g._id),
       |rk2 AS (SELECT _id, CAST(score AS REAL) AS score32 FROM sc2
       |  ORDER BY score DESC, _id ASC LIMIT 5)
       |SELECT CAST(qi AS BIGINT) AS qi, _id,
       |  CAST(round(CAST(score32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS score_r,
       |  CAST(round(CAST(hy32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
       |FROM (
       |  SELECT 0 AS qi, _id, score32,
       |    CAST(CAST(1.0 AS REAL) * score32 AS REAL) AS hy32 FROM rk0
       |  UNION ALL SELECT 1, _id, score32,
       |    CAST(CAST(2.0 AS REAL) * score32 AS REAL) FROM rk1
       |  UNION ALL SELECT 2, _id, score32,
       |    CAST(CAST(0.5 AS REAL) * score32 AS REAL) FROM rk2)
       |ORDER BY qi, score_r DESC, _id""".stripMargin) { (s, d) =>
    val reqs = Seq(
      SearchRequest(Query("text", text = Some(TextOpts(
        "the spark AND filter, merge!", Op.ContainsAny, 10))), limit = 100),
      SearchRequest(Query("text", text = Some(TextOpts(
        "spark window", Op.ContainsAll, 7, weight = Some(2.0f)))), limit = 100),
      SearchRequest(Query("text", text = Some(TextOpts(
        "vector table", Op.ContainsAny, 5, weight = Some(0.5f)))), limit = 100))
    Search.searchMany(TestCollections.docs(s, d), reqs).zipWithIndex.map {
      case (df, qi) =>
        df.select(lit(qi.toLong).as("qi"), col("_id"),
          dround(col("_score"), 4).as("score_r"),
          dround(col("_hybridScore"), 4).as("hybrid_r"))
    }.reduce(_ unionAll _)
      .orderBy(col("qi"), col("score_r").desc, col("_id"))
  }

  val all: Seq[NamedQuery] = Seq(s3ContainsAny, s3ContainsAll, s3Filtered,
    textBm25, s3TextMany)
}
