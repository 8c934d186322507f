package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Search
import graft.model._

/** S1/S2 `near` queries over the docs collection, one per distance metric,
  * plus pre-filter and weight variants. Distances are rounded through
  * DECIMAL on both engines and used as the primary order key (with `_id`
  * tie-break) so float accumulation differences can't flip the hash.
  *
  * The query vector is always the embedding of vec_id 0 (deterministic,
  * fetched like a user-supplied query); DuckDB reproduces it with a scalar
  * subquery. Note the collection is documents ⋈ embeddings, so oracles
  * join both tables.
  */
object VectorQueries {

  private val Scale = 4

  /** Run a near search and emit (_id, dist_r, hybrid_r) rounded + re-sorted
    * on the rounded value for cross-engine order stability.
    */
  private def nearQuery(name: String, sql: String)(mk: (org.apache.spark.sql.SparkSession, String) => SearchRequest): NamedQuery =
    NamedQuery(name, sql) { (s, d) =>
      Search.search(TestCollections.docs(s, d), mk(s, d))
        .select(
          col("_id"),
          dround(col("_distance"), Scale).as("dist_r"),
          dround(col("_hybridScore"), Scale).as("hybrid_r"))
        .orderBy(col("dist_r"), col("_id"))
    }

  // dist goes through REAL before ranking/rounding: the engine casts
  // `_distance` to float32 (QueryCompiler.near), so the oracle must round
  // the same 32-bit value — the double and its float32 rounding can
  // straddle a scale-4 boundary (the CAST(.. AS REAL) convention
  // HybridQueries documents). hybrid replays the engine's float multiply.
  private def sqlNear(distExpr: String, k: Int, where: String = "TRUE", weight: Double = 1.0): String =
    s"""WITH q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       |ranked AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS _id, CAST(($distExpr) AS REAL) AS dist32
       |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q
       |  WHERE $where
       |  ORDER BY dist32 ASC, _id ASC LIMIT $k)
       |SELECT _id,
       |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r,
       |  CAST(round(CAST(CAST(CAST(-($weight) AS REAL) * dist32 AS REAL) AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS hybrid_r
       |FROM ranked ORDER BY dist_r, _id""".stripMargin

  val s2NearCosine = nearQuery(
    "s2_near_flat_cosine",
    sqlNear("1.0 - list_sum(list_transform(range(1, 65), t -> CAST(embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE)))", 10))(
    (s, d) => SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10))),
      limit = 100))

  val s1NearVamanaEuclidean = nearQuery(
    "s1_near_vamana_euclidean",
    sqlNear("power(list_distance(embedding, q.v), 2)", 10, weight = 2.0))(
    (s, d) => SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, searchSize = 75, limit = 10,
        weight = Some(2.0f)))),
      limit = 100))

  val s1NearFiltered = nearQuery(
    "s1_near_filtered",
    sqlNear("power(list_distance(embedding, q.v), 2)", 10,
      where = "label BETWEEN 0 AND 4"))(
    (s, d) => SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, searchSize = 75, limit = 10,
        filter = Some(Query("label", integer = Some(IntegerOpts(0, Op.InRange, 4))))))),
      limit = 100))

  val s2NearDot = nearQuery(
    "s2_near_dot",
    sqlNear("-list_sum(list_transform(range(1, 65), t -> CAST(embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE)))", 10))(
    (s, d) => SearchRequest(
      Query("emb_dot", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10))),
      limit = 100))

  val s2NearHamming = nearQuery(
    "s2_near_hamming",
    sqlNear(
      s"""len(list_filter(range(1, len(embedding) + 1),
         |    i -> (embedding[i] > 0) != (q.v[i] > 0)))""".stripMargin, 10))(
    (s, d) => SearchRequest(
      Query("bits", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0).map(x => if (x > 0f) 1.0f else 0.0f),
        Op.Near, 10))),
      limit = 100))

  val s2NearJaccard = nearQuery(
    "s2_near_jaccard",
    sqlNear(
      s"""1.0 - CAST(len(list_filter(range(1, len(embedding) + 1),
         |      i -> (embedding[i] > 0) AND (q.v[i] > 0))) AS DOUBLE)
         |  / nullif(len(list_filter(range(1, len(embedding) + 1),
         |      i -> (embedding[i] > 0) OR (q.v[i] > 0))), 0)""".stripMargin, 10))(
    (s, d) => SearchRequest(
      Query("bits_jac", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0).map(x => if (x > 0f) 1.0f else 0.0f),
        Op.Near, 10))),
      limit = 100))

  val s2NearHaversine = NamedQuery(
    "s2_near_haversine",
    s"""WITH q AS (
       |  SELECT CAST(embedding[1] * 60 AS REAL) AS qlat,
       |         CAST(embedding[2] * 120 AS REAL) AS qlon
       |  FROM embeddings WHERE vec_id = 0),
       |geo AS (
       |  -- stored [lat,lon] is float32, like the engine's column
       |  SELECT CAST(doc_id AS VARCHAR) AS _id,
       |         CAST(embedding[1] * 60 AS REAL) AS lat,
       |         CAST(embedding[2] * 120 AS REAL) AS lon
       |  FROM documents JOIN embeddings ON doc_id = vec_id),
       |ranked AS (
       |  -- REAL before ranking/rounding: the engine's _distance is float32,
       |  -- and at meter scale a float32 ulp is comparable to the scale-1
       |  -- rounding boundary half-width
       |  SELECT _id,
       |    CAST(2.0 * 6371000.0 * asin(sqrt(
       |      pow(sin(radians(CAST(lat AS DOUBLE) - CAST(qlat AS DOUBLE)) / 2), 2)
       |      + cos(radians(CAST(qlat AS DOUBLE))) * cos(radians(CAST(lat AS DOUBLE)))
       |        * pow(sin(radians(CAST(lon AS DOUBLE) - CAST(qlon AS DOUBLE)) / 2), 2))) AS REAL) AS dist32
       |  FROM geo CROSS JOIN q
       |  ORDER BY dist32 ASC, _id ASC LIMIT 10)
       |SELECT _id,
       |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 1) AS DOUBLE) AS dist_r
       |FROM ranked ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val qv = TestCollections.queryVector(s, d, 0)
    val geoQ = Seq(qv(0) * 60.0f, qv(1) * 120.0f)
    Search.search(TestCollections.docs(s, d), SearchRequest(
      Query("geo", vectorFlat = Some(VectorFlatOpts(geoQ, Op.Near, 10))),
      limit = 100))
      .select(col("_id"), dround(col("_distance"), 1).as("dist_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** Engine-level approx `near`: a binary-quantizer artifact (deterministic
    * mean thresholds) attached to the docs collection serves the cosine
    * query as packed-hamming candidates (budget 50 = max(5·limit, 50)) +
    * exact re-rank — the full two-stage pipeline replayed in DuckDB.
    */
  val s2NearBqApprox = NamedQuery(
    "s2_near_bq_approx",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |means AS (
      |  SELECT i, CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY i),
      |th AS (SELECT list(m ORDER BY i) AS t FROM means),
      |q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
      |hd AS (
      |  SELECT c._id, c.embedding,
      |    len(list_filter(range(1, 65),
      |      i -> (CAST(c.embedding[i] AS DOUBLE) > th.t[i])
      |           != (CAST(q.v[i] AS DOUBLE) > th.t[i]))) AS hdist
      |  FROM corpus c CROSS JOIN q CROSS JOIN th),
      |cand AS (SELECT _id, embedding FROM hd ORDER BY hdist ASC, _id ASC LIMIT 50),
      |rr AS (
      |  -- REAL: the engine's stage-2 re-rank distance is float32
      |  SELECT c._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand c CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val base = TestCollections.docs(s, d)
    val th = graft.operators.BinaryQuantizer.fit(base.df, col("embedding"), 64)
    val coll = base.withBinaryVectorIndex("embedding", th)
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** ASYMMETRIC-ADC binary artifact through the engine (round 7): the
    * same two-stage `"approx": true` pipeline as s2_near_bq_approx, but
    * the attach carries the two-sided reconstruction levels, so stage-1
    * candidates rank by Σ (q_i − level_{bit_i,i})² over the packed scan
    * instead of hamming. DuckDB recomputes thresholds, BOTH level
    * tables, the asym candidate cut, and the exact re-rank inline — the
    * full served pipeline, no golden.
    */
  val s2NearBqAsymApprox = NamedQuery(
    "s2_near_bq_asym_approx",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |means AS (
      |  SELECT i, CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY i),
      |th AS (SELECT list(m ORDER BY i) AS t FROM means),
      |lvl AS (
      |  SELECT d.i,
      |    coalesce(CAST(round(sum(CASE WHEN CAST(c.embedding[d.i] AS DOUBLE) <= th.t[d.i]
      |        THEN CAST(c.embedding[d.i] AS DECIMAL(28,6)) END) /
      |      count(CASE WHEN CAST(c.embedding[d.i] AS DOUBLE) <= th.t[d.i] THEN 1 END), 9) AS DOUBLE), th.t[d.i]) AS lo,
      |    coalesce(CAST(round(sum(CASE WHEN CAST(c.embedding[d.i] AS DOUBLE) > th.t[d.i]
      |        THEN CAST(c.embedding[d.i] AS DECIMAL(28,6)) END) /
      |      count(CASE WHEN CAST(c.embedding[d.i] AS DOUBLE) > th.t[d.i] THEN 1 END), 9) AS DOUBLE), th.t[d.i]) AS hi
      |  FROM corpus c CROSS JOIN dims d CROSS JOIN th
      |  GROUP BY d.i, th.t),
      |lv AS (SELECT list(lo ORDER BY i) AS ll, list(hi ORDER BY i) AS lh FROM lvl),
      |q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
      |ad AS (
      |  SELECT c._id, c.embedding,
      |    list_sum(list_transform(range(1, 65), i ->
      |      CASE WHEN CAST(c.embedding[i] AS DOUBLE) > th.t[i]
      |        THEN (CAST(q.v[i] AS DOUBLE) - lv.lh[i]) * (CAST(q.v[i] AS DOUBLE) - lv.lh[i])
      |        ELSE (CAST(q.v[i] AS DOUBLE) - lv.ll[i]) * (CAST(q.v[i] AS DOUBLE) - lv.ll[i]) END)) AS adist
      |  FROM corpus c CROSS JOIN q CROSS JOIN th CROSS JOIN lv),
      |cand AS (SELECT _id, embedding FROM ad ORDER BY adist ASC, _id ASC LIMIT 50),
      |rr AS (
      |  SELECT c._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand c CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val base = TestCollections.docs(s, d)
    val th = graft.operators.BinaryQuantizer.fit(base.df, col("embedding"), 64)
    val levels = graft.operators.BinaryQuantizer.fitLevels(base.df, col("embedding"), 64, th)
    val coll = base.withBinaryVectorIndex("embedding", th, Some(levels))
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** Pre-filter + VAMANA GRAPH artifact through the engine — the
    * reference's OPTIMISTIC filtered graph search
    * (vamana/search.go:27–51): seed with the in-filter points, navigate
    * unfiltered, collect in-filter expanded nodes. The label=3 filter
    * matches 59 ≤ searchSize 75 rows, the reference's too-selective
    * extreme case, where every filtered point is seeded and the result
    * is EXACT by construction — so the exact filtered SQL is a true
    * oracle of the whole seeded-walk + membership-probe + re-rank path.
    */
  val s1NearVamanaFilteredApprox = NamedQuery(
    "s1_near_vamana_filtered_approx",
    sqlNear("power(list_distance(embedding, q.v), 2)", 10,
      where = "label = 3")) { (s, d) =>
    Search.search(TestCollections.docsVamana(s, d), SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, searchSize = 75, limit = 10,
        filter = Some(Query("label", integer = Some(IntegerOpts(3, Op.Equals)))),
        approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** Pre-filter + quantizer artifact TOGETHER through the engine: the
    * approximate path restricts the CANDIDATE SCAN itself (filter-first,
    * reference models/search.go:9–15 — filtered-out rows never consume
    * candidate budget), then hamming ranks top-50 among the surviving
    * rows and the true cosine re-ranks those. The oracle replays the
    * whole pipeline with the label predicate applied before the
    * candidate cut — the same SQL as s2_near_bq_approx plus one WHERE,
    * which is exactly the semantic difference.
    */
  val s1NearFilteredBq = NamedQuery(
    "s1_near_filtered_bq",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding, label
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |means AS (
      |  SELECT i, CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY i),
      |th AS (SELECT list(m ORDER BY i) AS t FROM means),
      |q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
      |hd AS (
      |  SELECT c._id, c.embedding,
      |    len(list_filter(range(1, 65),
      |      i -> (CAST(c.embedding[i] AS DOUBLE) > th.t[i])
      |           != (CAST(q.v[i] AS DOUBLE) > th.t[i]))) AS hdist
      |  FROM corpus c CROSS JOIN q CROSS JOIN th
      |  WHERE c.label BETWEEN 0 AND 4),
      |cand AS (SELECT _id, embedding FROM hd ORDER BY hdist ASC, _id ASC LIMIT 50),
      |rr AS (
      |  SELECT c._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand c CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val base = TestCollections.docs(s, d)
    val th = graft.operators.BinaryQuantizer.fit(base.df, col("embedding"), 64)
    val coll = base.withBinaryVectorIndex("embedding", th)
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10,
        filter = Some(Query("label", integer = Some(IntegerOpts(0, Op.InRange, 4)))),
        approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** Engine-level approx `near` served from the VAMANA GRAPH artifact —
    * the reference's flagship serving path (shard/index/vamana/search.go,
    * the first index every BASELINE.md bench row leads with), previously
    * build-only here: a JSON `"approx": true` vectorVamana query walks
    * the graph with the hop-batched beam (VamanaServe, searchSize 75) and
    * exact-re-ranks the pool. DuckDB cannot replay a graph traversal, but
    * it doesn't need to: at these parameters the beam pool provably
    * contains the exact top-10 (RECALL.md 1.000; VamanaSpec asserts the
    * engine-path recall), so the re-ranked result EQUALS exact `near` and
    * the exact SQL is a true oracle — any beam/graph/serving drift that
    * loses a true neighbor flips the hash.
    */
  val s1NearVamanaApprox = NamedQuery(
    "s1_near_vamana_approx",
    sqlNear("power(list_distance(embedding, q.v), 2)", 10, weight = 1.5)) { (s, d) =>
    Search.search(TestCollections.docsVamana(s, d), SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, searchSize = 75, limit = 10,
        weight = Some(1.5f), approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** Engine-level approx `near` served from a PRODUCT-quantizer artifact:
    * a closed-form codebook (subvectors of the first 8 embeddings — no
    * k-means, so DuckDB can replay the fit) attached to the docs
    * collection answers the cosine query by ADC candidates (budget 50) +
    * exact re-rank. Completes the §2.4 story: both quantizer kinds now
    * have the full engine pipeline under an oracle. The oracle sums the
    * per-subspace table lookups in subspace order (list(... ORDER BY i)),
    * matching the engine's sequential fold.
    */
  val s2NearPqApprox = NamedQuery(
    "s2_near_pq_approx",
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |subs AS (SELECT unnest(range(4)) AS i),
      |cents AS (SELECT unnest(range(8)) AS j),
      |cb AS (
      |  SELECT s.i, c.j, list_slice(e.embedding, s.i*16 + 1, s.i*16 + 16) AS cv
      |  FROM embeddings e, subs s, cents c
      |  WHERE e.vec_id = c.j),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |dists AS (
      |  SELECT co._id, cb.i, cb.j,
      |    list_sum(list_transform(range(1, 17),
      |      t -> (CAST(co.embedding[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE))
      |         * (CAST(co.embedding[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE)))) AS d2
      |  FROM corpus co CROSS JOIN cb),
      |codes AS (
      |  SELECT _id, i, j AS code FROM (
      |    SELECT _id, i, j,
      |      row_number() OVER (PARTITION BY _id, i ORDER BY d2, j) AS rn
      |    FROM dists) WHERE rn = 1),
      |qtab AS (
      |  SELECT cb.i, cb.j,
      |    list_sum(list_transform(range(1, 17),
      |      t -> (CAST(q.qv[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE))
      |         * (CAST(q.qv[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE)))) AS d2
      |  FROM cb CROSS JOIN q),
      |scores AS (
      |  SELECT c._id, list_sum(list(t.d2 ORDER BY t.i)) AS approx
      |  FROM codes c JOIN qtab t ON c.i = t.i AND c.code = t.j
      |  GROUP BY c._id),
      |cand AS (SELECT _id FROM scores ORDER BY approx ASC, _id ASC LIMIT 50),
      |rr AS (
      |  -- REAL: the engine's stage-2 re-rank distance is float32
      |  SELECT co._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(co.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand JOIN corpus co USING (_id) CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val base = TestCollections.docs(s, d)
    val seed = graft.Tables.embeddings(s, d).filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val cents = (0 until 4).map { i =>
      (0 until 8).map(j =>
        java.util.Arrays.copyOfRange(seed(j), i * 16, (i + 1) * 16)).toArray
    }.toArray
    val model = graft.operators.PQModel(m = 4, k = 8, dim = 64, centroids = cents)
    val coll = base.withProductVectorIndex("embedding", model)
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** `"approx": true` served from an OPQ artifact (operators/Opq.scala,
    * Ge et al. 2013) under a CLOSED-FORM model DuckDB can replay end to
    * end: the rotation is the dimension-REVERSAL permutation (orthogonal,
    * so all the OPQ serving arithmetic — rotate corpus vector before
    * encode, rotate query before the ADC table — runs for real), and the
    * rotated-space codebook is the s2_near_pq_approx closed form applied
    * to the REVERSED seed embeddings. The oracle replays rotation
    * (list_reverse), per-(vector, subspace) argmin codes, the rotated
    * query's lookup table, the subspace-ordered fold, the candidate cut,
    * and the exact float32 cosine re-rank on the ORIGINAL vectors —
    * covering every OPQ-specific seam (encode-side rotation, query-side
    * rotation, unrotated re-rank) with no golden. The LEARNED fit stays
    * covered by opq_adc_topk's pinned golden + OpqSpec's recall law.
    */
  val s2NearOpqApprox = NamedQuery(
    "s2_near_opq_approx",
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |subs AS (SELECT unnest(range(4)) AS i),
      |cents AS (SELECT unnest(range(8)) AS j),
      |cb AS (
      |  SELECT s.i, c.j, list_slice(list_reverse(e.embedding), s.i*16 + 1, s.i*16 + 16) AS cv
      |  FROM embeddings e, subs s, cents c
      |  WHERE e.vec_id = c.j),
      |q AS (SELECT list_reverse(embedding) AS qv, embedding AS qraw
      |  FROM embeddings WHERE vec_id = 0),
      |rot AS (SELECT _id, list_reverse(embedding) AS rv FROM corpus),
      |dists AS (
      |  SELECT r._id, cb.i, cb.j,
      |    list_sum(list_transform(range(1, 17),
      |      t -> (CAST(r.rv[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE))
      |         * (CAST(r.rv[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE)))) AS d2
      |  FROM rot r CROSS JOIN cb),
      |codes AS (
      |  SELECT _id, i, j AS code FROM (
      |    SELECT _id, i, j,
      |      row_number() OVER (PARTITION BY _id, i ORDER BY d2, j) AS rn
      |    FROM dists) WHERE rn = 1),
      |qtab AS (
      |  SELECT cb.i, cb.j,
      |    list_sum(list_transform(range(1, 17),
      |      t -> (CAST(q.qv[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE))
      |         * (CAST(q.qv[cb.i*16 + t] AS DOUBLE) - CAST(cb.cv[t] AS DOUBLE)))) AS d2
      |  FROM cb CROSS JOIN q),
      |scores AS (
      |  SELECT c._id, list_sum(list(t.d2 ORDER BY t.i)) AS approx
      |  FROM codes c JOIN qtab t ON c.i = t.i AND c.code = t.j
      |  GROUP BY c._id),
      |cand AS (SELECT _id FROM scores ORDER BY approx ASC, _id ASC LIMIT 50),
      |rr AS (
      |  -- REAL: the engine's stage-2 re-rank distance is float32, on the
      |  -- ORIGINAL (unrotated) vectors and query
      |  SELECT co._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(co.embedding[t] AS DOUBLE) * CAST(q.qraw[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand JOIN corpus co USING (_id) CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val base = TestCollections.docs(s, d)
    val seed = graft.Tables.embeddings(s, d).filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val rev = seed.map(_.reverse)
    val cents = (0 until 4).map { i =>
      (0 until 8).map(j =>
        java.util.Arrays.copyOfRange(rev(j), i * 16, (i + 1) * 16)).toArray
    }.toArray
    val rotation = Array.tabulate(64)(i =>
      Array.tabulate(64)(j => if (j == 63 - i) 1.0 else 0.0))
    val model = graft.operators.Opq.OpqModel(rotation,
      graft.operators.PQModel(m = 4, k = 8, dim = 64, centroids = cents))
    val coll = base.withOpqVectorIndex("embedding", model)
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** `"approx": true` served from the SQ8 SCALAR artifact — the third
    * quantizer kind through the engine (beyond the reference's
    * binary/product pair): per-dim min/max fit, 0..255 grid codes,
    * candidates by reconstructed squared-L2, exact float32 re-rank.
    * DuckDB rebuilds the fit, the codes, and the full two-stage pipeline
    * from raw data — every constant is derived, no golden.
    */
  /** SQL replay of the SQ8 reconstructed-L2 candidate distance (shared by
    * the single-request gate and the batched flat-serving gate): per-dim
    * min/max grid code, reconstruction, squared residual to `q.v`.
    */
  private def sqReconChain: String = (1 to 64).map { i =>
    val code = s"least(greatest(floor((CAST(c.embedding[$i] AS DOUBLE) - mm.lo[$i]) * 255.0 / (mm.hi[$i] - mm.lo[$i]) + 0.5), 0.0), 255.0)"
    val xhat = s"(mm.lo[$i] + $code * ((mm.hi[$i] - mm.lo[$i]) / 255.0))"
    s"(($xhat - CAST(q.v[$i] AS DOUBLE)) * ($xhat - CAST(q.v[$i] AS DOUBLE)))"
  }.mkString(" + ")

  val s2NearSqApprox = {
    val chain = sqReconChain
    NamedQuery(
      "s2_near_sq_approx",
      s"""WITH dims AS (SELECT unnest(range(1, 65)) AS i),
         |corpus AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |mm0 AS (
         |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[i] AS DOUBLE)) AS hi
         |  FROM corpus CROSS JOIN dims GROUP BY i),
         |mm AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM mm0),
         |q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
         |ad AS (
         |  SELECT c._id, c.embedding, ($chain) AS ad
         |  FROM corpus c CROSS JOIN q CROSS JOIN mm),
         |cand AS (SELECT _id, embedding FROM ad ORDER BY ad ASC, _id ASC LIMIT 50),
         |rr AS (
         |  SELECT c._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
         |  FROM cand c CROSS JOIN q),
         |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
         |SELECT _id,
         |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
         |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
         |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
      val coll = TestCollections.docsSq8(s, d)
      Search.search(coll, SearchRequest(
        Query("embedding", vectorFlat = Some(VectorFlatOpts(
          TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
        limit = 100))
        .select(
          col("_id"),
          dround(col("_distance"), Scale).as("dist_r"),
          dround(col("_hybridScore"), Scale).as("hybrid_r"))
        .orderBy(col("dist_r"), col("_id"))
    }
  }

  /** `"approx": true` served from a RaBitQ artifact (operators/
    * RaBitQ.scala — Gao & Long, SIGMOD 2024), the fifth quantizer kind
    * through the engine, under the IDENTITY rotation so DuckDB replays
    * the WHOLE pipeline from raw data: decimal-mean centroid, unit
    * residuals, sign bits, the stored ⟨o,x̄⟩ scalar, the query fold, the
    * unbiased estimator, the candidate cut, and the exact float32 cosine
    * re-rank — no golden. The RANDOM-rotation production fit is covered
    * by rbq_rot_topk's pinned golden + RaBitQSpec's bands, and the store
    * lifecycle by w13_rbq_store_serve.
    */
  val s2NearRbqApprox = NamedQuery(
    "s2_near_rbq_approx",
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |dims AS (SELECT unnest(range(1, 65)) AS i),
      |means AS (
      |  SELECT i, CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY i),
      |cv AS (SELECT list(m ORDER BY i) AS c FROM means),
      |q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
      |qr AS (
      |  SELECT list_transform(range(1, 65), i -> CAST(q.v[i] AS DOUBLE) - cv.c[i]) AS rq
      |  FROM q CROSS JOIN cv),
      |qn AS (SELECT rq, sqrt(list_sum(list_transform(rq, x -> x * x))) AS qnorm FROM qr),
      |qu AS (SELECT list_transform(rq, x -> x / qnorm) AS qp, qnorm FROM qn),
      |enc AS (
      |  SELECT co._id,
      |    list_transform(range(1, 65), i -> CAST(co.embedding[i] AS DOUBLE) - cv.c[i]) AS r
      |  FROM corpus co CROSS JOIN cv),
      |en AS (SELECT _id, r, sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm FROM enc),
      |est AS (
      |  SELECT en._id,
      |    nrm * nrm + qu.qnorm * qu.qnorm - 2 * nrm * qu.qnorm *
      |      ((list_sum(list_transform(range(1, 65),
      |          i -> CASE WHEN en.r[i] > 0 THEN qu.qp[i] ELSE -qu.qp[i] END)) / sqrt(64.0))
      |       / (list_sum(list_transform(en.r, x -> abs(x / en.nrm))) / sqrt(64.0))) AS e
      |  FROM en CROSS JOIN qu),
      |cand AS (SELECT _id FROM est ORDER BY e ASC, _id ASC LIMIT 50),
      |rr AS (
      |  -- REAL: the engine's stage-2 re-rank distance is float32
      |  SELECT co._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(co.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand JOIN corpus co USING (_id) CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val base = TestCollections.docs(s, d)
    val model = graft.operators.RaBitQ.fitIdentity(base.df, col("embedding"), 64)
    val coll = base.withRbqVectorIndex("embedding", model)
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** `"approx": true` served from an IVF-RaBitQ artifact
    * (operators/IvfRbq.scala — partition-pruned probes + per-cell 1-bit
    * estimators), fully replayed by DuckDB under the closed-form
    * configuration: sign cells, per-cell decimal-mean centroids, identity
    * rotation. The oracle recomputes cell assignment, probe ranking,
    * residual codes, the per-cell estimator, the budget-50 cut, and the
    * exact float32 cosine re-rank — the ann_ivf_rbq pipeline THROUGH the
    * engine's serving path (attach, QueryCompiler routing, re-rank
    * staging). No golden.
    */
  val s2NearIvfRbqApprox = NamedQuery(
    "s2_near_ivfrbq_approx",
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding,
      |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |dims AS (SELECT unnest(range(1, 65)) AS i),
      |cmeans AS (
      |  SELECT bucket, i,
      |    CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
      |  FROM corpus CROSS JOIN dims GROUP BY bucket, i),
      |cents AS (SELECT bucket, list(m ORDER BY i) AS c FROM cmeans GROUP BY bucket),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
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
      |  SELECT co._id, co.bucket, co.embedding,
      |    list_transform(range(1, 65), i -> CAST(co.embedding[i] AS DOUBLE) - p.c[i]) AS r
      |  FROM corpus co JOIN probe p USING (bucket)),
      |en AS (SELECT _id, bucket, embedding, r,
      |  sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm FROM enc),
      |est AS (
      |  SELECT en._id,
      |    CASE WHEN en.nrm = 0 THEN qu.qnorm * qu.qnorm
      |    ELSE nrm * nrm + qu.qnorm * qu.qnorm - 2 * nrm * qu.qnorm *
      |      ((list_sum(list_transform(range(1, 65),
      |          i -> CASE WHEN en.r[i] > 0 THEN qu.qp[i] ELSE -qu.qp[i] END)) / sqrt(64.0))
      |       / (list_sum(list_transform(en.r, x -> abs(x / en.nrm))) / sqrt(64.0)))
      |    END AS e
      |  FROM en JOIN qu ON en.bucket = qu.bucket),
      |cand AS (SELECT _id FROM est ORDER BY e ASC, _id ASC LIMIT 50),
      |rr AS (
      |  SELECT co._id, CAST(1.0 - list_sum(list_transform(range(1, 65),
      |    t -> CAST(co.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS REAL) AS dist32
      |  FROM cand JOIN corpus co USING (_id) CROSS JOIN q),
      |top AS (SELECT _id, dist32 FROM rr ORDER BY dist32 ASC, _id ASC LIMIT 10)
      |SELECT _id,
      |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), 4) AS DOUBLE) AS dist_r,
      |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), 4) AS DOUBLE) AS hybrid_r
      |FROM top ORDER BY dist_r, _id""".stripMargin) { (s, d) =>
    val coll = TestCollections.docsIvfRbq(s, d)
    Search.search(coll, SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, 0), Op.Near, 10, approx = true))),
      limit = 100))
      .select(
        col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
      .orderBy(col("dist_r"), col("_id"))
  }

  /** BATCHED Vamana serving (round 7): five queries walk the graph
    * CONCURRENTLY through VamanaServe.beamCandidateGidsBatch — per round
    * the frontiers union into one fused lookup, so a serving batch costs
    * ~hops lookups total (zero in the local fast-path regime), not
    * Q×hops. Each query's pool is provably identical to its independent
    * walk (VamanaServeSpec pool-equality), and at beam 75 each pool
    * contains that query's exact top-10 — so the per-query exact re-rank
    * equals exact `near` and DuckDB's windowed per-query top-10 is a
    * true oracle for the whole batch.
    */
  val s1NearVamanaBatch = NamedQuery(
    "s1_near_vamana_batch",
    s"""WITH q AS (SELECT vec_id AS qi, embedding AS v FROM embeddings WHERE vec_id <= 4),
       |ranked AS (
       |  SELECT q.qi, CAST(doc_id AS VARCHAR) AS _id,
       |    CAST(power(list_distance(embedding, q.v), 2) AS REAL) AS dist32,
       |    row_number() OVER (PARTITION BY q.qi
       |      ORDER BY CAST(power(list_distance(embedding, q.v), 2) AS REAL) ASC,
       |               CAST(doc_id AS VARCHAR) ASC) AS rn
       |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q)
       |SELECT CAST(qi AS BIGINT) AS qi, _id,
       |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r
       |FROM ranked WHERE rn <= 10 ORDER BY qi, dist_r, _id""".stripMargin) { (s, d) =>
    import graft.engine.{VamanaServe, VamanaVectorIndex}
    import graft.functions.Distances
    val coll = TestCollections.docsVamana(s, d)
    val idx = coll.vectorIndexes("vec_l2").asInstanceOf[VamanaVectorIndex]
    val qvs = (0L to 4L).map(i => TestCollections.queryVector(s, d, i))
    val pools = VamanaServe.beamCandidateGidsBatch(
      idx.serving, graft.model.IndexKind.Metric.Euclidean, qvs,
      searchSize = 75, entry = idx.entry, maxHops = idx.maxHops, local = idx.local)
    qvs.zip(pools).zipWithIndex.map { case ((qv, pool), qi) =>
      idx.serving.filter(col("_gid").isin(pool: _*))
        .select(lit(qi.toLong).as("qi"), col("_id"),
          Distances.distanceToQuery(
            graft.model.IndexKind.Metric.Euclidean, col("_vec"), qv)
            .cast("float").as("dist32"))
        .orderBy(col("dist32").asc, col("_id").asc)
        .limit(10)
    }.reduce(_ unionAll _)
      .select(col("qi"), col("_id"), dround(col("dist32"), Scale).as("dist_r"))
      .orderBy("qi", "dist_r", "_id")
  }

  /** Batch-amortized ENGINE serving (round 11): five complete
    * SearchRequests go through Search.searchMany in ONE call — the full
    * pipeline (validate → batched walk → exact re-rank → backfill → sort
    * → page) per request, with the five graph walks advancing as a single
    * hop-fused wave and ONE fused gid→id lookup for the whole group.
    * Results are per-request identical to five independent Search.search
    * calls (SearchManySpec law), so the windowed per-query exact top-10
    * (the s1_near_vamana_batch oracle argument: at beam 75 each pool
    * contains its query's exact top-10) is a true oracle; hybrid replays
    * the engine's float multiply like sqlNear.
    */
  val s1NearVamanaMany = NamedQuery(
    "s1_near_vamana_many",
    s"""WITH q AS (SELECT vec_id AS qi, embedding AS v FROM embeddings WHERE vec_id <= 4),
       |ranked AS (
       |  SELECT q.qi, CAST(doc_id AS VARCHAR) AS _id,
       |    CAST(power(list_distance(embedding, q.v), 2) AS REAL) AS dist32,
       |    row_number() OVER (PARTITION BY q.qi
       |      ORDER BY CAST(power(list_distance(embedding, q.v), 2) AS REAL) ASC,
       |               CAST(doc_id AS VARCHAR) ASC) AS rn
       |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q)
       |SELECT CAST(qi AS BIGINT) AS qi, _id,
       |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r,
       |  CAST(round(CAST(CAST(CAST(-1.5 AS REAL) * dist32 AS REAL) AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS hybrid_r
       |FROM ranked WHERE rn <= 10 ORDER BY qi, dist_r, _id""".stripMargin) { (s, d) =>
    val coll = TestCollections.docsVamana(s, d)
    val reqs = (0L to 4L).map(i => SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        TestCollections.queryVector(s, d, i), Op.Near, searchSize = 75,
        limit = 10, weight = Some(1.5f), approx = true))),
      limit = 100))
    Search.searchMany(coll, reqs).zipWithIndex.map { case (df, qi) =>
      df.select(lit(qi.toLong).as("qi"), col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
    }.reduce(_ unionAll _)
      .orderBy("qi", "dist_r", "_id")
  }

  /** Batch-amortized FLAT serving (round 11): five complete vectorFlat
    * `"approx": true` requests through Search.searchMany in ONE call —
    * the group's five SQ8 candidate scans fuse into a single codegen'd
    * pass over the encoded frame (QueryCompiler.compileFlatMany) with a
    * bounded per-query top-50 (TopKStrAgg), then the shared exact
    * re-rank per request. Results are per-request identical to five
    * independent searches (SearchManySpec flat law), and the oracle
    * replays the ENTIRE quantized pipeline in SQL per query — min/max
    * grid, reconstructed-L2 candidate cut at budget 50 (windowed per
    * query), exact float32 cosine re-rank — so the gate is exact with no
    * golden.
    */
  val s2NearFlatMany = {
    val chain = sqReconChain
    NamedQuery(
      "s2_near_flat_many",
      s"""WITH dims AS (SELECT unnest(range(1, 65)) AS i),
         |corpus AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |mm0 AS (
         |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[i] AS DOUBLE)) AS hi
         |  FROM corpus CROSS JOIN dims GROUP BY i),
         |mm AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM mm0),
         |q AS (SELECT vec_id AS qi, embedding AS v FROM embeddings WHERE vec_id <= 4),
         |ad AS (
         |  SELECT q.qi, c._id, c.embedding, ($chain) AS ad
         |  FROM corpus c CROSS JOIN q CROSS JOIN mm),
         |cand AS (
         |  SELECT qi, _id, embedding FROM (
         |    SELECT qi, _id, embedding,
         |      row_number() OVER (PARTITION BY qi ORDER BY ad ASC, _id ASC) AS rn
         |    FROM ad) WHERE rn <= 50),
         |rr AS (
         |  SELECT c.qi, c._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
         |  FROM cand c JOIN q ON c.qi = q.qi),
         |top AS (
         |  SELECT qi, _id, dist32 FROM (
         |    SELECT qi, _id, dist32,
         |      row_number() OVER (PARTITION BY qi ORDER BY dist32 ASC, _id ASC) AS rn
         |    FROM rr) WHERE rn <= 10)
         |SELECT CAST(qi AS BIGINT) AS qi, _id,
         |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r,
         |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS hybrid_r
         |FROM top ORDER BY qi, dist_r, _id""".stripMargin) { (s, d) =>
      val coll = TestCollections.docsSq8(s, d)
      val reqs = (0L to 4L).map(i => SearchRequest(
        Query("embedding", vectorFlat = Some(VectorFlatOpts(
          TestCollections.queryVector(s, d, i), Op.Near, 10, approx = true))),
        limit = 100))
      Search.searchMany(coll, reqs).zipWithIndex.map { case (df, qi) =>
        df.select(lit(qi.toLong).as("qi"), col("_id"),
          dround(col("_distance"), Scale).as("dist_r"),
          dround(col("_hybridScore"), Scale).as("hybrid_r"))
      }.reduce(_ unionAll _)
        .orderBy("qi", "dist_r", "_id")
    }
  }

  /** Batch-amortized FILTERED flat serving (round 12): three filtered
    * `"approx": true` vectorFlat requests with EQUAL filters through
    * Search.searchMany in ONE call — the group shares one
    * filter-RESTRICTED fused candidate scan (QueryCompiler.compileFlatMany
    * with the group's filter; filtered-out rows never consume candidate
    * budget, the reference's filter-first placement), then the bounded
    * per-query top-50 and the shared exact re-rank. Per-request results
    * equal independent searches (SearchManySpec equal-filter flat law);
    * the oracle replays the whole pipeline per query with the filter as
    * one WHERE on the candidate scan — the fit (min/max grid) stays
    * corpus-wide, exactly like the attached artifact.
    */
  val s2NearFilteredMany = {
    val chain = sqReconChain
    NamedQuery(
      "s2_near_filtered_many",
      s"""WITH dims AS (SELECT unnest(range(1, 65)) AS i),
         |corpus AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding, label
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |mm0 AS (
         |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[i] AS DOUBLE)) AS hi
         |  FROM corpus CROSS JOIN dims GROUP BY i),
         |mm AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM mm0),
         |q AS (SELECT vec_id AS qi, embedding AS v FROM embeddings WHERE vec_id <= 2),
         |ad AS (
         |  SELECT q.qi, c._id, c.embedding, ($chain) AS ad
         |  FROM corpus c CROSS JOIN q CROSS JOIN mm
         |  WHERE c.label BETWEEN 0 AND 4),
         |cand AS (
         |  SELECT qi, _id, embedding FROM (
         |    SELECT qi, _id, embedding,
         |      row_number() OVER (PARTITION BY qi ORDER BY ad ASC, _id ASC) AS rn
         |    FROM ad) WHERE rn <= 50),
         |rr AS (
         |  SELECT c.qi, c._id, CAST(1.0 - list_sum(list_transform(range(1, 65), t -> CAST(c.embedding[t] AS DOUBLE) * CAST(q.v[t] AS DOUBLE))) AS REAL) AS dist32
         |  FROM cand c JOIN q ON c.qi = q.qi),
         |top AS (
         |  SELECT qi, _id, dist32 FROM (
         |    SELECT qi, _id, dist32,
         |      row_number() OVER (PARTITION BY qi ORDER BY dist32 ASC, _id ASC) AS rn
         |    FROM rr) WHERE rn <= 10)
         |SELECT CAST(qi AS BIGINT) AS qi, _id,
         |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r,
         |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS hybrid_r
         |FROM top ORDER BY qi, dist_r, _id""".stripMargin) { (s, d) =>
      val coll = TestCollections.docsSq8(s, d)
      val f = Some(Query("label", integer = Some(IntegerOpts(0, Op.InRange, 4))))
      val reqs = (0L to 2L).map(i => SearchRequest(
        Query("embedding", vectorFlat = Some(VectorFlatOpts(
          TestCollections.queryVector(s, d, i), Op.Near, 10,
          filter = f, approx = true))),
        limit = 100))
      Search.searchMany(coll, reqs).zipWithIndex.map { case (df, qi) =>
        df.select(lit(qi.toLong).as("qi"), col("_id"),
          dround(col("_distance"), Scale).as("dist_r"),
          dround(col("_hybridScore"), Scale).as("hybrid_r"))
      }.reduce(_ unionAll _)
        .orderBy("qi", "dist_r", "_id")
    }
  }

  /** Batch-amortized IVF serving (round 12): five `"approx": true`
    * vectorFlat requests against ONE attached IVF-RaBitQ artifact go
    * through Search.searchMany in ONE call — the five candidate scans
    * fuse into a single pass over the UNION of the five probe sets, with
    * each query's estimator column guarded to its OWN probed cells
    * (QueryCompiler.compileFlatMany's IVF branch: per-query partition
    * pruning survives batching), then the bounded per-query top-50
    * (TopKStrMultiAgg) and the shared exact re-rank per request.
    * Results are per-request identical to five independent searches
    * (SearchManySpec IVF laws); the oracle replays the ENTIRE pipeline
    * per query in SQL under the closed-form configuration — sign cells,
    * decimal-mean centroids, identity rotation, per-query probe ranking
    * (windowed), residual 1-bit estimator, budget-50 cut, exact float32
    * cosine re-rank. No golden.
    */
  val s2NearIvfMany = NamedQuery(
    "s2_near_ivf_many",
    s"""WITH corpus AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS _id, embedding,
       |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
       |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
       |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
       |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
       |  FROM documents JOIN embeddings ON doc_id = vec_id),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |cmeans AS (
       |  SELECT bucket, i,
       |    CAST(round(sum(CAST(embedding[i] AS DECIMAL(28,6))) / count(embedding[i]), 9) AS DOUBLE) AS m
       |  FROM corpus CROSS JOIN dims GROUP BY bucket, i),
       |cents AS (SELECT bucket, list(m ORDER BY i) AS c FROM cmeans GROUP BY bucket),
       |q AS (SELECT vec_id AS qi, embedding AS qv FROM embeddings WHERE vec_id <= 4),
       |pr0 AS (
       |  SELECT q.qi, ct.bucket, ct.c,
       |    row_number() OVER (PARTITION BY q.qi
       |      ORDER BY list_sum(list_transform(range(1, 65),
       |          i -> (CAST(q.qv[i] AS DOUBLE) - ct.c[i]) * (CAST(q.qv[i] AS DOUBLE) - ct.c[i]))) ASC,
       |        ct.bucket ASC) AS prn
       |  FROM cents ct CROSS JOIN q),
       |probe AS (SELECT qi, bucket, c FROM pr0 WHERE prn <= 4),
       |qr AS (
       |  SELECT p.qi, p.bucket,
       |    list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) - p.c[i]) AS rq
       |  FROM probe p JOIN q ON p.qi = q.qi),
       |qn AS (SELECT qi, bucket, rq, sqrt(list_sum(list_transform(rq, x -> x * x))) AS qnorm FROM qr),
       |qu AS (SELECT qi, bucket, list_transform(rq, x -> x / qnorm) AS qp, qnorm FROM qn),
       |enc AS (
       |  SELECT p.qi, co._id, co.bucket, co.embedding,
       |    list_transform(range(1, 65), i -> CAST(co.embedding[i] AS DOUBLE) - p.c[i]) AS r
       |  FROM corpus co JOIN probe p USING (bucket)),
       |en AS (SELECT qi, _id, bucket, embedding, r,
       |  sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm FROM enc),
       |est AS (
       |  SELECT en.qi, en._id,
       |    CASE WHEN en.nrm = 0 THEN qu.qnorm * qu.qnorm
       |    ELSE nrm * nrm + qu.qnorm * qu.qnorm - 2 * nrm * qu.qnorm *
       |      ((list_sum(list_transform(range(1, 65),
       |          i -> CASE WHEN en.r[i] > 0 THEN qu.qp[i] ELSE -qu.qp[i] END)) / sqrt(64.0))
       |       / (list_sum(list_transform(en.r, x -> abs(x / en.nrm))) / sqrt(64.0)))
       |    END AS e
       |  FROM en JOIN qu ON en.qi = qu.qi AND en.bucket = qu.bucket),
       |cand AS (
       |  SELECT qi, _id FROM (
       |    SELECT qi, _id,
       |      row_number() OVER (PARTITION BY qi ORDER BY e ASC, _id ASC) AS rn
       |    FROM est) WHERE rn <= 50),
       |rr AS (
       |  SELECT c.qi, c._id, CAST(1.0 - list_sum(list_transform(range(1, 65),
       |    t -> CAST(co.embedding[t] AS DOUBLE) * CAST(q.qv[t] AS DOUBLE))) AS REAL) AS dist32
       |  FROM cand c JOIN corpus co USING (_id) JOIN q ON c.qi = q.qi),
       |top AS (
       |  SELECT qi, _id, dist32 FROM (
       |    SELECT qi, _id, dist32,
       |      row_number() OVER (PARTITION BY qi ORDER BY dist32 ASC, _id ASC) AS rn
       |    FROM rr) WHERE rn <= 10)
       |SELECT CAST(qi AS BIGINT) AS qi, _id,
       |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r,
       |  CAST(round(CAST(CAST(-1.0 * dist32 AS REAL) AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS hybrid_r
       |FROM top ORDER BY qi, dist_r, _id""".stripMargin) { (s, d) =>
    val coll = TestCollections.docsIvfRbq(s, d)
    val reqs = (0L to 4L).map(i => SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        TestCollections.queryVector(s, d, i), Op.Near, 10, approx = true))),
      limit = 100))
    Search.searchMany(coll, reqs).zipWithIndex.map { case (df, qi) =>
      df.select(lit(qi.toLong).as("qi"), col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
    }.reduce(_ unionAll _)
      .orderBy("qi", "dist_r", "_id")
  }

  /** Batch-amortized FILTERED graph serving (round 12): five filtered
    * `"approx": true` vectorVamana requests with the SAME filter go
    * through Search.searchMany in ONE call — the group shares the
    * filter's compiled match set, the in-filter seed set, and the
    * membership verdict cache across one hop-fused wave
    * (VamanaServe.beamCandidateGidsFilteredBatch). The label=3 filter
    * matches ≤ searchSize points, so every request is served EXACTLY by
    * the optimistic-seeding construction (the s1_near_vamana_filtered_
    * approx argument) and the windowed exact filtered SQL is a true
    * oracle for the whole batch; per-request identity to independent
    * searches is the SearchManySpec equal-filter law.
    */
  val s1NearFilteredMany = NamedQuery(
    "s1_near_filtered_many",
    s"""WITH q AS (SELECT vec_id AS qi, embedding AS v FROM embeddings WHERE vec_id <= 4),
       |ranked AS (
       |  SELECT q.qi, CAST(doc_id AS VARCHAR) AS _id,
       |    CAST(power(list_distance(embedding, q.v), 2) AS REAL) AS dist32,
       |    row_number() OVER (PARTITION BY q.qi
       |      ORDER BY CAST(power(list_distance(embedding, q.v), 2) AS REAL) ASC,
       |               CAST(doc_id AS VARCHAR) ASC) AS rn
       |  FROM documents JOIN embeddings ON doc_id = vec_id CROSS JOIN q
       |  WHERE label = 3)
       |SELECT CAST(qi AS BIGINT) AS qi, _id,
       |  CAST(round(CAST(dist32 AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS dist_r,
       |  CAST(round(CAST(CAST(CAST(-1.5 AS REAL) * dist32 AS REAL) AS DECIMAL(28,6)), $Scale) AS DOUBLE) AS hybrid_r
       |FROM ranked WHERE rn <= 10 ORDER BY qi, dist_r, _id""".stripMargin) { (s, d) =>
    val coll = TestCollections.docsVamana(s, d)
    val reqs = (0L to 4L).map(i => SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        TestCollections.queryVector(s, d, i), Op.Near, searchSize = 75,
        limit = 10, weight = Some(1.5f),
        filter = Some(Query("label", integer = Some(IntegerOpts(3, Op.Equals)))),
        approx = true))),
      limit = 100))
    Search.searchMany(coll, reqs).zipWithIndex.map { case (df, qi) =>
      df.select(lit(qi.toLong).as("qi"), col("_id"),
        dround(col("_distance"), Scale).as("dist_r"),
        dround(col("_hybridScore"), Scale).as("hybrid_r"))
    }.reduce(_ unionAll _)
      .orderBy("qi", "dist_r", "_id")
  }

  val all: Seq[NamedQuery] = Seq(
    s2NearCosine, s1NearVamanaEuclidean, s1NearFiltered, s2NearDot,
    s2NearHamming, s2NearJaccard, s2NearHaversine, s2NearBqApprox,
    s2NearPqApprox, s1NearVamanaApprox, s1NearVamanaFilteredApprox,
    s1NearFilteredBq, s2NearSqApprox, s1NearVamanaBatch, s2NearBqAsymApprox,
    s2NearOpqApprox, s2NearRbqApprox, s2NearIvfRbqApprox, s1NearVamanaMany,
    s2NearFlatMany, s2NearIvfMany, s1NearFilteredMany, s2NearFilteredMany)
}
