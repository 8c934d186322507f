package graft

import org.apache.spark.sql.functions._
import graft.engine.Search
import graft.model._

/** Laws for the batch-amortized serving face (round-11 verdict item #4):
  * Search.searchMany must be REQUEST-FOR-REQUEST identical to K
  * independent Search.search calls (each a batch of one), and its text
  * scores equal a driver-side brute-force tf-idf — the batch is a cost optimization
  * (one hop-fused walk wave + one fused gid→id lookup per group), never a
  * semantics change — across batchable requests, non-batchable fallbacks,
  * and mixed batches.
  */
class SearchManySpec extends SparkSuite {

  lazy val coll = queries.TestCollections.docsVamana(spark, sf0001)

  private def vamanaReq(qi: Long, limit: Int = 10, weight: Float = 1.5f,
      searchSize: Int = 75, filter: Option[Query] = None) = SearchRequest(
    Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
      queries.TestCollections.queryVector(spark, sf0001, qi), Op.Near,
      searchSize = searchSize, limit = limit, weight = Some(weight),
      approx = true, filter = filter))),
    limit = 100)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("_id"), col("_distance").cast("string"),
      col("_hybridScore").cast("string"))
      .collect().map(_.mkString("|")).sorted.toSeq

  test("searchMany == K independent searches (uniform batchable batch)") {
    val reqs = (0L to 4L).map(vamanaReq(_))
    val batch = Search.searchMany(coll, reqs)
    assert(batch.size == reqs.size)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(coll, r)), s"drift for $r")
    }
  }

  test("searchMany == K independent searches (mixed limits/weights → distinct budget groups)") {
    // limit 40 forces budget max(75, 80) = 80 ≠ 75: two walk groups
    val reqs = Seq(vamanaReq(0L), vamanaReq(1L, limit = 40, weight = 2.0f),
      vamanaReq(2L, searchSize = 60))
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(coll, r)))
    }
  }

  test("non-batchable requests fall back to the single pipeline unchanged") {
    // a FILTERED approx request batches (in its own filter group) since
    // round 12, so it appears here only as a distinct-group neighbor; the
    // genuinely non-batchable shapes are plain predicates and combinators
    val filtered = vamanaReq(3L, filter = Some(Query("lang",
      string = Some(StringOpts("en", Op.Equals)))))
    val plain = SearchRequest(
      Query("lang", string = Some(StringOpts("en", Op.Equals))), limit = 7)
    val reqs = Seq(filtered, vamanaReq(4L), plain)
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(coll, r)))
    }
  }

  test("filtered vamana requests with EQUAL filters batch as one wave") {
    val en = Some(Query("lang", string = Some(StringOpts("en", Op.Equals))))
    val de = Some(Query("lang", string = Some(StringOpts("de", Op.Equals))))
    // three EQUAL-filter requests share one wave; the de-filter and
    // unfiltered requests land in their own groups — all five must equal
    // their independent single-request twins
    val reqs = Seq(
      vamanaReq(0L, filter = en), vamanaReq(1L, filter = en),
      vamanaReq(2L, filter = en), vamanaReq(3L, filter = de),
      vamanaReq(4L))
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(coll, r)), s"filtered drift for $r")
    }
  }

  test("searchManyJson parses like the single JSON face") {
    val q0 = queries.TestCollections.queryVector(spark, sf0001, 0L)
    val body =
      s"""{"query":{"property":"vec_l2","vectorVamana":{
         |"vector":[${q0.mkString(",")}],"operator":"near",
         |"searchSize":75,"limit":10,"approx":true}},"limit":100}""".stripMargin
    val fromJson = Search.searchManyJson(coll, Seq(body, body))
    val single = Search.searchJson(coll, body)
    fromJson.foreach(df => assert(rows(df) == rows(single)))
  }

  // SQ8-quantized flat collection: the flat batchable family's
  // representative (same artifact the s2_near_sq_approx gate serves)
  lazy val flatColl = queries.TestCollections.docsSq8(spark, sf0001)

  private def flatReq(qi: Long, limit: Int = 10, weight: Option[Float] = None,
      filter: Option[Query] = None) = SearchRequest(
    Query("embedding", vectorFlat = Some(VectorFlatOpts(
      queries.TestCollections.queryVector(spark, sf0001, qi), Op.Near,
      limit, weight = weight, approx = true, filter = filter))),
    limit = 100)

  test("flat searchMany == K independent searches (fused SQ8 candidate scan)") {
    val reqs = (0L to 4L).map(flatReq(_))
    val batch = Search.searchMany(flatColl, reqs)
    assert(batch.size == reqs.size)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(flatColl, r)), s"flat drift for $r")
    }
  }

  test("flat searchMany: mixed limits/weights/filters split into their own groups") {
    // limit 20 forces budget max(5*20, 50) = 100 ≠ 50: two scan groups;
    // the filtered request batches in its own filter group (round 12)
    val reqs = Seq(
      flatReq(0L), flatReq(1L, limit = 20, weight = Some(2.0f)),
      flatReq(2L, filter = Some(Query("lang",
        string = Some(StringOpts("en", Op.Equals))))))
    val batch = Search.searchMany(flatColl, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(flatColl, r)))
    }
  }

  test("filtered flat requests with EQUAL filters batch as one restricted scan") {
    val en = Some(Query("lang", string = Some(StringOpts("en", Op.Equals))))
    val de = Some(Query("lang", string = Some(StringOpts("de", Op.Equals))))
    // three EQUAL-filter requests share one filter-restricted fused scan;
    // the de-filter and unfiltered requests land in their own groups
    val reqs = Seq(
      flatReq(0L, filter = en), flatReq(1L, filter = en),
      flatReq(2L, filter = en), flatReq(3L, filter = de), flatReq(4L))
    val batch = Search.searchMany(flatColl, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(flatColl, r)), s"filtered flat drift for $r")
    }
  }

  /** The de-exploded fused scan's aggregator against the ORIGINAL
    * posexplode+TopKStrAgg formulation (the round-11 shape, kept here as
    * the law oracle per the expression-collapse pattern): K independent
    * bounded top-k's with per-query k, NaN-excluded rows, tie-break by
    * unsigned UTF-8 id bytes — including ids with supplementary
    * characters, where UTF-16 `String.compareTo` order DISAGREES with
    * UTF-8 order and would expose a comparator drift.
    */
  test("TopKStrMultiAgg == the posexplode+TopKStrAgg formulation") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(42)
    val ks = Array(3, 7, 12, 5)
    val rows = (0 until 400).map { i =>
      val id = if (i % 37 == 0) s"😀$i" else s"id$i"
      // coarse key grid forces ties; ~10% NaN exercises the exclusion
      val keys = Seq.tabulate(ks.length)(_ =>
        if (rnd.nextInt(10) == 0) Double.NaN
        else math.floor(rnd.nextDouble() * 20) / 2.0)
      (id, keys)
    }
    val df = rows.toDF("_id", "_qds").repartition(7)
    val multi = udaf(new Similarity.TopKStrMultiAgg(ks))
    val st = df.agg(multi(col("_qds"), col("_id"))).head().getStruct(0)
    val got = Similarity.TopKStrMultiAgg.slices(
      ks, st.getSeq[Double](0), st.getSeq[String](1), st.getSeq[Int](2))
    val oracleAgg = udaf(new Similarity.TopKStrAgg(ks.max))
    val want = df
      .select(col("_id"), posexplode(col("_qds")).as(Seq("_qi", "_qd")))
      .filter(!isnan(col("_qd")))
      .groupBy("_qi")
      .agg(oracleAgg(col("_qd"), col("_id")).as("_top"))
      .collect().map { r =>
        val s = r.getStruct(1)
        r.getInt(0) -> s.getSeq[Double](0).zip(s.getSeq[String](1)).toSeq
      }.toMap
    ks.indices.foreach { qi =>
      assert(got(qi).toSeq == want(qi).take(ks(qi)), s"query $qi drift")
    }
  }

  test("flat searchMany fuses IVF-RaBitQ requests over the union of probed cells") {
    val base = queries.TestCollections.docs(spark, sf0001)
    val rotation = Array.tabulate(64)(i =>
      Array.tabulate(64)(j => if (i == j) 1.0 else 0.0))
    val dir = Fs.tempDir("graft_ivfrbq_many_").toString + "/art"
    val coll = base.withIvfRbqVectorIndex("embedding", dir,
      () => graft.operators.IvfPq.signCoarse(base.df, col("embedding"), nBits = 4),
      rotation, nprobe = 4)
    // 5 distinct query vectors probe different cell sets — the fused scan
    // reads their union while each query's column is guarded to its own
    val reqs = (0L to 4L).map(i => SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        queries.TestCollections.queryVector(spark, sf0001, i), Op.Near,
        10, approx = true))), limit = 100))
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(coll, r)), s"IVF-RBQ drift for $r")
    }
  }

  test("flat searchMany fuses SPILLED IVF-PQ requests (per-id min dedup preserved)") {
    val base = queries.TestCollections.docs(spark, sf0001)
    val dir = Fs.tempDir("graft_ivfpq_many_").toString
    // spill=2 stores ids in TWO cells: the fused scan must keep its per-id
    // min-quantized-distance dedup, or duplicate candidates would burn
    // budget slots and drift the candidate set
    val coll = base.withIvfPqVectorIndex(
      "embedding", dir,
      () => graft.operators.IvfPq.kmeansCoarse(base.df, col("embedding"), k = 16),
      c => graft.operators.IvfPq.fitResidualPq(
        base.df, col("embedding"), c, m = 16, k = 16),
      nprobe = 4, spill = 2)
    val reqs = (0L to 4L).map(i => SearchRequest(
      Query("embedding", vectorFlat = Some(VectorFlatOpts(
        queries.TestCollections.queryVector(spark, sf0001, i), Op.Near,
        10, approx = true))), limit = 100))
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(rows(df) == rows(Search.search(coll, r)), s"IVF-PQ drift for $r")
    }
  }

  private def textReq(value: String, op: String, limit: Int = 10,
      weight: Option[Float] = None, filter: Option[Query] = None) = SearchRequest(
    Query("text", text = Some(TextOpts(value, op, limit,
      filter = filter, weight = weight))), limit = 100)

  /** Text scores compare ROUNDED to 4 decimals (the gates' own claim
    * strength): a K-batch, a batch of one and the brute force sum the
    * identical per-term doubles but in potentially different orders, and
    * while the float32 cast absorbs the ulp in practice, exact bitwise
    * equality of a reordered double sum is not a law the engine promises.
    */
  private def textRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("_id"), round(col("_score").cast("double"), 4).cast("string"),
      round(col("_hybridScore").cast("double"), 4).cast("string"))
      .collect().map(_.mkString("|")).sorted.toSeq

  /** The fixture's text corpus analyzed on the driver, with the
    * properties the text laws filter on: (id, terms, lang, n_chars) per
    * document with non-null text — the documents the index counts.
    */
  private lazy val corpus: Seq[(String, Seq[String], String, Long)] =
    coll.df.filter(col("text").isNotNull)
      .select(col("_id"), col("text"), col("lang"), col("n_chars").cast("long"))
      .collect().toSeq.map(r => (r.getString(0),
        graft.functions.TextAnalyzer.analyzeString(r.getString(1)),
        r.getString(2), if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))

  /** The laws' filters, evaluated on the driver: a case-insensitive `lang`
    * equality (the fixture's `lang` index is case-insensitive) or an
    * `n_chars` lower bound.
    */
  private def passes(f: Query, doc: (String, Seq[String], String, Long)): Boolean =
    (f.property, f.string, f.integer) match {
      case ("lang", Some(StringOpts(v, Op.Equals, _)), _) =>
        doc._3 != null && doc._3.toLowerCase == v.toLowerCase
      case ("n_chars", _, Some(IntegerOpts(v, Op.GreaterThan, _))) => doc._4 > v
      case _ => fail(s"no driver-side evaluator for filter $f")
    }

  /** Brute-force tf-idf for one text request, independent of the engine's
    * index and plans: score = Σ over the query's distinct terms in the doc
    * of (f/len)·log10(N/(df+1)), N and df over every document with text;
    * containsAll needs every term, containsAny one; the filter narrows the
    * candidates, not the statistics; rank by (float32 score desc, id asc),
    * keep `limit`; hybrid = score32 · weight. Rendered like [[textRows]].
    */
  private def textExpected(r: SearchRequest): Seq[String] = {
    import spark.implicits._
    val o = r.query.text.get
    val terms = graft.functions.TextAnalyzer.analyzeString(o.value).distinct
    val n = corpus.size.toDouble
    val df = corpus.flatMap(_._2.distinct).groupMapReduce(identity)(_ => 1L)(_ + _)
    val w = o.weight.getOrElse(1.0f)
    val ranked = corpus.flatMap { doc =>
      val (id, toks, _, _) = doc
      val freq = toks.groupMapReduce(identity)(_ => 1)(_ + _)
      val hits = terms.filter(freq.contains)
      val eligible = if (o.operator == Op.ContainsAll) hits.size == terms.size else hits.nonEmpty
      if (!eligible || !o.filter.forall(passes(_, doc))) None
      else Some(id -> hits.map(t =>
        freq(t).toDouble / toks.size * math.log10(n / (df(t) + 1.0))).sum.toFloat)
    }.sortWith { case ((ia, sa), (ib, sb)) => sa > sb || (sa == sb && ia < ib) }
      .take(o.limit)
    textRows(ranked.map { case (id, s) => (id, s, s * w) }
      .toDF("_id", "_score", "_hybridScore"))
  }

  test("text searchMany == K independent searches (shared postings/df scan)") {
    val reqs = Seq(
      textReq("the spark AND filter, merge!", Op.ContainsAny),
      textReq("spark window", Op.ContainsAll, limit = 7, weight = Some(2.0f)),
      textReq("vector table", Op.ContainsAny, limit = 5, weight = Some(0.5f)),
      textReq("spark", Op.ContainsAny, limit = 3))
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      val got = textRows(df)
      assert(got.nonEmpty, s"no rows for $r")
      assert(got == textExpected(r), s"text drift from brute force for $r")
      assert(got == textRows(Search.search(coll, r)), s"text drift for $r")
    }
  }

  test("filtered text requests batch per equal-filter group (round 12)") {
    val de = Some(Query("lang", string = Some(StringOpts("de", Op.Equals))))
    val nc = Some(Query("n_chars", integer = Some(IntegerOpts(200, Op.GreaterThan))))
    // two EQUAL-filter requests share one intersected fused frame; the
    // different-filter and unfiltered requests land in their own groups —
    // all must equal the brute-force scores and their batches of one
    val reqs = Seq(
      textReq("vector table", Op.ContainsAny, filter = de),
      textReq("spark filter merge", Op.ContainsAny, limit = 7, filter = de),
      textReq("spark window", Op.ContainsAll, filter = nc),
      textReq("spark window", Op.ContainsAll))
    val batch = Search.searchMany(coll, reqs)
    reqs.zip(batch).foreach { case (r, df) =>
      val got = textRows(df)
      assert(got.nonEmpty, s"no rows for $r")
      assert(got == textExpected(r), s"filtered text drift from brute force for $r")
      assert(got == textRows(Search.search(coll, r)), s"filtered text drift for $r")
    }
  }

  /** Hybrid decomposition (round 12): a combinator request's batchable
    * LEAVES join the fused families across the batch — the `_and`/`_or`
    * merge then runs on the precompiled leaf results. Covers `_or` and
    * `_and` of text+vamana, a shared identical text leaf (compiled once
    * via the value-keyed map), a nested combinator, and a plain-predicate
    * sibling leaf that must stay on the single pipeline.
    */
  test("hybrid combinator requests batch leaf-wise == independent searches") {
    def hybrid(op: String, qi: Long, terms: String, textOp: String) = {
      val children = Seq(
        Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
          queries.TestCollections.queryVector(spark, sf0001, qi), Op.Near,
          searchSize = 75, limit = 10, weight = Some(0.5f), approx = true))),
        Query("text", text = Some(TextOpts(terms, textOp, 20, weight = Some(2.0f)))))
      SearchRequest(
        if (op == "_or") Query("_or", or = children)
        else Query("_and", and = children),
        limit = 100)
    }
    // a nested combinator: _or( vamana, _and(text, plain predicate) ) —
    // the text leaf batches, the predicate stays a Column, the nested
    // _and post-filters the ranked text list (kitchen-sink semantics)
    val nested = SearchRequest(
      Query("_or", or = Seq(
        Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
          queries.TestCollections.queryVector(spark, sf0001, 3L), Op.Near,
          searchSize = 75, limit = 10, weight = Some(0.25f), approx = true))),
        Query("_and", and = Seq(
          Query("text", text = Some(TextOpts("spark filter merge",
            Op.ContainsAny, 20, weight = Some(2.0f)))),
          Query("n_chars", integer = Some(IntegerOpts(200, Op.GreaterThan))))))),
      limit = 100)
    val reqs = Seq(
      hybrid("_or", 0L, "spark filter merge", Op.ContainsAny),
      hybrid("_or", 1L, "spark filter merge", Op.ContainsAny), // shares the text leaf
      hybrid("_and", 2L, "spark window", Op.ContainsAll),
      nested,
      vamanaReq(4L)) // single-leaf neighbor joins the same walk wave
    // like textRows but with _distance too: the merged frame carries all
    // three score columns and each must survive the precompiled-leaf path
    def hybridRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("_id"),
        round(col("_distance").cast("double"), 4).cast("string"),
        round(col("_score").cast("double"), 4).cast("string"),
        round(col("_hybridScore").cast("double"), 4).cast("string"))
        .collect().map(_.mkString("|")).sorted.toSeq
    val batch = Search.searchMany(coll, reqs)
    assert(batch.size == reqs.size)
    reqs.zip(batch).foreach { case (r, df) =>
      assert(hybridRows(df) == hybridRows(Search.search(coll, r)), s"hybrid drift for $r")
    }
  }

  test("empty batch and invalid request behave like the single face") {
    assert(Search.searchMany(coll, Nil).isEmpty)
    val bad = SearchRequest(
      Query("vec_l2", vectorVamana = Some(VectorVamanaOpts(
        Seq(1.0f), Op.Near, searchSize = 75, limit = 0, approx = true))))
    intercept[IllegalArgumentException](Search.searchMany(coll, Seq(bad)))
  }
}
