package graft

import org.apache.spark.sql.functions._
import graft.engine.{Collection, Search}
import graft.model._
import graft.model.IndexKind._

/** Countable-fixture tests mirroring the reference's canonical test schema
  * (FIXTURES.md §1–2; reference shard/shard_vector_test.go:275–306 and
  * shard_search_test.go:27–112).
  */
class EngineSpec extends SparkSuite {
  import spark.implicits._

  // row i of n: size=i, price=i+0.5, category = "category <i>",
  // labels = [label1 <i>, label2 <i+1>], flat = [i, i+1]
  lazy val fixture: Collection = {
    val n = 100
    val df = (0 until n).map { i =>
      (i.toString, Array(i.toFloat, (i + 1).toFloat), s"This is a description $i",
        s"category $i", Seq(s"label1 $i", s"label2 ${i + 1}"), i.toLong, i + 0.5)
    }.toDF("_id", "flat", "description", "category", "labels", "size", "price")
    Collection(df, IndexSchema(
      "flat" -> VectorFlat(2, Metric.Euclidean),
      "description" -> Text(),
      "category" -> Str(caseSensitive = false),
      "labels" -> StrArray(caseSensitive = false),
      "size" -> Integer,
      "price" -> Float))
  }

  private def run(req: SearchRequest) = Search.search(fixture, req).collect()

  test("integer inRange 10..15 returns 6 rows (shard_search_test.go:27-52)") {
    val rows = run(SearchRequest(
      Query("size", integer = Some(IntegerOpts(10, Op.InRange, 15))), limit = 100))
    assert(rows.length == 6)
    assert(rows.map(_.getAs[String]("_id")).sorted.toSeq ==
      Seq("10", "11", "12", "13", "14", "15").sorted)
  }

  test("integer lessThanOrEquals 10 returns 11 rows") {
    val rows = run(SearchRequest(
      Query("size", integer = Some(IntegerOpts(10, Op.LessOrEq))), limit = 100))
    assert(rows.length == 11)
  }

  test("select subset returns only requested + metadata columns") {
    val df = Search.search(fixture, SearchRequest(
      Query("size", integer = Some(IntegerOpts(10, Op.InRange, 15))),
      select = Seq("size", "category", "nonExistent"), limit = 100))
    // nonExistent silently dropped (shard_search_test.go:97-108)
    assert(df.columns.toSeq ==
      Seq("_id", "_distance", "_score", "_hybridScore", "size", "category"))
  }

  test("select * returns all data columns") {
    val df = Search.search(fixture, SearchRequest(
      Query("size", integer = Some(IntegerOpts(0, Op.GreaterOrEq))),
      select = Seq("*"), limit = 10))
    assert(df.columns.length == 4 + 6) // meta + data
  }

  test("string equals is case-insensitive by default") {
    val rows = run(SearchRequest(
      Query("category", string = Some(StringOpts("CATEGORY 7", Op.Equals))), limit = 100))
    assert(rows.map(_.getAs[String]("_id")).toSeq == Seq("7"))
  }

  test("labels containsAny/All with case folding") {
    val any = run(SearchRequest(
      Query("labels", stringArray = Some(StringArrayOpts(Seq("LABEL1 5", "label2 99"), Op.ContainsAny))),
      limit = 100))
    assert(any.map(_.getAs[String]("_id")).sorted.toSeq == Seq("5", "98"))
    val all = run(SearchRequest(
      Query("labels", stringArray = Some(StringArrayOpts(Seq("label1 5", "label2 6"), Op.ContainsAll))),
      limit = 100))
    assert(all.map(_.getAs[String]("_id")).toSeq == Seq("5"))
  }

  test("_id containsAny lookup skips missing ids") {
    val rows = run(SearchRequest(
      Query("_id", stringArray = Some(StringArrayOpts(Seq("3", "98", "notthere"), Op.ContainsAny))),
      limit = 100))
    assert(rows.map(_.getAs[String]("_id")).sorted.toSeq == Seq("3", "98"))
  }

  test("and/or combinators of predicates") {
    val and = run(SearchRequest(Query("_and", and = Seq(
      Query("size", integer = Some(IntegerOpts(10, Op.InRange, 20))),
      Query("category", string = Some(StringOpts("category 15", Op.Equals))))), limit = 100))
    assert(and.map(_.getAs[String]("_id")).toSeq == Seq("15"))
    val or = run(SearchRequest(Query("_or", or = Seq(
      Query("size", integer = Some(IntegerOpts(2, Op.LessOrEq))),
      Query("size", integer = Some(IntegerOpts(97, Op.GreaterOrEq))))), limit = 100))
    assert(or.length == 6)
  }

  test("sort missing-last and offset/limit pagination") {
    val rows = run(SearchRequest(
      Query("size", integer = Some(IntegerOpts(0, Op.GreaterOrEq))),
      select = Seq("size"),
      sort = Seq(SortOption("size", descending = true)),
      offset = 10, limit = 5))
    assert(rows.map(_.getAs[Long]("size")).toSeq == Seq(89L, 88L, 87L, 86L, 85L))
  }

  test("near returns self first with distance 0, exact top-k order") {
    val rows = run(SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(Seq(50f, 51f), Op.Near, 5))), limit = 100))
    assert(rows.length == 5)
    assert(rows.head.getAs[String]("_id") == "50")
    assert(rows.head.getAs[Float]("_distance") == 0.0f)
    // squared L2 to [50,51]: ids 49 and 51 at distance 2, 48/52 at 8
    assert(rows.map(_.getAs[String]("_id")).toSeq == Seq("50", "49", "51", "48", "52"))
    assert(rows.map(_.getAs[Float]("_hybridScore")).toSeq == Seq(0f, -2f, -2f, -8f, -8f))
  }

  test("exact near metadata-only: corpus top-k stays a PARTIAL top-k, never a global sort") {
    // The ranked frame is Limit(Sort(Project)) by construction
    // (QueryCompiler.near — score columns projected BELOW the sort+limit),
    // so the corpus top-k plans as TakeOrderedAndProject regardless of
    // what assemble or a caller stacks above. The regression this pins:
    // score projections ABOVE the limit left Limit(Project(Project(Sort)))
    // — one Project too many for Spark's TakeOrderedAndProject pattern
    // (CollapseProject won't merge through the non-cheap distance
    // expression) — and the metadata-only serving shape paid a
    // range-partitioned GLOBAL sort of the whole corpus per request.
    // The toDF fixture is a driver-local relation, which LocalFold ranks
    // without a job; the partial top-k is pinned on a distributed copy.
    val req = SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(Seq(5f, 6f), Op.Near, 10))),
      limit = 100)
    def physicalOf(c: Collection) = Search.search(c, req).queryExecution.executedPlan.toString
    assert(physicalOf(fixture).startsWith("LocalTableScan"))
    val physical = physicalOf(fixture.copy(df = fixture.df.repartition(4)))
    assert(physical.contains("TakeOrderedAndProject"), physical)
    assert(!physical.contains("rangepartitioning"), physical)
  }

  test("near with pre-filter restricts candidates (filter-first)") {
    val rows = run(SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(Seq(50f, 51f), Op.Near, 3,
        filter = Some(Query("size", integer = Some(IntegerOpts(60, Op.GreaterOrEq))))))),
      limit = 100))
    assert(rows.map(_.getAs[String]("_id")).toSeq == Seq("60", "61", "62"))
  }

  test("JSON round-trip drives the same query") {
    val json =
      """{"query": {"property": "_and", "_and": [
        |  {"property": "size", "integer": {"operator": "inRange", "value": 10, "endValue": 15}},
        |  {"property": "category", "string": {"operator": "notEquals", "value": "category 12"}}]},
        | "select": ["size"], "sort": [{"property": "size", "descending": true}],
        | "offset": 1, "limit": 3}""".stripMargin
    val rows = Search.searchJson(fixture, json).collect()
    assert(rows.map(_.getAs[Long]("size")).toSeq == Seq(14L, 13L, 11L))
  }

  test("approx near serves from an attached binary artifact; exact fallback without one") {
    import graft.operators.BinaryQuantizer
    // budget = max(5·limit, 50) = 50 < 100 rows: stage 1 really narrows.
    // On this linear fixture sign-bit hamming preserves the ordering well
    // enough that the exact re-rank restores the true top-k.
    // served from a parquet scan, as a stored collection is: over the
    // in-memory fixture Spark folds the whole re-rank of the collected
    // candidates into one LocalTableScan, and the plan laws below would
    // see nothing
    val dir = Fs.tempDir("graft_engine_bq_").resolve("docs").toString
    fixture.df.write.parquet(dir)
    val scanned = fixture.copy(df = spark.read.parquet(dir))
    val th = BinaryQuantizer.fit(scanned.df, col("flat"), 2)
    val withIdx = scanned.withBinaryVectorIndex("flat", th)
    val req = SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(
        Seq(5f, 6f), Op.Near, 10, approx = true))), limit = 100)
    val exact = Search.search(fixture, SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(Seq(5f, 6f), Op.Near, 10))),
      limit = 100)).collect()
    val (approx, execs) = captureExecutions(Search.search(withIdx, req))
    // the candidate stage ran while compiling, as ONE fold: the quantized
    // key array over the encoded frame's packed bits, per-partition top-k
    // buffers merged on the driver — one stage, so no exchange and never
    // a global sort
    val folds = topKFolds(execs)
    assert(folds.size == 1, execs.map(_.executedPlan).mkString("\n"))
    val fold = folds.head.toString
    assert(fold.contains("_qds") && fold.contains("_packed"), fold)
    assert(!fold.contains("rangepartitioning"), fold)
    assert(exchanges(folds.head).isEmpty, fold)
    // the returned re-rank is a PARTIAL top-k (TakeOrderedAndProject —
    // per-partition heads + driver merge, never a global sort shuffle)
    val physical = approx.queryExecution.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"), physical)
    // at most ONE Sort, and only as the outermost result ordering: the
    // metadata-only shortcut returns the bounded ranked frame directly,
    // and EliminateLimits drops the request limit over it (child max rows
    // ≤ limit), so the default hybrid ordering stays a Sort of ≤ limit
    // rows instead of folding into TakeOrderedAndProject. Below it the
    // law keeps its teeth: the re-rank top-k must stay
    // TakeOrderedAndProject and every join broadcast — a sort-merge join
    // or a corpus-level sort would add Sort nodes UNDER the join/scan and
    // trip the at-most-one / above-all-joins assertions.
    val firstSort = physical.indexOf("Sort [")
    assert(firstSort == -1 || physical.indexOf("Sort [", firstSort + 1) == -1, physical)
    val firstJoin = physical.indexOf("Join")
    assert(firstSort == -1 || firstJoin == -1 || firstSort < firstJoin, physical)
    assert(approx.collect().map(_.getString(0)).toSeq ==
      exact.map(_.getString(0)).toSeq)
    // approx=true without an artifact attached = exact semantics
    val fallback = Search.search(fixture, req).collect()
    assert(fallback.map(_.getString(0)).toSeq == exact.map(_.getString(0)).toSeq)
  }

  test("approx near with a pre-filter: filtered-out rows never consume budget") {
    import graft.operators.BinaryQuantizer
    val th = BinaryQuantizer.fit(fixture.df, col("flat"), 2)
    val withIdx = fixture.withBinaryVectorIndex("flat", th)
    val rows = Search.search(withIdx, SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(
        Seq(0f, 1f), Op.Near, 5, approx = true,
        filter = Some(Query("size", integer = Some(IntegerOpts(90, Op.GreaterOrEq))))))),
      limit = 100)).collect()
    // eligible rows are ids 90..99 — far from the query, but the filter
    // restricts the candidate scan itself, so all 5 results come from them
    assert(rows.length == 5)
    assert(rows.map(_.getString(0)).forall(_.toInt >= 90))
    assert(rows.map(_.getString(0)).toSeq == Seq("90", "91", "92", "93", "94"))
  }

  test("approx near via a product-quantizer artifact (ADC candidates)") {
    import graft.operators.ProductQuantizer
    val model = ProductQuantizer.fit(fixture.df, col("flat"), m = 2, k = 16, dim = 2)
    val withIdx = fixture.withProductVectorIndex("flat", model)
    val rows = Search.search(withIdx, SearchRequest(
      Query("flat", vectorFlat = Some(VectorFlatOpts(
        Seq(42f, 43f), Op.Near, 5, approx = true))), limit = 100)).collect()
    // exact re-rank of ADC candidates: nearest row (id 42) must lead
    assert(rows.head.getString(0) == "42")
    assert(rows.length == 5)
  }

  test("validation bounds are enforced") {
    def bad(req: SearchRequest) =
      intercept[IllegalArgumentException](Search.search(fixture, req))
    bad(SearchRequest(Query("size", integer = Some(IntegerOpts(1, Op.Equals))), limit = 0))
    bad(SearchRequest(Query("size", integer = Some(IntegerOpts(1, Op.Equals))), limit = 101))
    bad(SearchRequest(Query("size", integer = Some(IntegerOpts(1, Op.Equals))), offset = -1))
    bad(SearchRequest(Query("size", integer = Some(IntegerOpts(5, Op.InRange, 5))), limit = 10))
    bad(SearchRequest(Query("flat", vectorFlat = Some(VectorFlatOpts(Seq(1f, 2f), Op.Near, 80))), limit = 10))
    bad(SearchRequest(Query("missing", integer = Some(IntegerOpts(1, Op.Equals))), limit = 10))
    bad(SearchRequest(Query("flat", vectorFlat = Some(VectorFlatOpts(Seq(1f, 2f, 3f), Op.Near, 10))), limit = 10))
  }

  // The two laws below compare a frame LocalFold folds (built by the
  // engine, which registers the rule on this session — built without
  // GraftExtensions) with the same frame on a new session, where the rule
  // is not registered and Spark sorts it in a job.
  private lazy val plain = {
    val s = spark.newSession()
    assert(s.experimental.extraOptimizations.isEmpty)
    s
  }

  private def assertFolded(df: org.apache.spark.sql.DataFrame, jobs: Int, clue: String): Unit = {
    assert(df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], clue)
    assert(jobs == 0, s"$clue: $jobs jobs")
  }


  test("driver-side vamana re-rank ≡ the expression re-rank it replaced (round 13)") {
    import graft.engine.QueryCompiler
    import graft.functions.Distances
    // ties (duplicate vectors), a −0.0-producing dot row, ids whose
    // UTF-16 and UTF-8 orders DISAGREE (U+FFFD sorts before U+1F600 in
    // UTF-8 bytes but after its surrogate pair in UTF-16 code units), a
    // null id tied with "a"/"b", and a NaN distance
    val cand: Seq[(String, Seq[Float])] = Seq(
      ("b", Seq(1f, 2f)), ("a", Seq(1f, 2f)),
      ("�", Seq(3f, 1f)), ("😀", Seq(3f, 1f)),
      ("z", Seq(0f, 0f)),
      ("m", Seq(-2f, 5f)),
      (null, Seq(1f, 2f)), ("nan", Seq(java.lang.Float.NaN, 1f)))
    val metrics = Seq(Metric.Euclidean, Metric.Cosine, Metric.Dot,
      Metric.Hamming, Metric.Jaccard, Metric.Haversine)
    for (metric <- metrics; w <- Seq(1.0f, 0.25f); limit <- Seq(3, 10)) {
      val clue = s"$metric w=$w limit=$limit"
      val ((got, gotRows), jobs) = countJobs("graft-rerank-law") {
        val f = QueryCompiler.vamanaRerank(metric, Seq(1f, 1f), limit, w, cand, spark)
          .ranked.get
        (f, f.collect().toSeq)
      }
      assertFolded(got, jobs, clue)
      // the replaced formulation, inline: LocalRelation → distance
      // expression → score projection → orderBy → limit
      val d = Distances.distanceToQuery(metric, col("_vec"), Seq(1f, 1f)).cast("float")
      val want = plain.createDataFrame(cand).toDF("_id", "_vec")
        .select(col("_id"), d.as("_distance"))
        .select(col("_id"), col("_distance"),
          lit(null).cast("float").as("_score"),
          (lit(-1.0f) * lit(w) * col("_distance")).cast("float").as("_hybridScore"))
        .orderBy(col("_distance").asc, col("_id").asc)
        .limit(limit)
      assert(got.schema.map(f => (f.name, f.dataType, f.nullable)) ==
        want.schema.map(f => (f.name, f.dataType, f.nullable)), clue)
      assert(gotRows == want.collect().toSeq, clue)
    }
  }

  test("local metadata page ≡ the lazy default-order page it replaces (round 13)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, StringType, FloatType}
    // a ranked-shaped LOCAL relation with the tricky orderings: hybrid
    // ties broken by UTF-8 id order, −0.0/+0.0 comparing EQUAL, a null
    // hybrid (desc → nulls last), a NaN hybrid (greatest → first under
    // desc) and a null id tied with "a"/"b" (nulls first under asc)
    val schema = StructType(Seq(
      StructField("_id", StringType), StructField("_distance", FloatType),
      StructField("_score", FloatType), StructField("_hybridScore", FloatType)))
    val rows = java.util.Arrays.asList[Row](
      Row("b", 1.0f, null, -1.0f), Row("a", 1.0f, null, -1.0f),
      Row("n", 2.0f, null, null),
      Row("�", 0.5f, null, 0.0f), Row("😀", 0.5f, null, -0.0f),
      Row("z", 3.0f, null, -2.5f),
      Row(null, 1.0f, null, -1.0f), Row("nan", 0.1f, null, java.lang.Float.NaN))
    val ranked = spark.createDataFrame(rows, schema)
    // offset 9 is past the 8 rows: an empty page
    for (offset <- Seq(0, 2, 9); limit <- Seq(3, 10)) {
      val clue = s"off=$offset lim=$limit"
      val req = SearchRequest(Query("x"), offset = offset, limit = limit)
      val ((got, gotRows), jobs) = countJobs("graft-page-law") {
        val f = Search.page(ranked, req, schema)
        (f, f.collect().toSeq)
      }
      assertFolded(got, jobs, clue)
      val want = plain.createDataFrame(rows, schema)
        .orderBy(col("_hybridScore").desc, col("_id").asc)
        .offset(offset).limit(limit)
        .select(col("_id"), col("_distance"), col("_score"), col("_hybridScore"))
      assert(gotRows == want.collect().toSeq, clue)
      assert(got.schema == want.schema, clue)
    }
  }

  // The fold laws below build each frame twice: on this session, where
  // LocalFold is registered, and on `plain`, where Spark runs it in jobs.
  // Rows are compared as multisets of raw bits (hash aggregates emit groups
  // in hash order), schemas by name, type and nullability.
  private object foldInputs {
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("c", IntegerType)))
    val nan = Double.NaN
    // duplicate keys, a null key group, NaN, −0.0 tied with +0.0 (as keys
    // and as summands), null values, and a group ("x", c ≤ 2) that the
    // `c > 4` FILTER excludes entirely
    val left = Seq(
      Row("x", 1.5, 1.0f, 1), Row("x", -0.0, -0.0f, 2),
      Row("y", 0.0, 0.0f, 3), Row("y", nan, java.lang.Float.NaN, 4),
      Row(null, 2.0, 2.0f, 5), Row(null, 3.0, 3.0f, 6),
      Row("z", null, null, 7), Row("v", -0.0, 0.5f, 8))
    val right = Seq(
      Row("x", nan, 9.0f, 3), Row("x", 0.0, 8.0f, 0),
      Row(null, 2.0, 7.0f, 9), Row("u", -0.0, 6.0f, 9))
    def frame(s: SparkSession, rows: Seq[Row]): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def a(s: SparkSession) = frame(s, left)
    def b(s: SparkSession) = frame(s, right)
    def empty(s: SparkSession) = frame(s, Nil)
  }

  private def bits(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  private def foldLaw(clue: String, unfolded: org.apache.spark.sql.SparkSession = plain)(
      build: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame): Unit = {
    graft.engine.LocalFold.register(spark)
    val ((got, gotRows), jobs) = countJobs("graft-fold-law") {
      val f = build(spark)
      (f, f.collect().toSeq)
    }
    assertFolded(got, jobs, clue)
    val want = build(unfolded)
    assert(got.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      want.schema.map(f => (f.name, f.dataType, f.nullable)), clue)
    assert(bits(gotRows) == bits(want.collect().toSeq), clue)
  }

  test("LocalFold: Union ≡ Spark's union") {
    import foldInputs._
    foldLaw("a ∪ b")(s => a(s).union(b(s)))
    foldLaw("a ∪ b ∪ a")(s => a(s).union(b(s)).union(a(s)))
    foldLaw("a ∪ ∅")(s => a(s).union(empty(s)))
    foldLaw("by name")(s => b(s).select("c", "f", "d", "k").unionByName(a(s)))
  }

  test("LocalFold: Complete-mode declarative Aggregate ≡ Spark's hash aggregate") {
    import foldInputs._
    foldLaw("by string key")(s => a(s).union(b(s)).groupBy("k").agg(
      sum("d"), sum("f"), count(lit(1)), count("d"), min_by(col("d"), col("c")),
      max_by(col("f"), col("c")), min(col("k")),
      expr("sum(d) FILTER (WHERE c > 4)"),
      expr("min_by(f, c) FILTER (WHERE d IS NOT NULL)")))
    foldLaw("by double key: NaN and ±0.0 group")(s => a(s).union(b(s)).groupBy("d")
      .agg(count(lit(1)), sum("c"), max("k")))
    foldLaw("result expressions over groups")(s => a(s).groupBy(col("c") % 2)
      .agg((sum("c") * 2 + 1).as("e"), coalesce(sum("d").cast("float"), lit(0.0f)).as("z")))
    foldLaw("global")(s => a(s).agg(sum("d"), count(lit(1)), min_by(col("k"), col("c"))))
    foldLaw("global over ∅: one initial row")(s => empty(s).agg(sum("d"), count(lit(1))))
    foldLaw("grouped over ∅")(s => empty(s).groupBy("k").agg(sum("d")))
    foldLaw("distinct()")(s => a(s).union(b(s)).select("k").distinct())
    foldLaw("distinct() on doubles")(s => a(s).union(b(s)).select("d").distinct())
  }

  test("LocalFold: equi LeftSemi join ≡ Spark's; null keys never match") {
    import foldInputs._
    foldLaw("string keys")(s => a(s).join(b(s), Seq("k"), "left_semi"))
    foldLaw("double keys: NaN = NaN, −0.0 = +0.0")(s =>
      a(s).join(b(s).select(col("d").as("d2")), col("d") === col("d2"), "left_semi"))
    // Spark infers isnotnull filters for plain attribute keys, which fold
    // away before the join does; CASE keys get none, so nulls reach it
    foldLaw("nullable key expressions")(s =>
      a(s).join(b(s).select(col("k").as("k2"), col("c").as("c2")),
        when(col("c") < 7, col("k")) === when(col("c2") < 100, col("k2")), "left_semi"))
    foldLaw("null-safe keys")(s =>
      a(s).join(b(s).select(col("k").as("k2")), col("k") <=> col("k2"), "left_semi"))
    foldLaw("with a non-equi condition")(s =>
      a(s).join(b(s).select(col("k").as("k2"), col("c").as("c2")),
        col("k") === col("k2") && col("c") < col("c2"), "left_semi"))
    foldLaw("∅ right")(s => a(s).join(empty(s), Seq("k"), "left_semi"))
    foldLaw("∅ left")(s => empty(s).join(b(s), Seq("k"), "left_semi"))
  }

  test("LocalFold: the hybrid merge shape folds; 3+ summands against one partition") {
    import foldInputs._
    import org.apache.spark.sql.SparkSession
    // three ranked children with overlapping ids: a 3-way double sum, whose
    // order in Spark's partial/final aggregate depends on how the input is
    // partitioned — so the unfolded side reads a single partition, where it
    // sums in input order as the fold does
    val onePartition = spark.newSession()
    onePartition.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    def merged(s: SparkSession) = {
      val kids = Seq(a(s), b(s), a(s).filter(col("c") > 3)).zipWithIndex.map { case (f, i) =>
        f.select(col("k").as("_id"), col("f").as("_distance"),
          when(col("c") % 2 === 0, col("f")).as("_score"),
          (col("d") * 0.1).cast("float").as("_hybridScore"))
          .withColumn("_child", lit(i))
      }
      val ids = kids.map(_.select("_id")).reduce(_.join(_, Seq("_id"), "left_semi"))
      kids.reduce(_ unionByName _).join(ids, Seq("_id"), "left_semi").groupBy("_id").agg(
        coalesce(sum("_hybridScore").cast("float"), lit(0.0f)).as("_hybridScore"),
        expr("min_by(_distance, _child) FILTER (WHERE _distance IS NOT NULL)").as("_distance"),
        expr("min_by(_score, _child) FILTER (WHERE _score IS NOT NULL)").as("_score"))
    }
    foldLaw("_and of three", onePartition)(merged)
    foldLaw("_or of three", onePartition)(s => merged(s).union(merged(s)).distinct())
  }

  test("LocalFold: imperative, non-deterministic and distinct aggregates stay unfolded") {
    import foldInputs._
    graft.engine.LocalFold.register(spark)
    val cases = Seq[(String, org.apache.spark.sql.DataFrame)](
      "collect_list" -> a(spark).groupBy("k").agg(collect_list("d")),
      // Spark rejects rand() inside an aggregate's arguments and folds a
      // rand() projection below it, so it sits in the result expression
      "rand()" -> a(spark).groupBy("k").agg((sum("c") + rand(7)).as("r")),
      "count(DISTINCT d)" -> a(spark).groupBy("k").agg(count_distinct(col("d"))))
    for ((clue, df) <- cases) {
      assert(!df.queryExecution.executedPlan
        .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], clue)
      assert(df.collect().length == 5, clue)
    }
  }

  test("schema validation: reserved property names and NaN bounds fail closed") {
    import graft.model.{IndexKind, IndexSchema}
    assert(IndexSchema.validate(IndexSchema("_and" -> IndexKind.Integer)).isLeft)
    assert(IndexSchema.validate(IndexSchema("_id" -> IndexKind.Str())).isLeft)
    assert(IndexSchema.validate(IndexSchema("" -> IndexKind.Integer)).isLeft)
    // NaN alpha must not pass the open-form range check into the pruner
    assert(IndexSchema.validate(IndexSchema("v" ->
      IndexKind.VectorVamana(4, IndexKind.Metric.Euclidean, alpha = Double.NaN))).isLeft)
    assert(IndexSchema.validate(IndexSchema("v" ->
      IndexKind.VectorVamana(4, IndexKind.Metric.Euclidean))).isRight)
  }
}
