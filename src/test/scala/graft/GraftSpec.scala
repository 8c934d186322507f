package graft

import org.apache.spark.sql.functions._
import graft.model.{IndexKind, IndexSchema}
import IndexKind._

/** End-to-end façade: DDL → writes → JSON searches against disk, the full
  * surface a reference user would migrate onto.
  */
class GraftSpec extends SparkSuite {
  import spark.implicits._

  test("full lifecycle: create, insert, hybrid JSON search, update, delete") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema(
      "body" -> Text(),
      "category" -> Str(caseSensitive = false),
      "price" -> Float,
      "vec" -> VectorFlat(2, Metric.Euclidean))
    val seed = Seq(
      ("1", "red apple pie recipe", "food", 5.0, Array(1f, 1f)),
      ("2", "green apple tart", "food", 7.5, Array(2f, 2f)),
      ("3", "laptop stand metal", "office", 30.0, Array(9f, 9f))
    ).toDF("_id", "body", "category", "price", "vec")
    db.createCollection("items", schema, seed)
    assert(db.listCollections() == Seq("items"))

    // text search via raw JSON
    val apples = db.search("items",
      """{"query": {"property": "body",
        |  "text": {"value": "apple", "operator": "containsAny", "limit": 10}},
        | "select": ["category", "price"], "limit": 10}""".stripMargin).collect()
    assert(apples.map(_.getAs[String]("_id")).sorted.toSeq == Seq("1", "2"))
    // idf = log10(3 docs / (df 2 + 1)) = 0 here, so scores are exactly 0 —
    // matching the reference's formula on tiny corpora
    assert(apples.forall(r => !r.isNullAt(r.fieldIndex("_score"))))

    // hybrid: vector near AND category filter
    val hybrid = db.search("items",
      """{"query": {"property": "_and", "_and": [
        |  {"property": "vec", "vectorFlat": {"vector": [1, 1], "operator": "near", "limit": 2}},
        |  {"property": "category", "string": {"operator": "equals", "value": "FOOD"}}]},
        | "limit": 10}""".stripMargin).collect()
    assert(hybrid.map(_.getAs[String]("_id")).sorted.toSeq == Seq("1", "2"))

    // write-through: update a price, insert a doc, delete one
    db.update("items", Seq(("3", 25.0)).toDF("_id", "price"))
    db.insert("items", Seq(("4", "apple charger cable", "office", 12.0, Array(5f, 5f)))
      .toDF("_id", "body", "category", "price", "vec"))
    assert(db.delete("items", Seq("2")) == 1)

    // post-write search sees the new state (cache invalidated)
    val after = db.search("items",
      """{"query": {"property": "body",
        |  "text": {"value": "apple", "operator": "containsAny", "limit": 10}},
        | "limit": 10}""".stripMargin).collect()
    assert(after.map(_.getAs[String]("_id")).sorted.toSeq == Seq("1", "4"))
    val p3 = db.search("items",
      """{"query": {"property": "_id", "string": {"operator": "equals", "value": "3"}},
        | "select": ["price"], "limit": 1}""".stripMargin).head()
    assert(p3.getAs[Double]("price") == 25.0)

    db.dropCollection("items")
    assert(db.listCollections().isEmpty)
  }

  /** The installed `t` index's statistics equal a from-scratch rebuild's
    * over the same view: `numDocs` and every `docFreq` entry, no term of
    * its own postings missing and no entry ≤ 0.
    */
  private def assertIndexExact(db: Graft, name: String): Unit = {
    val idx = db.collection(name).textIndexes("t")
    val rebuilt = graft.engine.TextIndex.build(db.collection(name).df, "t")
    try {
      assert(idx.numDocs == rebuilt.numDocs)
      assert(idx.docFreq == rebuilt.docFreq)
      assert(idx.docFreq.values.forall(_ > 0), idx.docFreq)
      val terms = idx.postings.filter(col("_term").isNotNull).select("_term").distinct()
        .as[String].collect().toSet
      assert(idx.docFreq.keySet == terms)
    } finally rebuilt.release()
  }

  test("text index is patched per write — numDocs tracks the live corpus") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema("t" -> Text())
    db.createCollection("docs", schema, Seq(
      ("a", "alpha bird"), ("b", "beta bird"), ("c", "gamma fish")
    ).toDF("_id", "t"))
    def q(term: String) =
      s"""{"query": {"property": "t",
         |  "text": {"value": "$term", "operator": "containsAny", "limit": 10}},
         | "limit": 10}""".stripMargin
    assert(db.search("docs", q("bird")).collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b"))
    assert(db.collection("docs").textIndexes("t").numDocs == 3)
    assertIndexExact(db, "docs")

    db.insert("docs", Seq(("d", "delta bird")).toDF("_id", "t"))
    assert(db.collection("docs").textIndexes("t").numDocs == 4)
    assertIndexExact(db, "docs")
    assert(db.search("docs", q("bird")).collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b", "d"))

    // sentinel-delete the text of a → drops out of the index (null prop)
    db.update("docs", Seq(("a", "_delete")).toDF("_id", "t"))
    assert(db.collection("docs").textIndexes("t").numDocs == 3)
    assertIndexExact(db, "docs")
    // alpha's last document left: the term leaves docFreq
    assert(!db.collection("docs").textIndexes("t").docFreq.contains("alpha"))
    assert(db.search("docs", q("bird")).collect().map(_.getString(0)).sorted.toSeq
      == Seq("b", "d"))

    db.delete("docs", Seq("b"))
    assert(db.collection("docs").textIndexes("t").numDocs == 2)
    assertIndexExact(db, "docs")
    assert(db.search("docs", q("bird")).collect().map(_.getString(0)).toSeq == Seq("d"))
  }

  test("numDocs stays exact across token-less docs and many patches (compaction)") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    db.createCollection("docs", IndexSchema("t" -> Text()), Seq(
      ("a", "alpha bird"), ("b", ""), ("c", "gamma fish")  // b: non-null, zero tokens
    ).toDF("_id", "t"))
    def q(term: String) =
      s"""{"query": {"property": "t",
         |  "text": {"value": "$term", "operator": "containsAny", "limit": 20}},
         | "limit": 20}""".stripMargin
    db.search("docs", q("bird")).collect()
    // token-less doc b still counts toward numDocs (it has non-null text)
    assert(db.collection("docs").textIndexes("t").numDocs == 3)
    assertIndexExact(db, "docs")

    // drive 10 single-row writes through the patch path — crosses the
    // CompactEvery fold and keeps exercising token-less transitions
    db.update("docs", Seq(("a", "")).toDF("_id", "t"))          // tokened → token-less
    assert(db.collection("docs").textIndexes("t").numDocs == 3)
    assertIndexExact(db, "docs")
    db.update("docs", Seq(("b", "beta bird")).toDF("_id", "t")) // token-less → tokened
    assert(db.collection("docs").textIndexes("t").numDocs == 3)
    assertIndexExact(db, "docs")
    (0 until 8).foreach { i =>
      db.insert("docs", Seq((s"n$i", s"extra bird $i")).toDF("_id", "t"))
      assertIndexExact(db, "docs")
    }
    val idx = db.collection("docs").textIndexes("t")
    assert(idx.numDocs == 11)
    assert(idx.patchDepth == 2) // 10 patches: compacted at the 8th
    assert(idx.docFreq("bird") == 9 && idx.docFreq("extra") == 8)
    assert(db.search("docs", q("bird")).collect().length == 9) // b + n0..n7; not a/c
  }

  test("approx JSON search serves from the store's auto-fitted quantizer") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema(
      "vec" -> VectorFlat(2, Metric.Euclidean, Quantizer.Binary(triggerThreshold = 5)))
    val seed = (0 until 40).map(i => (i.toString, Array(i.toFloat, (i + 1).toFloat)))
      .toDF("_id", "vec")
    db.createCollection("pts", schema, seed) // 40 ≥ trigger 5 → fitted on create
    assert(db.quantizer("pts", "vec").isDefined)
    def q(approx: Boolean) =
      s"""{"query": {"property": "vec",
         |  "vectorFlat": {"vector": [7, 8], "operator": "near", "limit": 5,
         |                 "approx": $approx}},
         | "limit": 10}""".stripMargin
    val exact = db.search("pts", q(approx = false)).collect().map(_.getString(0)).toSeq
    val approx = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
    // 40-row corpus ≤ budget 50: the quantized candidate stage covers the
    // whole collection, so the exact re-rank reproduces exact results
    assert(approx == exact, s"approx $approx != exact $exact")
    assert(db.collection("pts").vectorIndexes.contains("vec")) // artifact attached
    // a write drops the artifact (rebuilt lazily on the next approx search)
    db.insert("pts", Seq(("n1", Array(100f, 101f))).toDF("_id", "vec"))
    assert(!db.collection("pts").vectorIndexes.contains("vec"))
    val after = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
    assert(after == exact) // n1 is far from the query; results unchanged
  }

  test("approx JSON search serves from the store's auto-fitted SCALAR quantizer") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema(
      "vec" -> VectorFlat(2, Metric.Euclidean, Quantizer.Scalar(triggerThreshold = 5)))
    val seed = (0 until 40).map(i => (i.toString, Array(i.toFloat, (i + 1).toFloat)))
      .toDF("_id", "vec")
    db.createCollection("pts", schema, seed)
    assert(db.quantizer("pts", "vec").exists(_.isInstanceOf[graft.store.FittedScalar]))
    def q(approx: Boolean) =
      s"""{"query": {"property": "vec",
         |  "vectorFlat": {"vector": [7, 8], "operator": "near", "limit": 5,
         |                 "approx": $approx}},
         | "limit": 10}""".stripMargin
    val exact = db.search("pts", q(approx = false)).collect().map(_.getString(0)).toSeq
    val approx = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
    // 40-row corpus ≤ budget 50 → candidates cover the collection and the
    // exact re-rank reproduces exact results through the SQ artifact
    assert(approx == exact, s"approx $approx != exact $exact")
    assert(db.collection("pts").vectorIndexes.contains("vec"))
    // the schema round-trips the scalar quantizer declaration
    assert(db.listCollections().contains("pts"))
  }

  test("approx JSON search serves from the store-MAINTAINED vamana graph") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema("vec" -> VectorVamana(2, Metric.Euclidean,
      searchSize = 40, degreeBound = 32))
    val seed = (0 until 60).map(i => (i.toString, Array(i.toFloat, (i * 2).toFloat)))
      .toDF("_id", "vec")
    db.createCollection("pts", schema, seed)
    db.buildVamanaIndex("pts", "vec")
    def q(approx: Boolean, v: (Float, Float) = (17f, 33f)) =
      s"""{"query": {"property": "vec",
         |  "vectorVamana": {"vector": [${v._1}, ${v._2}], "operator": "near",
         |                   "limit": 5, "searchSize": 40, "approx": $approx}},
         | "limit": 10}""".stripMargin
    val exact = db.search("pts", q(approx = false)).collect().map(_.getString(0)).toSeq
    val approx = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
    // beam 40 over a 60-node graph: the pool contains the exact top-5
    assert(approx == exact, s"approx $approx != exact $exact")
    // the attached artifact is the graph, not a quantizer
    assert(db.collection("pts").vectorIndexes("vec")
      .isInstanceOf[graft.engine.VamanaVectorIndex])
    // a write PATCHES the graph artifact (store lifecycle) and drops the
    // attached serving frame; the next approx search re-attaches the new
    // generation and must find the just-inserted point
    db.insert("pts", Seq(("n1", Array(17.2f, 33.2f))).toDF("_id", "vec"))
    assert(!db.collection("pts").vectorIndexes.contains("vec"))
    val after = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
    assert(after.head == "n1", s"patched graph must serve the new nearest point: $after")
  }

  test("coded walk via the store: graph + fitted product quantizer serve together") {
    // the conf-gated DiskANN regime end-to-end through the JSON surface:
    // a vectorVamana prop with BOTH a built store graph and an auto-fitted
    // product quantizer walks the graph over PQ codes (localMaxBytes=1
    // forces the fetching regime) — corpus == searchSize, so the walk
    // visits every reachable node, the pool covers the collection, and
    // the exact re-rank must reproduce exact results
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema("vec" -> VectorVamana(2, Metric.Euclidean,
      searchSize = 40, degreeBound = 32,
      quantizer = Quantizer.Product(
        numCentroids = 16, numSubVectors = 2, triggerThreshold = 5)))
    val seed = (0 until 40).map(i => (i.toString, Array(i.toFloat, (i * 2).toFloat)))
      .toDF("_id", "vec")
    db.createCollection("pts", schema, seed)
    assert(db.quantizer("pts", "vec").exists(_.isInstanceOf[graft.store.FittedProduct]))
    db.buildVamanaIndex("pts", "vec")
    def q(approx: Boolean) =
      s"""{"query": {"property": "vec",
         |  "vectorVamana": {"vector": [17, 33], "operator": "near",
         |                   "limit": 5, "searchSize": 40, "approx": $approx}},
         | "limit": 10}""".stripMargin
    spark.conf.set("graft.vamana.codedWalk", "true")
    spark.conf.set("graft.vamana.localMaxBytes", "1")
    try {
      val exact = db.search("pts", q(approx = false)).collect().map(_.getString(0)).toSeq
      val approx = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
      assert(approx == exact, s"approx $approx != exact $exact")
      // the attached artifact is the coded graph, not the flat code scan
      val vidx = db.collection("pts").vectorIndexes("vec")
      assert(vidx.isInstanceOf[graft.engine.VamanaVectorIndex], vidx.getClass)
      assert(vidx.asInstanceOf[graft.engine.VamanaVectorIndex].coded.isDefined)
      assert(vidx.asInstanceOf[graft.engine.VamanaVectorIndex].codedServing.isDefined)
    } finally {
      spark.conf.unset("graft.vamana.codedWalk")
      spark.conf.unset("graft.vamana.localMaxBytes")
    }
  }

  test("coded walk via the store: graph + fitted OPQ serve together") {
    // the OPQ variant of the DiskANN regime (round 9): the store's
    // auto-fitted OPQ model is the code source — the serving table's
    // codes quantize ROTATED vectors and each walk rotates its query
    // once (OpqCodes) before the ADC table; same exactness argument as
    // the PQ case (corpus == searchSize => the pool covers everything)
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema("vec" -> VectorVamana(2, Metric.Euclidean,
      searchSize = 40, degreeBound = 32,
      quantizer = Quantizer.Opq(
        numCentroids = 16, numSubVectors = 2, triggerThreshold = 5)))
    val seed = (0 until 40).map(i => (i.toString, Array(i.toFloat, (i * 2).toFloat)))
      .toDF("_id", "vec")
    db.createCollection("pts", schema, seed)
    assert(db.quantizer("pts", "vec").exists(_.isInstanceOf[graft.store.FittedOpq]))
    db.buildVamanaIndex("pts", "vec")
    def q(approx: Boolean) =
      s"""{"query": {"property": "vec",
         |  "vectorVamana": {"vector": [17, 33], "operator": "near",
         |                   "limit": 5, "searchSize": 40, "approx": $approx}},
         | "limit": 10}""".stripMargin
    spark.conf.set("graft.vamana.codedWalk", "true")
    spark.conf.set("graft.vamana.localMaxBytes", "1")
    try {
      val exact = db.search("pts", q(approx = false)).collect().map(_.getString(0)).toSeq
      val approx = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
      assert(approx == exact, s"approx $approx != exact $exact")
      val vidx = db.collection("pts").vectorIndexes("vec")
      assert(vidx.isInstanceOf[graft.engine.VamanaVectorIndex], vidx.getClass)
      val vam = vidx.asInstanceOf[graft.engine.VamanaVectorIndex]
      assert(vam.coded.exists(_.isInstanceOf[graft.operators.OpqCodes]), vam.coded)
      assert(vam.codedServing.isDefined)
    } finally {
      spark.conf.unset("graft.vamana.codedWalk")
      spark.conf.unset("graft.vamana.localMaxBytes")
    }
  }

  test("coded walk via the store: graph + fitted RaBitQ serve together") {
    // the RBQ variant of the DiskANN regime (round 10): the store's
    // auto-fitted RaBitQ model is the code source — hops fetch the 1-bit
    // struct payload (bits/norm/dotq/dotc) and rank by the unbiased
    // estimator; same exactness argument as the PQ/OPQ cases (corpus ==
    // searchSize => the pool covers everything reachable)
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    val schema = IndexSchema("vec" -> VectorVamana(2, Metric.Euclidean,
      searchSize = 40, degreeBound = 32,
      quantizer = Quantizer.RaBitQ(triggerThreshold = 5)))
    val seed = (0 until 40).map(i => (i.toString, Array(i.toFloat, (i * 2).toFloat)))
      .toDF("_id", "vec")
    db.createCollection("pts", schema, seed)
    assert(db.quantizer("pts", "vec").exists(_.isInstanceOf[graft.store.FittedRbq]))
    db.buildVamanaIndex("pts", "vec")
    def q(approx: Boolean) =
      s"""{"query": {"property": "vec",
         |  "vectorVamana": {"vector": [17, 33], "operator": "near",
         |                   "limit": 5, "searchSize": 40, "approx": $approx}},
         | "limit": 10}""".stripMargin
    spark.conf.set("graft.vamana.codedWalk", "true")
    spark.conf.set("graft.vamana.localMaxBytes", "1")
    try {
      val exact = db.search("pts", q(approx = false)).collect().map(_.getString(0)).toSeq
      val approx = db.search("pts", q(approx = true)).collect().map(_.getString(0)).toSeq
      assert(approx == exact, s"approx $approx != exact $exact")
      val vidx = db.collection("pts").vectorIndexes("vec")
      assert(vidx.isInstanceOf[graft.engine.VamanaVectorIndex], vidx.getClass)
      val vam = vidx.asInstanceOf[graft.engine.VamanaVectorIndex]
      assert(vam.coded.exists(_.isInstanceOf[graft.operators.RbqCodes]), vam.coded)
      assert(vam.codedServing.isDefined)
    } finally {
      spark.conf.unset("graft.vamana.codedWalk")
      spark.conf.unset("graft.vamana.localMaxBytes")
    }
  }

  test("multi-tenancy: same-named collections isolated per tenant, quotas independent") {
    val root = Fs.tempDir("graft_mt_").toString
    val a = Graft.forTenant(spark, root, "tenant-a")
    val b = Graft.forTenant(spark, root, "tenant-b",
      graft.store.UserPlan(maxCollections = 1))
    val schema = IndexSchema("v" -> Integer)
    a.createCollection("c", schema, Seq(("1", 10L)).toDF("_id", "v"))
    b.createCollection("c", schema, Seq(("1", 99L)).toDF("_id", "v"))
    // same name, fully isolated data
    def q = """{"query": {"property": "v",
              |  "integer": {"operator": "greaterThanOrEquals", "value": 0}},
              | "select": ["v"], "limit": 10}""".stripMargin
    assert(a.search("c", q).select("v").as[Long].collect().toSeq == Seq(10L))
    assert(b.search("c", q).select("v").as[Long].collect().toSeq == Seq(99L))
    assert(a.listCollections() == Seq("c") && b.listCollections() == Seq("c"))
    // tenant-b's 1-collection plan binds b only; a is unaffected
    intercept[IllegalArgumentException] {
      b.createCollection("c2", schema, Seq(("1", 1L)).toDF("_id", "v"))
    }
    a.createCollection("c2", schema, Seq(("1", 1L)).toDF("_id", "v"))
    assert(a.listCollections().sorted == Seq("c", "c2"))
    // a hostile id cannot escape into another tenant's directory
    intercept[IllegalArgumentException] {
      Graft.forTenant(spark, root, "../tenant-a")
    }
  }

  test("index patch targets the ids the store committed, not a re-evaluated source") {
    val db = Graft(spark, Fs.tempDir("graft_db_").toString)
    db.createCollection("docs", IndexSchema("t" -> Text()),
      Seq(("a", "alpha bird")).toDF("_id", "t"))
    def q(term: String) =
      s"""{"query": {"property": "t",
         |  "text": {"value": "$term", "operator": "containsAny", "limit": 20}},
         | "limit": 20}""".stripMargin
    db.search("docs", q("bird")).collect() // build + materialize the index
    // non-deterministic id: every evaluation rolls a different _id — the
    // store checkpoints the batch, so exactly one id is committed; the
    // patch must target THAT id, not a fresh roll
    val nd = spark.range(1).select(
      concat(lit("nd"), (rand() * 1000000000L).cast("long").cast("string")).as("_id"),
      lit("wild bird").as("t"))
    assert(db.insert("docs", nd) == 1)
    val stored = db.collection("docs").df.filter(col("_id").startsWith("nd"))
      .select("_id").head().getString(0)
    val found = db.search("docs", q("wild")).collect().map(_.getString(0)).toSeq
    assert(found == Seq(stored), s"patched id(s) $found != committed id $stored")
  }
}
