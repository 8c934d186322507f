package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Similarity}
import graft.streaming.EventsStream
import graft.model.IndexKind.Metric

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("streaming windowed agg equals the batch run (exactly-once parity)") {
    val batch = EventsStream.windowedAgg(Tables.events(spark, sf0001))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getAs[java.time.LocalDateTime]("hour").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n")))
    val streamed = EventsStream.runAsStream(spark, sf0001,
        EventsStream.windowedAgg)
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getAs[java.time.LocalDateTime]("hour").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n")))
    assert(streamed.nonEmpty)
    assert(batch.toSeq == streamed.toSeq)
  }

  test("streaming session windows cover the same events as batch sessions") {
    val batchTotal = EventsStream.sessionizeBatch(Tables.events(spark, sf0001))
      .agg(sum("n_events")).head().getLong(0)
    val streamed = EventsStream.runAsStream(spark, sf0001,
      EventsStream.sessionizeStreaming)
    assert(streamed.agg(sum("n_events")).head().getLong(0) == batchTotal)
    // session boundaries also agree (session_window and gaps-and-islands
    // are the same semantics)
    val batchSessions = EventsStream.sessionizeBatch(Tables.events(spark, sf0001)).count()
    assert(streamed.count() == batchSessions)
  }

  test("streaming dedup matches batch dropDuplicates counts") {
    val batch = Tables.events(spark, sf0001)
      .dropDuplicates("user_id", "event_type").count()
    val streamed = EventsStream.runAsStream(spark, sf0001,
      EventsStream.dedupStream(_, Seq("user_id", "event_type")),
      outputMode = "append")
    assert(streamed.count() == batch)
  }

  test("streaming ingestion lands micro-batches through the store contract") {
    import graft.model.{IndexKind, IndexSchema}
    import graft.store.CollectionStore
    val srcDir = Fs.tempDir("graft_src_").toString
    val seedRows = Seq(("s1", "alpha", 1L), ("s2", "beta", 2L))
    seedRows.toDF("_id", "name", "size").write.mode("overwrite").parquet(srcDir)
    val store = new CollectionStore(spark,
      Fs.tempDir("graft_store_").toString)
    store.create("stream_c",
      IndexSchema("name" -> IndexKind.Str(), "size" -> IndexKind.Integer),
      Seq(("seed", "zero", 0L)).toDF("_id", "name", "size"))
    val stream = spark.readStream
      .schema(seedRows.toDF("_id", "name", "size").schema)
      .parquet(srcDir)
    val ckpt = Fs.tempDir("graft_ckpt_").toString
    val q = EventsStream.ingestInto(stream, store, "stream_c", ckpt)
    try q.processAllAvailable() finally q.stop()
    val got = store.load("stream_c").df.orderBy("_id").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("s1", "s2", "seed"))
    assert(got.map(_.getAs[Long]("size")).sum == 3L)
  }

  test("distributed ingestion: multi-partition batch lands per-task, w1 semantics hold") {
    import graft.model.{IndexKind, IndexSchema}
    import graft.store.CollectionStore
    val srcDir = Fs.tempDir("graft_srcd_").toString
    // a batch larger than one insert() contract, spread over 8 partitions
    val n = 25000
    spark.range(n)
      .select(concat(lit("b"), col("id")).as("_id"),
        concat(lit("name"), col("id")).as("name"), col("id").as("size"))
      .repartition(8)
      .write.mode("overwrite").parquet(srcDir)
    val root = Fs.tempDir("graft_stored_").toString
    val store = new CollectionStore(spark, root)
    store.create("bulk_c",
      IndexSchema("name" -> IndexKind.Str(), "size" -> IndexKind.Integer),
      Seq(("seed", "zero", 0L)).toDF("_id", "name", "size"))
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .parquet(srcDir)
    val ckpt = Fs.tempDir("graft_ckptd_").toString
    val q = EventsStream.ingestIntoDistributed(stream, store, "bulk_c", ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(store.load("bulk_c").df.count() == n + 1)
    // the landed delta is written one file per TASK (the executor-side
    // contract this path exists for), not one driver-coalesced file. The
    // micro-batch above may legitimately coalesce to one partition at this
    // tiny scale (AQE), so the multi-file shape is asserted on a direct
    // ingest of an explicitly 8-partition batch.
    def deltaFiles: Int = java.nio.file.Files.list(java.nio.file.Paths.get(root, "bulk_c"))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("d"))
      .flatMap(d => java.nio.file.Files.list(d).iterator().asScala)
      .count(_.getFileName.toString.endsWith(".parquet"))
    val before = deltaFiles
    store.ingestBatch("bulk_c", spark.range(4000)
      .select(concat(lit("c"), col("id")).as("_id"),
        concat(lit("name"), col("id")).as("name"), col("id").as("size"))
      .repartition(8))
    assert(deltaFiles - before > 1,
      s"expected a multi-file delta, found ${deltaFiles - before} new file(s)")
    assert(store.load("bulk_c").df.count() == n + 4001)
    // w1 semantics: a clash rejects the whole batch, all-or-nothing
    val clash = Seq(("b7", "dup", 7L), ("nu1", "new", 1L)).toDF("_id", "name", "size")
    val e = intercept[IllegalArgumentException](store.ingestBatch("bulk_c", clash))
    assert(e.getMessage.contains("already exist"))
    assert(store.load("bulk_c").df.count() == n + 4001) // nu1 did not sneak in
    // and duplicate ids inside one batch reject too
    val dup = Seq(("x1", "a", 1L), ("x1", "b", 2L)).toDF("_id", "name", "size")
    val e2 = intercept[IllegalArgumentException](store.ingestBatch("bulk_c", dup))
    assert(e2.getMessage.contains("duplicate"))
  }

  test("knnJoin: bounded partial top-k — exact results, no per-query window") {
    val emb = Tables.embeddings(spark, sf0001)
    val res = Similarity.knnJoin(
      emb.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"), k = 4, metric = Metric.Cosine)
    // scale contract: the top-k is a partial (map-side) bounded aggregate,
    // not a row_number window shuffling the full cross product by query_id
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_topkagg"), plan)
    val rows = res.collect()
    assert(rows.length == 12)
    // exact vs driver-side brute force for query 0
    val all = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double =
      1.0 - a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val expect = all.map { case (id, v) => (cos(q, v), id) }.sorted.take(4).map(_._2)
    val got = rows.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("corpus_id"))
    assert(got.toSeq == expect.toSeq)
  }

  test("matryoshkaSearch: full-budget funnel is exact; tight budget keeps high recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("corpus_id")).toSeq
        }
    val exact = ids(Similarity.knnJoin(
      queries, col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"), k = 10, metric = Metric.Cosine))
    // budget = |corpus|: stage 1 keeps everything → identical to exact
    val full = ids(Similarity.matryoshkaSearch(
      queries, col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"),
      dPrefix = 16, budget = n, k = 10))
    assert(full == exact)
    // tight budget: the 16-dim prefix funnel should still recover most
    // of the exact top-10 (the prefix carries real signal on this corpus)
    def recallAt(budget: Int): Double = {
      val funnel = ids(Similarity.matryoshkaSearch(
        queries, col("vec_id"), col("embedding"),
        emb, col("vec_id"), col("embedding"),
        dPrefix = 16, budget = budget, k = 10))
      exact.keys.map { q =>
        funnel(q).toSet.intersect(exact(q).toSet).size.toDouble / exact(q).size
      }.sum / exact.size
    }
    // these embeddings are synthetic (prefix dims carry no privileged
    // signal, unlike MRL-trained vectors), so the bar is "real signal,
    // monotone in budget", not production recall
    val r50 = recallAt(50)
    assert(r50 >= 0.3, s"funnel recall $r50 collapsed — prefix carries no signal?")
    assert(recallAt(200) >= r50)
    // both stages stay bounded aggregates, never a cross-product window
    val plan = Similarity.matryoshkaSearch(
      queries, col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"),
      dPrefix = 16, budget = 50, k = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("bucket-partitioned IVF artifact turns probes into partition pruning") {
    val dir = Fs.tempDir("graft_ivf_").toString
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.writeIvfArtifact(emb, col("vec_id"), col("embedding"), nBits = 6, dir)
    val qv = graft.queries.TestCollections.queryVector(spark, sf0001, 7)
    val served = Similarity.ivfSearchArtifact(
      spark, dir, qv, k = 5, metric = Metric.Cosine, nBits = 6)
    val plan = served.queryExecution.executedPlan.toString
    // the probe predicate must land INSIDE PartitionFilters (scan prunes
    // directories), not in a post-scan Filter over a full read — an empty
    // "PartitionFilters: []" also renders, so match the content
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined, plan)
    // identical results to the scan-and-filter formulation
    val direct = Similarity.ivfSearch(emb, col("vec_id"), col("embedding"), qv,
      k = 5, metric = Metric.Cosine, nBits = 6)
      .select("id", "bucket", "distance").collect().map(_.toSeq)
    assert(served.select("id", "bucket", "distance").collect().map(_.toSeq).toSeq ==
      direct.toSeq)
    // and the probed directories hold a strict fraction of the corpus
    val probedRows = spark.read.parquet(dir)
      .filter(col("bucket").isin(
        served.select("bucket").collect().map(_.getInt(0)).distinct.toSeq: _*))
      .count()
    assert(probedRows < emb.count())
  }

  test("ivf search trades recall for scan reduction but finds near hits") {
    val emb = Tables.embeddings(spark, sf0001)
    val qv = graft.queries.TestCollections.queryVector(spark, sf0001, 7)
    val ivf = Similarity.ivfSearch(emb, col("vec_id"), col("embedding"), qv,
      k = 5, metric = Metric.Cosine, nBits = 6).collect()
    assert(ivf.length == 5)
    // the query's own vector lives in its own bucket → exact self-match
    assert(ivf.head.getAs[Long]("id") == 7L)
    assert(math.abs(ivf.head.getAs[Double]("distance")) < 1e-6)
    // scan reduction: probed buckets hold a fraction of the corpus
    val probed = Similarity.signBuckets(emb, col("embedding"), 6)
      .filter(col("bucket").isin(ivf.map(_.getAs[Int]("bucket")).distinct.toSeq: _*))
      .count()
    assert(probed < emb.count())
  }

  test("multimodal payload → decode keeps ids, shapes, and feature norm") {
    val payloads = Multimodal.withPayload(
      Tables.documents(spark, sf0001), col("doc_id"), col("text"), "text/plain")
    assert(payloads.schema("payload").dataType.typeName == "binary")
    val decoded = Multimodal.decode(payloads)
    assert(decoded.count() == payloads.count())
    val row = decoded.filter(col("id") === 0).head()
    assert(row.getAs[Int]("width") >= 1 && row.getAs[Int]("height") >= 1)
    val feat = row.getSeq[Float](row.fieldIndex("feature"))
    assert(feat.length == 8)
    assert(math.abs(feat.sum - 1.0f) < 1e-3) // histogram normalized
    // resize stub respects max dimension
    val resized = Multimodal.resizeStub(decoded, 64)
    assert(resized.agg(max("width")).head().getInt(0) <= 64)
  }

  test("winnowing sketch: window coverage and the shared-run guarantee") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf0001)
    val sketch = TextAnalysis.winnow(docs, col("doc_id"), col("text"), n = 3, window = 4)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(r => r.getInt(1) -> r.getLong(2)).toMap).toMap
    val gramCounts = docs.select(col("doc_id"),
        (size(graft.operators.Dedup.tokens(col("text"))) - 2).cast("long").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // coverage: every window of 4 consecutive gram positions holds a pick
    sketch.foreach { case (id, picks) =>
      val m = gramCounts(id)
      if (m > 4) {
        val ps = picks.keySet
        (1L to (m - 3)).foreach { ws =>
          assert((ws until ws + 4).exists(j => ps.contains(j.toInt)),
            s"doc $id window [$ws,${ws + 3}] has no pick")
        }
        // and the sketch is an actual reduction, not all grams
        assert(picks.size < m, s"doc $id sketch did not shrink")
      }
    }
    // guarantee: documents sharing a run of w+n-1=6 tokens share a hash
    val a = "alpha beta gamma delta epsilon zeta UNIQUE1 marker1"
    val b = "prefix2 other2 alpha beta gamma delta epsilon zeta trailer2"
    val two = spark.createDataFrame(Seq((1L, a), (2L, b))).toDF("doc_id", "text")
    val s2 = TextAnalysis.winnow(two, col("doc_id"), col("text"), n = 3, window = 4)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(s2(1L).intersect(s2(2L)).nonEmpty,
      s"6-token shared run produced disjoint sketches: $s2")
  }

  test("feature extraction: unit norm, and the features feed kNN join directly") {
    val payloads = Multimodal.withPayload(
      Tables.documents(spark, sf0001), col("doc_id"), col("text"), "image/fake")
    val feats = Multimodal.featureExtract(payloads, dim = 32)
    assert(feats.count() == payloads.filter(length(col("payload")) > 0).count())
    // L2-normalized: every surviving row has unit norm
    val norms = feats.select(
      aggregate(col("feature"), lit(0.0), (a, x) => a + x * x).as("ss"))
    assert(norms.filter(abs(col("ss") - 1.0) > 1e-9).count() == 0)
    // bytes → features → ANN: the extracted vectors drive the similarity
    // operators with no adapter — each query's nearest neighbor is itself
    val ff = feats.withColumn("feature", col("feature").cast("array<float>"))
    val knn = Similarity.knnJoin(
      ff.filter(col("id") < 3), col("id"), col("feature"),
      ff, col("id"), col("feature"),
      k = 3, metric = graft.model.IndexKind.Metric.Cosine)
    val self = knn.filter(col("rank") === 1)
      .select("query_id", "corpus_id").collect()
    assert(self.nonEmpty && self.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("frame sampling covers the whole payload with stride-sized slices") {
    val payloads = Multimodal.withPayload(
      Tables.documents(spark, sf0001), col("doc_id"), col("text"), "video/fake")
    val frames = Multimodal.frameSample(payloads, stride = 100)
    val byDoc = frames.groupBy("id").agg(count(lit(1)).as("n"), max("offset").as("mx"))
      .join(payloads.select(col("id"), length(col("payload")).as("len")), "id")
    // every doc's last frame starts within the payload
    assert(byDoc.filter(col("mx") >= col("len")).count() == 0)
    assert(byDoc.filter(col("n") =!= ceil(col("len") / lit(100.0))).count() == 0)
  }
}
