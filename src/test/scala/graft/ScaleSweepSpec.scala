package graft

import org.apache.spark.sql.functions._
import graft.tools.ScaleSweep

/** Invariants of the full-registry scale-sweep replication
  * (tools/ScaleSweep.scala): the 10× dir the sweep benches against must
  * be a FAITHFUL scale-up — fixed dims, factor× facts, preserved join
  * rates, de-duplicated content — or the per-query growth ratios it
  * produces are measuring corpus artifacts, not operator scaling.
  */
class ScaleSweepSpec extends SparkSuite {

  private val factor = 3
  private lazy val outDir = {
    val d = Fs.tempDir("graft_sweep_spec_").toString
    ScaleSweep.build(spark, sf0001, factor, d)
    d
  }
  private def base(t: String) = spark.read.parquet(s"$sf0001/$t.parquet")
  private def rep(t: String) = spark.read.parquet(s"$outDir/$t.parquet")

  test("dims fixed, facts factor-x, keys unique") {
    assert(rep("region").count() == base("region").count())
    assert(rep("nation").count() == base("nation").count())
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings"))
      assert(rep(t).count() == factor * base(t).count(), t)
    // shifted keys collide nowhere (the step really is past the max)
    for ((t, k) <- Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
        "documents" -> "doc_id", "embeddings" -> "vec_id"))
      assert(rep(t).select(k).distinct().count() == rep(t).count(), s"$t.$k")
  }

  test("foreign-key join rates scale exactly with the corpus") {
    def joinCount(dir: String => org.apache.spark.sql.DataFrame): Long = {
      val orders = dir("orders"); val cust = dir("customer")
      orders.join(cust, orders("o_custkey") === cust("c_custkey")).count()
    }
    assert(joinCount(rep) == factor * joinCount(base))
    // the doc_id = vec_id bridge (shared step) keeps its base join rate
    def docVec(dir: String => org.apache.spark.sql.DataFrame): Long =
      dir("documents").join(dir("embeddings"),
        col("doc_id") === col("vec_id")).count()
    assert(docVec(rep) == factor * docVec(base))
  }

  test("replica content is perturbed: no cross-replica exact text dups, unit vectors") {
    val docs = rep("documents").filter(col("text").isNotNull)
    // word-salting makes every replica's text distinct from the base copy
    assert(docs.select("text").distinct().count() == docs.count(),
      "replicated documents must not be exact text duplicates")
    // embeddings stay unit-norm after the hash-noise perturbation
    val offUnit = rep("embeddings").filter(col("embedding").isNotNull)
      .select(abs(sqrt(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double"))) - 1.0).as("d"))
      .filter(col("d") > 1e-3).count()
    assert(offUnit == 0, s"$offUnit replicated embeddings off unit norm")
    // ... and replica 0 is BIT-identical to the base corpus (a
    // re-normalization round-trip here would silently break base-vs-sweep
    // comparisons of the same vec_id)
    val baseMax = base("embeddings").agg(max(col("vec_id"))).head().getLong(0)
    val rep0 = rep("embeddings").filter(col("vec_id") <= baseMax)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val orig = base("embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rep0 == orig, "replica-0 embeddings drifted from the base corpus")
  }

  test("directory-shaped events stream end-to-end (the sweep-found scale bug)") {
    // the replica's events.parquet is a part-file DIRECTORY — the shape
    // every at-scale writer produces and the shape runAsStream failed on
    // before round 10 (parent-dir glob matches only plain files)
    assert(new java.io.File(s"$outDir/events.parquet").isDirectory)
    val n = graft.streaming.EventsStream.runAsStream(spark, outDir,
      ev => ev.select(col("event_id")), outputMode = "append").count()
    assert(n == factor * base("events").count())
  }
}
