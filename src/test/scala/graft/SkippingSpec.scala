package graft

import org.apache.spark.sql.functions._
import graft.operators.Skipping

/** Laws for the per-file Bloom skipping index: lookup-equals-full-scan
  * (present, absent, and null-free), real file skipping on a point
  * probe, index determinism, and the missing-column guard.
  */
class SkippingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Fs.tempDir("skipping").toString
    Tables.documents(spark, sf001)
      .repartitionByRange(16, $"doc_id").sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$d/docs")
    d
  }

  private lazy val index =
    Skipping.buildIndex(spark, s"$dir/docs", "doc_id",
      expectedPerFile = 1000, fpp = 0.001).persist()

  test("point lookup equals the full-scan filter, present and absent") {
    val full = spark.read.parquet(s"$dir/docs")
    for (id <- Seq(0L, 123L, 499L, 777777L)) {
      val got = Skipping.readPoint(spark, s"$dir/docs", index, "doc_id", id)
      val want = full.filter($"doc_id" === id)
      assert(got.exceptAll(want).count() === 0, s"id $id extra rows")
      assert(want.exceptAll(got).count() === 0, s"id $id missing rows")
    }
  }

  test("a point probe skips most of the 16 files") {
    val n = index.count()
    assert(n === 16L, s"expected one index row per file, got $n")
    val may = Skipping.filesFor(index, lit(123L))
    assert(may.nonEmpty && may.size <= 2, s"probe touched ${may.size} of $n files")
    // an absent key should (at fpp 0.001 over 16 files) touch none
    assert(Skipping.filesFor(index, lit(987654321L)).isEmpty)
  }

  test("index build is deterministic") {
    val again = Skipping.buildIndex(spark, s"$dir/docs", "doc_id", 1000, 0.001)
    val a = index.select($"file", $"words").as[(String, Seq[Long])].collect()
      .map { case (f, w) => (f, w.hashCode) }.toMap
    val b = again.select($"file", $"words").as[(String, Seq[Long])].collect()
      .map { case (f, w) => (f, w.hashCode) }.toMap
    assert(a === b)
  }

  test("guard: unknown key column is rejected") {
    intercept[IllegalArgumentException](
      Skipping.buildIndex(spark, s"$dir/docs", "nope", 1000, 0.001))
    intercept[IllegalArgumentException](
      Skipping.buildZoneMap(spark, s"$dir/docs", Seq("nope")))
    intercept[IllegalArgumentException](
      Skipping.buildZoneMap(spark, s"$dir/docs", Seq.empty))
  }

  test("zone map: range scan equals full scan; sorted layout prunes files") {
    val zm = Skipping.buildZoneMap(spark, s"$dir/docs", Seq("doc_id"))
    assert(zm.count() === 16L)
    val full = spark.read.parquet(s"$dir/docs")
    for ((lo, hi) <- Seq((100L, 150L), (0L, 499L), (600L, 700L))) {
      val got = Skipping.readRange(spark, s"$dir/docs", zm, "doc_id", lo, hi)
      val want = full.filter($"doc_id" >= lo && $"doc_id" <= hi)
      assert(got.exceptAll(want).count() === 0, s"[$lo,$hi] extra")
      assert(want.exceptAll(got).count() === 0, s"[$lo,$hi] missing")
    }
    // range-partitioned on doc_id -> a 50-wide range hits ~2 of 16 files
    assert(Skipping.filesForRange(zm, "doc_id", lit(100L), lit(150L)).size <= 3)
    assert(Skipping.filesForRange(zm, "doc_id", lit(600L), lit(700L)).isEmpty)
  }

  test("incremental update equals a full rebuild; stale rows dropped") {
    val d = Fs.tempDir("skipinc").toString
    val docs = Tables.documents(spark, sf001)
    docs.filter($"doc_id" < 300)
      .repartitionByRange(4, $"doc_id").write.mode("overwrite").parquet(s"$d/t")
    val idx0 = Skipping.buildIndex(spark, s"$d/t", "doc_id", 1000, 0.001)
      .localCheckpoint()
    // append new files (mode append adds files, never rewrites)
    docs.filter($"doc_id" >= 300)
      .repartitionByRange(3, $"doc_id").write.mode("append").parquet(s"$d/t")
    val updated = Skipping.updateIndex(spark, s"$d/t", idx0, "doc_id", 1000, 0.001)
    val rebuilt = Skipping.buildIndex(spark, s"$d/t", "doc_id", 1000, 0.001)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"file", $"words", $"bits_k").as[(String, Seq[Long], Int)]
        .collect().map { case (f, w, k) => (f, w.hashCode, k) }.toSet
    assert(canon(updated) === canon(rebuilt))
    assert(updated.count() === 7)
    // a probe through the updated index still answers exactly
    val got = Skipping.readPoint(spark, s"$d/t", updated, "doc_id", 450L)
    assert(got.count() === docs.filter($"doc_id" === 450L).count())
    // no-op refresh returns the index unchanged
    assert(canon(Skipping.updateIndex(spark, s"$d/t", updated, "doc_id", 1000, 0.001))
      === canon(updated))
    Fs.deleteTree(java.nio.file.Paths.get(d))
  }

  test("zone map over a z-ordered write is tight on BOTH dimensions") {
    val d = Fs.tempDir("zskip").toString
    val ev = Tables.events(spark, sf001).select($"event_id", $"user_id", $"value")
    graft.operators.Layout.writeZOrdered(ev, s"$d/z",
      Seq($"user_id", $"value"), numFiles = 16, bits = 12)
    val zm = Skipping.buildZoneMap(spark, s"$d/z", Seq("user_id", "value"))
    // every zone's user_id span must be far under the full domain — the
    // single-column-sort counterfactual leaves the SECOND column at full
    // range in every file (see LayoutSpec's span measurement)
    val dom = ev.agg((max($"user_id") - min($"user_id")).cast("double")).as[Double].head()
    val spans = zm.select(($"max_user_id" - $"min_user_id").cast("double")).as[Double].collect()
    assert(spans.length === 16)
    assert(spans.count(_ <= dom / 3) >= 12,
      s"z zones should be tight on user_id: spans ${spans.sorted.mkString(",")} vs domain $dom")
    // and a narrow user_id range probe skips most files
    val mid = ev.agg(min($"user_id")).as[Long].head() + (dom / 2).toLong
    val may = Skipping.filesForRange(zm, "user_id", lit(mid), lit(mid + (dom / 16).toLong))
    assert(may.size <= 8, s"touched ${may.size} of 16")
    Fs.deleteTree(java.nio.file.Paths.get(d))
  }
}
