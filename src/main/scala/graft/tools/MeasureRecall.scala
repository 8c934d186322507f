package graft.tools

import org.apache.spark.sql.functions._

/** One-off recall measurements outside the RecallReport regeneration:
  * run any [[ScaleRecall]] method set at any (sfDir, factor, lift) point
  * and print the rows — the harness behind RECALL.md's "measured once"
  * static entries (e.g. the 256-d coded-walk rows, whose builds are too
  * slow for the per-commit suite).
  *
  * Usage: `runMain graft.tools.MeasureRecall <sfDir> <factor> <dOut|0>
  * <m1,m2,...> [searchSize] [graphDir]` (`dOut` 0 = no JL lift, measure at
  * the stored dimensionality; `graphDir` = where to build the graph
  * artifact, or a prior run's to reuse when sweeping `searchSize` at the
  * same corpus point — without it the graph lives in a temp dir that is
  * removed at exit).
  */
object MeasureRecall {

  /** Session settings of the measurement harness, shared with
    * [[MeasureQps]]; production and the gates keep the profile defaults.
    *
    *   - 2 GB broadcast threshold: high-D measurement points (e.g. 20k ×
    *     1536-d) keep the vector table small (~100s of MB) while each
    *     vector is KB-wide, so VamanaBuild's vec-attach joins broadcast
    *     instead of sort-merging the candidate-pair stream with 6 KB
    *     vectors attached (measured: ~70 GB of spill per NN-Descent round
    *     at the stock 10 MB threshold — it filled the disk). The 100k ×
    *     1536-d point's replicated vec table is ~700 MB; past a 512 MB cap
    *     it silently fell back to sort-merge and spilled >50 GB in
    *     minutes. A 48 GB driver heap holds a 2 GB broadcast comfortably.
    *   - zstd: float shuffle blocks compress materially better than under
    *     the default lz4 — halves what the prune groupBy still spills.
    *   - ObjectHashAggregate fallback 4096 with 64 shuffle partitions: the
    *     prune's collect_list aggregates KB-wide (dist, dst, vec) structs,
    *     and the stock 128-distinct-keys fallback flips it to sort-based
    *     aggregation, which externally sorts the wide rows (~50 GB of
    *     spill at 100k × 1536-d). More, smaller partitions bound per-task
    *     hash-map memory (100k/64 keys × ≤128 structs × ~6 KB ≈ 1.2 GB per
    *     task). At real corpus scale the sort-based spill is the scalable
    *     behaviour — this is a measurement-machine fitting.
    */
  val harness: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> (2048L << 20).toString,
    "spark.io.compression.codec" -> "zstd",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    "spark.sql.shuffle.partitions" -> "64")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val dOut = args.lift(2).map(_.toInt).getOrElse(0)
    val methods = args.lift(3).map(_.split(",").toSet)
      .getOrElse(Set("vamana"))
    val spark = graft.Sessions.local(harness: _*)
    val emb0 = graft.Tables.embeddings(spark, sfDir)
    val emb =
      if (dOut > 0)
        graft.operators.Embeddings.jlLift(
          emb0, col("vec_id"), col("embedding"), dIn = 64, dOut = dOut)
      else emb0
    val searchSize = args.lift(4).map(_.toInt).getOrElse(75)
    val graphDir = args.lift(5).filter(_.nonEmpty)
    val rows = ScaleRecall.measure(
      spark, emb, factor, Seq(0L, 7L, 99L, 250L, 444L),
      searchSize = searchSize, methods = methods, graphDir = graphDir)
    rows.foreach(r => println(f"[recall] ${r.method} | ${r.config} | ${r.recall}%.3f"))
    spark.stop()
  }
}
