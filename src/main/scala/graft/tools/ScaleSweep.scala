package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize a `factor`×-replicated copy of a testdata scale dir with
  * SHIFTED KEYS, for the full-registry runtime-growth sweep (SURVEY §6):
  * run `graft.Bench` once against the base dir and once against the
  * replicated dir, and the per-query time ratios are the empirical
  * scaling exponents of every registered operator.
  *
  * Replication is TPC-H-faithful: `region`/`nation` are fixed dimension
  * tables at every scale factor, so they copy unchanged; every fact/dim
  * key and foreign key shifts by `replica × (maxKey+1)` of its entity —
  * joins stay consistent (each replica's orders reference that replica's
  * customers, lineitems reference that replica's orders/parts/suppliers),
  * so join selectivities and per-key row counts match a genuinely larger
  * corpus rather than fabricating skew.
  *
  * Two tables get CONTENT perturbation, not just key shifts:
  *
  *   - `documents.text`: replica r > 0 salts every 4th word with a
  *     replica suffix. Pure key-shifted copies would be exact duplicates
  *     of the base corpus, and every dedup operator's pair-generation
  *     would then grow QUADRATICALLY in the replication factor — an
  *     artifact of the synthetic corpus, not the operator's scaling. The
  *     ~25% word salt breaks cross-replica shingle similarity (3-gram
  *     overlap ≈ 0.75³ < the dedup thresholds) while preserving every
  *     WITHIN-replica near-dup relationship (the transform depends only
  *     on word position and replica, so similar docs perturb alike).
  *   - `embeddings.embedding`: replica r > 0 nudges each dimension by a
  *     deterministic hash noise in [−eps, +eps] and re-normalizes (the
  *     [[graft.operators.Embeddings.replicatePerturbed]] convention) —
  *     distinct vectors, preserved neighborhood structure.
  *
  * `doc_id` and `vec_id` shift by a COMMON step so the `doc_id = vec_id`
  * join queries keep their base-corpus join rate.
  *
  * Usage: `runMain graft.tools.ScaleSweep <baseDir> <factor> <outDir> [tables]`
  * (`tables` = optional comma-list to rewrite a subset of the replicas).
  */
object ScaleSweep {

  /** `df` unioned `factor`× with each column in `shift` bumped by
    * `replica × step(col)`; pure column arithmetic, one distributed pass.
    */
  private def replicate(
      df: DataFrame, factor: Int, shift: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    val rep = spark.range(factor).select(col("id").as("_rep"))
    val shifted = df.crossJoin(rep)
    val cols = df.columns.map { c =>
      shift.get(c) match {
        case Some(step) => (col(c) + col("_rep") * lit(step)).as(c)
        case None => col(c)
      }
    }
    shifted.select(cols.toSeq: _*)
  }

  private def maxOf(df: DataFrame, c: String): Long = {
    val r = df.agg(max(col(c).cast("long"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def build(spark: SparkSession, baseDir: String, factor: Int, outDir: String,
      tables: Option[Set[String]] = None): Unit = {
    require(factor >= 1, s"factor must be >= 1 (got $factor)")
    def read(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    // write with file-count proportional to the replication: the base
    // tables are single files, and a factor-100 replica written as ONE
    // file caps every downstream scan at ~maxPartitionBytes/128MB splits
    // (measured: the 100x bench ran ~3 cores of 24) — a real corpus at
    // 100x the size arrives as many files, so the replica must too or the
    // sweep measures the writer's layout, not the operator's scaling.
    // `tables` restricts which replicas are (re)written — rebuilding one
    // perturbation rule shouldn't re-materialize a 60M-row lineitem.
    def write(df: DataFrame, t: String): Unit =
      if (tables.forall(_.contains(t)))
        df.repartition(math.max(8, math.min(256, factor)))
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // fixed dimension tables (constant at every TPC-H scale factor)
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val events = graft.Tables.events(spark, baseDir)
    val documents = read("documents")
    val embeddings = read("embeddings")

    val cStep = maxOf(customer, "c_custkey") + 1
    val sStep = maxOf(supplier, "s_suppkey") + 1
    val pStep = maxOf(part, "p_partkey") + 1
    val oStep = maxOf(orders, "o_orderkey") + 1
    val eStep = maxOf(events, "event_id") + 1
    val uStep = maxOf(events, "user_id") + 1
    // common step: the doc_id = vec_id join must keep lining up
    val dStep = math.max(maxOf(documents, "doc_id"), maxOf(embeddings, "vec_id")) + 1

    write(replicate(customer, factor, Map("c_custkey" -> cStep)), "customer")
    write(replicate(supplier, factor, Map("s_suppkey" -> sStep)), "supplier")
    write(replicate(part, factor, Map("p_partkey" -> pStep)), "part")
    write(replicate(orders, factor,
      Map("o_orderkey" -> oStep, "o_custkey" -> cStep)), "orders")
    write(replicate(read("lineitem"), factor,
      Map("l_orderkey" -> oStep, "l_partkey" -> pStep, "l_suppkey" -> sStep)),
      "lineitem")
    write(replicate(events, factor,
      Map("event_id" -> eStep, "user_id" -> uStep)), "events")

    // documents: key shift + the word-salt content perturbation
    val salted = replicate(documents, factor, Map("doc_id" -> dStep))
      // recover the replica index from the shifted key (replicate()
      // dropped the helper column): floor(doc_id / dStep) is exact
      .withColumn("_rep", (col("doc_id") / lit(dStep)).cast("long"))
      .withColumn("text",
        when(col("_rep") === 0 || col("text").isNull, col("text"))
          .otherwise(array_join(
            zip_with(
              split(col("text"), " "),
              sequence(lit(0), greatest(size(split(col("text"), " ")) - 1, lit(0))),
              // salt suffix "r<rep>" with NO separator: the dedup
              // tokenizer splits on [^\p{L}\p{N}]+, so a "_r<rep>"
              // suffix would tokenize as the word PLUS a standalone
              // "r<rep>" token — a per-replica stop-token appearing at
              // every 4th position, which DENSIFIES within-replica
              // shingle groups (measured: top group df 10 → 80 at
              // factor 100, PPJoin candidates 1,190× base for 100×
              // data — a corpus artifact masquerading as operator
              // superlinearity, found when the 100× sweep filled the
              // disk). Fused "wordr<rep>" stays ONE token whose
              // within-replica df equals the base word's, so candidate
              // volume scales with the corpus.
              (w, i) => when(pmod(i + col("_rep"), lit(4)) === 0,
                concat(w, lit("r"), col("_rep"))).otherwise(w)),
            " ")))
      .drop("_rep")
    write(salted, "documents")

    // embeddings: key shift + deterministic hash-noise perturbation,
    // re-normalized; label rides along unchanged
    val eps = 0.05
    val perturbed = replicate(embeddings, factor, Map("vec_id" -> dStep))
      .withColumn("_rep", (col("vec_id") / lit(dStep)).cast("long"))
      .withColumn("_p", transform(col("embedding"), (x, i) =>
        x + when(col("_rep") === 0 || col("embedding").isNull, lit(0.0f))
          .otherwise(
            (((pmod(xxhash64(col("vec_id"), i, lit("graft-sweep")), lit(20001L))
              - lit(10000L)) / lit(10000.0)) * lit(eps)).cast("float"))))
      .withColumn("_n", sqrt(aggregate(col("_p"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
      // replica 0 must stay BIT-identical to the base corpus (the text
      // branch's convention): re-normalizing an already-unit float vector
      // double-round-trips every element, so gate the whole transform
      .withColumn("embedding",
        when(col("_rep") === 0 || col("_n") <= 0, col("embedding"))
          .otherwise(transform(col("_p"),
            x => (x.cast("double") / col("_n")).cast("float"))))
      .drop("_rep", "_p", "_n")
    write(perturbed, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse("/tmp/graft_sweep_sf1")
    val only = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.Sessions.local()
    build(spark, baseDir, factor, outDir, only)
    graft.Tables.names.filter(t => only.forall(_.contains(t))).foreach { t =>
      val n = spark.read.parquet(s"$outDir/$t.parquet").count()
      println(s"[sweep] $t: $n rows")
    }
    spark.stop()
  }
}
