package graft.engine

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalyzer
import Collection._

/** A built text index for one property: the postings DataFrame
  * `(_id, _doclen, _term, _freq)` plus the document count and the
  * per-term document frequencies — the Spark-native analogue of the
  * reference's per-term roaring sets + per-doc term-frequency maps
  * maintained in bbolt buckets (reference shard/index/text/text.go:151–258).
  * Building is a batch job; queries against a built index skip
  * re-tokenizing the corpus.
  *
  * Token-less documents (non-null text that analyzes to zero terms) keep
  * ONE null-`_term` row, so the postings frame itself carries the exact
  * non-null document count — queries filter on term equality first, which
  * a null term never matches, so these rows are inert at search time but
  * make per-write `numDocs` bookkeeping exact and batch-scale.
  *
  * `docFreq` invariant: for every non-null term t in the postings,
  * `docFreq(t)` is the number of postings rows with `_term = t` (one row
  * per (doc, term), so the number of documents holding t — the
  * cardinality of the reference's per-term posting set); no other key is
  * present and no value is ≤ 0. It lives on the driver next to `numDocs`,
  * so a query's df is a literal lookup, not an aggregation.
  *
  * [[build]] partitions the postings by `_id`: the persisted relation
  * reports `hashpartitioning(_id)`, so a query's per-document aggregate
  * runs without an exchange. [[buildDiskCached]] keeps its term-clustered
  * parquet layout, which carries no `_id` partitioning.
  *
  * `patchDepth`/`blocks` track the incremental-patch state: `postings`
  * at depth > 0 is a lazily COMPOSED view (base anti-join ∪ per-batch
  * checkpoints); `blocks` holds every materialized frame backing it, to
  * release on eviction or at the next compaction.
  */
final case class TextIndex(
    postings: DataFrame, numDocs: Long, docFreq: Map[String, Long],
    patchDepth: Int = 0, blocks: Seq[DataFrame] = Nil) {

  /** Release every persisted/checkpointed block backing this index. */
  def release(): Unit = {
    org.apache.spark.sql.graft.Bridge.release(postings)
    blocks.foreach(org.apache.spark.sql.graft.Bridge.release)
  }
}

object TextIndex {

  /** Fold the composed patch chain into one materialized frame once it
    * reaches this depth — bounds per-query plan depth at ≤ CompactEvery
    * broadcast anti-joins while keeping the per-write cost batch-scale.
    */
  private val CompactEvery = 8

  /** Tokenize + aggregate the postings frame (shared by every build).
    * Partitioned by `_id` before tokenizing: the `(_id, _doclen, _term)`
    * aggregate then needs no exchange of its own, and the output keeps
    * `hashpartitioning(_id)` for the per-document query aggregates.
    */
  private[engine] def compute(df: DataFrame, prop: String): DataFrame = {
    // tokenize into a materialized column first — HOFs are interpreted, so
    // downstream per-element references must not inline the tokenizer
    val toks = df.filter(col(prop).isNotNull)
      .repartition(col(IdCol))
      .select(col(IdCol), TextAnalyzer.analyze(col(prop)).as("_terms"))
      .withColumn("_doclen", size(col("_terms")))
    // explode_outer: token-less docs keep one null-term row (see class doc)
    toks
      .select(col(IdCol), col("_doclen"), explode_outer(col("_terms")).as("_term"))
      .groupBy(IdCol, "_doclen", "_term")
      .agg(count(lit(1)).as("_freq"))
  }

  /** Per-term document frequencies of a postings frame (class doc). */
  private def docFreqOf(postings: DataFrame): Map[String, Long] =
    postings.filter(col("_term").isNotNull).groupBy("_term").count()
      .collect().iterator.map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Documents in a postings frame: every non-null doc has ≥ 1 row. */
  private def numDocsOf(postings: DataFrame): Long =
    postings.select(IdCol).distinct().count()

  /** Build (and persist in memory) the index for `prop`. */
  def build(df: DataFrame, prop: String): TextIndex = {
    val p = compute(df, prop).persist()
    TextIndex(p, numDocsOf(p), docFreqOf(p), 0, Seq(p))
  }

  /** An index over `df` that persists nothing: the postings stay lazy
    * (recomputed by each query), while `numDocs` and `docFreq` are
    * derived eagerly. For collections without an installed index — a
    * materialization here would have no owner to release it.
    */
  def adHoc(df: DataFrame, prop: String): TextIndex = {
    val p = compute(df, prop)
    TextIndex(p, numDocsOf(p), docFreqOf(p))
  }

  /** Incrementally patch a built index after a write (the reference
    * updates its inverted postings per point, text.go:151–258): drop the
    * affected ids' postings, re-analyze JUST those ids from the new
    * collection view, and splice. Per-write cost is batch-scale — only
    * the per-batch additions are materialized (the `_id IN (...)` slice
    * pushes into the view's scan); the splice itself stays a lazy
    * broadcast anti-join over the still-cached previous postings, folded
    * into one frame every [[CompactEvery]] patches. `numDocs` and
    * `docFreq` are maintained by exact delta arithmetic over the removed
    * and added `(_id, _term)` rows, collected once per side (the null-term
    * rows make every non-null doc visible there), not a corpus recount.
    *
    * Returns the patched index plus the blocks it SUPERSEDED (non-empty
    * only when the patch chain compacted). The caller owns their release —
    * and must NOT release them immediately: a concurrent search that read
    * the pre-patch index from a cache may still be mid-job over those
    * checkpointed blocks, which have no lineage to recompute. Defer (the
    * facade retires them one write generation) or accept failed readers.
    */
  def patched(
      idx: TextIndex, newView: DataFrame, prop: String,
      ids: Seq[String]): (TextIndex, Seq[DataFrame]) = {
    if (ids.isEmpty) return (idx, Nil)
    val spark = newView.sparkSession
    import spark.implicits._
    val idsDf = ids.toDF(IdCol)
    val add = compute(newView.filter(col(IdCol).isin(ids: _*)), prop)
      .localCheckpoint() // batch-scale materialization
    try {
      // the rows leaving and entering the index, batch-scale: the removed
      // side scans the in-memory postings with a broadcast semi-join, no
      // re-tokenize
      val removed = idx.postings
        .join(broadcast(idsDf), Seq(IdCol), "left_semi")
        .select(IdCol, "_term").collect()
      val added = add.select(IdCol, "_term").collect()
      def docs(rows: Array[Row]): Long = rows.iterator.map(_.getString(0)).toSet.size
      def terms(rows: Array[Row]): Map[String, Long] =
        rows.iterator.flatMap(r => Option(r.getString(1))).toSeq
          .groupMapReduce(identity)(_ => 1L)(_ + _)
      val (minus, plus) = (terms(removed), terms(added))
      val docFreq = (minus.keySet ++ plus.keySet).foldLeft(idx.docFreq) { (m, t) =>
        val n = m.getOrElse(t, 0L) - minus.getOrElse(t, 0L) + plus.getOrElse(t, 0L)
        if (n > 0) m.updated(t, n) else m - t
      }
      val numDocs = idx.numDocs - docs(removed) + docs(added)
      val composed = idx.postings
        .join(broadcast(idsDf), Seq(IdCol), "left_anti")
        .unionByName(add)
      if (idx.patchDepth + 1 >= CompactEvery) {
        val compacted = composed.localCheckpoint() // eager: folds the chain
        (TextIndex(compacted, numDocs, docFreq, 0, Seq(compacted)),
          (idx.postings +: idx.blocks :+ add).distinct)
      } else {
        (TextIndex(composed, numDocs, docFreq, idx.patchDepth + 1, idx.blocks :+ add), Nil)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the add checkpoint was never published anywhere — releasing it
        // immediately is safe and prevents a per-failure block leak
        org.apache.spark.sql.graft.Bridge.release(add)
        throw e
    }
  }

  /** Build the index materialized to parquet under `cacheDir` (first call
    * pays the tokenize + write; later calls — including fresh sessions or
    * after a `clearCache()` — pay a columnar read, never a corpus
    * re-tokenize). The returned postings are additionally memory-persisted
    * with the parquet file as their recompute source. Callers own the key:
    * `cacheDir` must be stable per (corpus, prop) and invalidated on write.
    */
  def buildDiskCached(df: DataFrame, prop: String, cacheDir: Path): TextIndex = {
    val spark = df.sparkSession
    // postings_t = the TERM-CLUSTERED layout below (own path, own marker —
    // the marker NAME is coupled to the path so a marker from any other
    // layout generation can never vouch for this one): caches built by
    // the older row-ordered writer (`postings` + `_done`) are rebuilt on
    // first touch, but NEVER overwritten in place — a concurrent JVM
    // still serving the old layout keeps its files; the old dir becomes
    // garbage once every reader has moved on
    val postingsPath = cacheDir.resolve("postings_t").toString
    val donePath = cacheDir.resolve("_done_postings_t")
    if (!Files.exists(donePath)) {
      val postings = compute(df, prop)
      Files.createDirectories(cacheDir)
      // cluster the on-disk postings BY TERM (range-partition, then sort
      // within files): a query's `_term isin (...)` read then prunes whole
      // files and row groups via parquet min/max stats instead of scanning
      // every posting of every document — the difference between an
      // inverted index and a table that merely contains one. In document
      // order (the natural compute() output) every row group spans the
      // whole vocabulary and term predicates prune nothing.
      postings
        .repartitionByRange(col("_term"), col(IdCol))
        .sortWithinPartitions("_term", IdCol)
        .write.mode("overwrite").parquet(postingsPath)
      Files.writeString(cacheDir.resolve("numdocs"),
        df.filter(col(prop).isNotNull).count().toString)
      Files.writeString(donePath, "")
    }
    val numDocs = Files.readString(cacheDir.resolve("numdocs")).trim.toLong
    val p = spark.read.parquet(postingsPath).persist()
    TextIndex(p, numDocs, docFreqOf(p), 0, Seq(p))
  }
}
