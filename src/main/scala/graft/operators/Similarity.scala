package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.Distances
import graft.model.IndexKind.Metric

/** Similarity-search operators beyond single-query `near`:
  *
  *  - [[knnJoin]] — batch k-nearest-neighbors: every query row gets its
  *    top-k corpus rows. The query side is broadcast (it is the small
  *    side by construction) so the corpus never shuffles for the join;
  *    the per-query top-k is a bounded-buffer aggregate whose map-side
  *    partial keeps ≤ k rows per (query × input partition) — the shuffle
  *    carries k·P·Q rows, never the |corpus|×|queries| product.
  *  - [[signBuckets]] / [[ivfSearch]] — a deterministic IVF-style coarse
  *    quantizer: bucket = sign bits of the first `nBits` dimensions.
  *    Search probes the query's bucket plus all hamming-1 neighbors
  *    (`nprobe` buckets), trading recall for a ~2^nBits scan reduction.
  *    At 100 TB the bucket is the partition key: writing the corpus
  *    partitioned by bucket turns every probe into partition pruning.
  *    (A learned k-means IVF drops in by swapping the bucket expression;
  *    the sign quantizer is used for the oracle because it is
  *    deterministic across engines.)
  */
object Similarity {

  /** Bounded top-k aggregation buffer: parallel (distance, id) arrays with
    * `n` live entries (capacity ≤ 2k between compactions; slots past `n`
    * are garbage and never read).
    */
  final case class TopKBuf(var ds: Array[Double], var ids: Array[Long], var n: Int)

  /** Top-k as an [[Aggregator]]: the buffer never exceeds 2k entries, so
    * the map-side partial aggregate (ObjectHashAggregate partial) reduces
    * each input partition to ≤ k rows per group BEFORE the exchange —
    * the scale-correct alternative to a `row_number` window over the full
    * cross product (which shuffles |corpus|×|queries| rows into
    * `n_queries` partitions: skew by construction). Ordering is
    * (distance asc, id asc), matching the exact-top-k tie-break contract.
    */
  final class TopKAgg(k: Int) extends Aggregator[(Double, Long), TopKBuf, TopKBuf] {
    require(k > 0, s"k must be positive (got $k)") // k=0 would AIOOBE in reduce()
    /** Exact-size top-`keep` of the first `used` entries. */
    private def compact(ds: Array[Double], ids: Array[Long], used: Int, keep: Int): TopKBuf = {
      val idx = Array.range(0, used).sortBy(i => (ds(i), ids(i)))
      val n = math.min(keep, used)
      val od = new Array[Double](n); val oi = new Array[Long](n)
      var j = 0
      while (j < n) { od(j) = ds(idx(j)); oi(j) = ids(idx(j)); j += 1 }
      TopKBuf(od, oi, n)
    }
    override def zero: TopKBuf = TopKBuf(new Array(2 * k), new Array(2 * k), 0)
    // O(1) amortized per row, zero allocation: mutate the fill pointer,
    // compact in place down to k when the 2k capacity fills (the typed
    // Aggregator contract allows returning a mutated buffer)
    override def reduce(b: TopKBuf, a: (Double, Long)): TopKBuf = {
      if (b.n == b.ds.length) {
        if (b.ds.length < 2 * k) { // deserialized exact-size buffer: regrow
          val nd = new Array[Double](2 * k); val ni = new Array[Long](2 * k)
          java.lang.System.arraycopy(b.ds, 0, nd, 0, b.n)
          java.lang.System.arraycopy(b.ids, 0, ni, 0, b.n)
          b.ds = nd; b.ids = ni
        } else {
          val c = compact(b.ds, b.ids, b.n, k)
          java.lang.System.arraycopy(c.ds, 0, b.ds, 0, c.n)
          java.lang.System.arraycopy(c.ids, 0, b.ids, 0, c.n)
          b.n = c.n
        }
      }
      b.ds(b.n) = a._1
      b.ids(b.n) = a._2
      b.n += 1
      b
    }
    override def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
      val ds = new Array[Double](x.n + y.n); val ids = new Array[Long](x.n + y.n)
      java.lang.System.arraycopy(x.ds, 0, ds, 0, x.n)
      java.lang.System.arraycopy(x.ids, 0, ids, 0, x.n)
      java.lang.System.arraycopy(y.ds, 0, ds, x.n, y.n)
      java.lang.System.arraycopy(y.ids, 0, ids, x.n, y.n)
      compact(ds, ids, x.n + y.n, k)
    }
    override def finish(b: TopKBuf): TopKBuf = compact(b.ds, b.ids, b.n, k)
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  }

  /** Exact top-`keep` of the first `used` (key, id) entries by
    * (key asc, id asc), ids compared as UNSIGNED UTF-8 BYTES — Spark's
    * own string order (UTF8String.binaryCompare) — encoded ONCE per call,
    * not per comparison. THE single ranking kernel behind both bounded
    * string-id aggregators ([[TopKStrAgg]] and [[TopKStrMultiAgg]]): a
    * tie-break or ordering fix lands here once, or the batched serving
    * route would silently drift from the single-route oracle it is
    * specced against.
    */
  private def topKByKeyId(ds: Array[Double], ids: Array[String], used: Int,
      keep: Int): (Array[Double], Array[String], Int) = {
    val bytes = new Array[Array[Byte]](used)
    var bi = 0
    while (bi < used) {
      bytes(bi) = ids(bi).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      bi += 1
    }
    val ord: Ordering[Int] = new Ordering[Int] {
      def compare(i: Int, j: Int): Int = {
        val c = java.lang.Double.compare(ds(i), ds(j))
        if (c != 0) c else java.util.Arrays.compareUnsigned(bytes(i), bytes(j))
      }
    }
    val idx = Array.range(0, used).sorted(ord)
    val n = math.min(keep, used)
    val od = new Array[Double](n); val oi = new Array[String](n)
    var j = 0
    while (j < n) { od(j) = ds(idx(j)); oi(j) = ids(idx(j)); j += 1 }
    (od, oi, n)
  }

  /** [[TopKBuf]] for STRING ids (the engine's `_id` column). */
  final case class TopKStrBuf(var ds: Array[Double], var ids: Array[String], var n: Int)

  /** [[TopKAgg]] for STRING ids — the flat candidate scan's bounded
    * per-query top-k (QueryCompiler.compileFlatMany). The tie-break
    * compares ids by their UNSIGNED UTF-8 bytes — Spark's own string
    * ordering (UTF8String.binaryCompare), so the aggregated top-k replays
    * `orderBy(dist asc, id asc).limit(k)` exactly; JVM `String.compareTo`
    * is UTF-16 code-unit order, which DISAGREES with UTF-8 order for
    * supplementary characters and would drift the tie-break on such ids.
    */
  final class TopKStrAgg(k: Int)
      extends Aggregator[(Double, String), TopKStrBuf, TopKStrBuf] {
    require(k > 0, s"k must be positive (got $k)")
    private def compact(ds: Array[Double], ids: Array[String], used: Int,
        keep: Int): TopKStrBuf = {
      val (od, oi, n) = topKByKeyId(ds, ids, used, keep)
      TopKStrBuf(od, oi, n)
    }
    override def zero: TopKStrBuf = TopKStrBuf(new Array(2 * k), new Array(2 * k), 0)
    override def reduce(b: TopKStrBuf, a: (Double, String)): TopKStrBuf = {
      if (b.n == b.ds.length) {
        if (b.ds.length < 2 * k) { // deserialized exact-size buffer: regrow
          val nd = new Array[Double](2 * k); val ni = new Array[String](2 * k)
          java.lang.System.arraycopy(b.ds, 0, nd, 0, b.n)
          java.lang.System.arraycopy(b.ids, 0, ni, 0, b.n)
          b.ds = nd; b.ids = ni
        } else {
          val c = compact(b.ds, b.ids, b.n, k)
          java.lang.System.arraycopy(c.ds, 0, b.ds, 0, c.n)
          java.lang.System.arraycopy(c.ids, 0, b.ids, 0, c.n)
          b.n = c.n
        }
      }
      b.ds(b.n) = a._1
      b.ids(b.n) = a._2
      b.n += 1
      b
    }
    override def merge(x: TopKStrBuf, y: TopKStrBuf): TopKStrBuf = {
      val ds = new Array[Double](x.n + y.n); val ids = new Array[String](x.n + y.n)
      java.lang.System.arraycopy(x.ds, 0, ds, 0, x.n)
      java.lang.System.arraycopy(x.ids, 0, ids, 0, x.n)
      java.lang.System.arraycopy(y.ds, 0, ds, x.n, y.n)
      java.lang.System.arraycopy(y.ids, 0, ids, x.n, y.n)
      compact(ds, ids, x.n + y.n, k)
    }
    override def finish(b: TopKStrBuf): TopKStrBuf = compact(b.ds, b.ids, b.n, k)
    override def bufferEncoder: Encoder[TopKStrBuf] = Encoders.product[TopKStrBuf]
    override def outputEncoder: Encoder[TopKStrBuf] = Encoders.product[TopKStrBuf]
  }

  /** Buffer for [[TopKStrMultiAgg]]: K bounded top-k regions packed into
    * one flat (distance, id) pair of arrays with a fixed layout — region
    * `qi` owns slots `[offs(qi), offs(qi) + 2·ks(qi))` and holds `ns(qi)`
    * live entries. The layout never changes across reduce/merge/finish,
    * so serialization round-trips are shape-stable by construction.
    */
  final case class TopKMultiBuf(ds: Array[Double], ids: Array[String], ns: Array[Int])

  /** K INDEPENDENT bounded top-k aggregations in ONE pass — the engine of
    * every fused multi-query candidate scan (QueryCompiler's
    * compileFlatMany / compileTextMany, through `multiTopK`, which folds
    * each partition with `reduce` and merges the partition buffers on
    * the driver with `merge` and `finish`): each input row carries a K-wide
    * key array (one ranking key per batched query) plus the row id, and
    * the aggregator maintains K separate top-`ks(qi)` buffers, each
    * replaying Spark's `orderBy(key asc, id asc).limit(k)` exactly (ties
    * compare ids by unsigned UTF-8 bytes — UTF8String.binaryCompare
    * order, see [[TopKStrAgg]]).
    *
    * A NaN key means "this row is NOT a candidate for query qi" and is
    * skipped — the exclusion channel for per-query IVF cell pruning
    * (rows in cells the query didn't probe), per-query text eligibility
    * (containsAll misses), and defensively for a null quantized distance
    * (which the array encoder could not carry, where Spark's `orderBy`
    * would sort such rows first — unreachable under the encode
    * invariants, and documented at the call site).
    *
    * Versus the previous posexplode formulation (K rows per scanned row
    * feeding [[TopKStrAgg]] through a groupBy): the input stays ONE row
    * wide regardless of K, so the scan pays no K× row inflation at the
    * map boundary, and there is no grouping shuffle at all — a partition
    * buffer carries ≤ Σ 2·ks(qi) entries. The posexplode formulation
    * remains the law oracle in SearchManySpec.
    */
  final class TopKStrMultiAgg(ks: Array[Int])
      extends Aggregator[(Seq[Double], String), TopKMultiBuf, TopKMultiBuf] {
    require(ks.nonEmpty, "at least one query required")
    ks.foreach(k => require(k > 0, s"every k must be positive (got ${ks.mkString(",")})"))
    private val nq = ks.length
    private val caps = ks.map(_ * 2)
    private val offs = caps.scanLeft(0)(_ + _)
    private val total = offs(nq)

    /** Compact region `qi` down to its top-`ks(qi)` in place. */
    private def compactRegion(b: TopKMultiBuf, qi: Int): Unit = {
      val off = offs(qi); val used = b.ns(qi)
      val ds = new Array[Double](used); val ids = new Array[String](used)
      java.lang.System.arraycopy(b.ds, off, ds, 0, used)
      java.lang.System.arraycopy(b.ids, off, ids, 0, used)
      val (od, oi, n) = topKByKeyId(ds, ids, used, ks(qi))
      java.lang.System.arraycopy(od, 0, b.ds, off, n)
      java.lang.System.arraycopy(oi, 0, b.ids, off, n)
      b.ns(qi) = n
    }

    override def zero: TopKMultiBuf =
      TopKMultiBuf(new Array(total), new Array(total), new Array(nq))
    override def reduce(b: TopKMultiBuf, a: (Seq[Double], String)): TopKMultiBuf = {
      val keys = a._1
      require(keys.length == nq,
        s"key array has ${keys.length} entries; aggregator was built for $nq queries")
      var qi = 0
      while (qi < nq) {
        val d = keys(qi)
        if (!java.lang.Double.isNaN(d)) {
          if (b.ns(qi) == caps(qi)) compactRegion(b, qi)
          val p = offs(qi) + b.ns(qi)
          b.ds(p) = d
          b.ids(p) = a._2
          b.ns(qi) += 1
        }
        qi += 1
      }
      b
    }
    override def merge(x: TopKMultiBuf, y: TopKMultiBuf): TopKMultiBuf = {
      val out = zero
      var qi = 0
      while (qi < nq) {
        val xn = x.ns(qi); val yn = y.ns(qi); val used = xn + yn
        val ds = new Array[Double](used); val ids = new Array[String](used)
        java.lang.System.arraycopy(x.ds, offs(qi), ds, 0, xn)
        java.lang.System.arraycopy(x.ids, offs(qi), ids, 0, xn)
        java.lang.System.arraycopy(y.ds, offs(qi), ds, xn, yn)
        java.lang.System.arraycopy(y.ids, offs(qi), ids, xn, yn)
        val (od, oi, n) = topKByKeyId(ds, ids, used, ks(qi))
        java.lang.System.arraycopy(od, 0, out.ds, offs(qi), n)
        java.lang.System.arraycopy(oi, 0, out.ids, offs(qi), n)
        out.ns(qi) = n
        qi += 1
      }
      out
    }
    override def finish(b: TopKMultiBuf): TopKMultiBuf = {
      var qi = 0
      while (qi < nq) { compactRegion(b, qi); qi += 1 }
      b
    }
    override def bufferEncoder: Encoder[TopKMultiBuf] = TopKStrMultiAgg.BufEncoder
    override def outputEncoder: Encoder[TopKMultiBuf] = TopKStrMultiAgg.BufEncoder
  }

  object TopKStrMultiAgg {
    /** Derived once: deriving a product encoder takes Scala runtime
      * reflection, and every ranked text or quantized leaf compiles one
      * aggregator.
      */
    private val BufEncoder: Encoder[TopKMultiBuf] = Encoders.product[TopKMultiBuf]

    /** Slice a finished [[TopKMultiBuf]] (as collected Seqs) back into
      * per-query (key, id) lists, in (key asc, id asc) order.
      */
    def slices(ks: Array[Int], ds: Seq[Double], ids: Seq[String],
        ns: Seq[Int]): Seq[Seq[(Double, String)]] = {
      val offs = ks.map(_ * 2).scanLeft(0)(_ + _)
      ks.indices.map { qi =>
        (0 until ns(qi)).map(j => (ds(offs(qi) + j), ids(offs(qi) + j)))
      }
    }
  }

  /** For each row of `queries`, the `k` nearest `corpus` rows by `metric`.
    * Output: (query_id, corpus_id, distance, rank). Ids must be castable
    * to long (attach a surrogate id first — e.g. zipWithIndex — for
    * string-keyed corpora).
    */
  def knnJoin(
      queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      k: Int, metric: Metric): DataFrame = {
    // a string id would cast to null silently and collapse every row into
    // one null group — reject at plan time instead
    def requireNumericId(df: DataFrame, c: Column, side: String): Unit = {
      val dt = df.select(c).schema.head.dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"$side id must be numeric (got $dt) — attach a long surrogate " +
          "(zipWithIndex) for string-keyed data")
    }
    requireNumericId(queries, qId, "query")
    requireNumericId(corpus, cId, "corpus")
    require(k > 0, s"k must be positive (got $k)")
    // null vectors yield null distances, which crash the typed top-k
    // aggregator's non-nullable input encoder; null ids would collapse
    // into one bogus group — skip such rows like every sibling operator
    val q = queries.filter(qVec.isNotNull && qId.isNotNull)
      .select(qId.cast("long").as("query_id"), qVec.as("_qv"))
    val c = corpus.filter(cVec.isNotNull && cId.isNotNull)
      .select(cId.cast("long").as("corpus_id"), cVec.as("_cv"))
    val topk = udaf(new TopKAgg(k))
    c.crossJoin(broadcast(q))
      .withColumn("distance", Distances.distance(metric, col("_cv"), col("_qv")))
      .groupBy("query_id")
      .agg(topk(col("distance"), col("corpus_id")).as("_top"))
      .select(col("query_id"), posexplode(arrays_zip(col("_top.ds"), col("_top.ids"))))
      .select(col("query_id"), col("col.ids").as("corpus_id"),
        col("col.ds").as("distance"), (col("pos") + 1).as("rank"))
  }

  /** Matryoshka-style prefix funnel (Kusupati et al. 2022, MRL): stage 1
    * ranks by `metric` over the first `dPrefix` dimensions only and keeps
    * `budget` candidates per query; stage 2 re-ranks JUST those
    * candidates with the full-dimension metric and returns the top `k`.
    * MRL-trained embeddings make every prefix a valid embedding, so
    * stage 1 recall@budget is high while reading dPrefix/d of the bytes.
    *
    * Scale: the corpus-wide scan happens on the short prefix (store the
    * prefix as its own column — column pruning then keeps the wide
    * vector out of stage 1's scan entirely); full vectors are read for
    * |queries|·budget rows via a broadcast candidate equi-join, and both
    * top-k stages are bounded-buffer partial aggregates, never a window
    * over the cross product.
    *
    * Output: (query_id, corpus_id, distance, rank ≤ k) — exact
    * full-dimension metric on the final ranking, ties broken by id.
    */
  def matryoshkaSearch(
      queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      dPrefix: Int, budget: Int, k: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    require(dPrefix > 0, s"dPrefix must be positive (got $dPrefix)")
    require(budget >= k, s"budget $budget must cover k=$k")
    val cand = knnJoin(
        queries, qId, slice(qVec, 1, dPrefix),
        corpus, cId, slice(cVec, 1, dPrefix), budget, metric)
      .select(col("query_id"), col("corpus_id"))
    val qv = queries.filter(qVec.isNotNull && qId.isNotNull)
      .select(qId.cast("long").as("query_id"), qVec.as("_qv"))
    val cv = corpus.filter(cVec.isNotNull && cId.isNotNull)
      .select(cId.cast("long").as("corpus_id"), cVec.as("_cv"))
    val topk = udaf(new TopKAgg(k))
    cv.join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("distance", Distances.distance(metric, col("_cv"), col("_qv")))
      .groupBy("query_id")
      .agg(topk(col("distance"), col("corpus_id")).as("_top"))
      .select(col("query_id"), posexplode(arrays_zip(col("_top.ds"), col("_top.ids"))))
      .select(col("query_id"), col("col.ids").as("corpus_id"),
        col("col.ds").as("distance"), (col("pos") + 1).as("rank"))
  }

  /** Sign-bit coarse bucket of the first `nBits` vector dimensions. */
  def signBucket(vec: Column, nBits: Int): Column =
    (0 until nBits).map { i =>
      when(element_at(vec, i + 1) > 0f, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Driver-side twin of [[signBucket]] — Spark SQL orders NaN above
    * every value, so `NaN > 0` is TRUE there while Java says false; the
    * explicit isNaN keeps a NaN-dimensioned query probing the same cell
    * its stored copy was bucketed into. `private[graft]`: every
    * driver-side sign-bucket computation must go through this one
    * function, or a NaN dimension silently buckets differently than the
    * stored copy.
    */
  private[graft] def signBucketLocal(queryVec: Seq[Float], nBits: Int): Int =
    (0 until nBits).map(i =>
      if (queryVec(i) > 0f || queryVec(i).isNaN) 1 << i else 0).sum

  /** Query bucket + optional hamming-1 probe ring (shared by the scan and
    * artifact search paths — one copy of the probe semantics).
    */
  private def queryProbes(
      queryVec: Seq[Float], nBits: Int, probeNeighbors: Boolean): Seq[Int] = {
    require(queryVec.length >= nBits,
      s"query vector has ${queryVec.length} dims; bucket needs $nBits")
    val qBucket = signBucketLocal(queryVec, nBits)
    qBucket +: (if (probeNeighbors) (0 until nBits).map(i => qBucket ^ (1 << i)) else Nil)
  }

  /** Assign every corpus row its bucket (the IVF "index build"). */
  def signBuckets(corpus: DataFrame, vec: Column, nBits: Int): DataFrame =
    corpus.withColumn("bucket", signBucket(vec, nBits))

  /** Learned IVF coarse quantizer: seeded-Lloyd's centroids over a bounded
    * sample (training is sample-scale by nature; assignment/search stay
    * distributed). Swaps in for the sign-bit bucket expression — same
    * partition-pruning story, much tighter cells.
    */
  /** The bounded training sample every k-means fit draws (ONE definition,
    * so ProductQuantizer.fit, kmeansCentroids and IvfPq.kmeansCoarse
    * cannot drift on filter/cast/limit semantics).
    *
    * The collected rows are sorted lexicographically before returning:
    * kmeans++ draws by sample POSITION, so canonical order makes every
    * learned model a pure function of the sampled SET, independent of
    * scan/partition order — and of the whole corpus whenever it fits
    * sampleLimit (how pq_adc_topk's pinned golden stays stable). Above
    * sampleLimit the set itself still follows limit()'s arbitrary row
    * choice; a deterministic subsample at that scale would need a
    * full-corpus hash-rank pass, deliberately not paid (training is
    * sample-scale — any sample trains an equally valid model).
    */
  private[operators] def vectorSample(
      corpus: DataFrame, vec: Column, sampleLimit: Int): Array[Array[Double]] = {
    val sample = corpus.filter(vec.isNotNull)
      .select(vec.cast("array<double>").as("_v"))
      .limit(sampleLimit).collect().map(_.getSeq[Double](0).toArray)
    java.util.Arrays.sort(sample, lexDouble)
    sample
  }

  /** Lexicographic element-wise order on double arrays (ties by length) —
    * the canonical sample order every learned fit trains in.
    */
  private val lexDouble: java.util.Comparator[Array[Double]] =
    (a: Array[Double], b: Array[Double]) => {
      val n = math.min(a.length, b.length)
      var i = 0
      var r = 0
      while (i < n && r == 0) { r = java.lang.Double.compare(a(i), b(i)); i += 1 }
      if (r != 0) r else Integer.compare(a.length, b.length)
    }

  def kmeansCentroids(
      corpus: DataFrame, vec: Column, kClusters: Int,
      seed: Long = 42L, sampleLimit: Int = 100000): Array[Array[Float]] = {
    val sample = vectorSample(corpus, vec, sampleLimit)
    require(sample.nonEmpty, "cannot learn IVF centroids on an empty corpus")
    ProductQuantizer.lloyds(sample, kClusters, seed, maxIter = 25)
      .map(_.map(_.toFloat))
  }

  /** Nearest-centroid argmin over a double vector — the driver-side twin
    * of [[kmeansBuckets]]'s per-row UDF loop (same arithmetic: double
    * accumulate against float centroids, first strict minimum wins). Any
    * driver-side cell assignment must go through this, or its tie-breaks
    * drift from the distributed assignment.
    */
  private[operators] def nearestCellD(
      centroids: Array[Array[Float]], v: Array[Double]): Int = {
    val dim = centroids(0).length
    require(v.length == dim, s"vector has ${v.length} dims; centroids have $dim")
    var best = 0; var bd = Double.MaxValue; var j = 0
    while (j < centroids.length) {
      val c = centroids(j); var acc = 0.0; var t = 0
      while (t < dim) { val x = v(t) - c(t); acc += x * x; t += 1 }
      if (acc < bd) { bd = acc; best = j }
      j += 1
    }
    best
  }

  /** Nearest-centroid bucket assignment (primitive-loop UDF over the
    * broadcast codebook — the IVF "index build").
    */
  def kmeansBuckets(corpus: DataFrame, vec: Column, centroids: Array[Array[Float]]): DataFrame = {
    require(centroids.nonEmpty, "empty centroid codebook")
    val dim = centroids(0).length
    require(centroids.forall(_.length == dim), "ragged centroid codebook")
    val assign = udf { (v: Seq[Float]) =>
      val arr = v.toArray
      // a silent min-length truncation here would assign quietly wrong
      // buckets for mismatched vectors (ivfSearch's validation parity)
      require(arr.length == dim,
        s"vector has ${arr.length} dims; centroids have $dim")
      var best = 0; var bd = Double.MaxValue; var j = 0
      while (j < centroids.length) {
        val c = centroids(j)
        var acc = 0.0; var t = 0
        while (t < dim) { val x = arr(t).toDouble - c(t); acc += x * x; t += 1 }
        if (acc < bd) { bd = acc; best = j }
        j += 1
      }
      best
    }
    // rows without a vector cannot be bucketed (and would NPE the UDF)
    corpus.filter(vec.isNotNull).withColumn("bucket", assign(vec))
  }

  /** Multi-probe learned-IVF search: scan the `nprobe` buckets whose
    * centroids are nearest the query. At scale `bucket` is the partition
    * key, so the probes are partition pruning.
    */
  def kmeansIvfSearch(
      corpus: DataFrame, cId: Column, cVec: Column,
      queryVec: Seq[Float], k: Int, metric: Metric,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    require(centroids.nonEmpty, "empty centroid codebook")
    require(queryVec.length == centroids(0).length,
      s"query vector has ${queryVec.length} dims; centroids have ${centroids(0).length}")
    val probes = centroids.zipWithIndex.map { case (c, j) =>
      var acc = 0.0; var t = 0
      while (t < c.length) { val x = queryVec(t).toDouble - c(t); acc += x * x; t += 1 }
      (acc, j)
    }.sorted.take(nprobe).map(_._2).toSeq
    kmeansBuckets(corpus, cVec, centroids)
      .filter(col("bucket").isin(probes: _*))
      .select(cId.as("id"), col("bucket"),
        Distances.distanceToQuery(metric, cVec, queryVec).as("distance"))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
  }

  /** Materialize the IVF index as a bucket-PARTITIONED parquet artifact:
    * `(id, vec)` under `bucket=<b>/` directories. This is what turns the
    * probe filter from "scan everything, keep matching rows" into real
    * partition pruning — [[ivfSearchArtifact]]'s `bucket IN (probes)`
    * lands in the scan's `PartitionFilters`, so only the probed
    * directories are ever listed or read. At 100 TB the corpus is
    * bucketed once; each query touches nprobe/2^nBits of it.
    */
  def writeIvfArtifact(
      corpus: DataFrame, cId: Column, cVec: Column,
      nBits: Int, dir: String): Unit = {
    signBuckets(corpus.filter(cVec.isNotNull), cVec, nBits)
      .select(cId.as("id"), cVec.as("vec"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    // nBits is part of the artifact's identity: a probe under a different
    // width would address wrong/nonexistent buckets and return a silently
    // wrong top-k — persist it so the search side can fail fast. Hadoop
    // FS API, same as the parquet writer: the artifact dir may be
    // hdfs://... — a java.nio write there would throw after the data
    // landed, and the read-side guard would silently never fire
    val meta = new org.apache.hadoop.fs.Path(dir, "_ivf_nbits")
    val fs = meta.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(meta, true)
    try out.write(nBits.toString.getBytes("UTF-8")) finally out.close()
  }

  /** [[ivfSearch]] semantics served from a [[writeIvfArtifact]] directory —
    * identical results, but the probes prune partitions instead of
    * filtering a full scan (asserted on the physical plan in PipelineSpec).
    */
  def ivfSearchArtifact(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queryVec: Seq[Float], k: Int, metric: Metric,
      nBits: Int, probeNeighbors: Boolean = true): DataFrame = {
    val meta = new org.apache.hadoop.fs.Path(dir, "_ivf_nbits")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val stored = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](64)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        new String(buf.toByteArray, "UTF-8").trim.toInt
      } finally in.close()
      require(stored == nBits,
        s"artifact at $dir was written with nBits=$stored, probed with nBits=$nBits")
    }
    val probes = queryProbes(queryVec, nBits, probeNeighbors)
    spark.read.parquet(dir)
      .filter(col("bucket").isin(probes: _*))
      .select(col("id"), col("bucket"),
        Distances.distanceToQuery(metric, col("vec"), queryVec).as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("id").asc)
      .limit(k)
  }

  /** ANN search: scan only the query's bucket and, when `probeNeighbors`,
    * its hamming-1 neighbor buckets.
    */
  def ivfSearch(
      corpus: DataFrame, cId: Column, cVec: Column,
      queryVec: Seq[Float], k: Int, metric: Metric,
      nBits: Int, probeNeighbors: Boolean = true): DataFrame = {
    val probes = queryProbes(queryVec, nBits, probeNeighbors)
    signBuckets(corpus.filter(cVec.isNotNull), cVec, nBits)
      .filter(col("bucket").isin(probes: _*))
      .select(cId.as("id"), col("bucket"),
        Distances.distanceToQuery(metric, cVec, queryVec).as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("id").asc)
      .limit(k)
  }
}
