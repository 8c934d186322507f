package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PackedOps

/** Index-side vector compression (reference §2.4):
  *
  *  - [[BinaryQuantizer]] — per-dimension mean thresholds (learned like the
  *    reference's `Fit()`, binary.go:145–184), bit-packed into long words;
  *    search runs popcount kernels over the packed column: 32× smaller
  *    scan footprint and 64 dims per instruction.
  *  - [[ProductQuantizer]] — per-subspace k-means codebooks; vectors store
  *    one byte-sized code per subspace; queries precompute the m×k
  *    query→centroid distance table and score rows by m table lookups
  *    (asymmetric distance, product.go:238–305).
  *
  * Both are recall/storage trades on the same `near` surface — exact
  * search stays available on the raw column.
  */
object BinaryQuantizer {

  /** Learn per-dimension mean thresholds (double precision for
    * cross-engine determinism).
    */
  def fit(df: DataFrame, vec: Column, dim: Int): Array[Double] = {
    // decimal-accumulated mean (the repo's davg convention): a plain
    // avg(double) sums in partition order, so Spark and an oracle engine
    // can disagree by ulps — and a corpus value sitting between the two
    // means would flip its sign bit and shift candidate sets at the margin
    val sums = df.filter(vec.isNotNull)
      .select(posexplode(vec).as(Seq("_pos", "_v")))
      .groupBy("_pos")
      // count the NON-NULL elements (count(_v)), matching the sum's null
      // semantics — count(*) would bias the mean toward 0 whenever a
      // vector carries a null element, flipping sign bits at the margin
      .agg(round(sum(col("_v").cast("decimal(28,6)")) / count(col("_v")), 9)
        .cast("double").as("_m"))
      .collect().map(r => r.getAs[Int]("_pos") -> r.getAs[Double]("_m")).toMap
    (0 until dim).map(i => sums.getOrElse(i,
      throw new IllegalArgumentException(
        s"no values at dimension $i — vectors shorter than dim=$dim or empty corpus")))
      .toArray
  }

  /** Add a packed bits column for `vec` under the learned thresholds. */
  def encode(df: DataFrame, vec: Column, thresholds: Array[Double]): DataFrame =
    df.withColumn("packed", PackedOps.packBits(vec, lit(thresholds)))

  /** Top-k by packed hamming/jaccard distance to a query vector. */
  def search(
      encoded: DataFrame, id: Column, queryVec: Seq[Float],
      thresholds: Array[Double], k: Int, jaccard: Boolean = false): DataFrame = {
    val queryWords = packWords(queryVec, thresholds)
    val d =
      if (jaccard) PackedOps.packedJaccard(col("packed"), lit(queryWords))
      else PackedOps.packedHamming(col("packed"), lit(queryWords))
    encoded
      .select(id.as("id"), d.as("distance"))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
  }

  /** Driver-side packing of a query vector (same bit layout). The length
    * must match the thresholds EXACTLY: longer would read past the
    * thresholds (AIOOBE), shorter within the same 64-bit word would pack
    * the missing dims as silent 0 bits and pass the word-count guard.
    */
  def packWords(vec: Seq[Float], thresholds: Array[Double]): Array[Long] = {
    require(vec.length == thresholds.length,
      s"vector has ${vec.length} dims; thresholds have ${thresholds.length}")
    val words = new Array[Long]((vec.length + 63) / 64)
    vec.zipWithIndex.foreach { case (v, i) =>
      if (v.toDouble > thresholds(i)) words(i / 64) |= 1L << (i % 64)
    }
    words
  }

  /** Two-sided reconstruction levels (round 7): per dimension, the
    * decimal-rounded mean of the corpus values on EACH side of the
    * threshold — the 1-bit codebook's two centroids. Feeds
    * [[asymmetricDistance]]: scoring the full-precision query against
    * levels instead of counting bit flips keeps the magnitude
    * information symmetric hamming throws away (the PQ asymmetric-
    * distance argument applied to 1-bit codes). A side with no values
    * (constant dimension) falls back to the threshold itself.
    */
  def fitLevels(df: DataFrame, vec: Column, dim: Int,
      thresholds: Array[Double]): (Array[Double], Array[Double]) = {
    require(thresholds.length == dim,
      s"thresholds have ${thresholds.length} dims; expected $dim")
    val th = lit(thresholds)
    // posexplode the RAW vector and keep positions < dim — the same
    // corpus fit() aggregates (a shorter vector contributes its partial
    // dims to BOTH the thresholds and the levels; filtering whole short
    // vectors here would train levels on a different corpus than the
    // thresholds and diverge from the oracle's per-element replay)
    val side = df.filter(vec.isNotNull)
      .select(posexplode(vec).as(Seq("_pos", "_v")))
      .filter(col("_pos") < dim)
      .withColumn("_up", col("_v").cast("double") > element_at(th, col("_pos") + 1))
      .groupBy("_pos")
      .agg(
        round(sum(when(!col("_up"), col("_v")).cast("decimal(28,6)")) /
          count(when(!col("_up"), col("_v"))), 9).cast("double").as("_lo"),
        round(sum(when(col("_up"), col("_v")).cast("decimal(28,6)")) /
          count(when(col("_up"), col("_v"))), 9).cast("double").as("_hi"))
      .collect().map(r => r.getAs[Int]("_pos") ->
        (r.getAs[java.lang.Double]("_lo"), r.getAs[java.lang.Double]("_hi")))
      .toMap
    def level(i: Int, pick: ((java.lang.Double, java.lang.Double)) => java.lang.Double) =
      side.get(i).map(pick).filter(_ != null).map(_.doubleValue)
        .getOrElse(thresholds(i))
    (Array.tabulate(dim)(level(_, _._1)), Array.tabulate(dim)(level(_, _._2)))
  }

  /** Asymmetric 1-bit ADC over the PACKED column (round 7): the stored
    * side keeps only its sign bits (same 32×-narrow scan as hamming);
    * the query stays full precision and rows score
    * Σ_i (q_i − level_{bit_i, i})², bits read straight from the packed
    * words. Every (q_i − level)² is a driver-side double constant, so
    * each term is a CASE over a bit — codegen-friendly, and an oracle
    * engine replays the identical per-term CASE + index-order sum.
    */
  def asymmetricDistance(packed: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double]): Column = {
    require(query.length == lo.length && lo.length == hi.length,
      s"query/levels dims disagree: ${query.length}/${lo.length}/${hi.length}")
    // one loop node (functions/BitLevelExpr.scala) instead of a dim-term
    // CASE chain — the SqReconDistance argument: Catalyst walks, not
    // execution, dominated the chain's request cost. Bit-identical on
    // every valid packed row (QuantizerSpec law vs asymmetricDistanceChain).
    val a2 = lo.indices.map { i =>
      val q = query(i).toDouble; (q - lo(i)) * (q - lo(i)) }.toArray
    val b2 = lo.indices.map { i =>
      val q = query(i).toDouble; (q - hi(i)) * (q - hi(i)) }.toArray
    org.apache.spark.sql.graft.Bridge.toColumn(
      graft.functions.BitLevelDistance(
        org.apache.spark.sql.graft.Bridge.toExpression(packed), a2, b2))
  }

  /** Chain form of [[asymmetricDistance]], the equivalence law's oracle
    * (QuantizerSpec) — not used in serving.
    */
  private[graft] def asymmetricDistanceChain(packed: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double]): Column = {
    require(query.length == lo.length && lo.length == hi.length,
      s"query/levels dims disagree: ${query.length}/${lo.length}/${hi.length}")
    val terms = lo.indices.map { i =>
      val q = query(i).toDouble
      val a2 = (q - lo(i)) * (q - lo(i)) // bit = 0 → low-side level
      val b2 = (q - hi(i)) * (q - hi(i)) // bit = 1 → high-side level
      val bit = shiftright(element_at(packed, i / 64 + 1), i % 64)
        .bitwiseAND(lit(1L))
      when(bit === 1L, lit(b2)).otherwise(lit(a2))
    }
    terms.reduce(_ + _)
  }

  /** Top-k by asymmetric 1-bit ADC over an encoded frame. */
  def searchAsymmetric(
      encoded: DataFrame, id: Column, queryVec: Seq[Float],
      lo: Array[Double], hi: Array[Double], k: Int): DataFrame =
    encoded
      .select(id.as("id"),
        asymmetricDistance(col("packed"), queryVec, lo, hi).as("distance"))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)

  /** Two-stage search: hamming over the packed words selects a
    * `rescore`-sized candidate set (the 32×-smaller scan), then the TRUE
    * metric re-ranks just those candidates — the standard BQ operating
    * mode at low dimension counts, where d sign bits alone can't separate
    * the top-k (64-d ⇒ 64 bits; the reference's published BQ points are
    * 768–1536-bit signatures). Stage 1 reads only (id, packed); stage 2
    * fetches the `rescore` full vectors via a broadcast semi-join — at
    * 100 TB the wide column is only read for the candidate rows.
    */
  def searchRescored(
      encoded: DataFrame, id: Column, vec: Column, queryVec: Seq[Float],
      thresholds: Array[Double], k: Int, rescore: Int,
      metric: graft.model.IndexKind.Metric, jaccard: Boolean = false): DataFrame = {
    val queryWords = packWords(queryVec, thresholds)
    val d =
      if (jaccard) PackedOps.packedJaccard(col("packed"), lit(queryWords))
      else PackedOps.packedHamming(col("packed"), lit(queryWords))
    val cands = encoded
      .select(id.as("id"), d.as("_hd"))
      .orderBy(col("_hd").asc, col("id").asc)
      .limit(rescore)
    encoded
      .select(id.as("id"), vec.as("_v"))
      .join(broadcast(cands.select("id")), "id")
      .select(col("id"),
        graft.functions.Distances.distanceToQuery(metric, col("_v"), queryVec).as("distance"))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
  }
}

/** Per-subspace codebooks: centroids(i)(j) is the j-th centroid of
  * subspace i (length dim/m each).
  */
final case class PQModel(m: Int, k: Int, dim: Int, centroids: Array[Array[Array[Float]]]) {
  val subDim: Int = dim / m
}

object ProductQuantizer {

  /** Learn per-subspace codebooks with seeded Lloyd's over a bounded
    * sample. Codebook training is sample-scale by nature (the reference
    * trains in-process over the shard, product.go:175–236; at 100 TB you
    * train on ≤`sampleLimit` vectors, not the corpus), so the sample is
    * collected and iterated driver-side: deterministic, and three orders
    * of magnitude cheaper than scheduling a Spark job per Lloyd's
    * iteration per subspace. Encoding/search below stay distributed.
    */
  def fit(
      df: DataFrame, vec: Column, m: Int, k: Int, dim: Int,
      seed: Long = 42L, sampleLimit: Int = 100000): PQModel = {
    require(dim % m == 0, s"dim $dim not divisible by numSubVectors $m")
    val subDim = dim / m
    // the SHARED sample helper (canonically sorted there): every learned
    // fit — PQ codebooks, IVF coarse cells, IVF centroids — trains on the
    // same deterministic sample order, making the models pure functions of
    // the sampled set (and of the corpus whenever it fits sampleLimit —
    // the driver gate's case, which pins pq_adc_topk to a golden)
    val sample = Similarity.vectorSample(df, vec, sampleLimit)
    require(sample.nonEmpty, "cannot fit a product quantizer on an empty corpus")
    // copyOfRange would silently ZERO-PAD a short vector, training the
    // tail subspaces toward 0 with no error (and encode would later die
    // with a bare AIOOBE on the same rows) — fail fast like BinaryQuantizer
    sample.find(_.length != dim).foreach(v =>
      throw new IllegalArgumentException(
        s"sample vector has ${v.length} dims; fit called with dim=$dim"))
    val centroids = (0 until m).map { i =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, i * subDim, (i + 1) * subDim))
      lloyds(subs, k, seed + i, maxIter = 25).map(_.map(_.toFloat))
    }.toArray
    PQModel(m, k, dim, centroids)
  }

  /** Seeded Lloyd's with kmeans++-style init (deterministic). Shared with
    * the learned-centroid IVF in [[Similarity]].
    */
  private[operators] def lloyds(points: Array[Array[Double]], k: Int, seed: Long, maxIter: Int): Array[Array[Double]] = {
    val n = points.length
    val d = points.head.length
    val rnd = new scala.util.Random(seed)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < d) { val x = a(i) - b(i); acc += x * x; i += 1 }
      acc
    }
    // kmeans++ init
    val centers = scala.collection.mutable.ArrayBuffer(points(rnd.nextInt(n)).clone())
    val minDist = Array.fill(n)(Double.MaxValue)
    while (centers.length < math.min(k, n)) {
      var total = 0.0
      var i = 0
      while (i < n) {
        val dd = sq(points(i), centers.last)
        if (dd < minDist(i)) minDist(i) = dd
        total += minDist(i)
        i += 1
      }
      var target = rnd.nextDouble() * total
      var pick = 0
      i = 0
      while (i < n && target > 0) { target -= minDist(i); pick = i; i += 1 }
      centers += points(pick).clone()
    }
    while (centers.length < k) centers += centers.head.clone() // degenerate n < k
    var cents = centers.toArray
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) { val dd = sq(points(i), cents(j)); if (dd < bd) { bd = dd; best = j }; j += 1 }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var t = 0
        while (t < d) { sums(c)(t) += points(i)(t); t += 1 }
        i += 1
      }
      cents = (0 until k).map { j =>
        if (counts(j) == 0) cents(j)
        else sums(j).map(_ / counts(j))
      }.toArray
      iter += 1
    }
    cents
  }

  /** Encode: one code per subspace = argmin centroid by squared L2. Runs
    * as a UDF over the broadcast codebook — a tight primitive loop per
    * row; the interpreted higher-order-function formulation is ~100×
    * slower (per-element expression-tree walks). Build-path operator: the
    * hot query path below touches only the byte-sized codes.
    */
  def encode(df: DataFrame, id: Column, vec: Column, model: PQModel): DataFrame =
    df.select(id.as("id"), encodeUdf(model)(vec).as("codes"))

  /** The encode kernel as a reusable UDF (shared with the residual
    * IVF-PQ build, which keeps its surrounding columns).
    */
  def encodeUdf(model: PQModel): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val m = model.m; val k = model.k; val subDim = model.subDim
    val cents = model.centroids // serialized once into the task closure
    udf { (v: Seq[Float]) =>
      val arr = v.toArray
      val codes = new Array[Int](m)
      var i = 0
      while (i < m) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) {
          val c = cents(i)(j)
          var acc = 0.0; var t = 0
          while (t < subDim) {
            val x = arr(i * subDim + t).toDouble - c(t); acc += x * x; t += 1
          }
          if (acc < bd) { bd = acc; best = j }
          j += 1
        }
        codes(i) = best
        i += 1
      }
      codes
    }
  }

  /** The ADC scoring column for a codes column: the query is quantized
    * against nothing — its exact distance to every centroid of every
    * subspace is precomputed into an m×k table (closure-captured), and
    * each row scores as m array lookups in a primitive loop. A UDF, not
    * `aggregate(sequence…)`, deliberately: this runs once per corpus row
    * in the candidate scan, and interpreted higher-order functions walk
    * an expression tree per element (same measured trap as the encode
    * UDF above). Summation order (subspace-ascending) matches the
    * oracles' `list_sum(list(… ORDER BY i))` exactly.
    */
  def adcDistance(codes: Column, queryVec: Seq[Float], model: PQModel): Column = {
    val table = adcTable(queryVec, model)
    val adcUdf = udf { (cs: Seq[Int]) =>
      var acc = 0.0
      var i = 0
      while (i < cs.length) { acc += table(i)(cs(i)); i += 1 }
      acc
    }
    adcUdf(codes)
  }

  /** The per-query squared-L2 ADC lookup table (m×k): table(i)(j) = the
    * subspace-i contribution of centroid j. Shared by [[adcDistance]]'s
    * column scorer and driver-side scorers (VamanaServe's coded walk),
    * so the two rankings can never drift on the arithmetic.
    */
  def adcTable(queryVec: Seq[Float], model: PQModel): Array[Array[Double]] = {
    // slice+zip would silently truncate a short query to partial-dimension
    // distances — reject like the engine path does
    require(queryVec.length == model.dim,
      s"query vector has ${queryVec.length} dims; model has ${model.dim}")
    (0 until model.m).map { i =>
      val sub = queryVec.slice(i * model.subDim, (i + 1) * model.subDim)
      (0 until model.k).map { j =>
        val c = model.centroids(i)(j)
        sub.zip(c).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
      }.toArray
    }.toArray
  }

  /** Inner-product ADC (round 7 — closes the "L2-biased candidate pool
    * for unnormalized dot" operating limitation): table[i][j] =
    * −dot(query_sub_i, centroid_ij), so the row sum is −dot(q, x̂) — the
    * Metric.Dot convention (lower = closer) over the RECONSTRUCTION.
    * Candidates now rank by estimated inner product, so a long vector
    * that L2 would bury ranks where dot semantics put it; the exact
    * re-rank stage is unchanged.
    */
  def adcDotDistance(codes: Column, queryVec: Seq[Float], model: PQModel): Column = {
    val table = adcDotTable(queryVec, model)
    val adcUdf = udf { (cs: Seq[Int]) =>
      var acc = 0.0
      var i = 0
      while (i < cs.length) { acc += table(i)(cs(i)); i += 1 }
      acc
    }
    adcUdf(codes)
  }

  /** The inner-product sibling of [[adcTable]]: table(i)(j) =
    * −dot(query_sub_i, centroid_ij) (Metric.Dot's lower-is-closer
    * convention over the reconstruction).
    */
  def adcDotTable(queryVec: Seq[Float], model: PQModel): Array[Array[Double]] = {
    require(queryVec.length == model.dim,
      s"query vector has ${queryVec.length} dims; model has ${model.dim}")
    (0 until model.m).map { i =>
      val sub = queryVec.slice(i * model.subDim, (i + 1) * model.subDim)
      (0 until model.k).map { j =>
        val c = model.centroids(i)(j)
        -sub.zip(c).map { case (x, y) => x.toDouble * y }.sum
      }.toArray
    }.toArray
  }

  def adcSearch(codes: DataFrame, queryVec: Seq[Float], model: PQModel, k: Int): DataFrame =
    codes
      .select(col("id"), adcDistance(col("codes"), queryVec, model).as("approx_distance"))
      .orderBy(col("approx_distance").asc, col("id").asc)
      .limit(k)

  /** ADC candidates + exact re-rank: byte codes pick `rescore` candidates,
    * the true metric orders just those (same two-stage shape as
    * [[BinaryQuantizer.searchRescored]] — the wide vector column is read
    * only for the candidate rows).
    */
  def adcSearchRescored(
      codes: DataFrame, raw: DataFrame, id: Column, vec: Column,
      queryVec: Seq[Float], model: PQModel, k: Int, rescore: Int,
      metric: graft.model.IndexKind.Metric): DataFrame = {
    val cands = adcSearch(codes, queryVec, model, rescore)
    raw
      .select(id.as("id"), vec.as("_v"))
      .join(broadcast(cands.select("id")), "id")
      .select(col("id"),
        graft.functions.Distances.distanceToQuery(metric, col("_v"), queryVec).as("distance"))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
  }
}

/** Scalar (SQ8) quantization — faiss's SQ family: each dimension maps
  * independently onto a 256-level grid over its [lo, hi] range, so a
  * 64-float vector becomes 64 bytes with far better fidelity than 64
  * sign bits (BQ) at 8× the size; the classic middle point of the
  * size/recall trade. Ranges come either from the exact per-dimension
  * min/max fit (order-free aggregates — deterministic under any layout)
  * or are caller-specified ("fixed-range" mode, which keeps every
  * constant static for cross-engine replay).
  *
  * All arithmetic is the repo's explicit-IEEE contract:
  * code = clamp(floor((x − lo)·255/(hi − lo) + 0.5)) — floor(+0.5), not
  * round(), because Spark's round is DECIMAL half-up and DuckDB's is
  * half-away, while floor is floor everywhere — and the approximate
  * distance is an explicit left-fold over reconstructed centers.
  */
object ScalarQuantizer {

  /** Exact per-dimension [min, max] (no rounding needed: min/max of
    * floats are order-free and exact in any engine).
    */
  def fitMinMax(df: DataFrame, vec: Column, dim: Int): (Array[Double], Array[Double]) = {
    val rows = df.filter(vec.isNotNull && size(vec) >= dim)
      .select(posexplode(slice(vec, 1, dim)).as(Seq("_pos", "_v")))
      .groupBy("_pos")
      .agg(min(col("_v").cast("double")).as("_lo"), max(col("_v").cast("double")).as("_hi"))
      .collect().map { r =>
        // read boxed: an all-null dimension aggregates to null min/max,
        // and getAs[Double] would silently unbox that to 0.0
        val pos = r.getAs[Int]("_pos")
        val lo = r.getAs[java.lang.Double]("_lo")
        val hi = r.getAs[java.lang.Double]("_hi")
        if (lo == null || hi == null)
          throw new IllegalArgumentException(
            s"no values at dimension $pos — vectors shorter than dim=$dim or empty corpus")
        pos -> (lo.doubleValue, hi.doubleValue)
      }
      .toMap
    val lohi = (0 until dim).map(i => rows.getOrElse(i,
      throw new IllegalArgumentException(
        s"no values at dimension $i — vectors shorter than dim=$dim or empty corpus")))
    (lohi.map(_._1).toArray, lohi.map(_._2).toArray)
  }

  /** Per-element code expression for dimension i (0-based). */
  private def codeAt(vec: Column, i: Int, lo: Array[Double], hi: Array[Double]): Column = {
    val l = lo(i); val h = hi(i)
    if (h <= l) lit(0L)
    else {
      val q = floor((try_element_at(vec, lit(i + 1)).cast("double") - lit(l)) * 255.0 / lit(h - l) + lit(0.5))
      least(greatest(q, lit(0.0)), lit(255.0)).cast("long")
    }
  }

  /** Encode to an array<long> of 0..255 codes (one per dimension). The
    * id column keeps its own type (the engine's ids are strings).
    */
  def encode(df: DataFrame, id: Column, vec: Column,
      lo: Array[Double], hi: Array[Double]): DataFrame = {
    require(lo.length == hi.length && lo.nonEmpty, "lo/hi must be same non-zero length")
    val dim = lo.length
    df.filter(id.isNotNull && vec.isNotNull && size(vec) >= dim)
      .select(id.as("id"),
        array((0 until dim).map(i => codeAt(vec, i, lo, hi)): _*).as("codes"))
  }

  /** Approximate squared-L2 to `query` from codes: reconstruct each
    * center lo_i + c_i·(hi_i−lo_i)/255 and fold (x̂_i − q_i)² left in
    * index order — bit-replayable from the same (lo, hi, query)
    * constants.
    */
  def approxDistance(codes: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double]): Column =
    reconExpr(codes, query, lo, hi, negDot = false)

  /** One loop node (functions/SqReconExpr.scala) instead of a dim-term
    * literal chain: the chain made Catalyst tree walks, not execution,
    * the dominant request cost (~400 nodes/query). Arithmetic and null
    * semantics are bit-identical — QuantizerSpec pins the law against
    * [[approxDistanceChain]].
    */
  private def reconExpr(codes: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double], negDot: Boolean): Column = {
    require(query.length == lo.length, s"query dim ${query.length} != ${lo.length}")
    val step = lo.indices.map(i =>
      if (hi(i) <= lo(i)) 0.0 else (hi(i) - lo(i)) / 255.0).toArray
    org.apache.spark.sql.graft.Bridge.toColumn(
      graft.functions.SqReconDistance(
        org.apache.spark.sql.graft.Bridge.toExpression(codes),
        query.map(_.toDouble).toArray, lo.clone(), step, negDot))
  }

  /** The replaced literal-chain formulation, kept as the equivalence
    * law's independent oracle (QuantizerSpec) — not used in serving.
    */
  private[graft] def approxDistanceChain(codes: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double]): Column = {
    require(query.length == lo.length, s"query dim ${query.length} != ${lo.length}")
    val terms = lo.indices.map { i =>
      val step = if (hi(i) <= lo(i)) 0.0 else (hi(i) - lo(i)) / 255.0
      val xhat = lit(lo(i)) + try_element_at(codes, lit(i + 1)).cast("double") * lit(step)
      val dlt = xhat - lit(query(i).toDouble)
      dlt * dlt
    }
    terms.reduce(_ + _)
  }

  /** Approximate NEGATED INNER PRODUCT from codes (round 7, the Dot
    * candidate ranking): fold −q_i·x̂_i over reconstructed grid centers
    * in index order — same explicit-IEEE replayability as
    * [[approxDistance]], but candidates rank by estimated dot, which is
    * what an UNNORMALIZED dot query needs (reconstructed L2 buries
    * long vectors).
    */
  def approxDotDistance(codes: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double]): Column =
    reconExpr(codes, query, lo, hi, negDot = true)

  /** Chain form of [[approxDotDistance]], the equivalence law's oracle. */
  private[graft] def approxDotDistanceChain(codes: Column, query: Seq[Float],
      lo: Array[Double], hi: Array[Double]): Column = {
    require(query.length == lo.length, s"query dim ${query.length} != ${lo.length}")
    val terms = lo.indices.map { i =>
      val step = if (hi(i) <= lo(i)) 0.0 else (hi(i) - lo(i)) / 255.0
      val xhat = lit(lo(i)) + try_element_at(codes, lit(i + 1)).cast("double") * lit(step)
      lit(-query(i).toDouble) * xhat
    }
    terms.reduce(_ + _)
  }

  /** Top-k by approximate distance over an encoded frame. */
  def search(encoded: DataFrame, query: Seq[Float],
      lo: Array[Double], hi: Array[Double], k: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    encoded
      .select(col("id"), approxDistance(col("codes"), query, lo, hi).as("approx_distance"))
      .orderBy(col("approx_distance").asc, col("id").asc)
      .limit(k)
  }
}
