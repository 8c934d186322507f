package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType
import graft.model._
import graft.functions.{Distances, TextAnalyzer}
import Collection._

/** Compiles a query AST into DataFrame algebra.
  *
  * A compiled node is `(set, ranked)` exactly like the reference's
  * `(roaring bitmap, []SearchResult)` pair (reference shard/index/search.go:21–24):
  *   - `set`: which rows match — either a lazy `Column` predicate (pure
  *     filters; stays pushdown-able all the way to the parquet scan) or a
  *     materialized id DataFrame (ranked leaves, mixed combinators).
  *   - `ranked`: optional DataFrame `(_id, _distance, _score, _hybridScore)`
  *     for score-producing leaves (vector `near`, text search).
  *
  * Merge laws replicate reference shard/index/search.go:243–298: `_and`
  * intersects sets, `_or` unions them; ranked lists concatenate, restricted
  * to the final set for `_and`, deduplicated by id with `_hybridScore`
  * SUMMED and the first non-null `_distance`/`_score` (in child order) kept.
  */
object QueryCompiler {

  sealed trait SetRep
  final case class Pred(c: Column) extends SetRep
  /** Single `_id` column, distinct rows. */
  final case class Ids(df: DataFrame) extends SetRep

  /** `setFromRanked`: the set is EXACTLY the ranked frame's ids (every
    * ranked leaf, and a merge of such children) — the search assembly
    * then joins the collection against `ranked` once instead of running
    * the top-k subtree twice (semi-join membership + broadcast backfill
    * are different projections of the same plan, which Spark will not
    * share).
    */
  final case class Compiled(
      set: SetRep, ranked: Option[DataFrame], setFromRanked: Boolean = false)

  /** `pre`: leaf nodes already compiled by a batch group (Search.searchMany
    * decomposes every request's tree, fuses batchable leaves across the
    * batch, and injects the per-leaf results here) — keyed by the leaf
    * Query VALUE, so an identical leaf shared by two requests compiles
    * once. Lookup happens only on the `_and`/`_or` recursion path, never
    * inside a leaf's own `filter` sub-query (a filter is a set predicate;
    * matching it against a ranked batch result would change semantics).
    */
  def compile(col: Collection, q: Query,
      pre: Map[Query, Compiled] = Map.empty): Compiled = pre.get(q) match {
    case Some(c) => c
    case None => q.property match {
      case "_and" => merge(col, q.and.map(compile(col, _, pre)), disjunction = false)
      case "_or" => merge(col, q.or.map(compile(col, _, pre)), disjunction = true)
      case "_id" => Compiled(Pred(idPredicate(q)), None)
      case prop =>
        col.schema.get(prop) match {
          case None => throw new IllegalArgumentException(
            s"property $prop not found in index schema, cannot query")
          case Some(kind) => leaf(col, prop, kind, q)
        }
    }
  }

  // ---- leaves -------------------------------------------------------------

  private def leaf(col: Collection, prop: String, kind: IndexKind, q: Query): Compiled =
    (kind, q) match {
      case (k: IndexKind.Str, _) if q.string.isDefined =>
        Compiled(Pred(stringPredicate(prop, q.string.get, k.caseSensitive)), None)
      case (IndexKind.Integer, _) if q.integer.isDefined =>
        val o = q.integer.get
        Compiled(Pred(cmpPredicate(column(prop), o.operator, lit(o.value), lit(o.endValue))), None)
      case (IndexKind.Float, _) if q.float.isDefined =>
        val o = q.float.get
        Compiled(Pred(cmpPredicate(column(prop), o.operator, lit(o.value), lit(o.endValue))), None)
      case (k: IndexKind.StrArray, _) if q.stringArray.isDefined =>
        Compiled(Pred(stringArrayPredicate(prop, q.stringArray.get, k.caseSensitive)), None)
      case (k: IndexKind.VectorFlat, _) if q.vectorFlat.isDefined =>
        val o = q.vectorFlat.get
        near(col, prop, k.metric, o.vector, o.limit, o.filter, o.weight,
          approx = o.approx, budget = flatBudget(o))
      case (k: IndexKind.VectorVamana, _) if q.vectorVamana.isDefined =>
        val o = q.vectorVamana.get
        near(col, prop, k.metric, o.vector, o.limit, o.filter, o.weight,
          approx = o.approx, budget = vamanaBudget(o))
      case (_: IndexKind.Text, _) if q.text.isDefined =>
        val o = q.text.get
        compileTextMany(col, prop, Seq(o), o.filter).head
      case _ => throw new IllegalArgumentException(
        s"${kind.name} query options not provided for property $prop")
    }

  /** The vectorVamana rescore budget — the role of the reference's beam
    * (searchSize): how many quantized candidates see an exact re-rank.
    * THE single definition: Search.searchMany groups batchable requests
    * by this value, and a leaf compiled alone uses it too.
    */
  private[engine] def vamanaBudget(o: VectorVamanaOpts): Int =
    math.max(o.searchSize, 2 * o.limit)

  /** The vectorFlat rescore budget — same single-definition rule as
    * [[vamanaBudget]]: Search.searchMany groups batchable flat requests
    * by this value.
    */
  private[engine] def flatBudget(o: VectorFlatOpts): Int =
    math.max(5 * o.limit, 50)

  /** Dotted property paths resolve through struct columns natively. */
  private def column(prop: String): Column = col(prop)

  private def idPredicate(q: Query): Column = (q.string, q.stringArray) match {
    case (Some(s), _) => col(IdCol) === lit(s.value)
    case (_, Some(sa)) => col(IdCol).isin(sa.value: _*)
    case _ => throw new IllegalArgumentException(
      "only string-equals and stringArray-containsAny queries supported for _id")
  }

  private def stringPredicate(prop: String, o: StringOpts, caseSensitive: Boolean): Column = {
    // caseSensitive=false lowers BOTH sides (reference inverted/string.go:25–51
    // stores lowercased keys and lowercases the query value).
    val c = if (caseSensitive) column(prop) else lower(column(prop))
    val v = if (caseSensitive) o.value else o.value.toLowerCase
    val end = if (caseSensitive) o.endValue else o.endValue.toLowerCase
    o.operator match {
      case Op.StartsWith => c.startsWith(v)
      case other => cmpPredicate(c, other, lit(v), lit(end))
    }
  }

  private def cmpPredicate(c: Column, op: String, v: Column, end: Column): Column = op match {
    case Op.Equals => c === v
    case Op.NotEquals => c =!= v // null rows don't match, like the index scan
    case Op.GreaterThan => c > v
    case Op.GreaterOrEq => c >= v
    case Op.LessThan => c < v
    case Op.LessOrEq => c <= v
    case Op.InRange => c.between(v, end) // inclusive both ends (inverted.go:244–251)
    case other => throw new IllegalArgumentException(s"invalid operator $other")
  }

  private def stringArrayPredicate(prop: String, o: StringArrayOpts, caseSensitive: Boolean): Column = {
    val arr = if (caseSensitive) column(prop) else transform(column(prop), lower(_))
    val values = if (caseSensitive) o.value else o.value.map(_.toLowerCase)
    o.operator match {
      case Op.ContainsAll =>
        values.map(v => array_contains(arr, v)).reduce(_ && _)
      case Op.ContainsAny =>
        arrays_overlap(arr, array(values.map(lit): _*))
      case other => throw new IllegalArgumentException(s"invalid stringArray operator $other")
    }
  }

  // ---- vector near --------------------------------------------------------

  /** Exact top-k by distance — the `near` semantic for both vectorFlat and
    * vectorVamana (recall 1.0 ≥ the reference's graph search). An `approx`
    * leaf over an attached artifact compiles instead as a batch of one
    * ([[compileApproxMany]]). Plan shape is
    * `TakeOrderedAndProject(limit, filter(scan))`: per-partition partial
    * top-k then a single driver merge, the exact analogue of the
    * reference's per-shard search + cluster merge — no full sort, no wide
    * shuffle, scales linearly with executors.
    *
    * The pre-`filter` subquery restricts eligible rows BEFORE the top-k
    * (filter-first design, reference models/search.go:9–15). HybridScore is
    * `-weight * distance` (flat.go:109–111).
    */
  private def near(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      vector: Seq[Float], limit: Int, filter: Option[Query],
      weight: Option[Float], approx: Boolean = false, budget: Int = 0): Compiled = {
    val w = weight.getOrElse(1.0f)
    if (approx && col0.vectorIndexes.contains(prop))
      return compileApproxMany(col0, prop, metric, Seq((vector, limit, w)), budget, filter).head
    // approx without an attached artifact is served exact (strictly better)
    val base = filter.map(f => applySet(col0, compile(col0, f).set)).getOrElse(col0.df)
    val d = Distances.distanceToQuery(metric, column(prop), vector).cast(FloatType)
    // Score columns are projected BELOW the sort+limit (cheap per-row
    // arithmetic over the already-computed distance attribute) so ranked
    // is Limit(Sort(Project)) — the shape Spark's SpecialLimits strategy
    // fuses into TakeOrderedAndProject (per-partition partial top-k, no
    // corpus-wide sort) NO MATTER what callers stack above. With the
    // score projections ABOVE the limit, CollapseProject refuses to merge
    // them into downstream projections (merging would duplicate the
    // non-cheap distance expression), the composed plan becomes
    // Limit(Project(Project(Sort))) — one Project too many for the
    // TakeOrderedAndProject pattern — and the corpus takes a
    // range-partitioned GLOBAL sort per request (measured exactly that
    // on the metadata-only serving shape, plans/r12).
    val ranked = base
      .filter(column(prop).isNotNull)
      .select(col(IdCol), d.as(DistanceCol))
      .select(col(IdCol), col(DistanceCol),
        lit(null).cast(FloatType).as(ScoreCol),
        (lit(-1.0f) * lit(w) * col(DistanceCol)).cast(FloatType).as(HybridScoreCol))
      .orderBy(col(DistanceCol).asc, col(IdCol).asc) // id tie-break for determinism
      .limit(limit)
    Compiled(Ids(ranked.select(IdCol)), Some(ranked), setFromRanked = true)
  }

  /** Stage-1 candidate ranking for a FLAT quantizer artifact: the
    * (quantized-distance column, probed cells) pair for `vector` under
    * the DECLARED metric — THE single definition of every per-index
    * candidate ranking; [[compileFlatMany]] folds K of these columns into
    * ONE scan. IVF families report their probed cells (None for full-scan
    * families), so the scan reads the UNION of a group's cells while each
    * query's column is guarded to its OWN cells.
    */
  private def flatCandidateExpr(
      idx: VectorIndex, metric: IndexKind.Metric,
      vector: Seq[Float]): (Column, Option[Seq[Int]]) = idx match {
      case BinaryVectorIndex(th, _, levels) =>
        require(vector.length == th.length,
          s"query vector has ${vector.length} dims; binary index has ${th.length}")
        // candidates rank in the quantized space of the DECLARED metric:
        // jaccard-metric vectors rank by packed jaccard (hamming would
        // bury a high-overlap dense vector below sparse far ones and the
        // exact re-rank could never recover it); everything else ranks by
        // hamming (for cosine/euclidean the bits are a scan-reduction
        // proxy and the exact stage restores the true metric) — or by
        // ASYMMETRIC 1-bit ADC when reconstruction levels are attached
        // (round 7 opt-in: same packed scan, magnitude-aware ranking)
        val qWords = lit(graft.operators.BinaryQuantizer.packWords(vector, th))
        val cd = (metric, levels) match {
          case (IndexKind.Metric.Jaccard, _) =>
            graft.functions.PackedOps.packedJaccard(col("_packed"), qWords)
          case (_, Some((lo, hi))) =>
            graft.operators.BinaryQuantizer.asymmetricDistance(
              col("_packed"), vector, lo, hi)
          case _ =>
            graft.functions.PackedOps.packedHamming(col("_packed"), qWords)
        }
        (cd, None)
      case ProductVectorIndex(model, _) =>
        require(vector.length == model.dim,
          s"query vector has ${vector.length} dims; product index has ${model.dim}")
        // candidate ranking follows the DECLARED metric: squared-L2 ADC
        // for euclidean (exact in code space) and cosine (rank-equivalent
        // on the normalized inputs cosine assumes, ‖q−c‖² = 2−2·q·c);
        // INNER-PRODUCT ADC for dot (round 7 — L2 tables would bury long
        // vectors an unnormalized dot query must surface). The exact
        // re-rank stage is metric-true either way.
        val pqCd =
          if (metric == IndexKind.Metric.Dot)
            graft.operators.ProductQuantizer.adcDotDistance(col("_codes"), vector, model)
          else graft.operators.ProductQuantizer.adcDistance(col("_codes"), vector, model)
        (pqCd, None)
      case OpqVectorIndex(model, _) =>
        require(vector.length == model.dim,
          s"query vector has ${vector.length} dims; OPQ index has ${model.dim}")
        // rotate the query by the model's orthogonal matrix (driver-side,
        // one d×d mat-vec), then the UNCHANGED PQ ADC fold over the codes:
        // orthogonality preserves both L2 and dot (Rq·Rx = q·x), so the
        // same metric routing as plain PQ applies in the rotated space
        val rq = model.rotate(vector.toArray).toSeq
        val opqCd =
          if (metric == IndexKind.Metric.Dot)
            graft.operators.ProductQuantizer.adcDotDistance(col("_codes"), rq, model.pq)
          else graft.operators.ProductQuantizer.adcDistance(col("_codes"), rq, model.pq)
        (opqCd, None)
      case RbqVectorIndex(model, _) =>
        require(vector.length == model.dim,
          s"query vector has ${vector.length} dims; RaBitQ index has ${model.dim}")
        // the paper's unbiased squared-L2 estimator for euclidean (and
        // cosine — rank-equivalent on the normalized inputs cosine
        // declares); Dot by the reconstructed inner product (the stored
        // <o,c> scalar closes the centering algebra). Exact re-rank is
        // metric-true either way.
        val rbqCd =
          if (metric == IndexKind.Metric.Dot)
            graft.operators.RaBitQ.dotEstimateExpr(
              col("_bits"), col("_norm"), col("_dotq"), col("_dotc"), vector, model)
          else graft.operators.RaBitQ.estimateExpr(
            col("_bits"), col("_norm"), col("_dotq"), vector, model)
        (rbqCd, None)
      case ScalarVectorIndex(lo, hi, _) =>
        require(vector.length == lo.length,
          s"query vector has ${vector.length} dims; scalar index has ${lo.length}")
        // same metric routing as PQ: reconstructed squared-L2 for
        // euclidean/cosine, reconstructed negated dot for dot (round 7)
        val sqCd =
          if (metric == IndexKind.Metric.Dot)
            graft.operators.ScalarQuantizer.approxDotDistance(col("_codes"), vector, lo, hi)
          else graft.operators.ScalarQuantizer.approxDistance(col("_codes"), vector, lo, hi)
        (sqCd, None)
      case IvfRbqVectorIndex(coarse, rotation, nprobe, _) =>
        require(vector.length == coarse.dim,
          s"query vector has ${vector.length} dims; IVF-RaBitQ index has ${coarse.dim}")
        // Dot probes AND scores by inner product (the IvfPq round-7
        // argument): high-dot cells, per-cell dotEstimateExpr closing
        // the centering algebra with the stored <o,c> scalar (round 10 —
        // the layout carries it now, the fail-fast is gone)
        val rbqDot = metric == IndexKind.Metric.Dot
        val rbqCells =
          if (rbqDot) graft.operators.IvfPq.probesDot(coarse, vector, nprobe)
          else graft.operators.IvfPq.probes(coarse, vector, nprobe)
        require(rbqCells.nonEmpty, "no populated cells to probe")
        // per-cell estimator arms over the partition-pruned probed rows:
        // each arm is the flat RaBitQ estimator centered at that cell
        val arms = rbqCells.map { b =>
          val m = graft.operators.RaBitQ.RbqModel(coarse.centroids(b), rotation)
          val arm =
            if (rbqDot) graft.operators.RaBitQ.dotEstimateExpr(
              col("_bits"), col("_norm"), col("_dotq"), col("_dotc"), vector, m)
            else graft.operators.RaBitQ.estimateExpr(
              col("_bits"), col("_norm"), col("_dotq"), vector, m)
          (b, arm)
        }
        val chain = arms.tail.foldLeft(
          when(col("_bucket") === arms.head._1, arms.head._2)) {
          case (acc, (b, e)) => acc.when(col("_bucket") === b, e)
        }
        (chain, Some(rbqCells))
      case IvfPqVectorIndex(coarse, model, nprobe, _) =>
        require(vector.length == coarse.dim,
          s"query vector has ${vector.length} dims; IVF-PQ index has ${coarse.dim}")
        // the artifact frame is bucket-partitioned, so the scan's probe
        // restriction lands in PartitionFilters and unprobed cells are
        // never read. Dot queries probe AND score by inner product (round 7):
        // high-dot cells, −dot(q,c)−dot(q,r̂) tables — L2 probing would
        // skip the very cells an unnormalized MIPS query needs.
        val dot = metric == IndexKind.Metric.Dot
        val cells =
          if (dot) graft.operators.IvfPq.probesDot(coarse, vector, nprobe)
          else graft.operators.IvfPq.probes(coarse, vector, nprobe)
        require(cells.nonEmpty, "no populated cells to probe") // isin() of nothing = 0 rows, silently
        val tables =
          if (dot) graft.operators.IvfPq.queryTablesDot(coarse, model, vector, cells)
          else graft.operators.IvfPq.queryTables(coarse, model, vector, cells)
        (graft.operators.IvfPq.adcUdf(tables)(col("_bucket"), col("_codes")),
          Some(cells))
      case _: VamanaVectorIndex =>
        throw new IllegalStateException("vamana artifacts are served by compileVamanaMany")
  }

  /** Pool gids → (id, full-precision vector), the input of the graph
    * family's CANDIDATE-BOUNDED exact re-rank (round 12; see
    * [[vamanaRerank]]): zero jobs in the local regime (the [[VamanaServe
    * .LocalGraph]] snapshot carries ids and vectors), ONE bucket-pruned
    * point read of ≤ searchSize wide rows from the raw serving table
    * otherwise — the same fetch shape as a walk hop, planned under the
    * walk session so bucket pruning holds. The raw serving table carries
    * `_vec` even when the WALK ran over a coded layout — DiskANN's own
    * split (codes steer navigation, full-precision vectors are read only
    * to re-rank), at the cost of the raw layout existing alongside the
    * coded one.
    */
  private def vamanaCandidates(
      vidx: VamanaVectorIndex, gids: Seq[Long]): Map[Long, (String, Seq[Float])] =
    if (gids.isEmpty) Map.empty
    else vidx.local match {
      case Some(g) =>
        gids.iterator.flatMap(gid =>
          for { id <- g.ids.get(gid); nv <- g.nodes.get(gid) }
            yield gid -> ((id, nv._1.toSeq))).toMap
      case None =>
        VamanaServe.forWalkFetch(
          vidx.serving.filter(col("_gid").isin(gids: _*))
            .select(col("_gid"), col(IdCol), col("_vec")))
          .collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[Float](2))))
          .toMap
    }

  /** Exact re-rank of a walk pool WITHOUT touching the collection and
    * without a Spark job: the candidates' (id, vector) pairs are ALREADY
    * in driver memory (≤ searchSize rows — the walk fetched them), so the
    * distances are scored driver-side and the rank is Spark's own
    * `orderBy(_distance, _id).limit` over a LocalRelation, which
    * [[LocalFold]] folds back into a LocalRelation — consuming the frame
    * (and Search's metadata-only page over it) runs ZERO jobs.
    *
    * The scores equal the distance expression's:
    * [[graft.functions.VectorDistance.scalarDistance]] is the SAME kernel
    * formulation the codegen expression compiles (three co-located
    * formulations, one edit point — the walk already scores hops with
    * it), `.toFloat` is the same double→float rounding as
    * `cast(FloatType)`, and `(-1.0f * w) * d` in float is the
    * `Multiply(Multiply(-1f, w), dist)` column left-assoc. EngineSpec's
    * "driver-side re-rank ≡ expression re-rank" law pins it per metric,
    * ties and weights included.
    */
  private[graft] def vamanaRerank(
      metric: IndexKind.Metric, vector: Seq[Float], limit: Int, w: Float,
      cand: Seq[(String, Seq[Float])], spark: org.apache.spark.sql.SparkSession): Compiled = {
    LocalFold.register(spark)
    val q = vector.toArray
    val c0 = -1.0f * w // the constant-folded Multiply(-1f, w)
    val rows: Seq[org.apache.spark.sql.Row] = cand.map { case (id, v) =>
      val d = graft.functions.VectorDistance.scalarDistance(metric, v.toArray, q).toFloat
      org.apache.spark.sql.Row(id, d, null, c0 * d)
    }
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    // nullability mirrors the replaced plan's output exactly (toDF id /
    // distance expression / lit(null) score / derived hybrid — all
    // nullable), so downstream schema comparisons can't drift
    val schema = StructType(Seq(
      StructField(IdCol, StringType), StructField(DistanceCol, FloatType),
      StructField(ScoreCol, FloatType), StructField(HybridScoreCol, FloatType)))
    val ranked = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy(col(DistanceCol).asc, col(IdCol).asc).limit(limit)
    Compiled(Ids(ranked.select(IdCol)), Some(ranked), setFromRanked = true)
  }

  /** Compile K approx vector leaves of one group against `prop`'s attached
    * artifact: the graph walk for a Vamana graph, the fused quantized
    * candidate scan for any other artifact. `items` = (vector, limit,
    * weight) per leaf.
    */
  private[engine] def compileApproxMany(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      items: Seq[(Seq[Float], Int, Float)], budget: Int,
      filter: Option[Query]): Seq[Compiled] = col0.vectorIndexes(prop) match {
    case _: VamanaVectorIndex => compileVamanaMany(col0, prop, metric, items, budget, filter)
    case _ => compileFlatMany(col0, prop, metric, items, budget, filter)
  }

  /** Compile K approx vectorVamana leaves against ONE attached graph
    * artifact; a single leaf is a batch of one (Search.searchMany groups
    * leaves per prop, budget, metric and filter). The walks advance as a
    * single wave — per hop round every member's frontier fuses into one
    * bucket-pruned fetch (VamanaServe.beamCandidateGidsBatch) — and the
    * final gid→id lookup is ONE fused point read over the union of the
    * pools. Each query's pool is identical to its walk in a batch of one
    * (VamanaServeSpec pool-equality law).
    *
    * `items` = (vector, limit, weight) per request; `budget` is the shared
    * beam width (requests with different budgets land in different groups).
    *
    * `filter`: requests with EQUAL filter ASTs (structural case-class
    * equality — the grouping key in Search.searchMany) batch as filtered
    * optimistic walks (round-12 item #8): the filter compiles ONCE per
    * group, the in-filter seed set and membership verdicts are shared
    * across the wave (they are query-independent — see
    * VamanaServe.beamCandidateGidsFilteredBatch), and only per-query
    * frontiers differ.
    */
  private def compileVamanaMany(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      items: Seq[(Seq[Float], Int, Float)], budget: Int,
      filter: Option[Query]): Seq[Compiled] = {
    val vidx = col0.vectorIndexes(prop).asInstanceOf[VamanaVectorIndex]
    // with a CodedSource attached (PQ/OPQ ADC codes or the RaBitQ 1-bit
    // payload) the walk fetches _codes instead of _vec — the DiskANN
    // compressed-navigation regime; only the re-rank reads full vectors
    val coded = vidx.codedServing.map(c => (c, vidx.coded.get))
    val art = coded.map(_._1).getOrElse(vidx.serving)
    val pools = filter match {
      case None => VamanaServe.beamCandidateGidsBatch(
        art, metric, items.map(_._1), budget, vidx.entry, vidx.maxHops,
        vidx.local, coded.map(_._2))
      case Some(f) =>
        val matchArt = applySet(col0, compile(col0, f).set, art)
        VamanaServe.beamCandidateGidsFilteredBatch(
          art, matchArt, metric, items.map(_._1), budget, vidx.entry,
          vidx.maxHops, vidx.local, coded.map(_._2))
    }
    // ONE fused candidate materialization for the whole group (gid →
    // (id, vector) over the union of the pools — zero jobs local, one
    // bucket-pruned point read distributed), then each request's
    // candidate-bounded exact re-rank (vamanaRerank: the corpus is never
    // scanned — round 12)
    val byGid = vamanaCandidates(vidx, pools.flatten.distinct)
    items.zip(pools).map { case ((vec, limit, w), gids) =>
      vamanaRerank(metric, vec, limit, w,
        gids.flatMap(byGid.get), vidx.encoded.sparkSession)
    }
  }

  /** Compile K approx vectorFlat leaves against ONE attached quantizer
    * artifact — the full-scan families BQ / PQ / OPQ / SQ8 / RaBitQ and
    * the IVF families IVF-PQ / IVF-RaBitQ; a single leaf is a batch of
    * one (reference shard/vectorstore/binary.go, product.go: the
    * quantized store answers the scan, full vectors re-rank). The K
    * quantized-distance columns evaluate in ONE codegen'd pass over the
    * encoded frame — the scan I/O, the dominant flat candidate-stage cost
    * at 100 TB, is paid once for the whole group — and ONE [[multiTopK]]
    * stage replays each query's `orderBy(_qd asc, _id asc).limit(budget)`
    * exactly. Each query's collected candidate ids then feed its exact
    * [[rerank]]. The input row stays ONE row wide regardless of K — the
    * earlier posexplode formulation (kept as the law oracle in
    * SearchManySpec) paid K× row inflation at the map boundary.
    *
    * IVF families keep their partition pruning under batching (round-12
    * verdict item #2): the fused scan reads the UNION of the group's
    * probed cells, and each query's distance column is guarded to its
    * OWN cells (`when(_bucket isin cells, est)` — CaseWhen branches
    * evaluate lazily, so foreign-cell rows never reach a query's
    * estimator/ADC fold) with NaN marking "not a candidate for this
    * query" for the aggregator. A spilled IVF-PQ artifact stores an id
    * in several cells, so the scan first dedups per id by min quantized
    * distance per query (map-side-combined hash aggregate; NaN compares
    * GREATER than every real distance in Spark's nan-safe ordering, so
    * an id probed by query i in any cell keeps its best real estimate) —
    * otherwise duplicate candidates would burn budget slots.
    *
    * Null defense (round-12 advice): a null quantized distance is
    * coalesced to NaN — excluded for that query — where Spark's
    * `orderBy(_qd asc)` would sort it FIRST (nulls first). Both are
    * unreachable (encode paths drop null/short vectors); the exclusion
    * degrades softly per query instead of crashing the whole batch in
    * the array encoder.
    */
  private def compileFlatMany(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      items: Seq[(Seq[Float], Int, Float)], budget: Int,
      filter: Option[Query]): Seq[Compiled] = {
    val idx = col0.vectorIndexes(prop)
    // the group's pre-filter (Search.searchMany groups flat requests by
    // filter AST, so every member's filter is EQUAL) restricts the fused
    // candidate scan itself — filtered-out rows never consume candidate
    // budget (filter-first, reference models/search.go:9–15)
    val frame = filter match {
      case None => idx.encoded
      case Some(f) => applySet(col0, compile(col0, f).set, idx.encoded)
    }
    val cands = items.map { case (vec, _, _) => flatCandidateExpr(idx, metric, vec) }
    val probed = cands.flatMap(_._2).flatten.distinct
    val scan = if (probed.isEmpty) frame else frame.filter(col("_bucket").isin(probed: _*))
    val qds = cands.map { case (qd, cellsOpt) =>
      val guarded = cellsOpt match {
        case Some(cells) => when(col("_bucket").isin(cells: _*), qd)
        case None => qd
      }
      // + 0.0 collapses a −0.0 distance onto +0.0: Spark's orderBy treats
      // them EQUAL (id tie-break), the aggregator's Double.compare would
      // rank −0.0 first — the normalization keeps the replay exact
      coalesce(guarded.cast("double") + lit(0.0), lit(Double.NaN))
    }
    val (aggFrame, keyCols) = idx match {
      case _: IvfPqVectorIndex =>
        val named = qds.zipWithIndex.map { case (q, i) => min(q).as(s"_qd$i") }
        (scan.groupBy(IdCol).agg(named.head, named.tail: _*),
          items.indices.map(i => col(s"_qd$i")))
      case _ => (scan, qds)
    }
    val tops = multiTopK(aggFrame, keyCols,
      Array.fill(items.length)(budget))
    items.zip(tops).map { case ((vec, limit, w), pairs) =>
      rerank(col0, prop, metric, vec, limit, w, pairs.map(_._2))
    }
  }

  /** ONE multi-top-k pass — the shared tail of every fused multi-query
    * scan (compileFlatMany / compileTextMany), run as ONE Spark stage with
    * no exchange of its own: each partition folds its (K-wide key array,
    * id) rows into a TopKStrMultiAgg buffer with the aggregator's own
    * `reduce` (≤ Σ 2·ks(qi) entries), the buffers come back through a
    * Dataset action — so the plan stays visible to query-execution
    * listeners and to DumpPlans — and the driver merges them with `merge`
    * and `finish`. A global aggregate would add a SinglePartition shuffle
    * stage, and with it a job. Returns per-query (key, id) lists in
    * (key asc, id asc) order.
    */
  private def multiTopK(
      frame: DataFrame, keys: Seq[Column],
      ks: Array[Int]): Seq[Seq[(Double, String)]] = {
    val agg = new graft.operators.Similarity.TopKStrMultiAgg(ks)
    val partials = frame
      .select(array(keys: _*).as("_qds"), col(IdCol))
      .mapPartitions(rows => Iterator(rows.foldLeft(agg.zero)((b, r) =>
        agg.reduce(b, (r.getSeq[Double](0), r.getString(1))))))(agg.bufferEncoder)
      .collect()
    val top = agg.finish(partials.foldLeft(agg.zero)(agg.merge))
    graft.operators.Similarity.TopKStrMultiAgg.slices(
      ks, top.ds.toSeq, top.ids.toSeq, top.ns.toSeq)
  }

  /** Stage 2 of the flat approximate path: the TRUE metric over JUST the
    * collected candidate ids (≤ budget `_id` literals, an IN filter the
    * collection scan can push down) — at 100 TB the wide vector column is
    * read only for candidates. Result schema and scoring match exact
    * `near` bit-for-bit; only the candidate set is approximate.
    */
  private def rerank(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      vector: Seq[Float], limit: Int, w: Float, candIds: Seq[String]): Compiled = {
    val d = Distances.distanceToQuery(metric, column(prop), vector).cast(FloatType)
    // same Limit(Sort(Project)) shape as exact `near` (see the comment
    // there): scores below the sort+limit keep the top-k fusable
    val ranked = col0.df
      .filter(col(IdCol).isin(candIds: _*))
      .filter(column(prop).isNotNull)
      .select(col(IdCol), d.as(DistanceCol))
      .select(col(IdCol), col(DistanceCol),
        lit(null).cast(FloatType).as(ScoreCol),
        (lit(-1.0f) * lit(w) * col(DistanceCol)).cast(FloatType).as(HybridScoreCol))
      .orderBy(col(DistanceCol).asc, col(IdCol).asc)
      .limit(limit)
    Compiled(Ids(ranked.select(IdCol)), Some(ranked), setFromRanked = true)
  }

  // ---- text search --------------------------------------------------------

  /** The text index a query over `prop` scores against: the installed
    * one, or else an ad-hoc [[TextIndex.adHoc]] over the collection. Its
    * lazy postings are deliberately not persisted: this path serves only
    * collections without an installed index (direct engine use, or the
    * facade's CAS-race window), and a materialization here would have no
    * owner to release it.
    */
  private def textIndex(col0: Collection, prop: String): TextIndex =
    col0.textIndexes.getOrElse(prop, TextIndex.adHoc(col0.df, prop))

  /** The postings restricted to `terms`, each row carrying its term's
    * document frequency `_df` as a literal lookup into the index's
    * `docFreq` (every query term is a key, so the lookup never misses).
    */
  private def termPostings(index: TextIndex, terms: Seq[String]): DataFrame = {
    val df = typedLit(terms.map(t => t -> index.docFreq.getOrElse(t, 0L)).toMap)
    index.postings.filter(col("_term").isin(terms: _*))
      .withColumn("_df", element_at(df, col("_term")))
  }

  /** tf-idf scored text search (reference text.go:305–396) for K text
    * leaves against ONE property; a single leaf is a batch of one:
    * score(doc) = Σ_t∈queryTerms (freq_t/docLen) * log10(numDocs/(df_t+1)),
    * over the containsAll/containsAny matched set, optionally intersected
    * with the group's pre-filter, ranked by score desc, id asc and
    * truncated to the leaf's `limit`. df/idf are the index's, over ALL
    * docs with the property — the pre-filter narrows the candidate set,
    * not the statistics (text.go:328–334 intersects after the posting-set
    * merge).
    *
    * The group shares ONE postings restriction to the UNION of its query
    * terms (each row's df looked up in the index's `docFreq`), ONE
    * groupBy(doc) with K conditional (score, matched-term-count) column
    * pairs, and ONE bounded per-query top-k ([[multiTopK]], per-query
    * k = limit) whose ranking key replays `orderBy(score32 desc, id asc)`
    * exactly: the NEGATED float32 score widened to double (exact),
    * ascending, with `+ 0.0` collapsing a −0.0 score onto +0.0 (Spark's
    * comparator treats them equal; `Double.compare` would not).
    * Ineligible docs (containsAll misses) rank as NaN = excluded.
    *
    * The collected (score, id) pairs rebuild each leaf's ranked frame as
    * a driver-local relation: score32 round-trips the negation exactly,
    * and the hybrid column is the float multiply score32 · weight. The
    * order of a doc's per-term double sum inside the shared groupBy is
    * Spark's to pick and may change with the group's other members
    * ulp-wise; the float32 cast absorbs that everywhere observable (the
    * gates round, and SearchManySpec compares at 4 decimals).
    */
  private[engine] def compileTextMany(
      col0: Collection, prop: String, optsList: Seq[TextOpts],
      filter: Option[Query]): Seq[Compiled] = {
    val termsPer = optsList.map { o =>
      val ts = TextAnalyzer.analyzeString(o.value).distinct
      if (ts.isEmpty)
        throw new IllegalArgumentException("text query value has no terms after analysis")
      ts
    }
    val index = textIndex(col0, prop)
    val numDocs = index.numDocs // numDocs of the text index (text.go:371)
    val joined = termPostings(index, termsPer.flatten.distinct)
    val contrib = (col("_freq").cast("double") / col("_doclen").cast("double")) *
      log10(lit(numDocs.toDouble) / (col("_df").cast("double") + 1.0))
    val aggCols = termsPer.zipWithIndex.flatMap { case (ts, i) => Seq(
      sum(when(col("_term").isin(ts: _*), contrib)).as(s"_s$i"),
      count(when(col("_term").isin(ts: _*), lit(1))).as(s"_n$i"))
    }
    val fused0 = joined.groupBy(IdCol).agg(aggCols.head, aggCols.tail: _*)
    // shared pre-filter (EQUAL across the group by construction): intersect
    // AFTER the posting-set merge, BEFORE scoring truncation — the
    // reference's placement (text.go:328–334); df/idf stay unfiltered
    val fused = filter match {
      case None => fused0
      case Some(f) => applySet(col0, compile(col0, f).set, fused0)
    }
    val keys = optsList.zip(termsPer).zipWithIndex.map { case ((o, ts), i) =>
      val eligible = o.operator match {
        case Op.ContainsAll => col(s"_n$i") === ts.length
        case Op.ContainsAny => col(s"_n$i") > 0
        case other => throw new IllegalArgumentException(s"invalid text operator $other")
      }
      coalesce(
        when(eligible, -col(s"_s$i").cast(FloatType).cast("double") + lit(0.0)),
        lit(Double.NaN))
    }
    val tops = multiTopK(fused, keys, optsList.map(_.limit).toArray)
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val scoredSchema = StructType(Seq(
      StructField(IdCol, StringType), StructField(ScoreCol, FloatType, nullable = false)))
    optsList.zip(tops).map { case (o, pairs) =>
      val w = o.weight.getOrElse(1.0f)
      // + 0.0f: a zero score comes back from the negated key as −0.0f,
      // while the tf-idf double sum can only produce +0.0 (a zero idf
      // times a positive tf is +0.0, and x − x is +0.0 under
      // round-to-nearest), so normalize the sign back
      val scored = pairs.map { case (k, id) =>
        org.apache.spark.sql.Row(id, (-k).toFloat + 0.0f)
      }
      val ranked = col0.df.sparkSession
        .createDataFrame(java.util.Arrays.asList(scored: _*), scoredSchema)
        .select(
          col(IdCol),
          lit(null).cast(FloatType).as(DistanceCol),
          col(ScoreCol).cast(FloatType).as(ScoreCol))
        .withColumn(HybridScoreCol, (col(ScoreCol) * lit(w)).cast(FloatType))
      Compiled(Ids(ranked.select(IdCol)), Some(ranked), setFromRanked = true)
    }
  }

  // ---- combinators --------------------------------------------------------

  /** The `_and`/`_or` merge (search.go:243–298). Every ranked child is a
    * top-k of at most its limit rows (≤75, Validation), so it is held on
    * the driver ([[local]]): the set, the ranked union and the `_and`
    * restriction then read one `LocalRelation` instead of re-running the
    * child, and [[LocalFold]] folds the union, the restriction and the
    * grouped sum into a `LocalRelation` too — no job. When every child is
    * `setFromRanked`, the merged set is exactly the merged ranked ids, for
    * `_or` and for `_and`, so the merge is `setFromRanked` as well and the
    * search assembly takes its ranked branch; a predicate child keeps the
    * set-merge and backfill plan.
    */
  private def merge(col0: Collection, childrenRaw: Seq[Compiled], disjunction: Boolean): Compiled = {
    require(childrenRaw.nonEmpty, "combinator must have at least one subquery")
    if (childrenRaw.length == 1) return childrenRaw.head // shortcut (search.go:243–246)

    val children = childrenRaw.map {
      case Compiled(set0, Some(r), sfr) =>
        val l = local(r)
        Compiled(if (sfr) Ids(l.select(IdCol)) else set0, Some(l), sfr)
      case c => c
    }

    // set merge: stay in Column algebra when every child is a predicate —
    // the whole tree then collapses into one pushdown-able filter. Lazy:
    // an `_or` of ranked children never needs it.
    lazy val set: SetRep =
      if (children.forall(_.set.isInstanceOf[Pred])) {
        val preds = children.map(_.set.asInstanceOf[Pred].c)
        Pred(if (disjunction) preds.reduce(_ || _) else preds.reduce(_ && _))
      } else {
        val idDfs = children.map(c => materialize(col0, c.set))
        Ids(if (disjunction) idDfs.reduce(_ union _).distinct()
            else idDfs.reduce((a, b) => a.join(b, Seq(IdCol), "left_semi")))
      }

    // ranked merge: concat, restrict to final set for _and, dedup summing
    // hybrid score (0 when every summand is null, as the backfill of a
    // set-only row), first non-null distance/score in child order.
    val rankedChildren = children.zipWithIndex.collect {
      case (Compiled(_, Some(r), _), i) => r.withColumn("_child", lit(i))
    }
    val ranked: Option[DataFrame] =
      if (rankedChildren.isEmpty) None
      else {
        val unioned = rankedChildren.reduce(_ unionByName _)
        val restricted =
          if (disjunction) unioned
          else set match {
            // invariant: a ranked child always carries an Ids set, so a
            // merged set with ranked children can never be Pred — the
            // branch exists only for pattern exhaustiveness
            case Pred(p) => unioned.join(col0.df.filter(p).select(IdCol), Seq(IdCol), "left_semi")
            case Ids(ids) => unioned.join(ids, Seq(IdCol), "left_semi")
          }
        Some(restricted
          .groupBy(IdCol)
          .agg(
            coalesce(sum(HybridScoreCol).cast(FloatType), lit(0.0f)).as(HybridScoreCol),
            expr(s"min_by($DistanceCol, _child) FILTER (WHERE $DistanceCol IS NOT NULL)")
              .as(DistanceCol),
            expr(s"min_by($ScoreCol, _child) FILTER (WHERE $ScoreCol IS NOT NULL)")
              .as(ScoreCol))
          .select(col(IdCol), col(DistanceCol), col(ScoreCol), col(HybridScoreCol)))
      }
    ranked match {
      case Some(r) if children.forall(_.setFromRanked) =>
        Compiled(Ids(r.select(IdCol)), ranked, setFromRanked = true)
      case _ => Compiled(set, ranked)
    }
  }

  /** `df` as a driver-local frame: reused as is when its optimized plan
    * already is a `LocalRelation` (0 jobs), else collected once into one.
    * For bounded frames only — a ranked top-k.
    */
  private[engine] def local(df: DataFrame): DataFrame = {
    LocalFold.register(df.sparkSession)
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation if !l.isStreaming => df
      case _ => org.apache.spark.sql.graft.Bridge.collectLocal(df)
    }
  }

  /** Materialize a set representation to a distinct `_id` DataFrame. */
  def materialize(col0: Collection, set: SetRep): DataFrame = set match {
    case Pred(p) => col0.df.filter(p).select(IdCol)
    case Ids(df) => df
  }

  /** Restrict the collection (or a keyed DataFrame) to a set. */
  def applySet(col0: Collection, set: SetRep): DataFrame = applySet(col0, set, col0.df)

  def applySet(col0: Collection, set: SetRep, target: DataFrame): DataFrame = set match {
    case Pred(p) if target.eq(col0.df) => target.filter(p)
    case Pred(p) => target.join(col0.df.filter(p).select(IdCol), Seq(IdCol), "left_semi")
    case Ids(ids) => target.join(ids, Seq(IdCol), "left_semi")
  }
}
