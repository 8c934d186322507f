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
        textSearch(col, prop, q.text.get)
      case _ => throw new IllegalArgumentException(
        s"${kind.name} query options not provided for property $prop")
    }

  /** The vectorVamana rescore budget — the role of the reference's beam
    * (searchSize): how many quantized candidates see an exact re-rank.
    * THE single definition: Search.searchMany groups batchable requests
    * by this value, so a second copy of the formula would silently split
    * batched requests from their single-request twins.
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
    * vectorVamana (recall 1.0 ≥ the reference's graph search). Plan shape is
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
    if (approx) col0.vectorIndexes.get(prop) match {
      case Some(idx) =>
        return approxNear(col0, prop, metric, vector, limit, filter, weight, idx, budget)
      case None => () // no artifact attached — serve exact (strictly better)
    }
    val w = weight.getOrElse(1.0f)
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

  /** Two-stage approximate `near` against an attached quantizer artifact
    * (reference shard/vectorstore/binary.go, product.go: the quantized
    * store answers the scan, full vectors re-rank):
    *
    *   stage 1 — candidate ids by quantized distance over the NARROW
    *   encoded frame (packed hamming / ADC lookups), partial top-`budget`
    *   per partition (`TakeOrderedAndProject`, no full sort). A pre-filter
    *   restricts the candidate scan itself, so filtered-out rows never
    *   consume candidate budget (filter-first, models/search.go:9–15);
    *
    *   stage 2 — the true metric over JUST the candidate rows (broadcast
    *   semi-join, ≤ `budget` rows): at 100 TB the wide vector column is
    *   read only for candidates.
    *
    * Result schema and scoring match exact `near` bit-for-bit; only the
    * candidate set is approximate.
    */
  private def approxNear(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      vector: Seq[Float], limit: Int, filter: Option[Query],
      weight: Option[Float], idx: VectorIndex, budget: Int): Compiled = {
    val w = weight.getOrElse(1.0f)
    idx match {
      // graph artifact: candidates = the beam pool of a hop-batched walk
      // (VamanaServe), budget playing the reference's searchSize. A
      // pre-filter cannot restrict the TRAVERSAL (filtered-out nodes
      // still route the walk — removing them would disconnect the graph);
      // instead the reference's OPTIMISTIC filtered search applies
      // (vamana/search.go:27–51): seed with the first `budget` in-filter
      // ids, navigate unfiltered, collect in-filter expanded nodes — so a
      // filter matching ≤ budget points is served EXACTLY, and recall
      // degrades gracefully (not cliff-like) past that.
      case vidx: VamanaVectorIndex =>
        // past the local budget, the walk fetches from a _gid-bucketed
        // table — every per-hop fetch AND the final candidate-id lookup
        // below are bucket-pruned point reads, not artifact scans. With
        // a CodedSource attached (PQ/OPQ ADC codes or the RaBitQ 1-bit
        // payload) the table carries _codes instead of _vec (the DiskANN
        // compressed-navigation regime): hops rank by the source's
        // estimator and only the exact re-rank below reads full vectors.
        val coded = vidx.codedServing.map(c => (c, vidx.coded.get))
        val art = coded.map(_._1).getOrElse(vidx.serving)
        val codedModel = coded.map(_._2)
        val (entry, maxHops) = (vidx.entry, vidx.maxHops)
        val gids = filter match {
          case None => VamanaServe.beamCandidateGids(
            art, metric, vector, budget, entry, maxHops, vidx.local, codedModel)
          case Some(f) =>
            val matchArt = applySet(col0, compile(col0, f).set, art)
            VamanaServe.beamCandidateGidsFiltered(
              art, matchArt, metric, vector, budget, entry, maxHops,
              vidx.local, codedModel)
        }
        return vamanaPoolCompiled(metric, vector, limit, w, vidx, gids)
      case _ => ()
    }
    val restricted0 = filter match {
      case None => idx.encoded
      case Some(f) => applySet(col0, compile(col0, f).set, idx.encoded)
    }
    val (restricted, qd, _) = flatCandidateExpr(idx, metric, vector, restricted0)
    val scored = restricted.select(col(IdCol), qd.as("_qd"))
    // a spilled IVF-PQ artifact stores an id in several cells, so two
    // probed copies may both score: keep the best per id, or duplicates
    // burn budget slots (BQ/PQ frames are id-unique — skip the aggregate)
    val deduped = idx match {
      case _: IvfPqVectorIndex => scored.groupBy(IdCol).agg(min(col("_qd")).as("_qd"))
      case _ => scored
    }
    val candIds = deduped
      .orderBy(col("_qd").asc, col(IdCol).asc)
      .limit(budget)
      .select(IdCol)
    rerank(col0, prop, metric, vector, limit, w, candIds)
  }

  /** Stage-1 candidate scan for a FLAT quantizer artifact: the (scan
    * frame, quantized-distance column, probed-cells) triple for `vector`
    * under the DECLARED metric — THE single definition of every
    * per-index candidate ranking, shared by the one-query route and
    * compileFlatMany (which folds K of these columns into ONE scan).
    * IVF families also restrict the frame to their probed cells
    * (per-query partition pruning) and report those cells in the third
    * slot (None for full-scan families) so the batched route can scan
    * the UNION of a group's cells while guarding each query's column to
    * its OWN cells.
    */
  private def flatCandidateExpr(
      idx: VectorIndex, metric: IndexKind.Metric, vector: Seq[Float],
      restricted0: DataFrame): (DataFrame, Column, Option[Seq[Int]]) = idx match {
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
        (restricted0, cd, None)
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
        (restricted0, pqCd, None)
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
        (restricted0, opqCd, None)
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
        (restricted0, rbqCd, None)
      case ScalarVectorIndex(lo, hi, _) =>
        require(vector.length == lo.length,
          s"query vector has ${vector.length} dims; scalar index has ${lo.length}")
        // same metric routing as PQ: reconstructed squared-L2 for
        // euclidean/cosine, reconstructed negated dot for dot (round 7)
        val sqCd =
          if (metric == IndexKind.Metric.Dot)
            graft.operators.ScalarQuantizer.approxDotDistance(col("_codes"), vector, lo, hi)
          else graft.operators.ScalarQuantizer.approxDistance(col("_codes"), vector, lo, hi)
        (restricted0, sqCd, None)
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
        (restricted0.filter(col("_bucket").isin(rbqCells: _*)), chain,
          Some(rbqCells))
      case IvfPqVectorIndex(coarse, model, nprobe, _) =>
        require(vector.length == coarse.dim,
          s"query vector has ${vector.length} dims; IVF-PQ index has ${coarse.dim}")
        // probe restriction FIRST: the artifact frame is bucket-partitioned,
        // so this lands in PartitionFilters and unprobed cells are never
        // read. Dot queries probe AND score by inner product (round 7):
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
        (restricted0.filter(col("_bucket").isin(cells: _*)),
          graft.operators.IvfPq.adcUdf(tables)(col("_bucket"), col("_codes")),
          Some(cells))
      case _: VamanaVectorIndex =>
        throw new IllegalStateException("vamana artifacts are served above")
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

  /** The tail of the graph-served route: beam pool (graph ids) →
    * (id, vector) candidates → candidate-bounded exact re-rank. */
  private def vamanaPoolCompiled(
      metric: IndexKind.Metric, vector: Seq[Float], limit: Int, w: Float,
      vidx: VamanaVectorIndex, gids: Seq[Long]): Compiled = {
    val byGid = vamanaCandidates(vidx, gids)
    vamanaRerank(metric, vector, limit, w,
      gids.flatMap(byGid.get), vidx.encoded.sparkSession)
  }

  /** Batched compile for MANY single-leaf, unfiltered, approx vectorVamana
    * queries against ONE attached graph artifact (Search.searchMany's
    * batchable group): the walks advance as a single wave — per hop round
    * every member's frontier fuses into one bucket-pruned fetch
    * (VamanaServe.beamCandidateGidsBatch), and the final gid→id lookup is
    * ONE fused point read over the union of the pools. Each query's pool,
    * and therefore its compiled result, is identical to its independent
    * single-query compile (VamanaServeSpec pool-equality law).
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
  private[engine] def compileVamanaMany(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      items: Seq[(Seq[Float], Int, Float)], budget: Int,
      filter: Option[Query] = None): Seq[Compiled] = {
    val vidx = col0.vectorIndexes(prop).asInstanceOf[VamanaVectorIndex]
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

  /** Batched compile for MANY single-leaf, unfiltered, approx vectorFlat
    * queries against ONE attached quantizer artifact (Search.searchMany's
    * flat batchable group — the full-scan families BQ / PQ / OPQ / SQ8 /
    * RaBitQ AND the IVF families IVF-PQ / IVF-RaBitQ): the K
    * quantized-distance columns evaluate in ONE codegen'd pass over the
    * encoded frame — the scan I/O, the dominant flat candidate-stage cost
    * at 100 TB, is paid once for the whole group — then ONE global
    * bounded aggregate (Similarity.TopKStrMultiAgg: K top-budget buffers
    * per partition partial, ≤ Σ 2·budget entries each, no grouping
    * shuffle at all) replays each query's `orderBy(_qd asc, _id asc)
    * .limit(budget)` exactly, and ONE collect feeds the per-request
    * exact re-ranks. The input row stays ONE row wide regardless of K —
    * the earlier posexplode formulation (kept as the law oracle in
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
    * exactly the single-request route's duplicate guard.
    *
    * Null defense (round-12 advice): a null quantized distance is
    * coalesced to NaN — excluded for that query — where the
    * single-request route would sort it FIRST (asc nulls-first). Both
    * are unreachable (encode paths drop null/short vectors); the batch
    * choice degrades softly per query instead of crashing the whole
    * batch in the array encoder.
    */
  /** ONE multi-top-k pass — the shared tail of every fused multi-query
    * scan (compileFlatMany / compileTextMany): select (id, K-wide key
    * array), aggregate GLOBALLY with TopKStrMultiAgg (bounded partials,
    * no grouping shuffle), collect the single finished buffer, slice it
    * back into per-query (key, id) lists.
    */
  private def multiTopK(
      frame: DataFrame, keys: Seq[Column],
      ks: Array[Int]): Seq[Seq[(Double, String)]] = {
    val topAgg = udaf(new graft.operators.Similarity.TopKStrMultiAgg(ks))
    val st = frame
      .select(col(IdCol), array(keys: _*).as("_qds"))
      .agg(topAgg(col("_qds"), col(IdCol)).as("_top"))
      .head().getStruct(0)
    graft.operators.Similarity.TopKStrMultiAgg.slices(
      ks, st.getSeq[Double](0), st.getSeq[String](1), st.getSeq[Int](2))
  }

  private[engine] def compileFlatMany(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      items: Seq[(Seq[Float], Int, Float)], budget: Int,
      filter: Option[Query] = None): Seq[Compiled] = {
    val idx = col0.vectorIndexes(prop)
    // a shared pre-filter (Search.searchMany groups flat requests by
    // filter AST, so every member's filter is EQUAL) restricts the fused
    // candidate scan itself, exactly like the single route's approxNear —
    // filtered-out rows never consume candidate budget
    val frame = filter match {
      case None => idx.encoded
      case Some(f) => applySet(col0, compile(col0, f).set, idx.encoded)
    }
    val cands = items.map { case (vec, _, _) =>
      flatCandidateExpr(idx, metric, vec, frame)
    }
    val isIvf = cands.head._3.isDefined
    val scan =
      if (!isIvf) {
        // full-scan families return the frame untouched; anything that
        // restricts its scan per query must carry cells or stay single
        cands.foreach { case (restricted, _, _) =>
          require(restricted eq frame,
            s"${idx.getClass.getSimpleName} restricts its candidate scan per query — not flat-batchable")
        }
        frame
      } else frame.filter(col("_bucket").isin(cands.flatMap(_._3.get).distinct: _*))
    val qds = cands.map { case (_, qd, cellsOpt) =>
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
      val ids = pairs.map(_._2)
      val candIds =
        if (ids.isEmpty) frame.filter(lit(false)).select(IdCol)
        else {
          import frame.sparkSession.implicits._
          ids.toDF(IdCol)
        }
      rerank(col0, prop, metric, vec, limit, w, candIds)
    }
  }

  /** Stage 2 of every approximate path: the TRUE metric over JUST the
    * candidate rows (broadcast semi-join, ≤ budget rows) — at 100 TB the
    * wide vector column is read only for candidates. Result schema and
    * scoring match exact `near` bit-for-bit.
    */
  private def rerank(
      col0: Collection, prop: String, metric: IndexKind.Metric,
      vector: Seq[Float], limit: Int, w: Float, candIds: DataFrame): Compiled = {
    val d = Distances.distanceToQuery(metric, column(prop), vector).cast(FloatType)
    // same Limit(Sort(Project)) shape as exact `near` (see the comment
    // there): scores below the sort+limit keep the top-k fusable
    val ranked = col0.df
      .join(broadcast(candIds), Seq(IdCol), "left_semi")
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

  /** tf-idf scored text search (reference text.go:305–396):
    * score(doc) = Σ_t∈queryTerms (freq_t/docLen) * log10(numDocs/(df_t+1)),
    * over the containsAll/containsAny matched set, optionally intersected
    * with a pre-filter, sorted desc and truncated to `limit`. df/idf are
    * the index's, over ALL docs with the property — the pre-filter narrows
    * the candidate set, not the statistics (text.go:328–334 intersects
    * after the posting-set merge).
    */
  private def textSearch(col0: Collection, prop: String, o: TextOpts): Compiled = {
    val terms = TextAnalyzer.analyzeString(o.value).distinct
    if (terms.isEmpty)
      throw new IllegalArgumentException("text query value has no terms after analysis")
    val index = textIndex(col0, prop)
    val numDocs = index.numDocs // numDocs of the text index (text.go:371)

    // matched docs: per-doc count of distinct matched query terms
    val perDoc = termPostings(index, terms)
      .groupBy(IdCol)
      .agg(
        count(lit(1)).as("_nterms"),
        // Σ (freq/docLen) * log10(numDocs/(df+1)); doclen constant per doc
        sum((col("_freq").cast("double") / col("_doclen").cast("double")) *
          log10(lit(numDocs.toDouble) / (col("_df").cast("double") + 1.0))).as("_rawscore"))
    val matched = o.operator match {
      case Op.ContainsAll => perDoc.filter(col("_nterms") === terms.length)
      case Op.ContainsAny => perDoc
      case other => throw new IllegalArgumentException(s"invalid text operator $other")
    }
    // pre-filter intersect (after set merge, before scoring truncation)
    val filtered = o.filter match {
      case None => matched
      case Some(f) => applySet(col0, compile(col0, f).set, matched)
    }
    val w = o.weight.getOrElse(1.0f)
    val ranked = filtered
      .select(
        col(IdCol),
        lit(null).cast(FloatType).as(DistanceCol),
        col("_rawscore").cast(FloatType).as(ScoreCol))
      .withColumn(HybridScoreCol, (col(ScoreCol) * lit(w)).cast(FloatType))
      .orderBy(col(ScoreCol).desc, col(IdCol).asc)
      .limit(o.limit)
    Compiled(Ids(ranked.select(IdCol)), Some(ranked), setFromRanked = true)
  }

  /** Batched compile for MANY single-leaf text queries against ONE
    * property (Search.searchMany's text batchable group —
    * round-12 verdict item #3; hybrid serving workloads are text+vector,
    * and before this only the vector half amortized): each text leaf
    * alone pays a postings scan + a per-doc grouped score — the dominant
    * text serving cost at corpus scale. A batch shares both: ONE postings
    * restriction to the UNION of the group's query terms (each row's df
    * looked up in the index's `docFreq`, as the single route does), ONE
    * groupBy(doc) with K conditional (score, matched-term-count) column
    * pairs, and ONE bounded per-query top-k (TopKStrMultiAgg, per-query
    * k = limit) whose ranking key replays `orderBy(score32 desc, id
    * asc)` exactly: the NEGATED float32 score widened to double (exact),
    * ascending,
    * with `+ 0.0` collapsing a −0.0 score onto +0.0 (Spark's comparator
    * treats them equal; `Double.compare` would not). Ineligible docs
    * (containsAll misses) rank as NaN = excluded.
    *
    * The collected (score, id) pairs rebuild each request's ranked frame
    * bit-identically: score32 round-trips the negation exactly, and the
    * hybrid column applies the same float-multiply expression as the
    * single route. Per-term double-sum ORDER inside the shared groupBy
    * can differ from the single route's ulp-wise; the float32 cast
    * absorbs it everywhere observable (the gates additionally round).
    */
  private[engine] def compileTextMany(
      col0: Collection, prop: String, optsList: Seq[TextOpts],
      filter: Option[Query] = None): Seq[Compiled] = {
    val termsPer = optsList.map { o =>
      val ts = TextAnalyzer.analyzeString(o.value).distinct
      if (ts.isEmpty)
        throw new IllegalArgumentException("text query value has no terms after analysis")
      ts
    }
    val index = textIndex(col0, prop)
    val numDocs = index.numDocs
    val joined = termPostings(index, termsPer.flatten.distinct)
    val contrib = (col("_freq").cast("double") / col("_doclen").cast("double")) *
      log10(lit(numDocs.toDouble) / (col("_df").cast("double") + 1.0))
    val aggCols = termsPer.zipWithIndex.flatMap { case (ts, i) => Seq(
      sum(when(col("_term").isin(ts: _*), contrib)).as(s"_s$i"),
      count(when(col("_term").isin(ts: _*), lit(1))).as(s"_n$i"))
    }
    val fused0 = joined.groupBy(IdCol).agg(aggCols.head, aggCols.tail: _*)
    // shared pre-filter (EQUAL across the group by construction): intersect
    // AFTER the posting-set merge, BEFORE scoring truncation — the single
    // route's placement (text.go:328–334); df/idf statistics stay unfiltered
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
    optsList.zip(tops).map { case (o, pairs) =>
      val w = o.weight.getOrElse(1.0f)
      import col0.df.sparkSession.implicits._
      // + 0.0f: a zero score round-trips the negated key as −0.0f, but
      // the single route's double-sum can only produce +0.0 (IEEE x−x),
      // so normalize the sign back
      val scored = pairs.map { case (k, id) => (id, (-k).toFloat + 0.0f) }
      val ranked = scored.toDF(IdCol, ScoreCol)
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
