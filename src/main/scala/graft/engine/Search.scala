package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, StructType}
import graft.model._
import Collection._
import QueryCompiler._

/** The full search pipeline (reference shard/shard.go:329–469 +
  * cluster/actions.go:357–376): compile → backfill → select → sort →
  * offset/limit, returning a DataFrame with the selected data columns plus
  * `_id`, `_distance`, `_score`, `_hybridScore` re-attached like the HTTP
  * layer does (handlers.go:475–483).
  */
object Search {

  /** Serve one request: a batch of one ([[searchMany]]). Ranked text and
    * approx vector leaves collect their top-k when compiled (the graph
    * walk, the fused text and quantized candidate stages each run as
    * Spark jobs here); predicates, exact `near` and the assembly stay
    * lazy in the returned frame.
    */
  def search(col0: Collection, req: SearchRequest): DataFrame =
    searchMany(col0, Seq(req)).head

  private def validate(col0: Collection, req: SearchRequest): Unit = {
    Validation.validate(req).left.foreach(m => throw new IllegalArgumentException(m))
    Validation.validateSchema(req.query, col0.schema)
      .left.foreach(m => throw new IllegalArgumentException(m))
  }

  /** Serve MANY requests in one call, returning one result frame per
    * request in request order; [[search]] is the batch of one. Every
    * batchable leaf — anywhere in a request's `_and`/`_or` tree —
    * compiles through its family's batch route, grouped across the whole
    * batch; identical leaves shared by several requests compile ONCE (the
    * precompiled map is keyed by leaf value), and each request's
    * combinator merge then runs on the precompiled leaf results. A
    * request's answer does not depend on its batch: the vector families
    * are bit-identical to a batch of one; a text score is identical up to
    * float32 rounding of its per-term double sum, whose order inside the
    * fused groupBy can change with the group's other members (the
    * SearchManySpec laws assert 4-decimal equality, the same strength the
    * gates claim).
    *
    * The three families, each grouped further by filter AST (requests
    * batch when their filters are EQUAL):
    *   - approx vector leaves over an attached Vamana graph, per
    *     (prop, metric, budget — the beam width): ONE hop-batched walk
    *     wave — per hop round every member's frontier fuses into a single
    *     bucket-pruned fetch — and one fused gid→id point read
    *     (compileVamanaMany), so K queries cost ~maxHops Spark jobs instead
    *     of K×maxHops. Filtered groups share the filter's seed set and
    *     membership verdicts;
    *   - approx vector leaves over a quantizer artifact (full-scan
    *     BQ/PQ/OPQ/SQ8/RaBitQ, or IVF-PQ / IVF-RaBitQ), per (prop, metric,
    *     budget): the K quantized-distance columns evaluate in ONE
    *     one-stage pass over the (filter-restricted) encoded frame
    *     (compileFlatMany); IVF members scan the UNION of the group's
    *     probed cells with each query's column guarded to its OWN cells;
    *   - text leaves per property: one postings restriction and one fused
    *     per-doc scoring aggregate, intersected once with the shared filter
    *     (compileTextMany).
    * Plain predicates, exact `near` and combinators contribute no fused
    * work of their own.
    */
  def searchMany(col0: Collection, reqs: Seq[SearchRequest]): Seq[DataFrame] = {
    reqs.foreach(validate(col0, _))
    // an approx vector leaf over an attached artifact: its group key
    // (prop, metric, rescore budget — QueryCompiler.vamanaBudget /
    // flatBudget, the ones a leaf compiled alone uses —, filter) and its
    // (vector, limit, weight) item
    def approxTag(q: Query): Option[((String, IndexKind.Metric, Int, Option[Query]),
        (Seq[Float], Int, Float))] =
      if (!col0.vectorIndexes.contains(q.property)) None
      else (col0.schema.get(q.property), q.vectorFlat, q.vectorVamana) match {
        case (Some(k: IndexKind.VectorFlat), Some(o), _) if o.approx =>
          Some(((q.property, k.metric, QueryCompiler.flatBudget(o), o.filter),
            (o.vector, o.limit, o.weight.getOrElse(1.0f))))
        case (Some(k: IndexKind.VectorVamana), _, Some(o)) if o.approx =>
          Some(((q.property, k.metric, QueryCompiler.vamanaBudget(o), o.filter),
            (o.vector, o.limit, o.weight.getOrElse(1.0f))))
        case _ => None
      }
    // a text leaf: its group key (prop, filter)
    def textTag(q: Query): Option[(String, Option[Query])] = q.text match {
      case Some(o) if col0.schema.get(q.property).exists(_.isInstanceOf[IndexKind.Text]) =>
        Some((q.property, o.filter))
      case _ => None
    }
    // harvest batchable leaves from the whole tree (a top-level leaf is
    // the depth-0 case); `distinct` dedups identical leaves across
    // requests so each compiles once
    def leaves(q: Query): Seq[Query] = q.property match {
      case "_and" => q.and.flatMap(leaves)
      case "_or" => q.or.flatMap(leaves)
      case _ if approxTag(q).isDefined || textTag(q).isDefined => Seq(q)
      case _ => Nil
    }
    val distinctLeaves = reqs.flatMap(r => leaves(r.query)).distinct
    val approx = distinctLeaves.flatMap(q => approxTag(q).map((q, _)))
      .groupBy(_._2._1).toSeq.flatMap { case ((prop, metric, budget, filter), members) =>
        members.map(_._1).zip(QueryCompiler.compileApproxMany(
          col0, prop, metric, members.map(_._2._2), budget, filter))
      }
    val text = distinctLeaves.flatMap(q => textTag(q).map((q, _)))
      .groupBy(_._2).toSeq.flatMap { case ((prop, filter), members) =>
        members.map(_._1).zip(QueryCompiler.compileTextMany(
          col0, prop, members.map(_._1.text.get), filter))
      }
    val pre = (approx ++ text).toMap
    reqs.map(r => assemble(col0, r, QueryCompiler.compile(col0, r.query, pre)))
  }

  /** JSON-request face of [[searchMany]]. */
  def searchManyJson(col0: Collection, jsons: Seq[String]): Seq[DataFrame] =
    searchMany(col0, jsons.map(Json.parseSearchRequest))

  /** The post-compile pipeline: backfill → sort → offset/limit → select.
    * A `setFromRanked` compile (every ranked leaf, and a merge whose
    * children all rank) backfills from its ranked frame alone: not at all
    * for a metadata-only default-order page, by point read on a store, or
    * by one broadcast join otherwise. Any other compile restricts the
    * collection to its set and left-joins the ranked scores.
    */
  private def assemble(
      col0: Collection, req: SearchRequest,
      compiled: QueryCompiler.Compiled): DataFrame = {
    // Backfill: every row in the final set gets its data; ranked rows carry
    // their scores, set-only rows get hybrid score 0 (shard.go:350–369).
    val withScores = compiled.ranked match {
      case None =>
        // `_id` lookups are the reference's point-read face
        // (shard/pointstore/pointstore.go:78 — a bbolt Get per id); with a
        // store-wired pointLookup they answer from the id-bucketed doc
        // table (≤ k bucket files opened) instead of filtering the corpus
        // scan — the set semantics are identical (idPredicate matches the
        // same literal ids).
        val base = (idQueryIds(req.query), col0.pointLookup) match {
          case (Some(ids), Some(lookup)) => lookup(ids)
          case _ => applySet(col0, compiled.set)
        }
        base
          .withColumn(DistanceCol, lit(null).cast(FloatType))
          .withColumn(ScoreCol, lit(null).cast(FloatType))
          .withColumn(HybridScoreCol, lit(0.0f))
      case Some(ranked) if compiled.setFromRanked &&
          metadataOnly(req, col0.df.schema) && req.sort.isEmpty =>
        // metadata-only leaf request with default ordering (the hot ANN
        // serving shape — the reference's empty `select` returns metadata
        // only, shard.go:384): the ranked frame already carries every
        // returned column (_id + the three scores) and its ids are the
        // collection's by construction (every leaf ranks rows of the
        // collection or of an artifact the store keeps write-consistent
        // with it), so the backfill join would add nothing — and at
        // serving shapes it costs a collection scan + broadcast per
        // request (the flagship QPS floor after the candidate-bounded
        // re-rank landed). A select that resolves to NO data column
        // (`["_id"]`, or only unknown paths — which project() silently
        // drops) is metadata-only in the same sense. A hybrid whose
        // children all rank takes this branch too (QueryCompiler.merge).
        // When ranked is a driver-local relation (the graph re-rank, a
        // text leaf, a merge) the page below folds to one too
        // (LocalFold): zero jobs.
        ranked
      case Some(ranked) if compiled.setFromRanked && col0.pointLookup.isDefined =>
        // leaf case with select/sort on a STORE-served collection: the set
        // IS the ranked ids, bounded by the per-index limit (≤75,
        // Validation), so materialize it ONCE driver-side and backfill by
        // POINT READ — the store-wired pointLookup opens only the bucket
        // files hashing the requested ids (plus the delta overlay). Before
        // this, the broadcast build executed the ranked subtree (scan 1)
        // and the probe side re-read the collection in full (scan 2) — the
        // serving cost of every select-bearing request. Collecting here
        // makes the STORE path eager by one bounded job (none when ranked
        // is already driver-local); the plain-Collection path below stays
        // fully lazy (a composable library frame must not run jobs at plan
        // time — only the serving facade, which executes per request
        // anyway, buys eagerness for pruning).
        val local = QueryCompiler.local(ranked)
        val ids = local.select(IdCol).collect().map(_.getString(0)).toSeq
        col0.pointLookup.get(ids).join(broadcast(local), Seq(IdCol), "inner")
      case Some(ranked) if compiled.setFromRanked =>
        // plain-Collection leaf case: one inner broadcast join does
        // membership AND backfill, so the top-k subtree runs once (a
        // semi-join + separate broadcast would execute it twice) and the
        // returned frame stays lazy
        col0.df.join(broadcast(ranked), Seq(IdCol), "inner")
      case Some(ranked) =>
        // ranked is bounded by per-index limits (≤75 rows per leaf), so the
        // join is a broadcast — no shuffle of the collection side.
        applySet(col0, compiled.set)
          .join(broadcast(ranked), Seq(IdCol), "left_outer")
          .withColumn(HybridScoreCol, coalesce(col(HybridScoreCol), lit(0.0f)))
    }

    page(withScores, req, col0.df.schema)
  }

  /** The shared tail of every search: sort → offset/limit → select.
    * Registers [[LocalFold]] on the frame's session, so a page over a
    * driver-local frame plans as a job-free LocalTableScan.
    */
  private[graft] def page(
      withScores: DataFrame, req: SearchRequest, dataSchema: StructType): DataFrame = {
    LocalFold.register(withScores.sparkSession)
    // Default order: hybrid score desc (ranked first), id asc tie-break —
    // the multi-shard merge semantics (cluster/actions.go:361–363).
    // Explicit sort: missing values last regardless of direction
    // (utils/compare.go:67–75), applied before offset/limit.
    val ordered = req.sort match {
      case Nil => withScores.orderBy(col(HybridScoreCol).desc, col(IdCol).asc)
      case sorts =>
        val keys = sorts.map { s =>
          val c = col(s.property)
          if (s.descending) c.desc_nulls_last else c.asc_nulls_last
        } :+ col(IdCol).asc
        withScores.orderBy(keys: _*)
    }

    project(ordered.offset(req.offset).limit(req.limit), dataSchema, req.select)
  }

  /** True when the request's projection needs no data column beyond the
    * metadata the ranked frame already carries: empty select, or a select
    * naming only `_id` / paths that don't resolve (project() drops those
    * silently, shard.go:384's behavior).
    */
  private def metadataOnly(req: SearchRequest, dataSchema: StructType): Boolean =
    req.select.forall(p => p == IdCol || (p != "*" && !resolves(dataSchema, p)))

  /** The literal id set of a pure top-level `_id` query — None for any
    * other shape. Mirrors QueryCompiler.idPredicate exactly (string →
    * equality on the one value, stringArray → membership in the list), so
    * routing these through `pointLookup` preserves the set semantics
    * bit-for-bit.
    */
  private def idQueryIds(q: Query): Option[Seq[String]] =
    if (q.property != "_id") None
    else (q.string, q.stringArray) match {
      case (Some(s), _) => Some(Seq(s.value))
      case (_, Some(sa)) => Some(sa.value)
      case _ => None
    }

  /** Compile and run a JSON search request body. */
  def searchJson(col0: Collection, json: String): DataFrame =
    search(col0, Json.parseSearchRequest(json))

  /** `select` projection (shard.go:384–453): listed properties only, `"*"`
    * = all data columns, dotted paths re-nested into structs, unknown paths
    * silently dropped, empty select = metadata only. Metadata columns are
    * always attached.
    */
  private def project(df: DataFrame, dataSchema: StructType, select: Seq[String]): DataFrame = {
    val metaCols = MetaCols.map(col)
    if (select.contains("*")) {
      val dataCols = dataSchema.fieldNames.filterNot(_ == IdCol).map(col).toSeq
      df.select(metaCols ++ dataCols: _*)
    } else {
      // drop IdCol like the "*" branch — metaCols already lead with it, and
      // a second copy makes every downstream df("_id") ambiguous
      val resolved = select.filterNot(_ == IdCol).filter(p => resolves(dataSchema, p))
      // re-nest dotted paths recursively: "a.b.c" returns struct a{b{c}};
      // selecting a whole struct subsumes selecting its fields
      val byRoot = resolved.map(_.split('.').toList).groupBy(_.head)
      val dataCols = resolved.map(_.split('.').head).distinct.map { root =>
        val tails = byRoot(root).map(_.tail)
        if (tails.exists(_.isEmpty)) col(root) // whole column requested
        else renest(root, tails).as(root)
      }
      df.select(metaCols ++ dataCols: _*)
    }
  }

  /** Build the struct column for `prefix` containing exactly the requested
    * sub-paths (each a non-empty segment list below the prefix).
    */
  private def renest(prefix: String, tails: Seq[List[String]]): Column = {
    val bySeg = tails.groupBy(_.head)
    struct(bySeg.keys.toSeq.sorted.map { seg =>
      val deeper = bySeg(seg).map(_.tail)
      val path = s"$prefix.$seg"
      if (deeper.exists(_.isEmpty)) col(path).as(seg)
      else renest(path, deeper).as(seg)
    }: _*)
  }

  private def resolves(schema: StructType, path: String): Boolean = {
    def walk(s: StructType, segs: List[String]): Boolean = segs match {
      case Nil => false
      case seg :: Nil => s.fieldNames.contains(seg)
      case seg :: rest => s.fields.find(_.name == seg).exists(_.dataType match {
        case st: StructType => walk(st, rest)
        case _ => false
      })
    }
    walk(schema, path.split('.').toList)
  }
}
