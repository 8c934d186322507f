package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Collection, Search, TextIndex}
import graft.model.{IndexSchema, SearchRequest}
import graft.store.CollectionStore

/** The user-facing façade — the Spark-native equivalent of the reference's
  * HTTP API surface (reference httpapi/v2/handlers.go): collection DDL,
  * point writes, and JSON search against a storage root.
  *
  * {{{
  *   val db = Graft(spark, "/data/graft")
  *   db.createCollection("products", schema, seedDf)
  *   db.insert("products", pointsDf)
  *   db.search("products", """{"query": {...}, "limit": 10}""").show()
  * }}}
  *
  * Collections are cached per name with their text indexes built lazily on
  * first text query (like the reference's shard cache manager,
  * cluster/shardmgr.go:56–110) and invalidated on every write.
  */
final class Graft(val spark: SparkSession, root: String,
    plan: graft.store.UserPlan = graft.store.UserPlan()) {

  private val store = new CollectionStore(spark, root, plan)
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Collection]()

  // ---- collection DDL (reference W4) --------------------------------------

  def createCollection(name: String, schema: IndexSchema, data: DataFrame): Unit =
    withWriteLock(name) {
      store.create(name, schema, data)
      evict(name)
    }

  /** Import an ann-benchmarks HDF5 file as a searchable collection —
    * the reference's benchmark ingest (internal/loadhdf5/loadhdf5.go +
    * its v1 harness): the "train" dataset becomes the `vector` property,
    * file names containing "angular" are L2-normalized and served under
    * cosine, others under euclidean; ids are the zero-padded row
    * indices. `flat = true` declares vectorFlat instead of the v1
    * harness's vectorVamana defaults (searchSize 75, degree 64, α 1.2).
    * The read is distributed (row-range slices), so a big file never
    * lands on the driver.
    */
  def importHdf5(name: String, path: String, flat: Boolean = false): String = {
    import org.apache.spark.sql.functions.{col, format_string}
    val meta = graft.sources.Hdf5.datasets(path).find(_.name == "train")
      .getOrElse(throw new IllegalArgumentException(s"$path: no 'train' dataset"))
    val (df, metricName) = graft.sources.Hdf5.vectors(spark, path)
    val metric = graft.model.IndexKind.Metric.parse(metricName)
    val kind =
      if (flat) graft.model.IndexKind.VectorFlat(meta.cols.toInt, metric)
      else graft.model.IndexKind.VectorVamana(meta.cols.toInt, metric)
    createCollection(name, IndexSchema("vector" -> kind),
      df.select(format_string("%012d", col("vec_id")).as("_id"),
        col("embedding").as("vector")))
    metricName
  }

  /** Export a collection's vector property as an ann-benchmarks-shaped
    * HDF5 file (a "train" float32 dataset, row order = id order) — the
    * reverse of [[importHdf5]], so a graft collection can feed any
    * HDF5-consuming evaluation harness. Row count is the driver-side
    * materialization bound: HDF5 contiguous layout needs the matrix
    * assembled in order, so this face is for benchmark-scale exports
    * (the reference's datasets are the same shape); `maxRows` guards a
    * misdirected call at a 100 TB collection.
    */
  def exportHdf5(name: String, prop: String, path: String,
      maxRows: Int = 1 << 22): Long = {
    import org.apache.spark.sql.functions.col
    val rows = collection(name).df
      .select(col("_id"), col(prop))
      .orderBy("_id")
      .limit(math.min(maxRows.toLong + 1, Int.MaxValue.toLong).toInt)
      .collect()
    require(rows.nonEmpty, s"$name is empty; nothing to export")
    require(rows.length <= maxRows,
      s"$name has more than $maxRows points; exportHdf5 is a benchmark-scale face")
    require(rows.forall(!_.isNullAt(1)), s"$name.$prop has null vectors")
    val m = rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    graft.sources.Hdf5Write.write(path,
      Seq(graft.sources.Hdf5Write.Spec("train", m, graft.sources.Hdf5.F32)))
    rows.length.toLong
  }

  def listCollections(): Seq[String] = store.list()

  /** Serialized with writes on the same name: an unserialized drop could
    * interleave between a write's `store.load` and its `cache.put`,
    * resurrecting a cache entry (and its pinned index blocks) for a
    * collection that no longer exists. The dropped name's retired blocks
    * and write lock are reclaimed here — nothing of the name outlives it.
    */
  def dropCollection(name: String): Unit =
    withWriteLock(name) {
      store.drop(name)
      evict(name)
      reapRetired(name)
      // Removed while STILL HOLDING the lock: a writer queued on this lock
      // object wakes, fails withWriteLock's identity re-check, and retries
      // against the fresh entry — so two writers can never hold different
      // lock objects for the same live name (which would let reapRetired
      // release checkpointed blocks a generation early under an in-flight
      // search).
      writeLocks.remove(name)
    }

  /** Snapshot a collection (reference shard Backup semantics: frequency-
    * gated, newest-`keep` retention). Safe against concurrent writes —
    * the store takes the snapshot under the collection write lock.
    */
  def backup(name: String, keep: Int = 2, minIntervalSeconds: Long = 0L): Option[Long] =
    store.backup(name, keep, minIntervalSeconds)

  /** Snapshot ids for `name`, oldest → newest. */
  def backups(name: String): Seq[Long] = store.backups(name)

  /** Roll a collection back to snapshot `seq`; the cached view (and its
    * index blocks) retire like any other write.
    */
  def restore(name: String, seq: Long): Unit =
    withWriteLock(name) {
      store.restore(name, seq)
      evict(name)
    }

  def collection(name: String): Collection = {
    // NOT computeIfAbsent: store.load flushes the WAL (file I/O + Spark
    // jobs), far too slow to run while holding a CHM bin lock — unrelated
    // collections hashing to the same bin would stall behind it
    val cur = cache.get(name)
    if (cur != null) cur
    else {
      val loaded = store.load(name)
      val prev = cache.putIfAbsent(name, loaded)
      if (prev != null) prev else loaded // loser's view holds no blocks
    }
  }

  /** The trained quantizer for a vector property, once the collection has
    * crossed its declared `triggerThreshold` (fitted automatically on
    * create/insert).
    */
  def quantizer(name: String, prop: String): Option[graft.store.FittedQuantizer] =
    store.loadQuantizer(name, prop)

  /** Build the Vamana graph artifact for a vamana-declared property; once
    * built, every write patches it incrementally (insert/delete/vector
    * update) instead of invalidating it.
    */
  // under the write lock: an unserialized build racing a write's
  // patchVamanaIndexes would publish from a mid-write view (the store
  // additionally serializes the artifact publish itself per collection)
  def buildVamanaIndex(name: String, prop: String): Unit =
    withWriteLock(name)(store.buildVamanaIndex(name, prop))

  /** Publish a prebuilt graph artifact (see
    * [[graft.store.CollectionStore.importVamanaIndex]] — the
    * offline-build / online-serve split).
    */
  def importVamanaIndex(
      name: String, prop: String, graph: DataFrame, idmap: DataFrame): Unit =
    withWriteLock(name)(store.importVamanaIndex(name, prop, graph, idmap))

  /** The maintained graph artifact: (graph(nid, neighbors), idmap(_id, nid)). */
  def vamanaIndex(name: String, prop: String): Option[(DataFrame, DataFrame)] =
    store.vamanaIndex(name, prop)

  // ---- point writes (W1–W3) -----------------------------------------------
  // A write refreshes the cached collection view; built text indexes are
  // PATCHED for just the affected ids (reference per-write postings
  // maintenance, text.go:151–258) instead of being dropped and rebuilt
  // from the corpus on the next search.

  def insert(name: String, points: DataFrame): Long =
    writeThrough(name)(store.insertCommitted(name, points)).length.toLong

  def update(name: String, updates: DataFrame): Long =
    writeThrough(name)(store.updateCommitted(name, updates)).length.toLong

  def delete(name: String, ids: Seq[String]): Long =
    writeThrough(name)(store.deleteCommitted(name, ids)).length.toLong

  /** Run a store write; on success, refresh the cached view and patch any
    * built text indexes for the ids the STORE reports committed — the
    * store collected them from its checkpointed batch, so they are the
    * ids actually written even for non-deterministic sources (uuid ids,
    * samples), where re-evaluating the caller's DataFrame here would
    * patch the wrong ids and silently serve stale postings. A failed
    * write leaves both the store and the cache untouched. Collections
    * without a built index are simply evicted (next read reloads lazily).
    *
    * Serialized per collection: two interleaved writers would both read
    * the SAME `before`, so the second would splice its postings patch
    * from the pre-first-write index (stale postings for the first
    * writer's ids) and strand the first writer's patch checkpoints.
    * Concurrent SEARCHES are unaffected (they never take this lock);
    * their CAS installs are handled by the prev-vs-before release below.
    */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def withWriteLock[A](name: String)(f: => A): A = {
    var result: Option[A] = None
    while (result.isEmpty) {
      val lock = writeLocks.computeIfAbsent(name,
        _ => new java.util.concurrent.locks.ReentrantLock())
      lock.lock()
      try {
        // A drop may have removed this entry while we waited; if the map
        // no longer holds OUR object the lock is dead — release and retry
        // on the current entry, so all live writers for a name serialize
        // on one object (two objects would race reapRetired's deferred
        // block release under an in-flight search).
        if (writeLocks.get(name) eq lock) result = Some(f)
      } catch {
        case e: Throwable =>
          // a writer that raced a drop (or targeted a name that never
          // existed) must not leave a fresh lock entry behind — drop's
          // contract is that nothing of the name outlives it. Removal is
          // safe mid-queue: waiters re-check identity and retry.
          if (!store.list().contains(name)) writeLocks.remove(name, lock)
          throw e
      } finally lock.unlock()
    }
    result.get
  }

  // Blocks superseded by a write but possibly still under a concurrent
  // search's running job (checkpointed frames have no lineage — releasing
  // them mid-job FAILS the job, not slows it). Released one write
  // generation later: by then any search that read the old cache entry
  // has long finished. Same deferred-retirement pattern as the store's
  // delta compaction.
  private val retired =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[DataFrame]]()

  private def retire(name: String, frames: Seq[DataFrame]): Unit =
    if (frames.nonEmpty)
      retired.merge(name, frames.toVector, (a, b) => a ++ b)

  private def reapRetired(name: String): Unit =
    Option(retired.remove(name))
      .foreach(_.foreach(org.apache.spark.sql.graft.Bridge.release))

  private def writeThrough(name: String)(op: => Seq[String]): Seq[String] =
    withWriteLock(name)(writeThroughLocked(name)(op))

  private def writeThroughLocked(name: String)(op: => Seq[String]): Seq[String] = {
    reapRetired(name) // previous write generation: its readers are done
    val before = cache.get(name)
    // an op failure does NOT prove nothing committed: insertCommitted can
    // throw AFTER its delta landed (a Vamana patch / quantizer-fit Spark
    // job failing), and a cache kept "valid" then serves the pre-write
    // view indefinitely. Evict conservatively — a rejected batch costs a
    // lazy reload; a stale cache costs silent wrong answers.
    val committed =
      try op
      catch { case e: Throwable => evict(name); throw e }
    // a zero-row commit changed nothing: the cached view stays valid
    if (committed.isEmpty) return committed
    // once the store write has committed, the cached view is stale: any
    // failure while refreshing/patching must still evict it, or searches
    // would keep serving pre-write data. The write itself SUCCEEDED, so a
    // patch/refresh failure is not rethrown as a write failure — the next
    // search reloads and rebuilds lazily.
    try {
      if (before != null && before.textIndexes.nonEmpty) {
        val fresh = store.load(name)
        // patch one index at a time, tracking completed ones: a failure on
        // the Nth prop must release the NEW blocks the first N−1 patches
        // checkpointed (never published — no search can be over them),
        // while superseded OLD blocks retire a full generation
        val done = scala.collection.mutable.ListBuffer[(String, TextIndex)]()
        val patchedIdx =
          try before.textIndexes.map { case (prop, idx) =>
            val (p, superseded) = TextIndex.patched(idx, fresh.df, prop, committed)
            retire(name, superseded)
            done += prop -> p
            prop -> p
          } catch {
            case scala.util.control.NonFatal(e) =>
              done.foreach { case (prop, p) =>
                val oldBlocks = before.textIndexes(prop).blocks
                p.blocks.filterNot(b => oldBlocks.exists(_ eq b))
                  .foreach(org.apache.spark.sql.graft.Bridge.release)
              }
              throw e
          }
        // vector artifacts are dropped, not patched (rebuilt lazily on the
        // next approx search); their encoded frames may be mid-scan in a
        // concurrent approx search — retire, don't release
        retire(name, before.vectorIndexes.values.map(_.encoded).toSeq)
        val prev = cache.put(name, fresh.copy(textIndexes = patchedIdx))
        if (prev != null && !(prev eq before)) {
          // a concurrent search CAS-installed extra artifacts between our
          // read of `before` and this put — retire what the new entry
          // does not carry (re-retiring shared frames is a no-op release)
          retire(name,
            (prev.textIndexes -- before.textIndexes.keySet).values.flatMap(i =>
              i.postings +: i.blocks).toSeq)
          retire(name, prev.vectorIndexes.values.map(_.encoded).toSeq)
        }
      } else evict(name)
    } catch {
      case scala.util.control.NonFatal(e) =>
        evict(name)
        System.err.println(
          s"graft: post-write index patch for '$name' failed (${e.getMessage}); " +
          "cache evicted, next search rebuilds")
    }
    committed
  }

  /** Drop the cached collection and RETIRE its index blocks (persisted OR
    * checkpointed — `unpersist` alone is a no-op for the latter): a
    * concurrent search may still be mid-job over them, so destruction
    * waits one write generation (or the collection's drop). Removing only
    * the map entry would leak the blocks for the session's lifetime.
    */
  private def evict(name: String): Unit =
    Option(cache.remove(name)).foreach { c =>
      retire(name, c.textIndexes.values.flatMap(i => i.postings +: i.blocks).toSeq)
      retire(name, c.vectorIndexes.values.map(_.encoded).toSeq)
    }

  // ---- search (the flagship path) -----------------------------------------

  /** JSON request body → result DataFrame (data columns + `_id`,
    * `_distance`, `_score`, `_hybridScore`).
    */
  def search(name: String, requestJson: String): DataFrame =
    search(name, graft.model.Json.parseSearchRequest(requestJson))

  /** Serve one request: a batch of one ([[searchMany]]). */
  def search(name: String, request: SearchRequest): DataFrame =
    searchMany(name, Seq(request)).head

  /** Serve MANY requests against one collection in one call (request
    * order preserved). Index builds/attaches are ensured ONCE for the
    * union of the batch's properties, then Search.searchMany compiles
    * every batchable leaf through its family's batch route: graph-served
    * leaves walk as a single hop-fused wave, quantized flat leaves share
    * ONE multi-query candidate scan, and text leaves share one postings
    * scan — a K-query serving batch pays ~one request's heavy work, not
    * K× (the per-query job-scheduling floor and the candidate scan are the
    * dominant costs of small-K serving).
    */
  def searchMany(name: String, requests: Seq[SearchRequest]): Seq[DataFrame] = {
    // validate against the PRE-index view first (cheap, driver-side): a
    // malformed request must not pay a corpus tokenize/encode before
    // being rejected; Search.searchMany re-validates against the final
    // view, which is the one source of validation truth
    val pre = collection(name)
    requests.foreach { r =>
      graft.model.Validation.validate(r)
        .left.foreach(m => throw new IllegalArgumentException(m))
      graft.model.Validation.validateSchema(r.query, pre.schema)
        .left.foreach(m => throw new IllegalArgumentException(m))
    }
    ensureTextIndexes(name, requests.map(r => textProps(r.query)).fold(Set.empty)(_ ++ _))
    ensureVectorIndexes(name, requests.map(r => approxVecProps(r.query)).fold(Set.empty)(_ ++ _))
    Search.searchMany(collection(name), requests)
  }

  /** Text properties a query tree actually touches (including filters
    * nested under vector/text operators) — only these pay an index build.
    */
  private def textProps(q: graft.model.Query): Set[String] = {
    val self = if (q.text.isDefined) Set(q.property) else Set.empty[String]
    val filters = Seq(
      q.vectorFlat.flatMap(_.filter), q.vectorVamana.flatMap(_.filter),
      q.text.flatMap(_.filter)).flatten
    self ++ filters.flatMap(textProps) ++
      q.and.flatMap(textProps) ++ q.or.flatMap(textProps)
  }

  /** Vector properties queried with `"approx": true` anywhere in the
    * tree — only these pay an artifact attach (quantizer load + encode).
    */
  private def approxVecProps(q: graft.model.Query): Set[String] = {
    val self =
      if (q.vectorFlat.exists(_.approx) || q.vectorVamana.exists(_.approx))
        Set(q.property)
      else Set.empty[String]
    val filters = Seq(
      q.vectorFlat.flatMap(_.filter), q.vectorVamana.flatMap(_.filter),
      q.text.flatMap(_.filter)).flatten
    self ++ filters.flatMap(approxVecProps) ++
      q.and.flatMap(approxVecProps) ++ q.or.flatMap(approxVecProps)
  }

  /** Attach serving artifacts for the approx-queried vector properties:
    * a FITTED quantizer when the store has one (auto-fit at
    * `triggerThreshold`), else the store-MAINTAINED Vamana graph artifact
    * when one is built (CollectionStore.vamanaIndex — the reference's
    * flagship serving path, patched on every write). Same
    * compare-and-swap install discipline as [[ensureTextIndexes]]; props
    * with neither artifact are simply served exactly.
    */
  /** The ONE coded-walk routing rule: with the opt-in conf set and a
    * built store graph, attach the graph with `source` steering the
    * walk; otherwise the quantizer's flat artifact (`flat`).
    *
    * ATTACH-TIME SAMPLING (deliberate): the opt-in is read when the
    * prop's serving artifact is first attached, and the attached route
    * is cached on the collection view — toggling the conf afterwards
    * takes effect at the next view invalidation (any write to the
    * collection replaces the view and the next search re-attaches under
    * the new conf). Live re-attach on a conf flip would have to release
    * an artifact that concurrent in-flight searches may be walking
    * RIGHT NOW — the release races the serve — so the opt-in is part of
    * the serving configuration: set it before the first approx search
    * (or accept that it applies from the next write onward).
    */
  private def codedOrFlat(
      name: String, p: String, source: => graft.operators.CodedSource,
      flat: Collection => Collection): Collection => Collection = {
    val viaGraph =
      if (spark.conf.getOption("graft.vamana.codedWalk").contains("true"))
        store.vamanaIndexWithDir(name, p)
      else None
    viaGraph match {
      case Some((graph, idmap, serveDir)) =>
        (c: Collection) => c.withVamanaVectorIndexFrames(
          p, graph, idmap, serveDir = Some(serveDir), coded = Some(source))
      case None => flat
    }
  }

  private def ensureVectorIndexes(name: String, props: Set[String]): Unit =
    if (props.nonEmpty) {
      val coll = collection(name)
      val wanted: Seq[(String, Collection => Collection)] =
        props.filterNot(coll.vectorIndexes.contains).toSeq.sorted.flatMap { p =>
          store.loadQuantizer(name, p) match {
            case Some(graft.store.FittedBinary(th)) =>
              Some(p -> ((c: Collection) => c.withBinaryVectorIndex(p, th)))
            // coded-walk opt-in (DiskANN — VamanaServe.CodedAccess): a
            // prop with BOTH a built store graph and a fitted PQ/OPQ/RBQ
            // quantizer can serve the graph walk over that quantizer's
            // codes instead of the flat code scan — per-hop point reads
            // instead of a full pass over the encoded frame, the winning
            // shape once the corpus outgrows a scan budget. Conf-gated so
            // the default store serving (the reference's quantizer
            // precedence) is unchanged; one routing for all three kinds
            // (codedOrFlat) so the opt-in rule can't drift per quantizer.
            case Some(graft.store.FittedProduct(model)) =>
              Some(p -> codedOrFlat(name, p, graft.operators.PqCodes(model),
                _.withProductVectorIndex(p, model)))
            case Some(graft.store.FittedOpq(model)) =>
              Some(p -> codedOrFlat(name, p, graft.operators.OpqCodes(model),
                _.withOpqVectorIndex(p, model)))
            case Some(graft.store.FittedScalar(lo, hi)) =>
              Some(p -> ((c: Collection) => c.withScalarVectorIndex(p, lo, hi)))
            case Some(graft.store.FittedRbq(model)) =>
              Some(p -> codedOrFlat(name, p, graft.operators.RbqCodes(model),
                _.withRbqVectorIndex(p, model)))
            case None => store.vamanaIndexWithDir(name, p).map {
              case (graph, idmap, serveDir) =>
                p -> ((c: Collection) => c.withVamanaVectorIndexFrames(
                  p, graph, idmap, serveDir = Some(serveDir)))
            }
          }
        }
      if (wanted.nonEmpty) {
        // build step-by-step so a failure on the Nth artifact can release
        // the already-built (never-installed) earlier ones
        var acc = coll
        try wanted.foreach { case (_, attach) => acc = attach(acc) }
        catch {
          case scala.util.control.NonFatal(e) =>
            (acc.vectorIndexes -- coll.vectorIndexes.keySet).values.foreach(_.release())
            throw e
        }
        if (!cache.replace(name, coll, acc)) {
          // lost the race against a write — release the just-built
          // artifacts; the next search rebuilds against the fresh view
          wanted.foreach { case (p, _) => acc.vectorIndexes(p).release() }
        }
      }
    }

  /** msgpack request body → result DataFrame (same parser as JSON). */
  def searchMsgPack(name: String, requestBody: Array[Byte]): DataFrame =
    search(name, graft.model.Json.parseSearchRequestMsgPack(requestBody))

  /** Build + cache text indexes for the text properties THIS request
    * needs (lazy per property — a vector-only search on a text-indexed
    * collection builds nothing). The install is a compare-and-swap: if a
    * concurrent write replaced the collection view while we were
    * building, the stale pre-write view must not be reinstalled.
    */
  private def ensureTextIndexes(name: String, props: Set[String]): Unit =
    if (props.nonEmpty) {
      val coll = collection(name)
      val wanted = coll.schema.props.collect {
        case (prop, _: graft.model.IndexKind.Text) if props.contains(prop) => prop
      }.filterNot(coll.textIndexes.contains)
      if (wanted.nonEmpty) {
        // step-by-step, so a failed Nth build releases the earlier
        // never-installed postings instead of leaking them
        var acc = coll
        try wanted.foreach(prop => acc = acc.withTextIndex(prop))
        catch {
          case scala.util.control.NonFatal(e) =>
            (acc.textIndexes -- coll.textIndexes.keySet).values.foreach(_.release())
            throw e
        }
        if (!cache.replace(name, coll, acc)) {
          // lost the race against a write — release the just-built
          // postings; the next search rebuilds against the fresh view
          wanted.foreach(p => acc.textIndexes(p).release())
        }
      }
    }
}

object Graft {
  def apply(spark: SparkSession, root: String): Graft = new Graft(spark, root)
  def apply(spark: SparkSession, root: String, plan: graft.store.UserPlan): Graft =
    new Graft(spark, root, plan)

  /** Multi-tenancy (reference docs/concepts/multi-tenancy.md): tenants
    * share one storage root but every collection is namespaced under the
    * tenant's user id — "the collection name is prefixed with the User
    * ID", which is EXACTLY the reference's own isolation mechanism (it
    * stores nothing about the user beyond the id on each request). Two
    * tenants can hold same-named collections without interference, and
    * each tenant's [[graft.store.UserPlan]] quotas are enforced
    * independently — the per-request `X-User-Plan` header's programmatic
    * equivalent. The id is path-validated (it becomes a directory
    * segment): a hostile "../other" cannot escape into another tenant's
    * namespace.
    */
  def forTenant(
      spark: SparkSession, root: String, userId: String,
      plan: graft.store.UserPlan = graft.store.UserPlan()): Graft = {
    require(userId.nonEmpty && userId.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"user id must be [A-Za-z0-9_-]+ (got '$userId') — it becomes a " +
        "storage directory segment")
    new Graft(spark, s"$root/$userId", plan)
  }
}
