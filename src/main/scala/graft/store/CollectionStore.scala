package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Collection
import graft.model.{IndexKind, IndexSchema}

/** The write path (reference W1–W3): insert / field-merge update / delete
  * over versioned parquet collections with a base+delta merge-on-read log.
  *
  * Storage layout per collection:
  * {{{
  *   <root>/<name>/schema.json      — index schema (property → kind)
  *   <root>/<name>/v<N>/            — base parquet snapshot, monotonic N
  *   <root>/<name>/d<N>_<S>/        — delta S on base N: full row versions
  *                                    of the affected ids (+ `_seq`,
  *                                    `_tombstone` columns)
  * }}}
  * A write appends one tiny delta directory (≤ batch-size rows) instead of
  * rewriting the snapshot — a 100-row update against a 100 TB collection
  * writes 100 rows. The read view is
  * `base ⟕anti(broadcast delta-ids) ∪ latest-delta-row-per-id` — the base
  * scan stays narrow (no shuffle; the delta side is bounded by
  * `CompactThreshold × batch size` and broadcast). Once `CompactThreshold`
  * deltas accumulate, the merged view is rewritten as the next base
  * `v<N+1>` and the delta log resets (merge-on-read + periodic compaction,
  * the Delta/Iceberg MOR pattern). Each directory becomes visible only via
  * an atomic rename; a compaction that commits `v<N+1>` but crashes before
  * removing `d<N>_*` is safe — readers only consume deltas keyed to the
  * LATEST base version.
  *
  * Semantics mirrored from the reference:
  *  - insert (shard/shard.go:133–227): batch ≤ 10000, duplicate `_id`
  *    within the batch or vs existing data rejects the batch.
  *  - update (shard/shard.go:231–325): batch ≤ 100; field-level merge —
  *    null incoming fields leave the stored value, non-null overwrite;
  *    the `"_delete"` sentinel on string fields (and an `_unset` string
  *    array for typed fields — the typed-column adaptation) removes the
  *    value; unknown `_id`s are silently skipped (no-op).
  *  - delete (shard/shard.go:476–550): batch ≤ 100 by id.
  */
/** Per-user resource limits (reference models/collection.go:3–13
  * `UserPlan`; quota enforcement cluster/actions.go:181–265): bounds on
  * collection count, points per collection, and on-disk bytes per
  * collection. Defaults are unlimited.
  */
final case class UserPlan(
    maxCollections: Int = Int.MaxValue,
    maxPointsPerCollection: Long = Long.MaxValue,
    maxStorageBytesPerCollection: Long = Long.MaxValue)

final class CollectionStore(
    spark: SparkSession, root: String, plan: UserPlan = UserPlan()) {

  import CollectionStore._

  // a fresh root must be listable before the first create()
  Files.createDirectories(Paths.get(root))

  // Files.list/Files.walk return streams holding a directory fd until
  // closed — these run on every read/write, so leak-free wrappers only
  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
  }
  private def listPaths(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def deleteTree(dir: java.nio.file.Path): Unit =
    graft.Fs.deleteTree(dir, strict = true)
  private def treeBytes(dir: java.nio.file.Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def create(name: String, schema: IndexSchema, data: DataFrame): Unit = {
    val dir = Paths.get(root, name)
    require(!Files.exists(dir), s"collection $name already exists")
    require(list().size < plan.maxCollections,
      s"user plan allows at most ${plan.maxCollections} collections")
    IndexSchema.validate(schema).left.foreach(m => throw new IllegalArgumentException(m))
    // materialize the seed ONCE: the id/vector-length validation aggs and
    // writeVersion below must all see the same rows even for
    // non-deterministic sources (uuid ids, samples) — the same rule
    // insertCommitted/ingestBatch follow
    val initial = normalize(data).localCheckpoint()
    try {
      // user columns must not collide with the write path's internal names:
      // the first delta write would silently clobber a user `_seq`, and the
      // merge view would then drop it from one union side and throw — with
      // the user's data already corrupted on disk. Reject at the door.
      val clashes = ReservedCols.filter(initial.columns.contains)
      require(clashes.isEmpty,
        s"column name(s) reserved by the store: ${clashes.mkString(", ")}")
      // duplicate or null ids in the seed would silently corrupt the
      // merge-on-read view later (the window dedups deltas only, and null
      // keys never join) — reject up front, same as insert. coalesce: the
      // sum over an EMPTY seed is NULL, and getLong would NPE
      val idStats = initial.agg(
        count(lit(1)).as("n"), countDistinct(col(IdCol)).as("d"),
        coalesce(sum(when(col(IdCol).isNull, 1L).otherwise(0L)), lit(0L)).as("nulls")).head()
      require(idStats.getLong(2) == 0L, s"null $IdCol in initial data")
      require(idStats.getLong(1) == idStats.getLong(0), s"duplicate $IdCol in initial data")
      requireVecLens(initial, schema)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("schema.json"), schemaToJson(schema))
      withCollLock(name)(liveIdMirrors.remove(name))
      writeVersion(name, initial)
    } finally org.apache.spark.sql.graft.Bridge.release(initial)
    maybeFitQuantizers(name)
  }

  def load(name: String): Collection = {
    flush(name) // fold pending write batches first (read-your-writes)
    // resolve ONE snapshot under the collection lock and build both faces
    // from it: the point-read face pins the SAME (base, delta) frames as
    // the view, so a backfill sees exactly the snapshot the search
    // compiled against — writes landing after load() are invisible to
    // both, and a write or compaction racing load() cannot split the two
    // faces across different snapshots
    withCollLock(name) {
      val base = currentVersion(name)
      val baseDf = baseFrame(name, base)
      val frames = cachedDeltas(name, base)
      val deltas = frames.map(_._2)
      Collection(viewFrom(name, base, baseDf, frames), readSchema(name),
        pointLookup = Some(ids => pointRows(name, base, baseDf, deltas, ids)))
    }
  }

  def drop(name: String): Unit = withCollLock(name) {
    // the WHOLE body under the collection lock: an in-flight mirror
    // bootstrap cannot re-install the dropped ids, and an in-flight
    // appendPending cannot recreate pending/ mid-deleteTree (which would
    // wedge the name: list() shows it, create() rejects it, load() fails)
    clearDeltaCache(name)
    reapRetired(name)
    baseCache.remove(name)
    docTableCache.keySet.removeIf(_._1 == name)
    Option(idFrameCache.remove(name)).foreach(_._2.unpersist(false))
    liveIdMirrors.remove(name)
    pendingOps.remove(name)
    val dir = Paths.get(root, name)
    if (Files.exists(dir)) {
      // retire doc-table catalog entries with their files — the `ready`
      // check would never use a dangling one (`_SUCCESS` is gone), but a
      // dropped collection must not leak table names into the shared
      // session catalog
      dropDocTableEntries(name)
      deleteTree(dir)
    }
  }

  def list(): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Nil
    else listPaths(r).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filterNot(_.startsWith(".")) // .backups (and future dot-dirs) are not collections
      .sorted
  }

  // ---- backup / restore (reference shard.go Backup → utils/backup.go) -----
  //
  // The reference snapshots each shard's bbolt file as timestamped
  // `.backup` siblings, frequency-gated, keeping the newest N. The
  // directory-store equivalent: a consistent recursive copy of the
  // collection dir (base + delta log + WAL pending + schema + index
  // artifacts) under `<root>/.backups/<name>/<seq>/`, taken under the
  // collection's write lock — pending WAL files copy as-is and replay on
  // restore exactly like crash recovery. Copies are driver-side file I/O
  // (the artifact is parquet already; no Spark job) — at cluster scale the
  // same sequence runs against the object store's copy API.

  /** Snapshot `name` if the newest backup is older than
    * `minIntervalSeconds` (0 = always). Keeps the newest `keep`
    * snapshots. Returns the new snapshot's sequence id, or None when
    * frequency-gated. `nowSeconds` is injectable so tests (and
    * deterministic pipelines) control the clock.
    */
  def backup(
      name: String, keep: Int = 2, minIntervalSeconds: Long = 0L,
      nowSeconds: () => Long = () => System.currentTimeMillis() / 1000L): Option[Long] = {
    require(keep >= 1, s"keep must be >= 1 (got $keep)")
    withCollLock(name) {
      val src = Paths.get(root, name)
      require(Files.exists(src), s"collection $name does not exist")
      val bdir = Paths.get(root, ".backups", name)
      Files.createDirectories(bdir)
      val existing = listPaths(bdir).filter(Files.isDirectory(_))
        .map(_.getFileName.toString.toLong).sorted
      val now = nowSeconds()
      if (existing.nonEmpty && now - existing.last < minIntervalSeconds) None
      else {
        // monotone sequence even under a clock that stands still
        val seq = math.max(now, existing.lastOption.map(_ + 1).getOrElse(Long.MinValue))
        val tmp = bdir.resolve(s".tmp_$seq")
        if (Files.exists(tmp)) deleteTree(tmp)
        copyTree(src, tmp)
        Files.move(tmp, bdir.resolve(seq.toString),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // retention AFTER the publish: a failed copy never costs a backup
        val all = existing :+ seq
        all.dropRight(keep).foreach(s => deleteTree(bdir.resolve(s.toString)))
        Some(seq)
      }
    }
  }

  /** Snapshot sequence ids for `name`, oldest → newest. */
  def backups(name: String): Seq[Long] = {
    val bdir = Paths.get(root, ".backups", name)
    if (!Files.exists(bdir)) Nil
    else listPaths(bdir).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(_.startsWith("."))
      .map(_.toLong).sorted
  }

  /** Replace `name`'s live state with snapshot `seq` — the crash-recovery
    * path run deliberately: the snapshot's WAL pending files replay on
    * the next read exactly as after a crash. The snapshot itself is kept
    * (a restore is not a consume).
    */
  def restore(name: String, seq: Long): Unit = withCollLock(name) {
    val snap = Paths.get(root, ".backups", name, seq.toString)
    require(Files.exists(snap), s"no backup $seq for collection $name")
    // same cache teardown as drop(): nothing of the pre-restore state may
    // keep serving
    clearDeltaCache(name)
    reapRetired(name)
    baseCache.remove(name)
    docTableCache.keySet.removeIf(_._1 == name)
    Option(idFrameCache.remove(name)).foreach(_._2.unpersist(false))
    liveIdMirrors.remove(name)
    pendingOps.remove(name)
    val dir = Paths.get(root, name)
    if (Files.exists(dir)) {
      dropDocTableEntries(name)
      deleteTree(dir)
    }
    copyTree(snap, dir)
    // a pre-restore registration could survive pointing at the SAME
    // docserve path with a DIFFERENT bucket count than the restored files
    // (the dirs are version-addressed, and versions recur after a
    // restore) — drop any entries the restored tree resolves to, so the
    // next point read re-registers from the restored sidecar
    dropDocTableEntries(name)
  }

  /** Drop the session-catalog entries of every docserve dir currently
    * under `name` (the files are the caller's business) — drop() and
    * restore() must not leak doc-table names into the shared catalog, nor
    * leave an entry whose bucket spec disagrees with the files now at
    * that path.
    */
  private def dropDocTableEntries(name: String): Unit = {
    val dir = Paths.get(root, name)
    if (Files.exists(dir)) listNames(dir).foreach { s =>
      if (s.matches("docserve_v\\d+"))
        graft.operators.Bucketing.drop(spark,
          graft.engine.VamanaServe.servingTableName(dir.resolve(s).toString))
    }
  }

  /** Recursive copy, skipping derived doc-table dirs (`docserve_v*` and
    * their tmp siblings): they are pure derivations of the immutable base
    * — docTable re-registers or rebuilds from disk on demand — and
    * copying them would double every backup's size and lock-hold time.
    */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val s = Files.walk(src)
    val paths = try s.iterator().asScala.toSeq finally s.close()
    def derived(p: java.nio.file.Path): Boolean = {
      val rel = src.relativize(p)
      (0 until rel.getNameCount).exists { i =>
        val n = rel.getName(i).toString
        n.matches("docserve_v\\d+") || n.startsWith(".tmp_docserve_")
      }
    }
    paths.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (derived(p)) ()
      else if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  /** W1 — all-or-nothing batch insert. */
  def insert(name: String, points: DataFrame): Long =
    insertCommitted(name, points).length.toLong

  /** As [[insert]], returning the committed ids. The facade patches its
    * text indexes from THIS list — re-collecting the caller's DataFrame
    * after the commit would re-evaluate non-deterministic sources (uuid
    * ids, samples) and patch the wrong ids.
    */
  private[graft] def insertCommitted(name: String, points: DataFrame): Seq[String] = {
    // pending ops must fold first: a pending tombstone on a re-inserted id
    // would otherwise outrank the new row at the next flush
    flush(name)
    // materialize the batch ONCE, to the DRIVER: the contract caps the
    // batch at 10k rows, so it fits by construction (the id collect below
    // was already driver-bounded). LOCAL plans — the wire path's
    // createDataFrame point batches, literal toDF frames — yield their
    // rows with ZERO jobs (Spark folds Limit/Project over a LocalRelation);
    // distributed inputs pay ONE bounded collect instead of the previous
    // localCheckpoint + id-collect job pair. Either way the single row
    // snapshot feeds the checks AND the delta write, so non-deterministic
    // sources (uuid ids, samples) still see one evaluation.
    val normalized = normalize(points)
    val rows = normalized.limit(MaxInsertBatch + 1).collect()
    val n = rows.length.toLong
    require(n <= MaxInsertBatch, s"insert batch exceeds $MaxInsertBatch points")
    val idIdx = normalized.schema.fieldIndex(IdCol)
    val ids = rows.map(r =>
      if (r.isNullAt(idIdx)) null else r.getString(idIdx)).toSeq
    require(!ids.contains(null), s"null $IdCol in insert batch")
    require(ids.distinct.length == ids.length, "duplicate _id within insert batch")
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), normalized.schema)
    // clash probe + commit under ONE lock acquisition (the ReentrantLock
    // nests through writeDelta's own acquisition): two concurrent direct-
    // store writers could otherwise BOTH pass the probe before either's
    // delta lands, and the duplicate would silently resolve
    // last-writer-wins instead of the contract's rejection
    withCollLock(name) {
      val clash = liveIds(name, ids)
      require(clash.isEmpty, s"${clash.size} point(s) already exist")
      val coerced = admitAndCoerce(name, batch, n)
      writeDelta(name, coerced, tombstone = false)
      mirrorAdd(name, ids)
    }
    val vamProps = builtVamanaProps(name)
    if (vamProps.nonEmpty)
      patchVamanaIndexes(name, vamProps.map(_ -> ids).toMap, Nil)
    maybeFitQuantizers(name)
    ids
  }

  /** Streaming/bulk ingest — W1's semantics with every check DISTRIBUTED:
    * null-id, in-batch-duplicate and already-exists rejection, schema
    * coercion, vector-length validation and quotas all run as Spark jobs
    * instead of bounded driver collects, and the batch lands as ONE delta
    * whose files are written per task (the driver's only serial work is
    * folding the commit — a single atomic rename). No MaxInsertBatch cap:
    * the cap bounds insert()'s driver-side id collect, and nothing here
    * touches the driver. All-or-nothing like insert().
    *
    * Built Vamana graphs are NOT patched on this path (patching keys off
    * a driver-side id list): collections with a built graph ingest via
    * insert() batches, or rebuild the graph after the bulk load.
    */
  def ingestBatch(name: String, points: DataFrame): Long = {
    // materialize once: the checks and the delta write must see the same
    // rows even for non-deterministic sources (uuid ids, streams)
    val batch = normalize(points).localCheckpoint()
    try ingestCheckpointed(name, batch)
    finally org.apache.spark.sql.graft.Bridge.release(batch)
  }

  /** [[ingestBatch]] over an ALREADY-materialized batch — the caller owns
    * the checkpoint lifecycle. The streaming path checkpoints its
    * anti-joined micro-batch before landing (its plan pins delta frames a
    * compaction here may retire), and a second full copy would double
    * peak block storage for exactly the large-batch case this path
    * exists for.
    */
  private[graft] def ingestCheckpointed(name: String, stable: DataFrame): Long = {
    flush(name)
    require(builtVamanaProps(name).isEmpty,
      "bulk ingest does not patch built Vamana graphs — use insert() " +
        "batches or rebuild the graph after the load")
    // cheap projection over the stable source
    val batch = normalize(stable)
    // ONE aggregate job answers size + null ids + in-batch duplicates
    val stats = batch.agg(
      count(lit(1)).as("_n"),
      count(col(IdCol)).as("_nonnull"),
      countDistinct(col(IdCol)).as("_distinct")).head()
    val n = stats.getLong(0)
    if (n == 0L) return 0L
    require(stats.getLong(1) == n,
      s"${n - stats.getLong(1)} null $IdCol in ingest batch")
    require(stats.getLong(2) == n,
      s"${n - stats.getLong(2)} duplicate _id within ingest batch")
    // clash probe + commit + mirror-drop under ONE lock acquisition:
    // (a) a probe OUTSIDE the lock would let two concurrent ingests both
    // pass "already exist" before either's delta lands — the duplicate
    // then resolves last-writer-wins instead of the contract's
    // rejection; (b) a concurrent insert reading the stale mirror
    // between the delta landing and the drop would pass its clash check
    // against pre-ingest ids. Ingest to the SAME collection serializes
    // (the single-writer invariant); other collections are unaffected.
    // The mirror cannot absorb an unbounded id list, so it drops and
    // rebootstraps (or demotes) lazily on the next probe.
    val written = withCollLock(name) {
      // the clash probe as a distributed semi-join (insert()'s liveIds
      // check without the bounded id list)
      val clashes = batch.select(col(IdCol))
        .join(mergedView(name).select(col(IdCol)), Seq(IdCol), "left_semi")
        .count()
      require(clashes == 0L, s"$clashes point(s) already exist")
      val coerced = admitAndCoerce(name, batch, n)
      val w = writeDelta(name, coerced, tombstone = false, singleFile = false)
      liveIdMirrors.remove(name)
      w
    }
    maybeFitQuantizers(name)
    written
  }

  /** Shared insert/ingest admission — point + storage quotas (reference
    * cluster/actions.go:181–265: point count from the live view, storage
    * from the directory footprint), schema coercion onto the stored layout
    * (missing properties stay null, types cast, unknown columns dropped),
    * and vector-length validation (reference CheckCompatibleMap parity: a
    * wrong-length vector would silently truncate every later distance).
    * ONE implementation so the contract-sized and bulk ingestion faces
    * cannot drift.
    */
  private def admitAndCoerce(name: String, batch: DataFrame, n: Long): DataFrame = {
    if (plan.maxPointsPerCollection != Long.MaxValue) {
      val current = mergedView(name).count()
      require(current + n <= plan.maxPointsPerCollection,
        s"user plan allows at most ${plan.maxPointsPerCollection} points per collection")
    }
    requireStorageQuota(name)
    val storedSchema = baseFrame(name, currentVersion(name)).schema
    val aligned = storedSchema.fields.map { f =>
      (if (batch.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }
    val coerced = batch.select(aligned.toSeq: _*)
    requireVecLens(coerced, readSchema(name))
    coerced
  }

  /** Pre-write storage admission (quota is an estimate measured before
    * the write, like the reference's checks; compaction eventually
    * reclaims superseded row versions). No-op for unlimited plans.
    */
  private def requireStorageQuota(name: String): Unit =
    if (plan.maxStorageBytesPerCollection != Long.MaxValue)
      require(treeBytes(Paths.get(root, name)) <= plan.maxStorageBytesPerCollection,
        s"collection exceeds the user plan's storage quota")

  /** One aggregate job validating every vector property's length. */
  private def requireVecLens(df: DataFrame, schema: IndexSchema): Unit = {
    val checks = schema.props.toSeq.sortBy(_._1).collect {
      case (prop, k: IndexKind.VectorFlat) if df.columns.contains(prop) => (prop, k.vectorSize)
      case (prop, k: IndexKind.VectorVamana) if df.columns.contains(prop) => (prop, k.vectorSize)
    }
    if (checks.nonEmpty) {
      // coalesce: sum over an EMPTY frame is NULL (getLong would NPE) —
      // zero rows trivially satisfy the length contract
      val aggs = checks.map { case (prop, len) =>
        coalesce(
          sum(when(col(prop).isNotNull && size(col(prop)) =!= len, 1L).otherwise(0L)),
          lit(0L)).as(prop)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      checks.zipWithIndex.foreach { case ((prop, len), i) =>
        require(row.getLong(i) == 0L,
          s"${row.getLong(i)} point(s) have wrong vector length for $prop (expected $len)")
      }
    }
  }

  /** W2 — field-merge batch update; returns number of updated rows.
    * `updates` carries `_id`, any subset of data columns (null = keep
    * stored value), optionally `_unset: array<string>` naming fields to
    * clear; string fields also honor the `"_delete"` sentinel value.
    *
    * GROUP COMMIT: the batch is validated driver-side, its matched-row
    * count answered by a liveness probe, and the patch itself appended to
    * a durable driver-side WAL (`pending/p<seq>.json`, atomic rename, no
    * Spark job). Consecutive batches fold into ONE delta at the next read
    * or at the pending threshold — the reference's per-batch ack semantics
    * at a fraction of the per-transaction cost.
    */
  def update(name: String, updates: DataFrame): Long =
    updateCommitted(name, updates).length.toLong

  /** As [[update]], returning the matched (committed) ids. */
  private[graft] def updateCommitted(name: String, updates: DataFrame): Seq[String] = {
    val batchRows = updates.limit(MaxUpdateBatch + 1).collect()
    require(batchRows.length <= MaxUpdateBatch, s"update batch exceeds $MaxUpdateBatch points")
    val uSchema = updates.schema
    require(uSchema.fieldNames.contains(IdCol), s"updates must carry $IdCol")
    val idIdx = uSchema.fieldIndex(IdCol)
    val batchIds = batchRows.map { r =>
      require(!r.isNullAt(idIdx), s"null $IdCol in update batch")
      r.get(idIdx).toString
    }.toSeq
    require(batchIds.distinct.length == batchIds.length, "duplicate _id within update batch")
    if (batchIds.isEmpty) return Nil
    // update-side vector-length validation (reference CheckCompatibleMap,
    // httpapi/v2/handlers.go:345) — driver-side over the ≤100 rows in hand
    validatePatchVecLens(uSchema, batchRows, readSchema(name))
    requireStorageQuota(name)
    recoverPending(name)
    val live = liveIds(name, batchIds)
    val matched = batchIds.filter(live)
    if (matched.nonEmpty) appendPending(name, PendingPatch(uSchema, batchRows.toSeq))
    if (pendingOps.getOrDefault(name, Vector.empty).length >= CompactThreshold) flush(name)
    matched
  }

  /** W3 — delete by id; unknown ids are no-ops; returns rows removed.
    * Deletes append a tombstone op to the WAL; the fold at flush writes
    * `_tombstone` row versions — the base is untouched.
    */
  def delete(name: String, ids: Seq[String]): Long =
    deleteCommitted(name, ids).length.toLong

  /** As [[delete]], returning the removed (committed) ids. */
  private[graft] def deleteCommitted(name: String, ids: Seq[String]): Seq[String] = {
    require(ids.length <= MaxDeleteBatch, s"delete batch exceeds $MaxDeleteBatch points")
    // a null id would NPE the mirror probe but silently no-op the Spark
    // fallback — reject uniformly, like insert/update do
    require(!ids.contains(null), s"null $IdCol in delete batch")
    if (ids.isEmpty) return Nil
    requireStorageQuota(name)
    recoverPending(name)
    val live = liveIds(name, ids)
    val removed = ids.distinct.filter(live)
    if (removed.nonEmpty) appendPending(name, PendingTombstone(removed))
    if (pendingOps.getOrDefault(name, Vector.empty).length >= CompactThreshold) flush(name)
    removed
  }

  // ---- group-commit write-ahead log ---------------------------------------

  private sealed trait Pending
  private final case class PendingPatch(
      schema: StructType, rows: Seq[org.apache.spark.sql.Row]) extends Pending
  private final case class PendingTombstone(ids: Seq[String]) extends Pending

  private val pendingOps =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(Long, Pending)]]()
  // per-collection flush lock: concurrent readers BLOCK until the fold
  // completes (read-your-writes); only the same thread re-entering (a
  // threshold compaction inside flush) short-circuits
  private val flushLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def pendingDir(name: String) = Paths.get(root, name, "pending")

  private def pendingTombstoned(name: String): Set[String] =
    pendingOps.getOrDefault(name, Vector.empty).flatMap {
      case (_, PendingTombstone(ids)) => ids
      case _ => Nil
    }.toSet

  // The probe's id index: the base's `_id` column kept as a persisted
  // frame per version (the cluster-cached analogue of the reference's id
  // bucket) so per-batch liveness probes scan memory, not parquet.
  private val idFrameCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  private def baseIdFrame(name: String, base: Long): DataFrame = {
    val cur = idFrameCache.get(name)
    if (cur != null && cur._1 == base) cur._2
    else {
      if (cur != null) cur._2.unpersist(false)
      val df = baseFrame(name, base).select(col(IdCol)).persist()
      idFrameCache.put(name, (base, df))
      df
    }
  }

  // Driver-side live-id mirror: the Spark analogue of the reference's
  // per-shard bbolt id bucket (shard/shard.go) — the store instance that
  // owns a shard holds that shard's ids locally, so a ≤100-row batch's
  // liveness probe is |batch| hash lookups instead of a cluster job.
  // Built once per store instance from (base ∪ deltas), then maintained
  // in lockstep with every commit. None = the collection outgrew
  // [[IdMirrorLimit]]; probes fall back to the Spark path below — at
  // 100 TB each shard's store mirrors only its own shard's ids, which is
  // exactly the reference's layout.
  private val liveIdMirrors =
    new java.util.concurrent.ConcurrentHashMap[String, Option[java.util.Set[String]]]()

  // Bootstrap and maintenance both run under the collection's flush lock:
  // a commit landing while computeIfAbsent's Spark collect runs would be
  // invisible to BOTH the bootstrap snapshot and mirrorAdd/mirrorRemove
  // (during the reservation, get() returns null), leaving the installed
  // mirror permanently wrong. The lock is re-entrant, so callers already
  // inside flush() maintain the mirror without deadlock.
  private def withCollLock[A](name: String)(f: => A): A = {
    val lock = flushLocks.computeIfAbsent(name,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try f finally lock.unlock()
  }

  private def liveIdMirror(name: String): Option[java.util.Set[String]] =
    withCollLock(name) {
      liveIdMirrors.computeIfAbsent(name, _ => {
        val all = liveIdsSpark(name, None, Some(IdMirrorLimit + 1))
        if (all.size > IdMirrorLimit) None
        else {
          val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String](all.size * 2)
          all.foreach(s.add)
          Some(s)
        }
      })
    }

  private def mirrorAdd(name: String, ids: Seq[String]): Unit =
    withCollLock(name) {
      Option(liveIdMirrors.get(name)).flatten.foreach { s =>
        ids.foreach(s.add)
        // the bound holds across the collection's LIFETIME, not just the
        // bootstrap: a collection that grows past the limit demotes to
        // the Spark probe path instead of pinning unbounded driver heap
        if (s.size > IdMirrorLimit) liveIdMirrors.put(name, None)
      }
    }

  private def mirrorRemove(name: String, ids: Seq[String]): Unit =
    withCollLock(name) {
      Option(liveIdMirrors.get(name)).flatten.foreach(s => ids.foreach(s.remove))
    }

  /** Which of `ids` are live in (base ∪ deltas) minus pending tombstones —
    * answered from the driver mirror when the collection fits, else one
    * tiny job over the cached id index + delta mirrors. No flush either way.
    */
  private def liveIds(name: String, ids: Seq[String]): Set[String] = {
    val live = liveIdMirror(name) match {
      case Some(mirror) => ids.filter(mirror.contains).toSet
      case None => liveIdsSpark(name, Some(ids), None)
    }
    live -- pendingTombstoned(name)
  }

  /** The Spark live-id probe over (base ∪ deltas): restricted to `ids`
    * when given, capped at `limit` rows when given (mirror bootstrap).
    * Does NOT subtract pending tombstones — callers do.
    */
  private def liveIdsSpark(
      name: String, ids: Option[Seq[String]], limit: Option[Int]): Set[String] = {
    val base = currentVersion(name)
    def restrict(df: DataFrame): DataFrame =
      ids.fold(df)(is => df.filter(col(IdCol).isin(is: _*)))
    val baseIds = restrict(baseIdFrame(name, base))
      .withColumn(SeqCol, lit(-1L))
      .withColumn(TombstoneCol, lit(false))
    val frames = cachedDeltas(name, base)
    val all =
      if (frames.isEmpty) baseIds
      else baseIds.unionByName(
        restrict(frames.map(_._2.select(col(IdCol), col(SeqCol), col(TombstoneCol)))
          .reduce(_ unionByName _)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(IdCol).orderBy(col(SeqCol).desc)
    val dedup = (if (ids.isDefined) all.coalesce(1) else all)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col(TombstoneCol))
      .select(IdCol)
    limit.fold(dedup)(dedup.limit(_))
      .collect().map(_.getString(0)).toSet
  }

  /** Append one op to the WAL (atomic file rename — durable before the
    * call returns, like the reference's per-batch bbolt commit) and to the
    * in-memory mirror. Serialized per collection: two concurrent batches
    * reading the same `cur` would compute the same seq, rename over each
    * other's WAL file, and drop one ACKED op from the in-memory vector.
    */
  private def appendPending(name: String, op: Pending): Unit = withCollLock(name) {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // a concurrent drop() may have deleted the collection between this
    // op's validation and the lock acquisition — recreating pending/ under
    // the dropped name would wedge it (list() shows it, create() rejects
    // it, load() fails on schema.json)
    require(Files.exists(Paths.get(root, name, "schema.json")),
      s"collection $name does not exist (dropped concurrently?)")
    val cur = pendingOps.getOrDefault(name, Vector.empty)
    val seq = cur.lastOption.fold(0L)(_._1 + 1)
    val dir = pendingDir(name)
    Files.createDirectories(dir)
    val json: JValue = op match {
      case PendingPatch(s, rows) => JObject(
        "base" -> JLong(currentVersion(name)),
        "op" -> JString("patch"),
        "schema" -> JString(s.json),
        "rows" -> JArray(rows.map(r =>
          JArray(s.fields.indices.map(i => valueToJson(r.get(i))).toList)).toList))
      case PendingTombstone(ids) => JObject(
        "base" -> JLong(currentVersion(name)),
        "op" -> JString("tombstone"),
        "ids" -> JArray(ids.map(JString(_)).toList))
    }
    val tmp = dir.resolve(s".tmp_p$seq.json")
    Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(json)))
    Files.move(tmp, dir.resolve(s"p$seq.json"), StandardCopyOption.ATOMIC_MOVE)
    pendingOps.put(name, cur :+ (seq -> op))
  }

  /** Load the WAL into memory if this store has not seen the collection
    * yet (crash recovery / second store instance). Memory is authoritative
    * once loaded — single-writer, like the reference's shard ownership.
    * Under the collection lock: an unsynchronized check-then-put here
    * could wipe an op a concurrent appendPending just added (and its WAL
    * seq would then be reused, destroying the file too).
    */
  private def recoverPending(name: String): Unit = withCollLock(name) {
    if (!pendingOps.containsKey(name)) {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val dir = pendingDir(name)
      val ops: Vector[(Long, Pending)] =
        if (!Files.exists(dir)) Vector.empty
        else listPaths(dir)
          .filter(_.getFileName.toString.matches("p\\d+\\.json")).toVector
          .sortBy(_.getFileName.toString.drop(1).dropRight(5).toLong)
          .map { f =>
            val seq = f.getFileName.toString.drop(1).dropRight(5).toLong
            val j = JsonMethods.parse(Files.readString(f))
            (j \ "op") match {
              case JString("tombstone") =>
                val JArray(ids) = (j \ "ids"): @unchecked
                seq -> (PendingTombstone(ids.map {
                  case JString(s) => s
                  case other => throw new IllegalStateException(s"bad id $other")
                }): Pending)
              case _ =>
                val JString(schemaJson) = (j \ "schema"): @unchecked
                val s = DataType.fromJson(schemaJson).asInstanceOf[StructType]
                val JArray(rows) = (j \ "rows"): @unchecked
                val rs = rows.map {
                  case JArray(vals) => org.apache.spark.sql.Row.fromSeq(
                    vals.zipWithIndex.map { case (v, i) =>
                      jsonToValue(v, s.fields(i).dataType) })
                  case other => throw new IllegalStateException(s"bad row $other")
                }
                seq -> (PendingPatch(s, rs): Pending)
            }
          }
      pendingOps.put(name, ops)
    }
  }

  /** Fold the whole pending log into ONE delta: apply every op in order to
    * the affected slice of the current view (patches guarded by a `_dead`
    * flag so a pending delete wins over a later pending update), write the
    * mixed tombstone/value rows, then clear the WAL. Replay after a crash
    * between the delta commit and the WAL delete is idempotent — patches
    * carry absolute values.
    */
  // Re-entrancy guard for the fold itself (NOT the lock): compact() runs
  // under the collection lock and must still execute a real fold, while a
  // fold that recursively reaches flush again (threshold compaction inside
  // writeDeltaFlagged, mergedView inside compact) must no-op. A lock-held
  // check can't distinguish the two.
  private val flushing = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]()
  }

  private def flush(name: String): Unit = withCollLock(name) {
    if (!flushing.get().add(name)) return // already folding this collection
    try {
      recoverPending(name)
      val ops = pendingOps.getOrDefault(name, Vector.empty)
      if (ops.nonEmpty) {
        val storedSchema = baseFrame(name, currentVersion(name)).schema
        val allIds = ops.flatMap {
          case (_, PendingPatch(s, rows)) =>
            val ii = s.fieldIndex(IdCol)
            rows.map(_.get(ii).toString)
          case (_, PendingTombstone(ids)) => ids
        }.distinct
        val slice = viewRowsFor(name, allIds).withColumn(DeadCol, lit(false))
        // fold the whole WAL window as ONE join against a local-relation
        // patch frame (net effect computed driver-side over the ≤threshold
        // × batch rows already in memory) — a chain of per-op projections
        // re-plans literal maps per op, which made flush cost grow with
        // the op COUNT instead of the touched-row count. Falls back to the
        // per-op chain only when a column's winning writes disagree on
        // their incoming dtype (not producible through the wire surface).
        val folded = foldOpsAsJoin(slice, storedSchema, ops).getOrElse(
          ops.foldLeft(slice) {
            case (df, (_, p: PendingPatch)) => applyPatch(df, storedSchema, p)
            case (df, (_, PendingTombstone(ids))) =>
              df.withColumn(DeadCol, col(DeadCol) || col(IdCol).isin(ids: _*))
          })
        val out = folded.select(
          storedSchema.fieldNames.map(col).toSeq :+ col(DeadCol).as(TombstoneCol): _*)
        writeDeltaFlagged(name, out)
        mirrorRemove(name, ops.flatMap {
          case (_, PendingTombstone(ids)) => ids
          case _ => Nil
        }.distinct)
        pendingOps.remove(name)
        val pd = pendingDir(name)
        if (Files.exists(pd))
          listPaths(pd).foreach(Files.delete)
        // built graph artifacts follow the data: tombstoned ids leave the
        // graph, patches touching a vamana property re-enter their nodes
        val vamProps = builtVamanaProps(name)
        if (vamProps.nonEmpty) {
          val removed = ops.flatMap {
            case (_, PendingTombstone(ids)) => ids
            case _ => Nil
          }.distinct
          val upserts = vamProps.map { p =>
            p -> ops.flatMap {
              case (_, PendingPatch(s, rows))
                  if s.fieldNames.contains(p) || s.fieldNames.contains(UnsetCol) =>
                val ii = s.fieldIndex(IdCol)
                val pi = if (s.fieldNames.contains(p)) s.fieldIndex(p) else -1
                val ui = if (s.fieldNames.contains(UnsetCol)) s.fieldIndex(UnsetCol) else -1
                // only rows that actually touch the vector property — a
                // batch-wide _unset of some OTHER field must not churn
                // untouched graph nodes
                rows.filter { r =>
                  (pi >= 0 && !r.isNullAt(pi)) ||
                  (ui >= 0 && !r.isNullAt(ui) && (r.get(ui) match {
                    case seq: scala.collection.Seq[_] => seq.contains(p)
                    case _ => false
                  }))
                }.map(_.get(ii).toString)
              case _ => Nil
            }.distinct.filterNot(removed.contains)
          }.toMap
          patchVamanaIndexes(name, upserts, removed)
        }
      }
    } finally flushing.get().remove(name)
  }

  /** One patch op as a projection over the slice: id → non-null incoming
    * value as literal maps (a missing entry reads as null = "keep stored",
    * exactly left-join merge semantics), `_delete` sentinel on strings,
    * `_unset` name lists, everything guarded by the `_dead` flag.
    */
  private def applyPatch(
      df: DataFrame, storedSchema: StructType, p: PendingPatch): DataFrame = {
    val uSchema = p.schema
    val idIdx = uSchema.fieldIndex(IdCol)
    def litOf(v: Any, dt: DataType): Column =
      org.apache.spark.sql.graft.Bridge.toColumn(
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt))
    def incomingFor(c: String): Option[Column] =
      if (!uSchema.fieldNames.contains(c)) None
      else {
        val fi = uSchema.fieldIndex(c)
        val dt = uSchema(c).dataType
        val entries = p.rows.filter(!_.isNullAt(fi))
          .map(r => (r.get(idIdx).toString, r.get(fi)))
        if (entries.isEmpty) Some(lit(null).cast(dt))
        else Some(element_at(
          map_from_arrays(
            array(entries.map(e => lit(e._1)): _*),
            array(entries.map(e => litOf(e._2, dt)): _*)),
          col(IdCol)))
      }
    val unsetMap = if (uSchema.fieldNames.contains(UnsetCol)) incomingFor(UnsetCol) else None
    val merged = storedSchema.fieldNames.filterNot(_ == IdCol).map { c =>
      val dt = storedSchema(c).dataType
      val inc = incomingFor(c)
      if (inc.isEmpty && unsetMap.isEmpty) col(c).as(c)
      else {
        val stored = col(c)
        val withUnset = unsetMap match {
          case Some(un) => when(
            array_contains(coalesce(un.cast("array<string>"), array().cast("array<string>")), c),
            lit(null).cast(dt))
          case None => when(lit(false), lit(null).cast(dt))
        }
        val incoming = inc.getOrElse(lit(null))
        val value = dt match {
          case StringType =>
            withUnset
              .when(incoming === DeleteSentinel, lit(null).cast(StringType))
              .when(incoming.isNotNull, incoming)
              .otherwise(stored)
          case other =>
            withUnset
              .when(incoming.isNotNull, incoming.cast(other))
              .otherwise(stored)
        }
        when(col(DeadCol), stored).otherwise(value).as(c)
      }
    }
    df.select(col(IdCol) +: merged.toSeq :+ col(DeadCol): _*)
  }

  /** The WAL window folded as ONE broadcast-sized join instead of a
    * per-op projection chain. The net effect of the op sequence is
    * replayed driver-side — the rows are already in memory, bounded by
    * CompactThreshold × MaxUpdateBatch — into a last-write-wins action
    * per (id, column): `Some(v)` sets (cast to the stored type at apply,
    * like [[applyPatch]]'s `incoming.cast`), `None` nulls (the string
    * `_delete` sentinel and `_unset` name lists both land here), absent
    * keeps the stored value. Tombstoned ids keep their stored values in
    * the dead row version (readers never look at a tombstone's fields).
    *
    * KNOWN on-disk divergence from the per-op fallback chain: a patch
    * applied BEFORE a tombstone in the same WAL window is dropped here
    * (the dead row keeps its pre-patch stored bytes), while the chain
    * would have written the patched values into the dead row. Observable
    * behavior is identical — tombstone fields are never read — but the
    * two paths' segment BYTES differ for such rows, so byte-level
    * artifact diffing (e.g. comparing backups taken under different
    * fold regimes) must not assume dead-row stability.
    *
    * Returns None — caller falls back to the exact per-op chain — when a
    * column's winning writes carry mixed incoming dtypes (each op's cast
    * source would differ; not producible through the wire surface, which
    * decodes through the collection schema) or a stored column collides
    * with the internal `__patch_` prefix.
    */
  private def foldOpsAsJoin(
      slice: DataFrame, storedSchema: StructType,
      ops: Vector[(Long, Pending)]): Option[DataFrame] = {
    import scala.collection.mutable
    if (storedSchema.fieldNames.exists(_.startsWith("__patch_"))) return None
    val dead = mutable.Set[String]()
    // id -> column -> (action, incoming dtype); insertion order irrelevant
    // (last-wins is resolved as the replay overwrites)
    val acts = mutable.Map[String, mutable.Map[String, (Option[Any], DataType)]]()
    val storedCols = storedSchema.fields.filter(_.name != IdCol)
    val storedByName = storedCols.map(f => f.name -> f.dataType).toMap
    ops.foreach {
      case (_, PendingTombstone(ids)) => dead ++= ids
      case (_, PendingPatch(uSchema, rows)) =>
        val idIdx = uSchema.fieldIndex(IdCol)
        val valueCols = uSchema.fields.zipWithIndex.filter { case (f, _) =>
          f.name != IdCol && f.name != UnsetCol && storedByName.contains(f.name)
        }
        val unsetIdx =
          if (uSchema.fieldNames.contains(UnsetCol)) Some(uSchema.fieldIndex(UnsetCol)) else None
        rows.foreach { r =>
          val id = r.get(idIdx).toString
          if (!dead.contains(id)) {
            lazy val m = acts.getOrElseUpdate(id, mutable.Map())
            valueCols.foreach { case (f, fi) =>
              if (!r.isNullAt(fi)) {
                val v = r.get(fi)
                val isSentinel =
                  storedByName(f.name) == StringType && v == DeleteSentinel
                m(f.name) = (if (isSentinel) None else Some(v), f.dataType)
              }
            }
            // within one op the `_unset` list beats a value in the same
            // batch row (applyPatch checks it first) — replayed here by
            // applying it after the value columns
            unsetIdx.foreach { ui =>
              if (!r.isNullAt(ui)) r.get(ui) match {
                case names: scala.collection.Seq[_] =>
                  names.foreach {
                    case n: String if storedByName.contains(n) =>
                      m(n) = (None, storedByName(n))
                    case _ => ()
                  }
                case _ => ()
              }
            }
          }
        }
    }
    // dead rows keep stored values — drop their actions
    dead.foreach(acts.remove)
    val touched: Seq[String] =
      storedCols.map(_.name).filter(c => acts.values.exists(_.contains(c))).toSeq
    // one incoming dtype per column, or bail to the per-op chain
    val colType: Map[String, DataType] = touched.map { c =>
      val dts = acts.values.flatMap(_.get(c)).map(_._2).toSet
      if (dts.size > 1) return None
      c -> dts.head
    }.toMap
    val patchIds = (acts.keySet ++ dead).toSeq
    if (patchIds.isEmpty) return Some(slice)
    val patchSchema = StructType(
      StructField(IdCol, StringType) +:
      StructField("__patch_dead", BooleanType) +:
      touched.flatMap(c => Seq(
        StructField(s"__patch_v_$c", colType(c)),
        StructField(s"__patch_t_$c", BooleanType))))
    val patchRows: Seq[org.apache.spark.sql.Row] = patchIds.map { id =>
      val m = acts.getOrElse(id, mutable.Map.empty[String, (Option[Any], DataType)])
      val cells: Seq[Any] = touched.flatMap { c =>
        m.get(c) match {
          case Some((ov, _)) => Seq(ov.orNull, true)
          case None => Seq(null, false)
        }
      }
      org.apache.spark.sql.Row.fromSeq(id +: dead.contains(id) +: cells)
    }
    val patch = slice.sparkSession.createDataFrame(
      new java.util.ArrayList(patchRows.asJava), patchSchema)
    val joined = slice.join(broadcast(patch), Seq(IdCol), "left")
    val deadOut = (col(DeadCol) || coalesce(col("__patch_dead"), lit(false))).as(DeadCol)
    val merged = storedCols.map { f =>
      if (!touched.contains(f.name)) col(f.name)
      else when(coalesce(col("__patch_dead"), lit(false)), col(f.name))
        .otherwise(when(coalesce(col(s"__patch_t_${f.name}"), lit(false)),
            col(s"__patch_v_${f.name}").cast(f.dataType))
          .otherwise(col(f.name))).as(f.name)
    }
    Some(joined.select(col(IdCol) +: merged.toSeq :+ deadOut: _*))
  }

  /** Driver-side vector-length validation over the collected batch rows
    * (the Spark-agg variant would force a per-batch job).
    */
  private def validatePatchVecLens(
      uSchema: StructType, rows: Array[org.apache.spark.sql.Row],
      schema: IndexSchema): Unit = {
    val checks = schema.props.toSeq.sortBy(_._1).collect {
      case (prop, k: IndexKind.VectorFlat) if uSchema.fieldNames.contains(prop) =>
        (prop, k.vectorSize)
      case (prop, k: IndexKind.VectorVamana) if uSchema.fieldNames.contains(prop) =>
        (prop, k.vectorSize)
    }
    checks.foreach { case (prop, len) =>
      val fi = uSchema.fieldIndex(prop)
      rows.foreach { r =>
        if (!r.isNullAt(fi)) {
          val n = r.get(fi) match {
            case s: scala.collection.Seq[_] => s.length
            case a: Array[_] => a.length
            case _ => -1
          }
          require(n == len,
            s"wrong vector length for $prop (expected $len, got $n)")
        }
      }
    }
  }

  /** WAL value codec: the external-row value types an update batch can
    * carry. Recovery coerces back through the recorded schema.
    */
  private def valueToJson(v: Any): org.json4s.JValue = {
    import org.json4s._
    v match {
      case null => JNull
      case s: String => JString(s)
      case b: Boolean => JBool(b)
      case b: Byte => JLong(b.toLong)
      case s: Short => JLong(s.toLong)
      case i: Int => JLong(i.toLong)
      case l: Long => JLong(l)
      // non-finite floats render as bare NaN/Infinity tokens in compact
      // JSON — unparseable at recovery, wedging the collection. Encode as
      // string sentinels; jsonToValue maps them back for float fields.
      case f: Float if f.isNaN || f.isInfinite => JString(nonFiniteName(f.toDouble))
      case d: Double if d.isNaN || d.isInfinite => JString(nonFiniteName(d))
      case f: Float => JDouble(f.toDouble)
      case d: Double => JDouble(d)
      case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
      case d: BigDecimal => JDecimal(d)
      // binary/temporal values carry a type prefix so jsonToValue can
      // reverse them under the matching DataType branch (a STRING column
      // legitimately holding "b64:..." never reaches those branches)
      case b: Array[Byte] =>
        JString("b64:" + java.util.Base64.getEncoder.encodeToString(b))
      case t: java.sql.Timestamp => JString("ts:" + t.toInstant.toString)
      case i: java.time.Instant => JString("ts:" + i.toString)
      case d: java.sql.Date => JString("date:" + d.toString)
      case d: java.time.LocalDate => JString("date:" + d.toString)
      case m: scala.collection.Map[_, _] =>
        JArray(m.toList.map { case (k, v) =>
          JArray(List(valueToJson(k), valueToJson(v)))
        })
      case seq: scala.collection.Seq[_] => JArray(seq.map(valueToJson).toList)
      case arr: Array[_] => JArray(arr.map(valueToJson).toList)
      case r: org.apache.spark.sql.Row => JArray(r.toSeq.map(valueToJson).toList)
      case other => throw new IllegalArgumentException(
        s"unsupported WAL value type: ${other.getClass.getName}")
    }
  }

  private def nonFiniteName(d: Double): String =
    if (d.isNaN) "NaN" else if (d > 0) "Infinity" else "-Infinity"

  private def nonFiniteValue(s: String): Option[Double] = s match {
    case "NaN" => Some(Double.NaN)
    case "Infinity" => Some(Double.PositiveInfinity)
    case "-Infinity" => Some(Double.NegativeInfinity)
    case _ => None
  }

  private def jsonToValue(j: org.json4s.JValue, dt: DataType): Any = {
    import org.json4s._
    (j, dt) match {
      case (JNull | JNothing, _) => null
      // the write side's non-finite sentinels (only for float fields —
      // a STRING field legitimately holding "NaN" is untouched)
      case (JString(s), DoubleType) if nonFiniteValue(s).isDefined =>
        nonFiniteValue(s).get
      case (JString(s), FloatType) if nonFiniteValue(s).isDefined =>
        nonFiniteValue(s).get.toFloat
      case (JString(s), BinaryType) if s.startsWith("b64:") =>
        java.util.Base64.getDecoder.decode(s.substring(4))
      case (JString(s), TimestampType) if s.startsWith("ts:") =>
        java.sql.Timestamp.from(java.time.Instant.parse(s.substring(3)))
      case (JString(s), DateType) if s.startsWith("date:") =>
        java.sql.Date.valueOf(s.substring(5))
      case (JString(s), _) => s
      case (JBool(b), _) => b
      // NOTE: json4s-jackson parses every integral as JInt and every
      // decimal as JDouble — each numeric branch must exist for BOTH tags
      // or recovery hands Literal.create a mistyped value and wedges the
      // collection until the WAL file is removed by hand
      case (JLong(x), IntegerType) => x.toInt
      case (JLong(x), ShortType) => x.toShort
      case (JLong(x), ByteType) => x.toByte
      case (JLong(x), DoubleType) => x.toDouble
      case (JLong(x), FloatType) => x.toFloat
      case (JLong(x), _: DecimalType) => BigDecimal(x)
      case (JLong(x), _) => x
      case (JInt(x), IntegerType) => x.toInt
      case (JInt(x), ShortType) => x.toShort
      case (JInt(x), ByteType) => x.toByte
      case (JInt(x), DoubleType) => x.toDouble
      case (JInt(x), FloatType) => x.toFloat
      case (JInt(x), _: DecimalType) => BigDecimal(x)
      case (JInt(x), _) => x.toLong
      case (JDouble(x), FloatType) => x.toFloat
      case (JDouble(x), _: DecimalType) => BigDecimal(x)
      case (JDouble(x), _) => x
      case (JDecimal(x), DoubleType) => x.toDouble
      case (JDecimal(x), FloatType) => x.toFloat
      case (JDecimal(x), _) => x
      case (JArray(xs), MapType(kt, vt, _)) => xs.map {
        case JArray(List(k, v)) => jsonToValue(k, kt) -> jsonToValue(v, vt)
        case other => throw new IllegalStateException(s"bad WAL map entry $other")
      }.toMap
      case (JArray(xs), ArrayType(et, _)) => xs.map(jsonToValue(_, et))
      case (JArray(xs), st: StructType) => org.apache.spark.sql.Row.fromSeq(
        xs.zipWithIndex.map { case (v, i) => jsonToValue(v, st.fields(i).dataType) })
      case (JArray(xs), _) => xs.map(jsonToValue(_, StringType))
      case (other, _) => throw new IllegalStateException(s"bad WAL value $other")
    }
  }

  // ---- vamana artifact lifecycle (reference vamana/insert.go, vamana.go) --
  //
  // A built graph artifact lives under `<name>/vamana_<prop>/` as two
  // parquet dirs: `graph` (nid long, neighbors array<long>) and `idmap`
  // (_id string → nid long surrogate). Writes PATCH it — updated vectors
  // re-enter via deleteBatch+insertBatch over just the affected nodes,
  // deletes re-wire the survivors — instead of invalidating the whole
  // graph (the reference's per-point maintenance, done batch-at-a-time).
  // The artifact itself is compact (n × degree longs), so each patch
  // rewrites it atomically; at 100 TB the same base+delta layout as the
  // data would apply to the graph rows.

  /** Build (or rebuild) the graph artifact for a vamana-declared property. */
  def buildVamanaIndex(name: String, prop: String): Unit = {
    val (metric, params) = vamanaConfig(name, prop)
    val view = mergedView(name).filter(col(prop).isNotNull)
    val spark0 = spark
    import spark0.implicits._
    val idmap = view.select(col(IdCol)).as[String].rdd
      .sortBy(identity).zipWithIndex()
      .toDF(IdCol, "nid")
    val vecs = view.join(idmap, IdCol).select(col("nid").as("id"), col(prop).as("vec"))
    val graph = graft.operators.VamanaBuild.build(
      vecs, col("id"), col("vec"), metric, params)
    writeVamanaArtifact(name, prop, graph, idmap)
  }

  /** Publish a PREBUILT graph artifact for `prop` — the offline-build /
    * online-serve deployment split (DiskANN's own operating shape: the
    * graph is constructed by a batch job and only SERVED online).
    * [[buildVamanaIndex]] is this method with the build inlined, and the
    * graph is a pure function of (vectors, metric, params) — the code
    * source never shapes it — so a caller that builds once can publish
    * the SAME frames to several collections holding identical rows
    * (e.g. one per serving quantizer, the MeasureQps harness shape).
    * The caller owns that row-identity invariant; the prop must be
    * vamana-declared, which is validated here.
    */
  def importVamanaIndex(
      name: String, prop: String, graph: DataFrame, idmap: DataFrame): Unit = {
    vamanaConfig(name, prop)
    // the build path constructs these frames itself; an import must not
    // publish a swapped/mis-shaped pair as the live serving generation
    // (the failure would otherwise surface as an opaque AnalysisException
    // at the NEXT search, after the good generation is retired)
    def requireCols(df: DataFrame, which: String, cols: String*): Unit =
      cols.foreach(c => require(df.columns.contains(c),
        s"imported $which frame must carry column '$c' " +
          s"(got ${df.columns.mkString(", ")})"))
    requireCols(graph, "graph", "id", "neighbors")
    requireCols(idmap, "idmap", IdCol, "nid")
    writeVamanaArtifact(name, prop, graph, idmap)
  }

  /** The graph artifact, if built: (graph(nid, neighbors), idmap(_id, nid)). */
  def vamanaIndex(name: String, prop: String): Option[(DataFrame, DataFrame)] =
    vamanaIndexWithDir(name, prop).map { case (g, m, _) => (g, m) }

  /** [[vamanaIndex]] plus a generation-addressed scratch dir for the
    * serving-side bucketed cache (`<gen>/serve` — retired with its
    * generation, so a republish can never serve stale bucket files).
    */
  def vamanaIndexWithDir(name: String, prop: String): Option[(DataFrame, DataFrame, String)] =
    vamanaGens(name, prop).lastOption.map { case (_, dir) =>
      (spark.read.parquet(dir.resolve("graph").toString),
        spark.read.parquet(dir.resolve("idmap").toString),
        dir.resolve("serve").toString) }

  /** Published artifact generations for a property, oldest → newest.
    *
    * Generation-ADDRESSED dirs (`vamana_<prop>_g<N>`), not a fixed path:
    * the old rename-chain swap moved the live dir out from under
    * in-flight scans (a task re-opens its part files by path), so a
    * search racing a patch died with FileNotFoundException. A publish now
    * creates a FRESH dir and retires only generations older than the
    * immediately-previous one — a reader that resolved the previous
    * generation before the swap keeps scanning files that still exist
    * (the facade's one-generation retired-block deferral, applied to the
    * graph). Legacy fixed-path dirs from older builds read as generation
    * 0, including the old chain's `.prev` crash-recovery copy.
    */
  private def vamanaGens(name: String, prop: String): Seq[(Long, java.nio.file.Path)] = {
    val base = Paths.get(root, name)
    if (!Files.exists(base)) return Nil
    val prefix = s"vamana_${prop}_g"
    val listed = Files.list(base)
    val entries = try listed.iterator().asScala.toSeq finally listed.close()
    val gens = entries.flatMap { p =>
      val fn = p.getFileName.toString
      val digits = fn.drop(prefix.length)
      if (fn.startsWith(prefix) && digits.nonEmpty && digits.forall(_.isDigit) &&
        Files.exists(p.resolve("graph")))
        Some(digits.toLong -> p)
      else None
    }
    // legacy fixed path (and the old chain's .prev, if a crash left only
    // that) participates as generation 0 until the next publish retires it
    val legacy = base.resolve(s"vamana_$prop")
    val legacyPrev = base.resolve(s".prev_vamana_$prop")
    if (gens.isEmpty && !Files.exists(legacy.resolve("graph")) &&
      Files.exists(legacyPrev.resolve("graph")))
      Files.move(legacyPrev, legacy, StandardCopyOption.ATOMIC_MOVE)
    val all =
      if (Files.exists(legacy.resolve("graph"))) (0L -> legacy) +: gens else gens
    all.sortBy(_._1)
  }

  private def vamanaConfig(name: String, prop: String) = {
    val schema = readSchema(name)
    schema.get(prop) match {
      case Some(IndexKind.VectorVamana(_, m, _, db, a, _)) =>
        (m, graft.operators.VamanaBuild.Params(
          degreeBound = db, alpha = a,
          ringDegree = math.min(4, db), randomDegree = math.min(8, db)))
      case other => throw new IllegalArgumentException(
        s"$prop is not a vamana-indexed property (got $other)")
    }
  }

  private def writeVamanaArtifact(
      name: String, prop: String, graph: DataFrame, idmap: DataFrame): Unit =
    // serialized per collection: two unserialized publishers would race on
    // the shared tmp dir and could retire each other's fresh generation
    withCollLock(name) {
      val tmp = Paths.get(root, name, s".tmp_vamana_$prop")
      if (Files.exists(tmp)) deleteTree(tmp) // stale crash leftover
      graph.write.mode("overwrite").parquet(tmp.resolve("graph").toString)
      idmap.write.mode("overwrite").parquet(tmp.resolve("idmap").toString)
      val gens = vamanaGens(name, prop)
      val next = gens.lastOption.map(_._1 + 1).getOrElse(1L)
      val dst = Paths.get(root, name, s"vamana_${prop}_g$next")
      // atomic publish into a FRESH generation dir (a crash before this
      // leaves only .tmp, cleaned on the next publish; a crash after it
      // leaves an extra generation, retired on the next publish)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      // retire all but the immediately-previous generation — in-flight
      // readers of THAT generation keep their files for one more swap
      gens.dropRight(1).foreach { case (_, p) => deleteTree(p) }
    }

  /** Vamana-declared properties with a built artifact. */
  private def builtVamanaProps(name: String): Seq[String] =
    readSchema(name).props.toSeq.sortBy(_._1).collect {
      case (p, _: IndexKind.VectorVamana) if vamanaGens(name, p).nonEmpty => p
    }

  /** Patch every built artifact after a write: `removedIds` leave the
    * graph (deleteBatch re-wires their in-neighbors), upserted ids with a
    * non-null vector (re-)enter via insertBatch; an updated vector is a
    * delete+insert of just that node.
    */
  private def patchVamanaIndexes(
      name: String, upsertsByProp: Map[String, Seq[String]],
      removedIds: Seq[String]): Unit = {
    val props = builtVamanaProps(name)
    if (props.nonEmpty) {
      lazy val view = mergedView(name)
      props.foreach { prop =>
        val upsertIds = upsertsByProp.getOrElse(prop, Nil)
        val touched = (upsertIds ++ removedIds).distinct
        if (touched.nonEmpty) {
          val (metric, params) = vamanaConfig(name, prop)
          val Some((graph, idmap)) = vamanaIndex(name, prop): @unchecked
          val touchedNids = idmap.filter(col(IdCol).isin(touched: _*))
          // 1. every touched node leaves the graph (updated vectors must
          //    not serve stale edges)
          val afterDelete =
            if (touchedNids.isEmpty) graph
            else graft.operators.VamanaBuild.deleteBatch(
              graph, graphVecs(view, idmap, prop), col("id"), col("vec"),
              touchedNids.select("nid"), metric, params)
          // 2. surviving upserts re-enter with fresh vectors (new ids get
          //    fresh surrogates appended to the idmap)
          val live =
            if (upsertIds.isEmpty) view.limit(0).select(col(IdCol))
            else view.filter(col(prop).isNotNull)
              .filter(col(IdCol).isin(upsertIds: _*)).select(col(IdCol))
          val novel = live.join(idmap, Seq(IdCol), "left_anti")
          val maxNid = idmap.agg(coalesce(max("nid"), lit(-1L))).head().getLong(0)
          val spark0 = spark
          import spark0.implicits._
          val novelMap = novel.select(col(IdCol)).as[String].rdd
            .sortBy(identity).zipWithIndex()
            .map { case (id, i) => (id, maxNid + 1 + i) }
            .toDF(IdCol, "nid")
          val idmap2 = idmap
            .join(view.select(IdCol), Seq(IdCol), "left_semi") // prune dead ids
            .unionByName(novelMap)
          val insertNids = live.join(idmap, IdCol).select(col("nid"))
            .unionByName(novelMap.select(col("nid")))
          val patched =
            if (insertNids.isEmpty) afterDelete
            else graft.operators.VamanaBuild.insertBatch(
              afterDelete, graphVecs(view, idmap2, prop), col("id"), col("vec"),
              insertNids, metric, params)
          writeVamanaArtifact(name, prop, patched, idmap2)
        }
      }
    }
  }

  private def graphVecs(view: DataFrame, idmap: DataFrame, prop: String): DataFrame =
    view.filter(col(prop).isNotNull)
      .join(idmap, IdCol)
      .select(col("nid").as("id"), col(prop).as("vec"))

  // ---- quantizer lifecycle (reference models/quantizer.go:51–76) ----------

  /** The fitted quantizer artifact for a vector property, if its
    * `triggerThreshold` has fired.
    */
  def loadQuantizer(name: String, prop: String): Option[FittedQuantizer] = {
    val p = quantizerPath(name, prop)
    if (!Files.exists(p)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(Files.readString(p))
      def dbls(v: JValue): Array[Double] = (v: @unchecked) match {
        case JArray(xs) => xs.map {
          case JDouble(x) => x; case JInt(x) => x.toDouble
          case JDecimal(x) => x.toDouble; case JLong(x) => x.toDouble
          case other => throw new IllegalStateException(s"bad number $other")
        }.toArray
      }
      def ints(k: String): Int = (j \ k) match {
        case JInt(x) => x.toInt; case JLong(x) => x.toInt
        case other => throw new IllegalStateException(s"bad $k: $other") }
      def pqOf(j2: JValue): graft.operators.PQModel = {
        val JArray(subs) = (j2 \ "centroids"): @unchecked
        val cents = subs.map { case JArray(cs) =>
          cs.map(c => dbls(c).map(_.toFloat)).toArray
        case other => throw new IllegalStateException(s"bad centroids $other") }.toArray
        def i(k: String) = (j2 \ k) match {
          case JInt(x) => x.toInt; case JLong(x) => x.toInt
          case other => throw new IllegalStateException(s"bad $k: $other") }
        graft.operators.PQModel(i("m"), i("k"), i("dim"), cents)
      }
      (j \ "type") match {
        case JString("binary") => Some(FittedBinary(dbls(j \ "thresholds")))
        case JString("product") => Some(FittedProduct(pqOf(j)))
        case JString("scalar") => Some(FittedScalar(dbls(j \ "lo"), dbls(j \ "hi")))
        case JString("opq") =>
          val JArray(rows) = (j \ "rotation"): @unchecked
          val rotation = rows.map(dbls).toArray
          require(rotation.length == ints("dim") &&
            rotation.forall(_.length == ints("dim")),
            s"opq rotation is not ${ints("dim")}x${ints("dim")}")
          Some(FittedOpq(graft.operators.Opq.OpqModel(rotation, pqOf(j))))
        case JString("rabitq") =>
          val centroid = dbls(j \ "centroid")
          val JArray(rows) = (j \ "rotation"): @unchecked
          val rotation = rows.map(dbls).toArray
          require(rotation.length == centroid.length &&
            rotation.forall(_.length == centroid.length),
            s"rabitq rotation is not ${centroid.length}-square")
          Some(FittedRbq(graft.operators.RaBitQ.RbqModel(centroid, rotation)))
        case _ => None
      }
    }
  }

  private def quantizerPath(name: String, prop: String) =
    Paths.get(root, name, s"quantizer_$prop.json")

  /** Fit every declared-but-unfitted quantizer whose trigger the
    * collection's row count has crossed (the reference trains lazily the
    * same way once `triggerThreshold` vectors arrive). Idempotent: a
    * fitted artifact is never re-trained by later writes.
    */
  private def maybeFitQuantizers(name: String): Unit = {
    import graft.model.IndexKind.Quantizer
    val declared = readSchema(name).props.toSeq.sortBy(_._1).collect {
      case (p, IndexKind.VectorFlat(n, _, q)) if q != Quantizer.NoQuant => (p, n, q)
      case (p, IndexKind.VectorVamana(n, _, _, _, _, q)) if q != Quantizer.NoQuant =>
        (p, n, q)
    }.filterNot { case (p, _, _) => Files.exists(quantizerPath(name, p)) }
    if (declared.nonEmpty) {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val view = mergedView(name)
      val total = view.count()
      declared.foreach { case (prop, dim, q) =>
        val vecs = view.filter(col(prop).isNotNull)
        val json: Option[JValue] = q match {
          case Quantizer.Binary(t) if total >= t =>
            val th = graft.operators.BinaryQuantizer.fit(vecs, col(prop), dim)
            Some(JObject(
              "type" -> JString("binary"),
              "thresholds" -> JArray(th.map(JDouble(_)).toList)))
          case Quantizer.Product(kc, m, t) if total >= t =>
            val model = graft.operators.ProductQuantizer.fit(vecs, col(prop), m, kc, dim)
            Some(JObject(
              "type" -> JString("product"),
              "m" -> JInt(model.m), "k" -> JInt(model.k), "dim" -> JInt(model.dim),
              "centroids" -> JArray(model.centroids.map(sub =>
                JArray(sub.map(c =>
                  JArray(c.map(x => JDouble(x.toDouble)).toList)).toList)).toList)))
          case Quantizer.Scalar(t) if total >= t =>
            val (lo, hi) = graft.operators.ScalarQuantizer.fitMinMax(vecs, col(prop), dim)
            Some(JObject(
              "type" -> JString("scalar"),
              "lo" -> JArray(lo.map(JDouble(_)).toList),
              "hi" -> JArray(hi.map(JDouble(_)).toList)))
          case Quantizer.RaBitQ(t) if total >= t =>
            // fit = one decimal-mean pass (the centroid) + the seeded
            // rotation (a pure function of (dim, seed), corpus-free)
            val model = graft.operators.RaBitQ.fit(vecs, col(prop), dim)
            Some(JObject(
              "type" -> JString("rabitq"),
              "centroid" -> JArray(model.centroid.map(JDouble(_)).toList),
              "rotation" -> JArray(model.rotation.map(row =>
                JArray(row.map(JDouble(_)).toList)).toList)))
          case Quantizer.Opq(kc, m, t) if total >= t =>
            // Opq.fit trains BOTH stages (PCA rotation + rotated-space
            // codebooks) on the one canonical bounded sample — the exact
            // d²-cell covariance pass never touches the full corpus here
            val model = graft.operators.Opq.fit(vecs, col(prop), dim, m, kc)
            Some(JObject(
              "type" -> JString("opq"),
              "m" -> JInt(model.pq.m), "k" -> JInt(model.pq.k),
              "dim" -> JInt(model.pq.dim),
              "rotation" -> JArray(model.rotation.map(row =>
                JArray(row.map(JDouble(_)).toList)).toList),
              "centroids" -> JArray(model.pq.centroids.map(sub =>
                JArray(sub.map(c =>
                  JArray(c.map(x => JDouble(x.toDouble)).toList)).toList)).toList)))
          case _ => None
        }
        json.foreach { jv =>
          val tmp = Paths.get(root, name, s".tmp_quantizer_$prop.json")
          Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(jv)))
          Files.move(tmp, quantizerPath(name, prop), StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
  }

  // ---- storage plumbing ---------------------------------------------------

  private def normalize(df: DataFrame): DataFrame = {
    require(df.columns.contains(IdCol), s"points must carry $IdCol")
    df.withColumn(IdCol, col(IdCol).cast(StringType))
  }

  private def versions(name: String): Seq[Long] = {
    val dir = Paths.get(root, name)
    listNames(dir)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toLong }
      .sorted
  }

  private def currentVersion(name: String): Long = {
    val vs = versions(name)
    require(vs.nonEmpty, s"collection $name has no data")
    vs.last
  }

  /** Delta sequence numbers attached to base version `base`, ascending.
    * Deltas keyed to an older base are orphans from an interrupted
    * compaction and are ignored.
    */
  private def deltaSeqs(name: String, base: Long): Seq[Long] = {
    val prefix = s"d${base}_"
    listNames(Paths.get(root, name))
      .collect { case s if s.startsWith(prefix) => s.drop(prefix.length).toLong }
      .sorted
  }

  private def deltaPath(name: String, base: Long, seq: Long): String =
    Paths.get(root, name, s"d${base}_$seq").toString

  // In-memory mirror of the delta log (single-writer store, like the
  // reference's shard cache): each delta is a lineage-free checkpointed
  // frame of ≤ batch-size rows, so per-batch merge plans read memory
  // instead of re-listing and re-footer-reading parquet directories.
  // Validated against the on-disk listing on every access (staleness
  // self-heals); released on compaction/drop. Bounded by
  // CompactThreshold × batch size rows.
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Vector[(Long, DataFrame)])]()

  private def cachedDeltas(name: String, base: Long): Vector[(Long, DataFrame)] = {
    val seqs = deltaSeqs(name, base).toVector
    val cur = deltaCache.get(name)
    if (cur != null && cur._1 == base && cur._2.map(_._1) == seqs) cur._2
    else {
      if (cur != null) cur._2.foreach(f => org.apache.spark.sql.graft.Bridge.release(f._2))
      val frames = seqs.map(s =>
        s -> spark.read.parquet(deltaPath(name, base, s)).localCheckpoint())
      deltaCache.put(name, (base, frames))
      frames
    }
  }

  private def registerDelta(name: String, base: Long, seq: Long, df: DataFrame): Unit = {
    val cur = deltaCache.get(name)
    if (cur != null && cur._1 == base) deltaCache.put(name, (base, cur._2 :+ (seq -> df)))
    else deltaCache.put(name, (base, Vector(seq -> df)))
  }

  private def clearDeltaCache(name: String): Unit = {
    val cur = deltaCache.remove(name)
    if (cur != null) cur._2.foreach(f => org.apache.spark.sql.graft.Bridge.release(f._2))
    deltaRowCounts.keySet.removeIf(_._1 == name)
  }

  // footer row counts of committed (immutable) deltas, keyed
  // (name, base, seq) — evicted with the delta cache
  private val deltaRowCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()

  // Reuse the analyzed base relation per (name, version): re-creating it
  // per call re-lists the directory and re-reads footers for schema.
  private val baseCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  // Resolved doc-table frames per (name, base) — see docTable.
  private val docTableCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), DataFrame]()

  private def baseFrame(name: String, base: Long): DataFrame = {
    val cur = baseCache.get(name)
    if (cur != null && cur._1 == base) cur._2
    else {
      val df = spark.read.parquet(Paths.get(root, name, s"v$base").toString)
      baseCache.put(name, (base, df))
      df
    }
  }

  /** The current read view: base snapshot with the delta log applied.
    * The base never shuffles — delta ids are broadcast into an anti-join
    * and the winning (max `_seq`) delta row versions are unioned on. The
    * delta side is bounded by CompactThreshold × batch size.
    */
  private def mergedView(name: String): DataFrame = {
    flush(name) // fold any pending write batches first (read-your-writes)
    val base = currentVersion(name)
    viewFrom(name, base, baseFrame(name, base), cachedDeltas(name, base))
  }

  /** Build the merge-on-read view from an EXPLICIT (base, deltas) snapshot
    * — load() resolves the snapshot once under the collection lock so the
    * search view and the point-read face pin the SAME frames.
    */
  private def viewFrom(
      name: String, base: Long, baseDf: DataFrame,
      frames: Vector[(Long, DataFrame)]): DataFrame = {
    if (frames.isEmpty) baseDf
    else {
      val dAll = frames.map(_._2).reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(IdCol).orderBy(col(SeqCol).desc)
      val latest = dAll
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && !col(TombstoneCol))
        .drop("_rn", SeqCol, TombstoneCol)
      // broadcast the delta id set only while it is broadcast-SIZED.
      // Contract-sized insert/update deltas always are; a bulk ingestBatch
      // delta can carry millions of rows, where a forced broadcast is a
      // driver OOM — exactly the scale the bulk path exists for. Row
      // counts come from the parquet footers (driver-side, no job),
      // memoized per delta: a committed delta is immutable, so re-opening
      // its footers on every read would be pure rework
      val deltaRows = deltaSeqs(name, base)
        .map(s => deltaRowCounts.computeIfAbsent((name, base, s),
          _ => parquetRowCount(Paths.get(deltaPath(name, base, s))))).sum
      val idFrame = dAll.select(IdCol).distinct()
      val hinted = if (deltaRows <= IdMirrorLimit) broadcast(idFrame) else idFrame
      baseDf
        .join(hinted, Seq(IdCol), "left_anti")
        .unionByName(latest)
    }
  }

  /** Current row versions for a BOUNDED id set: point merge-on-read. The
    * base scan carries an `_id IN (...)` pushdown instead of the full
    * anti-join view, so a ≤100-row update/delete batch touches ~batch-size
    * rows (plus the tiny delta log), never the whole collection — and no
    * broadcast exchange is built per batch.
    */
  private def viewRowsFor(name: String, ids: Seq[String]): DataFrame = {
    val base = currentVersion(name)
    // serve the bounded read from the id-bucketed doc table when one is
    // ALREADY materialized for this base (a write path must never trigger
    // the attach itself — that's a corpus rewrite): the bucket-pruned
    // point read opens ~|ids| files where the plain base read schedules a
    // task per file split just to check footers — per update/delete
    // batch, the same scan-vs-point argument as the search backfill
    val docSrc = Option(docTableCache.get((name, base)))
    val baseDf = docSrc.getOrElse(baseFrame(name, base))
      .filter(col(IdCol).isin(ids: _*))
      .withColumn(SeqCol, lit(-1L))
      .withColumn(TombstoneCol, lit(false))
    val frames = cachedDeltas(name, base)
    val all =
      if (frames.isEmpty) baseDf
      else baseDf.unionByName(
        frames.map(_._2).reduce(_ unionByName _).filter(col(IdCol).isin(ids: _*)))
    // ≤ |ids| × (deltas+1) rows by construction — one partition satisfies
    // the window's clustering requirement with no exchange
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(IdCol).orderBy(col(SeqCol).desc)
    all.coalesce(1).withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col(TombstoneCol))
      .drop("_rn", SeqCol, TombstoneCol)
  }

  /** Current row versions for a BOUNDED id set answered from the
    * `_id`-BUCKETED doc table instead of a base scan: the engine's
    * point-read backfill face (Collection.pointLookup — reference
    * shard/pointstore/pointstore.go reads points from the id-keyed bbolt
    * bucket; this is that access path over parquet). The base side opens
    * only the bucket files hashing the requested ids (file-level bucket
    * pruning, the VamanaServe serving-table layout applied to the
    * collection itself); the delta overlay is bounded by
    * CompactThreshold × batch size. At 100 TB a ≤100-id backfill touches
    * ~100 bucket files + the delta log — the whole point: select-bearing
    * serving requests stop paying a corpus scan.
    *
    * `baseDf`/`deltas` are the frames the caller's snapshot pinned
    * (load()), so the read composes with in-flight searches; the plan is
    * rebound to the bucketed-scan-preserving walk session because the
    * planner's auto-demotion of bucketed scans also drops the file
    * pruning (the measured VamanaServe finding).
    */
  private def pointRows(
      name: String, base: Long, baseDf: DataFrame,
      deltas: Vector[DataFrame], ids: Seq[String]): DataFrame = {
    if (ids.isEmpty) return baseDf.limit(0)
    // docTable returns the frame ALREADY rebound to the walk session, so
    // per-request plans build incrementally on it — no whole-tree
    // re-analysis per point read
    val bucketed = docTable(name, base, baseDf)
    val b0 = bucketed.filter(col(IdCol).isin(ids: _*))
    // no deltas (fresh create, or right after compaction — the standing
    // serving state): base rows ARE the latest versions, no merge stage
    if (deltas.isEmpty) return b0
    val b = b0
      .withColumn(SeqCol, lit(-1L))
      .withColumn(TombstoneCol, lit(false))
    val all = b.unionByName(
      deltas.reduce(_ unionByName _).filter(col(IdCol).isin(ids: _*)))
    // latest-wins merge as a partial-aggregatable max_by (NOT viewRowsFor's
    // coalesce(1)+window: coalescing would fold the selected bucket files
    // into ONE task and serialize the whole point read — measured 2.3×
    // slower than the pushdown scan at 500k wide docs before this). The
    // scan side stays partition-parallel; only ≤ |ids| × (deltas+1)
    // already-combined rows cross the exchange.
    val dataCols = bucketed.columns.toSeq
    val payload = (dataCols.filterNot(_ == IdCol) :+ TombstoneCol).map(col)
    all
      .groupBy(col(IdCol))
      .agg(max_by(struct(payload: _*), col(SeqCol)).as("_w"))
      .filter(!col(s"_w.$TombstoneCol"))
      .select(dataCols.map(c =>
        if (c == IdCol) col(IdCol) else col(s"_w.$c").as(c)): _*)
  }

  /** The `_id`-bucketed + sorted doc table for base `v<base>`, materialized
    * lazily on the FIRST point read per base version (the documented O(n)
    * attach cost — the same pay-once-per-generation contract as the vamana
    * serving table) and immutable afterwards (a base version never
    * changes; compaction publishes the next one). Buckets size from the
    * base's on-disk bytes at ~32 MB/bucket: the pruning granularity lever,
    * scaling with the collection rather than fixed. Older generations are
    * retired one-behind (pinned readers of the previous base keep their
    * files for one more compaction, the store's standard deferral).
    */
  private def docTable(name: String, base: Long, baseDf: DataFrame): DataFrame = {
    // memoized per (name, base): the catalog existence probe + table
    // resolution are driver-side RPCs a per-request point read should not
    // repay (a base version is immutable, so the resolved frame never
    // staleness-checks; drop()/restore() clear the entry with the rest of
    // the caches)
    val cached = docTableCache.get((name, base))
    if (cached != null) return cached
    val dir = Paths.get(root, name, s"docserve_v$base")
    val tbl = graft.engine.VamanaServe.servingTableName(dir.toString)
    val meta = dir.resolve("_graft_buckets")
    def registered: Boolean =
      spark.catalog.tableExists(tbl) && Files.exists(dir.resolve("_SUCCESS"))
    def onDisk: Boolean =
      Files.exists(dir.resolve("_SUCCESS")) && Files.exists(meta)
    if (!registered) {
      var published = false
      if (!onDisk) {
        // build OUTSIDE the collection lock: the materialization is an
        // O(corpus) rewrite, and holding the lock for it would stall every
        // write, flush, and load on the collection for the duration (the
        // exact outage a serving store cannot take after each compaction).
        // Unique tmp dir + throwaway catalog name, atomic publish below;
        // a lost race just discards its tmp. The base is immutable, so
        // concurrent builders produce identical layouts.
        val tmp = Paths.get(root, name,
          s".tmp_docserve_v${base}_${java.util.UUID.randomUUID().toString.take(8)}")
        val tmpTbl = graft.engine.VamanaServe.servingTableName(tmp.toString)
        val bytes = treeBytes(Paths.get(root, name, s"v$base"))
        val buckets = math.min(1L << 20,
          math.max(32L, bytes / (32L * 1024 * 1024) + 1)).toInt
        // pre-shuffle onto the bucket hash so each bucket lands as ONE
        // file (the servingTable convention — otherwise every write task
        // emits its own per-bucket file and a point read opens
        // tasks×buckets small files); within-bucket sort by _id + 4 MB
        // row groups make the pushed `_id IN` skip at row-group
        // granularity INSIDE each selected bucket — with the parquet
        // default (128 MB) one row group spans the whole bucket and a
        // selected file is read in full, which measured SLOWER than the
        // pushdown corpus scan at 500k wide docs (RECALL.md).
        // The doc table is never full-scanned, so small row groups cost
        // nothing here.
        graft.operators.Bucketing.writeBucketed(
          baseDf.repartition(buckets, col(IdCol)),
          tmpTbl, tmp.toString, IdCol, buckets, sortCols = Seq(IdCol),
          options = Map("parquet.block.size" -> (4L * 1024 * 1024).toString))
        graft.operators.Bucketing.drop(spark, tmpTbl)
        // bucket-count sidecar: the catalog entry dies with the session,
        // the layout doesn't — the register step reads it back
        Files.writeString(tmp.resolve("_graft_buckets"), buckets.toString)
        withCollLock(name) {
          require(Files.exists(Paths.get(root, name, "schema.json")),
            s"collection $name does not exist (dropped concurrently?)")
          if (!Files.exists(dir))
            Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
          else deleteTree(tmp) // a concurrent builder published first
        }
        published = true
      }
      withCollLock(name) {
        // register under the lock (DDL is not concurrency-safe). Fresh
        // publishers always (re-)register — an idempotent drop+create from
        // the sidecar — so no stale same-name entry can survive a publish;
        // the restart path registers only when the entry is missing.
        if (published || !spark.catalog.tableExists(tbl)) {
          // the FILES survived the session (or were just published); only
          // the catalog entry is session-scoped. Re-REGISTER the external
          // bucketed table over the existing layout (bucket count from
          // the sidecar, schema from the immutable base) instead of
          // rewriting the corpus — a restart must cost a DDL, not a
          // shuffle.
          val buckets = Files.readString(meta).trim.toInt
          spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
          spark.sql(
            s"CREATE TABLE `$tbl` (${baseDf.schema.toDDL}) USING parquet " +
              s"CLUSTERED BY (`$IdCol`) SORTED BY (`$IdCol`) " +
              s"INTO $buckets BUCKETS LOCATION '${dir.toUri}'")
        }
        // retire doc tables of bases older than the immediately-previous
        // one, catalog entries included
        listNames(Paths.get(root, name)).foreach { s =>
          if (s.matches("docserve_v\\d+") && s.drop(10).toLong < base - 1) {
            val old = Paths.get(root, name, s)
            graft.operators.Bucketing.drop(
              spark, graft.engine.VamanaServe.servingTableName(old.toString))
            docTableCache.remove((name, s.drop(10).toLong))
            deleteTree(old)
          }
        }
      }
    }
    // cache the frame REBOUND to the bucketed-scan-preserving walk
    // session (the planner's auto-demotion of bucketed scans also drops
    // file pruning — the measured VamanaServe finding); callers build
    // per-request filters on top, inheriting the session, so the rebind's
    // analysis cost is paid once per (name, base), not per point read
    val t = graft.engine.VamanaServe.forWalkFetch(spark.table(tbl))
    docTableCache.put((name, base), t)
    t
  }

  /** Append one delta directory (full row versions of the affected ids),
    * compacting into a fresh base once the log reaches CompactThreshold.
    * Runs exactly ONE Spark job: the write executes the (tiny) merge plan
    * directly; the row count comes from the written parquet footers
    * driver-side, and an empty result removes the directory again (the
    * zero-match no-op). Returns the number of rows written.
    */
  private def writeDelta(
      name: String, rows: DataFrame, tombstone: Boolean,
      singleFile: Boolean = true): Long =
    writeDeltaFlagged(name, rows.withColumn(TombstoneCol, lit(tombstone)), singleFile)

  /** Variant for rows that already carry their own `_tombstone` flag
    * (the group-commit fold mixes patched and deleted rows in one delta).
    *
    * The WHOLE commit runs under the collection lock (single-writer per
    * collection, like the reference's one bbolt write tx per shard):
    * without it, two direct-store inserts read the same delta log and
    * race for the same `d<base>_<seq>` name, and a concurrent compact()
    * can commit a base that silently omits a just-ACKed delta. The lock
    * also closes the drop() race — a drop either completes first (the
    * existence guard below throws, nothing is written) or waits, so the
    * Spark output committer can never resurrect a dropped directory.
    */
  private def writeDeltaFlagged(
      name: String, rows: DataFrame, singleFile: Boolean = true): Long = withCollLock(name) {
    require(Files.exists(Paths.get(root, name, "schema.json")),
      s"collection $name does not exist (dropped concurrently?)")
    val base = currentVersion(name)
    val seqs = deltaSeqs(name, base)
    val next = seqs.lastOption.fold(0L)(_ + 1)
    val out = rows.withColumn(SeqCol, lit(next))
    val tmp = Paths.get(root, name, s".tmp_d${base}_$next").toString
    // contract-sized batches fold to one tiny file; bulk ingest keeps its
    // partitioning so every task writes its own file in parallel and only
    // the commit (the rename below) runs on the driver
    (if (singleFile) out.coalesce(1) else out).write.mode("overwrite").parquet(tmp)
    val written = parquetRowCount(Paths.get(tmp))
    if (written == 0) {
      deleteTree(Paths.get(tmp))
    } else {
      val dir = Paths.get(root, name, s"d${base}_$next")
      Files.move(Paths.get(tmp), dir, StandardCopyOption.ATOMIC_MOVE)
      // lazy checkpoint: the mirror frame materializes from this file on
      // its first use and is cached from then on
      registerDelta(name, base, next,
        spark.read.parquet(dir.toString).localCheckpoint(false))
      if (seqs.length + 1 >= CompactThreshold) compact(name)
    }
    written
  }

  /** Driver-side row count from parquet footers — no Spark job. */
  private def parquetRowCount(dir: java.nio.file.Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    listPaths(dir).iterator
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Fold the delta log into the next base snapshot and RETIRE the deltas.
    * Readers pin (latest base, its deltas), so destruction is deferred one
    * compaction generation: an in-flight query still holds plans over the
    * old checkpointed delta frames and directories, and destroying them
    * mid-job fails that job with missing-block/missing-file errors. The
    * PREVIOUS retired generation's frames are released now, and on-disk
    * delta dirs two or more bases old are swept (which also reclaims
    * orphans from crashed compactions that no in-memory map remembers).
    * Atomic under the collection lock: without it a writer committing a
    * delta between the fold and `writeVersion` would have its ACKed rows
    * silently omitted from the new base and its delta orphaned.
    */
  def compact(name: String): Unit = withCollLock(name) {
    // fold pending batches FIRST: flush may itself write a delta and, at
    // the threshold, recursively compact — list the log only afterwards
    // so this pass neither double-compacts nor deletes vanished dirs
    flush(name)
    val base = currentVersion(name)
    val seqs = deltaSeqs(name, base)
    if (seqs.nonEmpty) {
      writeVersion(name, mergedView(name))
      reapRetired(name)
      Option(deltaCache.remove(name))
        .foreach(cur => retiredDeltas.put(name, cur._2.map(_._2)))
      val newBase = currentVersion(name)
      listNames(Paths.get(root, name)).foreach { s =>
        if (s.matches("d\\d+_\\d+") &&
            s.drop(1).takeWhile(_ != '_').toLong <= newBase - 2)
          deleteTree(Paths.get(root, name, s))
      }
    }
  }

  // delta frames of the previous compaction generation, kept alive until
  // the NEXT compaction (or drop) so pinned reader plans can finish
  private val retiredDeltas =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[DataFrame]]()

  private def reapRetired(name: String): Unit =
    Option(retiredDeltas.remove(name))
      .foreach(_.foreach(f => org.apache.spark.sql.graft.Bridge.release(f)))

  private def writeVersion(name: String, df: DataFrame): Unit = {
    val next = versions(name) match { case Nil => 0L; case vs => vs.last + 1 }
    val tmp = Paths.get(root, name, s".tmp_v$next").toString
    df.write.mode("overwrite").parquet(tmp)
    Files.move(Paths.get(tmp), Paths.get(root, name, s"v$next"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def readSchema(name: String): IndexSchema =
    jsonToSchema(Files.readString(Paths.get(root, name, "schema.json")))
}

/** A trained quantizer artifact loaded from a collection directory. */
sealed trait FittedQuantizer
final case class FittedBinary(thresholds: Array[Double]) extends FittedQuantizer
final case class FittedProduct(model: graft.operators.PQModel) extends FittedQuantizer
final case class FittedScalar(lo: Array[Double], hi: Array[Double]) extends FittedQuantizer
final case class FittedOpq(model: graft.operators.Opq.OpqModel) extends FittedQuantizer
final case class FittedRbq(model: graft.operators.RaBitQ.RbqModel) extends FittedQuantizer

object CollectionStore {
  val IdCol = "_id"
  val UnsetCol = "_unset"
  val SeqCol = "_seq"
  val TombstoneCol = "_tombstone"
  val DeadCol = "_dead" // flush-time fold marker, never persisted under this name
  val DeleteSentinel = "_delete" // reference shard/shard.go:41
  /** Column names the write path owns — user data may not use them. */
  val ReservedCols: Seq[String] = Seq(SeqCol, TombstoneCol, DeadCol, UnsetCol, "_rn")
  val MaxInsertBatch = 10000 // reference httpapi/v2/handlers.go:229–237
  val MaxUpdateBatch = 100
  val MaxDeleteBatch = 100
  /** Delta-log length that triggers compaction into a fresh base. Bounds
    * the read-side broadcast at CompactThreshold × max batch size rows.
    */
  val CompactThreshold = 16
  /** Largest collection (live rows) mirrored as a driver-side id set for
    * O(1) liveness probes — ~4M ids ≈ low hundreds of MB of strings. Above
    * this, probes run the Spark path. A 100 TB deployment shards the store,
    * so each shard's mirror stays under this bound (the reference's
    * per-shard bbolt id bucket makes the same locality assumption).
    */
  val IdMirrorLimit = 4000000

  // minimal stable serialization of the index schema (property → kind+params)
  def schemaToJson(s: IndexSchema): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def o(pairs: (String, JValue)*): JObject = JObject(pairs.toList)
    def quant(q: IndexKind.Quantizer): JValue = q match {
      case IndexKind.Quantizer.NoQuant => JObject("type" -> JString("none"))
      case IndexKind.Quantizer.Binary(t) =>
        o("type" -> JString("binary"), "triggerThreshold" -> JInt(t))
      case IndexKind.Quantizer.Product(kc, m, t) =>
        o("type" -> JString("product"), "numCentroids" -> JInt(kc),
          "numSubVectors" -> JInt(m), "triggerThreshold" -> JInt(t))
      case IndexKind.Quantizer.Scalar(t) =>
        o("type" -> JString("scalar"), "triggerThreshold" -> JInt(t))
      case IndexKind.Quantizer.Opq(kc, m, t) =>
        o("type" -> JString("opq"), "numCentroids" -> JInt(kc),
          "numSubVectors" -> JInt(m), "triggerThreshold" -> JInt(t))
      case IndexKind.Quantizer.RaBitQ(t) =>
        o("type" -> JString("rabitq"), "triggerThreshold" -> JInt(t))
    }
    val fields = s.props.toSeq.sortBy(_._1).map { case (p, k) =>
      val obj = k match {
        case IndexKind.VectorFlat(n, m, q) =>
          o("type" -> JString(k.name), "vectorSize" -> JInt(n), "metric" -> JString(m.name),
            "quantizer" -> quant(q))
        case IndexKind.VectorVamana(n, m, ss, db, a, q) =>
          o("type" -> JString(k.name), "vectorSize" -> JInt(n), "metric" -> JString(m.name),
            "searchSize" -> JInt(ss), "degreeBound" -> JInt(db), "alpha" -> JDouble(a),
            "quantizer" -> quant(q))
        case IndexKind.Text(an) => o("type" -> JString(k.name), "analyser" -> JString(an))
        case IndexKind.Str(cs) => o("type" -> JString(k.name), "caseSensitive" -> JBool(cs))
        case IndexKind.StrArray(cs) => o("type" -> JString(k.name), "caseSensitive" -> JBool(cs))
        case _ => o("type" -> JString(k.name))
      }
      p -> (obj: JValue)
    }
    JsonMethods.compact(JsonMethods.render(JObject(fields.toList)))
  }

  def jsonToSchema(json: String): IndexSchema = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(json): @unchecked
    IndexSchema(fields.map { case (p, v) =>
      def str(k: String) = (v \ k) match { case JString(x) => x; case _ => "" }
      def int(k: String, d: Int) = (v \ k) match {
        case JInt(x) => x.toInt; case JLong(x) => x.toInt; case _ => d }
      def dbl(k: String, d: Double) = (v \ k) match {
        case JDouble(x) => x; case JInt(x) => x.toDouble; case _ => d }
      def boolOf(k: String) = (v \ k) match { case JBool(x) => x; case _ => false }
      def quant: IndexKind.Quantizer = {
        val qv = v \ "quantizer"
        def qint(k: String, d: Int) = (qv \ k) match {
          case JInt(x) => x.toInt; case JLong(x) => x.toInt; case _ => d }
        (qv \ "type") match {
          case JString("binary") =>
            IndexKind.Quantizer.Binary(qint("triggerThreshold", 10000))
          case JString("product") => IndexKind.Quantizer.Product(
            qint("numCentroids", 256), qint("numSubVectors", 8),
            qint("triggerThreshold", 10000))
          case JString("scalar") =>
            IndexKind.Quantizer.Scalar(qint("triggerThreshold", 10000))
          case JString("opq") => IndexKind.Quantizer.Opq(
            qint("numCentroids", 256), qint("numSubVectors", 8),
            qint("triggerThreshold", 10000))
          case JString("rabitq") =>
            IndexKind.Quantizer.RaBitQ(qint("triggerThreshold", 10000))
          case _ => IndexKind.Quantizer.NoQuant
        }
      }
      val kind: IndexKind = str("type") match {
        case "vectorFlat" => IndexKind.VectorFlat(
          int("vectorSize", 0), IndexKind.Metric.parse(str("metric")), quant)
        case "vectorVamana" => IndexKind.VectorVamana(
          int("vectorSize", 0), IndexKind.Metric.parse(str("metric")),
          int("searchSize", 75), int("degreeBound", 64), dbl("alpha", 1.2), quant)
        case "text" => IndexKind.Text(if (str("analyser").isEmpty) "standard" else str("analyser"))
        case "string" => IndexKind.Str(boolOf("caseSensitive"))
        case "stringArray" => IndexKind.StrArray(boolOf("caseSensitive"))
        case "integer" => IndexKind.Integer
        case "float" => IndexKind.Float
        case other => throw new IllegalArgumentException(s"unknown index type $other")
      }
      p -> kind
    }.toMap)
  }
}
