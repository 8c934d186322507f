package graft

import org.apache.spark.sql.functions._
import graft.engine.Search
import graft.model._
import graft.model.IndexKind._
import graft.store.CollectionStore

/** The point-read backfill face (Collection.pointLookup — the Spark shape
  * of the reference's id-keyed point store, shard/pointstore/pointstore
  * .go): store-loaded collections answer bounded `_id` reads from an
  * `_id`-bucketed doc table instead of scanning the merge-on-read view.
  * Laws: (1) the point route is row-identical to the full-scan fallback
  * under inserts, field-merge updates, and tombstoned deletes; (2) the
  * base side of a point read is file-level bucket-pruned (the layout is
  * the entire point at 100 TB); (3) the lookup is pinned to the snapshot
  * the Collection was loaded from — writes landing after load() are
  * invisible, exactly like the search view itself.
  */
class PointReadSpec extends SparkSuite {
  import spark.implicits._

  private val schema = IndexSchema(
    "flat" -> VectorFlat(2, Metric.Euclidean),
    "category" -> Str(caseSensitive = false),
    "size" -> Integer)

  /** n rows: id i, flat [i, i+1], category "cat <i%5>", size i. */
  private def seed(n: Int) = (0 until n).map { i =>
    (i.toString, Array(i.toFloat, (i + 1).toFloat), s"cat ${i % 5}", i.toLong)
  }.toDF("_id", "flat", "category", "size")

  /** A store collection with live deltas: base = 0..49, then one insert
    * batch (50..54), a field-merge update (size += 1000 on ids 3,7),
    * and a delete (ids 5, 12) — every overlay kind a point read must
    * honor.
    */
  private def mutatedStore(): (CollectionStore, String, String) = {
    val root = Fs.tempDir("graft_pointread_").toString
    val st = new CollectionStore(spark, root)
    st.create("docs", schema, seed(55).filter(col("size") < 50))
    st.insert("docs", seed(55).filter(col("size") >= 50))
    st.update("docs", Seq(("3", 1003L), ("7", 1007L)).toDF("_id", "size"))
    st.delete("docs", Seq("5", "12"))
    (st, "docs", root)
  }

  private def selectReq(q: Seq[Float]) = SearchRequest(
    Query("flat", vectorFlat = Some(VectorFlatOpts(q, Op.Near, 10))),
    select = Seq("category", "size"),
    sort = Seq(SortOption("size", descending = true)),
    limit = 10)

  test("point backfill ≡ full-scan backfill under insert/update/delete overlays") {
    val (st, name, root) = mutatedStore()
    val loaded = st.load(name)
    assert(loaded.pointLookup.isDefined, "store load() must wire pointLookup")
    val fallback = loaded.copy(pointLookup = None)
    for (q <- Seq(Seq(3f, 4f), Seq(52f, 53f), Seq(11f, 12f))) {
      val viaPoint = Search.search(loaded, selectReq(q)).collect().toSeq
      val viaScan = Search.search(fallback, selectReq(q)).collect().toSeq
      assert(viaPoint == viaScan, s"query $q diverged")
    }
    // the overlays really are visible through the point route: updated
    // size backfilled, deleted ids absent, inserted ids served
    val near3 = Search.search(loaded, selectReq(Seq(3f, 4f))).collect()
    val byId = near3.map(r => r.getString(0) -> r.getAs[Long]("size")).toMap
    assert(byId("3") == 1003L, byId)
    assert(!byId.contains("5"), byId)
    val near52 = Search.search(loaded, selectReq(Seq(52f, 53f))).collect()
    assert(near52.map(_.getString(0)).contains("52"))
  }

  test("_id lookups route through the point face and match the predicate route") {
    val (st, name, root) = mutatedStore()
    val loaded = st.load(name)
    val fallback = loaded.copy(pointLookup = None)
    val req = SearchRequest(
      Query("_id", stringArray = Some(
        StringArrayOpts(Seq("2", "3", "5", "52", "nope"), Op.ContainsAny))),
      select = Seq("category", "size"), limit = 10)
    val viaPoint = Search.search(loaded, req).collect().toSeq
    val viaScan = Search.search(fallback, req).collect().toSeq
    assert(viaPoint == viaScan)
    // live 2 (base), 3 (updated), 52 (delta insert); 5 tombstoned, nope never existed
    assert(viaPoint.map(_.getString(0)).sorted == Seq("2", "3", "52"))
  }

  test("the base side of a point read is bucket-pruned file I/O") {
    val (st, name, root) = mutatedStore()
    val loaded = st.load(name)
    val probe = loaded.pointLookup.get(Seq("2", "9"))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val m = sel.findFirstMatchIn(plan)
      .getOrElse(fail(s"no bucket pruning in point read:\n$plan"))
    assert(m.group(1).toInt <= 2 && m.group(1).toInt < m.group(2).toInt, plan)
    assert(plan.contains("PushedFilters: [In(_id"),
      s"no In(_id)-pushed file scan in:\n$plan")
    // at most one file per bucket (empty buckets write none) — the
    // pre-shuffle onto the bucket hash stops the tasks×buckets small-file
    // multiplication; the doc table is generation-addressed beside the
    // base it serves
    val collDir = new java.io.File(root, name)
    val serveDir = collDir.listFiles().filter(_.getName.startsWith("docserve_v"))
    assert(serveDir.length == 1, serveDir.map(_.getName).toSeq)
    val files = serveDir.head.listFiles().count(_.getName.startsWith("part-"))
    assert(files <= m.group(2).toInt && files > 0,
      s"expected ≤ one file per bucket, saw $files files for ${m.group(2)} buckets")
  }

  test("pointLookup is pinned to the loaded snapshot") {
    val (st, name, root) = mutatedStore()
    val loaded = st.load(name)
    // force the doc table + a first read, then mutate AFTER the load
    assert(loaded.pointLookup.get(Seq("2")).collect().length == 1)
    st.update(name, Seq(("2", 9999L)).toDF("_id", "size"))
    st.delete(name, Seq("9"))
    val fresh = st.load(name)
    // the pinned snapshot still serves the pre-write state (same frames
    // the search view pinned); a fresh load sees the writes
    val oldRow = loaded.pointLookup.get(Seq("2", "9")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("size")).toMap
    assert(oldRow == Map("2" -> 2L, "9" -> 9L), oldRow)
    val newRow = fresh.pointLookup.get(Seq("2", "9")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("size")).toMap
    assert(newRow == Map("2" -> 9999L), newRow)
    // the full merge-on-read view agrees — the post-materialization writes
    // flowed through viewRowsFor with the doc table as its base source
    // (the write-path point merge), so a wrong doc-table read would
    // corrupt the folded delta itself, not just the lookup
    val viewRow = fresh.df.filter(col("_id").isin("2", "9")).collect()
      .map(r => r.getAs[String]("_id") -> r.getAs[Long]("size")).toMap
    assert(viewRow == Map("2" -> 9999L), viewRow)
  }

  test("a fresh session re-registers the doc table from disk instead of rewriting") {
    val (st, name, root) = mutatedStore()
    st.load(name).pointLookup.get(Seq("2")).collect() // materialize
    val dir = new java.io.File(root, name).listFiles()
      .filter(_.getName.startsWith("docserve_v")).head
    def inventory = dir.listFiles()
      .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
    val before = inventory
    // simulate a restart: the catalog entry dies with the session, the
    // files and the bucket-count sidecar don't; a fresh store instance has
    // cold caches
    graft.operators.Bucketing.drop(spark,
      graft.engine.VamanaServe.servingTableName(dir.toString))
    val st2 = new CollectionStore(spark, root)
    val rows = st2.load(name).pointLookup.get(Seq("2", "3", "5")).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("2", "3")) // 5 tombstoned
    assert(inventory == before,
      "re-registration must be a DDL, not a rewrite of the table files")
    // and the re-registered table still bucket-prunes point reads
    val probe = st2.load(name).pointLookup.get(Seq("2"))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.exists(x => x.group(1).toInt < x.group(2).toInt), plan)
  }

  test("backups skip the derived doc table; restore rebuilds it on demand") {
    val (st, name, root) = mutatedStore()
    st.load(name).pointLookup.get(Seq("2")).collect() // materialize
    val seq = st.backup(name).get
    val snap = new java.io.File(root, s".backups/$name/$seq")
    // the doc table is a pure derivation of the immutable base — copying
    // it would double every snapshot's size and lock-hold time
    assert(!snap.listFiles().exists(_.getName.startsWith("docserve_v")),
      snap.listFiles().map(_.getName).toSeq)
    st.restore(name, seq)
    // the restored collection has no doc table and no stale catalog entry;
    // the next point read rebuilds and serves the restored state
    val rows = st.load(name).pointLookup.get(Seq("2", "5")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("2")) // 5 was tombstoned pre-backup
  }

  test("compaction publishes the next doc-table generation and retires one-behind") {
    val root = Fs.tempDir("graft_pointread_").toString
    val st = new CollectionStore(spark, root)
    st.create("c", schema, seed(20))
    val first = st.load("c")
    assert(first.pointLookup.get(Seq("1")).collect().length == 1) // docserve_v0
    // drive the delta log over CompactThreshold so compact() publishes v1+
    (0 until CollectionStore.CompactThreshold + 1).foreach { i =>
      st.update("c", Seq(("1", 100L + i)).toDF("_id", "size"))
    }
    st.compact("c")
    val after = st.load("c")
    val rows = after.pointLookup.get(Seq("1")).collect()
    assert(rows.length == 1 &&
      rows.head.getAs[Long]("size") == 100L + CollectionStore.CompactThreshold)
    val collDir = new java.io.File(root, "c")
    val gens = collDir.listFiles().map(_.getName).filter(_.startsWith("docserve_v")).sorted
    // the newest generation exists; anything older than one-behind is gone
    val base = collDir.listFiles().map(_.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(gens.contains(s"docserve_v$base"), gens.toSeq)
    assert(gens.forall(_.drop(10).toLong >= base - 1), gens.toSeq)
  }
}
