package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.{IndexKind, IndexSchema}
import graft.store.CollectionStore

class StoreSpec extends SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new CollectionStore(spark, Fs.tempDir("graft_test_").toString)

  private val schema = IndexSchema(
    "name" -> IndexKind.Str(),
    "size" -> IndexKind.Integer)

  private def seed = Seq(
    ("a", "alpha", 1L), ("b", "beta", 2L), ("c", "gamma", 3L)
  ).toDF("_id", "name", "size")

  test("backup/restore: frequency gating, retention, rollback through the WAL") {
    val st = freshStore()
    st.create("bk", schema, seed)
    var clock = 1000L
    def bak(keep: Int = 2, gap: Long = 0L) =
      st.backup("bk", keep, gap, nowSeconds = () => clock)
    val s1 = bak().get
    st.insert("bk", Seq(("d", "delta", 4L)).toDF("_id", "name", "size"))
    st.delete("bk", Seq("a"))
    // frequency gate: too soon after s1
    assert(bak(gap = 500L).isEmpty)
    clock = 2000L
    val s2 = bak().get
    st.insert("bk", Seq(("e", "eps", 5L)).toDF("_id", "name", "size"))
    clock = 3000L
    val s3 = bak(keep = 2).get
    // retention: newest 2 kept, s1 aged out
    assert(st.backups("bk") == Seq(s2, s3), s"got ${st.backups("bk")}")
    // live state has 4 rows (b c d e); roll back to s2 (b c d)
    assert(st.load("bk").df.count() == 4)
    st.restore("bk", s2)
    assert(st.load("bk").df.select("_id").as[String].collect().sorted.toSeq ==
      Seq("b", "c", "d"))
    // the snapshot survives its own restore, and the restored collection
    // accepts writes (the WAL/delta machinery came back whole)
    assert(st.backups("bk").contains(s2))
    st.insert("bk", Seq(("f", "phi", 6L)).toDF("_id", "name", "size"))
    assert(st.load("bk").df.count() == 4)
    // .backups is bookkeeping, not a collection
    assert(st.list() == Seq("bk"))
  }

  test("create + load round-trips data and schema") {
    val st = freshStore()
    st.create("c1", schema, seed)
    val coll = st.load("c1")
    assert(coll.df.count() == 3)
    assert(coll.schema.get("size").contains(IndexKind.Integer))
    assert(coll.schema.get("name").exists(_.isInstanceOf[IndexKind.Str]))
  }

  test("insert appends, aligns sparse columns, rejects duplicates") {
    val st = freshStore()
    st.create("c1", schema, seed)
    // sparse row: no name column
    assert(st.insert("c1", Seq(("d", 4L)).toDF("_id", "size")) == 1)
    val df = st.load("c1").df
    assert(df.count() == 4)
    assert(df.filter(col("_id") === "d").head().isNullAt(df.columns.indexOf("name")))
    intercept[IllegalArgumentException] {
      st.insert("c1", Seq(("a", "again", 9L)).toDF("_id", "name", "size"))
    }
    intercept[IllegalArgumentException] {
      st.insert("c1", Seq(("x", 1L), ("x", 2L)).toDF("_id", "size"))
    }
  }

  test("update merges fields, honors _delete sentinel and _unset, skips unknown ids") {
    val st = freshStore()
    st.create("c1", schema, seed)
    // merge: only size changes for b; name stays
    assert(st.update("c1", Seq(("b", 20L)).toDF("_id", "size")) == 1)
    // sentinel: name removed for a; unknown id z skipped
    assert(st.update("c1", Seq(("a", "_delete"), ("z", "nope")).toDF("_id", "name")) == 1)
    // _unset: clears size for c
    assert(st.update("c1",
      Seq(("c", Seq("size"))).toDF("_id", "_unset")) == 1)
    val rows = st.load("c1").df.orderBy("_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    val a = rows(0); val b = rows(1); val c = rows(2)
    assert(a.isNullAt(1) && a.getLong(2) == 1L)
    assert(b.getString(1) == "beta" && b.getLong(2) == 20L)
    assert(c.getString(1) == "gamma" && c.isNullAt(2))
  }

  test("delete removes by id, unknown ids are no-ops; versions accumulate") {
    val st = freshStore()
    st.create("c1", schema, seed)
    assert(st.delete("c1", Seq("a", "nope")) == 1)
    assert(st.load("c1").df.count() == 2)
    // old version still readable semantics: a second delete sees current state
    assert(st.delete("c1", Seq("b")) == 1)
    assert(st.load("c1").df.select("_id").as[String].collect().toSeq == Seq("c"))
  }

  test("update rejects duplicate ids in one batch (no row fan-out)") {
    val st = freshStore()
    st.create("c1", schema, seed)
    intercept[IllegalArgumentException] {
      st.update("c1", Seq(("a", 1L), ("a", 2L)).toDF("_id", "size"))
    }
    assert(st.load("c1").df.count() == 3)
  }

  test("vector length is validated at create and insert") {
    val st = freshStore()
    val vschema = IndexSchema("v" -> IndexKind.VectorFlat(3, IndexKind.Metric.Euclidean))
    intercept[IllegalArgumentException] {
      st.create("bad", vschema, Seq(("a", Array(1f, 2f))).toDF("_id", "v"))
    }
    st.drop("bad")
    st.create("vc", vschema, Seq(("a", Array(1f, 2f, 3f))).toDF("_id", "v"))
    intercept[IllegalArgumentException] {
      st.insert("vc", Seq(("b", Array(1f, 2f))).toDF("_id", "v"))
    }
    assert(st.insert("vc", Seq(("c", Array(4f, 5f, 6f))).toDF("_id", "v")) == 1)
  }

  test("batch bounds are enforced") {
    val st = freshStore()
    st.create("c1", schema, seed)
    intercept[IllegalArgumentException] {
      st.delete("c1", (1 to 101).map(_.toString))
    }
    intercept[IllegalArgumentException] {
      st.update("c1", (1 to 101).map(i => (i.toString, 1L)).toDF("_id", "size"))
    }
  }

  test("writes land in the WAL, fold into ONE delta at the next read") {
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir)
    st.create("c1", schema, seed)
    assert(st.update("c1", Seq(("b", 20L)).toDF("_id", "size")) == 1)
    assert(st.delete("c1", Seq("c")) == 1)
    def names = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.walk(java.nio.file.Paths.get(dir, "c1")).iterator())
      .asScala.map(_.getFileName.toString).toSeq.sorted
    // both batches durable in the WAL; no delta, no snapshot rewrite yet
    val before = names
    assert(before.count(_.matches("p\\d+\\.json")) == 2, before)
    assert(before.contains("v0") && !before.contains("v1") &&
      !before.exists(_.startsWith("d0_")), before)
    // the read folds the whole pending log into ONE delta (group commit)
    val rows = st.load("c1").df.orderBy("_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows(1).getLong(2) == 20L)
    val after = names
    assert(after.count(_.startsWith("d0_")) == 1, after)
    assert(!after.exists(_.matches("p\\d+\\.json")), after)
    // update-after-update stacks on the newest row version
    assert(st.update("c1", Seq(("b", 30L)).toDF("_id", "size")) == 1)
    assert(st.load("c1").df.filter(col("_id") === "b").head().getLong(2) == 30L)
  }

  test("a second store instance recovers the WAL (crash durability)") {
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir)
    st.create("c1", schema, seed)
    assert(st.update("c1", Seq(("b", 21L)).toDF("_id", "size")) == 1)
    assert(st.delete("c1", Seq("a")) == 1)
    // fresh instance = process restart: pending batches must survive
    val st2 = new CollectionStore(spark, dir)
    val rows = st2.load("c1").df.orderBy("_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("b", "c"))
    assert(rows(0).getLong(2) == 21L)
  }

  test("pending delete wins over a later pending update on the same id") {
    val st = freshStore()
    st.create("c1", schema, seed)
    assert(st.delete("c1", Seq("b")) == 1)
    // b is pending-deleted: the update must see it as gone
    assert(st.update("c1", Seq(("b", 99L)).toDF("_id", "size")) == 0)
    val rows = st.load("c1").df.orderBy("_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "c"))
  }

  // Drives one adversarial WAL window (last-wins rewrites, sentinel,
  // set-then-unset, unset-then-set, patch-then-tombstone, tombstone-
  // then-patch) through the public surface and returns the folded view.
  // `sizeAsInt` types ONE op's `size` as Int instead of Long, which
  // makes the column's winning writes carry mixed incoming dtypes —
  // the exact condition under which foldOpsAsJoin bails to the per-op
  // projection chain. Running the same window both ways pins the two
  // flush implementations to identical public semantics.
  private def runAdversarialWindow(sizeAsInt: Boolean): Seq[(String, Option[String], Option[String], Option[Long])] = {
    val st = freshStore()
    val sch = IndexSchema(
      "name" -> IndexKind.Str(), "tag" -> IndexKind.Str(),
      "size" -> IndexKind.Integer)
    val rows = Seq(
      ("a", "alpha", "ta", 1L), ("b", "beta", "tb", 2L),
      ("c", "gamma", "tc", 3L), ("d", "delta", "td", 4L),
      ("e", "eps", "te", 5L)).toDF("_id", "name", "tag", "size")
    st.create("f1", sch, rows)
    // 1. first writes; size dtype is the fold/fallback switch
    if (sizeAsInt) assert(st.update("f1", Seq(("b", 10)).toDF("_id", "size")) == 1)
    else assert(st.update("f1", Seq(("b", 10L)).toDF("_id", "size")) == 1)
    assert(st.update("f1", Seq(("a", "x1")).toDF("_id", "name")) == 1)
    // 2. last-wins rewrite of a.name; sentinel nulls c.name
    assert(st.update("f1", Seq(("a", "x2"), ("c", "_delete")).toDF("_id", "name")) == 2)
    // 3. unset AFTER the size write (unset wins over op 1)
    assert(st.update("f1", Seq(("b", Seq("size"))).toDF("_id", "_unset")) == 1)
    // 4. set AFTER the unset (value wins over op 3). In the fallback
    // shape this stays Int while op 4b writes c.size as Long — two ids
    // whose WINNING size writes disagree on dtype, the bail condition
    // (a single id's superseded write would be rewritten away in `acts`).
    if (sizeAsInt) assert(st.update("f1", Seq(("b", 40)).toDF("_id", "size")) == 1)
    else assert(st.update("f1", Seq(("b", 40L)).toDF("_id", "size")) == 1)
    assert(st.update("f1", Seq(("c", 30L)).toDF("_id", "size")) == 1)
    // 5. patch then tombstone: d must read as gone
    assert(st.update("f1", Seq(("d", "kept")).toDF("_id", "tag")) == 1)
    assert(st.delete("f1", Seq("d")) == 1)
    // 6. tombstone then patch: the update sees e as already gone
    assert(st.delete("f1", Seq("e")) == 1)
    assert(st.update("f1", Seq(("e", 99L)).toDF("_id", "size")) == 0)
    // 7. independent column on the sentinel'd row
    assert(st.update("f1", Seq(("c", "t2")).toDF("_id", "tag")) == 1)
    st.load("f1").df.orderBy("_id").collect().toSeq.map { r =>
      (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }
  }

  test("WAL fold: adversarial multi-op window folds to chain-equivalent state") {
    val view = runAdversarialWindow(sizeAsInt = false)
    assert(view == Seq(
      ("a", Some("x2"), Some("ta"), Some(1L)),
      ("b", Some("beta"), Some("tb"), Some(40L)),
      ("c", None, Some("t2"), Some(30L))), view)
  }

  test("WAL fold: mixed incoming dtypes fall back to the per-op chain, same view") {
    // Int-typed size write forces the fallback; the public view must be
    // byte-identical to the fold path's.
    assert(runAdversarialWindow(sizeAsInt = true) ==
      runAdversarialWindow(sizeAsInt = false))
  }

  test("WAL fold: seeded random windows match an in-memory model (both dtypes)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val sch = IndexSchema("name" -> IndexKind.Str(), "size" -> IndexKind.Integer)
    val ids = ('a' to 'h').map(_.toString)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val st = freshStore()
      val coll = s"r$seed"
      st.create(coll, sch,
        ids.zipWithIndex.map { case (id, i) => (id, s"n$i", i.toLong) }
          .toDF("_id", "name", "size"))
      // in-memory model of the public semantics
      val live = scala.collection.mutable.Set(ids: _*)
      val nameM = scala.collection.mutable.Map(ids.zipWithIndex.map {
        case (id, i) => id -> (s"n$i": String) }: _*)
      val sizeM = scala.collection.mutable.Map[String, java.lang.Long](
        ids.zipWithIndex.map { case (id, i) => id -> java.lang.Long.valueOf(i.toLong) }: _*)
      val nOps = 6 + rnd.nextInt(7)
      for (_ <- 0 until nOps) {
        if (rnd.nextInt(10) < 4) {
          val del = rnd.shuffle(ids).take(1 + rnd.nextInt(2))
          st.delete(coll, del)
          del.foreach { id => live -= id }
        } else {
          val sizeAsInt = rnd.nextBoolean() // mixes fold and fallback paths
          val rows = rnd.shuffle(ids).take(1 + rnd.nextInt(3)).map { id =>
            val setName = rnd.nextInt(3) // 0 none, 1 value, 2 sentinel
            val nm: String = setName match {
              case 1 => s"v${rnd.nextInt(100)}"
              case 2 => "_delete"
              case _ => null
            }
            val sz: Any =
              if (rnd.nextBoolean())
                (if (sizeAsInt) Integer.valueOf(rnd.nextInt(1000))
                 else java.lang.Long.valueOf(rnd.nextInt(1000).toLong))
              else null
            val unset: Seq[String] =
              if (rnd.nextInt(4) == 0) Seq(if (rnd.nextBoolean()) "name" else "size")
              else null
            (id, nm, sz, unset)
          }
          val schema = StructType(Seq(
            StructField("_id", StringType),
            StructField("name", StringType),
            StructField("size", if (sizeAsInt) IntegerType else LongType),
            StructField("_unset", ArrayType(StringType))))
          val df = spark.createDataFrame(
            java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3, r._4)): _*),
            schema)
          st.update(coll, df)
          rows.foreach { case (id, nm, sz, unset) =>
            if (live(id)) {
              if (nm != null) nameM(id) = if (nm == "_delete") null else nm
              if (sz != null) sizeM(id) = (sz match {
                case i: Integer => java.lang.Long.valueOf(i.longValue())
                case l: java.lang.Long => l
                case other => sys.error(s"unexpected size $other")
              })
              if (unset != null) unset.foreach {
                case "name" => nameM(id) = null
                case "size" => sizeM(id) = null
              }
            }
          }
        }
      }
      val got = st.load(coll).df.orderBy("_id").collect().map { r =>
        (r.getString(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))
      }.toSeq
      val want = ids.filter(live).sorted.map(id => (id, nameM(id), sizeM(id)))
      assert(got == want, s"seed $seed: $got != $want")
    }
  }

  test("merge-on-read plan: delta ids broadcast into the base scan, no sort-merge join") {
    val st = freshStore()
    st.create("c1", schema, seed)
    st.update("c1", Seq(("b", 20L)).toDF("_id", "size"))
    val plan = st.load("c1").df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("delta log compacts into the next base at the threshold") {
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir)
    st.create("c1", schema, seed)
    // update+read cycles: each read folds one batch into its own delta,
    // so the DELTA log (not just the WAL) reaches the threshold
    (1 to CollectionStore.CompactThreshold).foreach { i =>
      st.update("c1", Seq(("a", i.toLong)).toDF("_id", "size"))
      st.load("c1").df.count()
    }
    def entries = Files.list(java.nio.file.Paths.get(dir, "c1")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(entries)
      .asScala.map(_.getFileName.toString).toSeq.sorted
    assert(names.contains("v1"), names)
    // base-0 delta dirs are RETIRED, not destroyed (in-flight readers may
    // still hold plans over them); the next compaction sweeps them — see
    // the dedicated retirement test. New reads key deltas to base 1 only.
    assert(!names.exists(_.startsWith("d1_")), names)
    val a = st.load("c1").df.filter(col("_id") === "a").head()
    assert(a.getLong(2) == CollectionStore.CompactThreshold.toLong)
    assert(st.load("c1").df.count() == 3)
  }

  test("update validates vector length (no silent truncation)") {
    val st = freshStore()
    val vschema = IndexSchema("v" -> IndexKind.VectorFlat(3, IndexKind.Metric.Euclidean))
    st.create("vc", vschema, Seq(("a", Array(1f, 2f, 3f))).toDF("_id", "v"))
    intercept[IllegalArgumentException] {
      st.update("vc", Seq(("a", Array(1f, 2f))).toDF("_id", "v"))
    }
    assert(st.update("vc", Seq(("a", Array(7f, 8f, 9f))).toDF("_id", "v")) == 1)
  }

  test("non-finite floats survive the WAL round-trip (crash recovery)") {
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir)
    val vschema = IndexSchema("price" -> IndexKind.Float,
      "v" -> IndexKind.VectorFlat(2, IndexKind.Metric.Euclidean))
    st.create("nf", vschema,
      Seq(("a", 1.0, Array(1f, 2f)), ("b", 2.0, Array(3f, 4f))).toDF("_id", "price", "v"))
    // NaN scalar + Infinity inside a vector: compact JSON would render
    // bare NaN/Infinity tokens that recovery cannot parse, wedging the
    // collection — the sentinel codec must round-trip them
    st.update("nf", Seq(("a", Double.NaN)).toDF("_id", "price"))
    st.update("nf", Seq(("b", Array(Float.PositiveInfinity, 5f))).toDF("_id", "v"))
    // fresh instance = crash before the fold: recovery parses the WAL
    val st2 = new CollectionStore(spark, dir)
    val rows = st2.load("nf").df.orderBy("_id").collect()
    assert(rows(0).getDouble(1).isNaN)
    assert(rows(1).getSeq[Float](2).head.isPosInfinity)
    assert(rows(1).getSeq[Float](2)(1) == 5f)
  }

  test("list on a fresh root is empty; zero-match writes are no-ops on disk") {
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir)
    assert(st.list().isEmpty)
    st.create("c1", schema, seed)
    assert(st.list() == Seq("c1"))
    assert(st.delete("c1", Seq("nope")) == 0)
    assert(st.update("c1", Seq(("nope", 1L)).toDF("_id", "size")) == 0)
    def entries = Files.walk(java.nio.file.Paths.get(dir, "c1")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(entries)
      .asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(_.startsWith("d0_")), names) // nothing written
    assert(!names.exists(_.matches("p\\d+\\.json")), names) // no WAL entries
  }

  test("quantizer auto-trigger: fits once the row count crosses triggerThreshold") {
    import graft.store.{FittedBinary, FittedProduct}
    val st = freshStore()
    val vschema = IndexSchema(
      "v" -> IndexKind.VectorFlat(4, IndexKind.Metric.Euclidean,
        IndexKind.Quantizer.Binary(triggerThreshold = 5)),
      "w" -> IndexKind.VectorFlat(4, IndexKind.Metric.Euclidean,
        IndexKind.Quantizer.Product(numCentroids = 2, numSubVectors = 2,
          triggerThreshold = 5)))
    def pts(ids: Range) = ids.map { i =>
      (i.toString, Array(i.toFloat, 2f * i, -i.toFloat, 0.5f * i),
        Array(i.toFloat, i.toFloat, 1f - i, 2f + i))
    }.toDF("_id", "v", "w")
    st.create("qc", vschema, pts(0 until 3))
    assert(st.loadQuantizer("qc", "v").isEmpty) // 3 rows < trigger 5
    assert(st.loadQuantizer("qc", "w").isEmpty)
    st.insert("qc", pts(3 until 6)) // 6 rows ≥ trigger → both fit
    val bin = st.loadQuantizer("qc", "v")
    assert(bin.exists { case FittedBinary(th) => th.length == 4; case _ => false })
    // thresholds are the per-dimension means of all 6 vectors
    val th = bin.get.asInstanceOf[FittedBinary].thresholds
    assert(math.abs(th(0) - (0 until 6).map(_.toDouble).sum / 6) < 1e-9)
    val pq = st.loadQuantizer("qc", "w")
    assert(pq.exists {
      case FittedProduct(m) => m.m == 2 && m.k == 2 && m.dim == 4
      case _ => false
    })
    // fitted artifacts survive the schema round-trip and later writes
    st.insert("qc", pts(6 until 8))
    assert(st.loadQuantizer("qc", "v").isDefined)
  }

  test("quantizer config round-trips through schema.json") {
    val st = freshStore()
    val vschema = IndexSchema(
      "v" -> IndexKind.VectorFlat(4, IndexKind.Metric.Cosine,
        IndexKind.Quantizer.Product(numCentroids = 8, numSubVectors = 4,
          triggerThreshold = 100)))
    st.create("qr", vschema,
      Seq(("a", Array(1f, 2f, 3f, 4f))).toDF("_id", "v"))
    val loaded = st.load("qr").schema.get("v")
    assert(loaded.contains(IndexKind.VectorFlat(4, IndexKind.Metric.Cosine,
      IndexKind.Quantizer.Product(8, 4, 100))))
  }

  test("user plan quotas: collection count and points per collection") {
    import graft.store.UserPlan
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir,
      UserPlan(maxCollections = 1, maxPointsPerCollection = 4))
    st.create("c1", schema, seed) // 3 points
    intercept[IllegalArgumentException] {
      st.create("c2", schema, seed) // plan allows 1 collection
    }
    assert(st.insert("c1", Seq(("d", 4L)).toDF("_id", "size")) == 1) // 4 ≤ 4
    intercept[IllegalArgumentException] {
      st.insert("c1", Seq(("e", 5L)).toDF("_id", "size")) // would be 5 > 4
    }
    assert(st.load("c1").df.count() == 4)
  }

  test("vamana artifact follows store writes: insert, vector update, delete") {
    import graft.operators.VamanaBuild
    import graft.model.IndexKind.Metric
    val st = freshStore()
    val vschema = IndexSchema(
      "v" -> IndexKind.VectorVamana(2, IndexKind.Metric.Euclidean, degreeBound = 32))
    // a small grid of points: exact neighbors are easy to reason about
    val pts = (0 until 20).map(i => (s"p$i", Array(i.toFloat, (i % 5).toFloat)))
    st.create("vc", vschema, pts.toDF("_id", "v"))
    st.buildVamanaIndex("vc", "v")
    def artifact = st.vamanaIndex("vc", "v").get
    assert(artifact._1.count() == 20 && artifact._2.count() == 20)

    // insert: new points join the graph with fresh surrogate ids
    assert(st.insert("vc", Seq(("p20", Array(20f, 0f)), ("p21", Array(21f, 1f)))
      .toDF("_id", "v")) == 2)
    val (g1, m1) = artifact
    assert(m1.count() == 22 && g1.count() == 22)
    assert(m1.filter(col("_id") === "p20").count() == 1)

    // vector update: the node re-enters with the fresh vector
    assert(st.update("vc", Seq(("p3", Array(100f, 100f))).toDF("_id", "v")) == 1)
    st.load("vc").df.count() // flush folds the patch + graph
    val (g2, m2) = artifact
    assert(g2.count() == 22)
    // nid mapping must be read BEFORE the next patch swaps the artifact
    val deadNids = m2.filter(col("_id").isin("p7", "p20"))
      .select("nid").collect().map(_.getLong(0)).toSet
    // delete: node leaves graph and idmap; survivors stay connected
    assert(st.delete("vc", Seq("p7", "p20")) == 2)
    st.load("vc").df.count()
    val (g3, m3) = artifact
    assert(g3.count() == 20 && m3.count() == 20)
    val adj = g3.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(adj.keySet.intersect(deadNids).isEmpty)
    assert(adj.values.forall(_.forall(n => !deadNids.contains(n))))
    // BFS over survivors still spans the graph
    val start = adj.keys.min
    val seen = scala.collection.mutable.Set(start)
    var frontier = List(start)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj(_)).filterNot(seen)
      seen ++= frontier
    }
    assert(seen.size == adj.size, s"BFS ${seen.size}/${adj.size}")
  }

  test("W5: JSON documents ingest through spark.read.json into a collection") {
    val st = freshStore()
    st.create("c1", schema, seed)
    val json = Seq(
      """{"_id": "j1", "name": "from json", "size": 7}""",
      """{"_id": "j2", "size": 8, "ignored_extra": true}""")
    val parsed = spark.read.json(json.toDS())
    assert(st.insert("c1", parsed) == 2)
    val rows = st.load("c1").df.filter(col("_id").startsWith("j")).orderBy("_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("name") == "from json" && rows(0).getAs[Long]("size") == 7L)
    // unknown JSON fields are dropped by schema alignment; missing → null
    assert(rows(1).isNullAt(rows(1).fieldIndex("name")))
  }

  test("searching a stored collection works (store → engine integration)") {
    val st = freshStore()
    st.create("c1", schema, seed)
    import graft.model._
    val got = graft.engine.Search.search(st.load("c1"), SearchRequest(
      Query("size", integer = Some(IntegerOpts(2, Op.GreaterOrEq))), limit = 10)).collect()
    assert(got.map(_.getAs[String]("_id")).sorted.toSeq == Seq("b", "c"))
  }

  test("create rejects user columns that collide with store-internal names") {
    val st = freshStore()
    val bad = Seq(("a", "x", 7L)).toDF("_id", "name", "_seq")
    val e = intercept[IllegalArgumentException] {
      st.create("c1", schema, bad)
    }
    assert(e.getMessage.contains("reserved"))
    // _tombstone likewise; the collection directory must not be created
    intercept[IllegalArgumentException] {
      st.create("c2", schema, Seq(("a", true)).toDF("_id", "_tombstone"))
    }
    assert(st.list().isEmpty)
  }

  test("binary, timestamp, date, and map columns survive the WAL (crash recovery)") {
    val dir = Fs.tempDir("graft_test_").toString
    val st = new CollectionStore(spark, dir)
    val data = Seq(
      ("a", Array[Byte](1, 2, 3), java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"),
        java.sql.Date.valueOf("2026-01-02"), Map("k" -> 1L)),
      ("b", Array[Byte](9), java.sql.Timestamp.valueOf("2026-06-07 08:09:10"),
        java.sql.Date.valueOf("2026-06-07"), Map("m" -> 2L))
    ).toDF("_id", "blob", "at", "day", "tags")
    st.create("c1", schema2(data), data)
    // update every exotic column through the WAL, then recover in a FRESH
    // instance (crash before the fold) — the codec must round-trip all of
    // them or the collection wedges at flush
    assert(st.update("c1", Seq(
      ("a", Array[Byte](42, 43), java.sql.Timestamp.valueOf("2027-12-31 23:59:59.999"),
        java.sql.Date.valueOf("2027-12-31"), Map("z" -> 9L, "w" -> 8L))
    ).toDF("_id", "blob", "at", "day", "tags")) == 1)
    val st2 = new CollectionStore(spark, dir)
    val a = st2.load("c1").df.filter(col("_id") === "a").head()
    assert(a.getAs[Array[Byte]]("blob").toSeq == Seq[Byte](42, 43))
    assert(a.getAs[java.sql.Timestamp]("at") ==
      java.sql.Timestamp.valueOf("2027-12-31 23:59:59.999"))
    assert(a.getAs[java.sql.Date]("day") == java.sql.Date.valueOf("2027-12-31"))
    assert(a.getAs[Map[String, Long]]("tags") == Map("z" -> 9L, "w" -> 8L))
    // untouched row unchanged
    val b = st2.load("c1").df.filter(col("_id") === "b").head()
    assert(b.getAs[Array[Byte]]("blob").toSeq == Seq[Byte](9))
  }

  private def schema2(df: org.apache.spark.sql.DataFrame) = schema // extras are unindexed

  test("delete rejects null ids with a clear error (both probe paths)") {
    val st = freshStore()
    st.create("c1", schema, seed)
    val e = intercept[IllegalArgumentException] {
      st.delete("c1", Seq("a", null))
    }
    assert(e.getMessage.contains("null _id"))
  }

  test("compaction retires delta dirs one generation before destroying them") {
    val st = freshStore()
    st.create("c1", schema, seed)
    // drive two compactions via the public API
    (1 to 3).foreach(i => st.insert("c1", Seq((s"x$i", s"n$i", i.toLong)).toDF("_id", "name", "size")))
    st.compact("c1")
    // generation 1's delta dirs (base 0) survive the first compaction
    val rootDir = storeRoot(st)
    val afterFirst = listDeltaDirs(rootDir)
    assert(afterFirst.exists(_.startsWith("d0_")), s"gen-1 deltas destroyed early: $afterFirst")
    (1 to 3).foreach(i => st.insert("c1", Seq((s"y$i", s"m$i", i.toLong)).toDF("_id", "name", "size")))
    st.compact("c1")
    // after the second compaction the base-0 dirs are swept, base-1 retired
    val afterSecond = listDeltaDirs(rootDir)
    assert(!afterSecond.exists(_.startsWith("d0_")), s"gen-1 deltas not swept: $afterSecond")
    assert(afterSecond.exists(_.startsWith("d1_")), s"gen-2 deltas destroyed early: $afterSecond")
    // the view stays correct throughout
    assert(st.load("c1").df.count() == 9)
  }

  // the store doesn't expose its root; recover it from a known child
  private def storeRoot(st: CollectionStore): String = {
    val f = st.getClass.getDeclaredField("root")
    f.setAccessible(true)
    f.get(st).asInstanceOf[String]
  }
  private def listDeltaDirs(root: String): Seq[String] = {
    val s = Files.list(java.nio.file.Paths.get(root, "c1"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("d\\d+_\\d+")).toSeq
    } finally s.close()
  }

  test("staleness law: serve-after-delete returns no deleted id through every serving family") {
    // Pins the metadata-only shortcut's consistency invariant (round-12
    // verdict item #6): Search.assemble returns the ranked frame WITHOUT
    // a backfill join on the metadata-only serving shape, which assumes
    // every ranked id still exists in the collection — i.e. the store
    // keeps every serving artifact (vamana graph, fitted quantizer)
    // write-consistent. A stale artifact would surface a deleted id here.
    import graft.model._
    val dir = Fs.tempDir("graft_stale_").toString
    val db = graft.Graft(spark, dir)
    val n = 30
    val rows = (0 until n).map(i =>
      (s"p$i", Array(i.toFloat, (i % 7).toFloat), Array(i.toFloat, (i % 7).toFloat),
        s"tok$i shared corpus text"))
    db.createCollection("c", IndexSchema(
      "v" -> IndexKind.VectorVamana(2, IndexKind.Metric.Euclidean, degreeBound = 32),
      "f" -> IndexKind.VectorFlat(2, IndexKind.Metric.Euclidean,
        IndexKind.Quantizer.Scalar(triggerThreshold = 1)),
      "t" -> IndexKind.Text()), rows.toDF("_id", "v", "f", "t"))
    db.buildVamanaIndex("c", "v")
    // the deleted ids are the NEAREST to the query vector (and text
    // matches) — exactly the rows a stale artifact would keep returning
    val deleted = Seq("p0", "p1", "p2")
    assert(db.delete("c", deleted) == 3)
    def servedIds(json: String): Seq[String] =
      db.search("c", json).collect().map(_.getAs[String]("_id")).toSeq
    // every serving family, metadata-only (select [] — the shortcut path)
    val families = Seq(
      // exact flat near
      """{"query":{"property":"f","vectorFlat":{"vector":[0.0,0.0],"operator":"near","limit":10}},"select":[],"limit":10}""",
      // approx flat near via the fitted SQ8 artifact
      """{"query":{"property":"f","vectorFlat":{"vector":[0.0,0.0],"operator":"near","limit":10,"approx":true}},"select":[],"limit":10}""",
      // exact vamana near
      """{"query":{"property":"v","vectorVamana":{"vector":[0.0,0.0],"operator":"near","searchSize":25,"limit":10}},"select":[],"limit":10}""",
      // approx vamana near via the store-maintained graph
      """{"query":{"property":"v","vectorVamana":{"vector":[0.0,0.0],"operator":"near","searchSize":25,"limit":10,"approx":true}},"select":[],"limit":10}""",
      // text search
      """{"query":{"property":"t","text":{"value":"shared corpus","operator":"containsAny","limit":10}},"select":[],"limit":10}""")
    families.foreach { json =>
      val got = servedIds(json)
      assert(got.nonEmpty, s"family returned nothing: $json")
      assert(got.toSet.intersect(deleted.toSet).isEmpty,
        s"deleted id served after delete: $got via $json")
    }
    graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("concurrent update batches on one collection lose no acked op") {
    // regression for the WAL seq race: two batches reading the same pending
    // vector computed the same seq, renamed over each other's WAL file, and
    // silently dropped an acknowledged op
    val st = freshStore()
    val ids = (0 until 40).map(i => f"p$i%02d")
    st.create("c1", schema,
      ids.map(id => (id, "orig", 0L)).toDF("_id", "name", "size"))
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        // each thread updates its own 10 ids in two 5-id batches
        ids.slice(t * 10, t * 10 + 10).grouped(5).foreach { b =>
          val n = st.update("c1",
            b.map(id => (id, s"w$t")).toDF("_id", "name"))
          assert(n == 5)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val rows = st.load("c1").df.select("_id", "name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == 40)
    // every thread's every op must have landed (no lost acked updates)
    ids.zipWithIndex.foreach { case (id, i) =>
      assert(rows(id) == s"w${i / 10}", s"$id lost its update")
    }
  }
}
