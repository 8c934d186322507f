package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Hdf5, Hdf5Write}
import graft.sources.Hdf5.{F32, F64, I32}

/** Round-trips the pure-JVM HDF5 subset: the writer assembles
  * spec-conformant bytes, the reader re-derives them from
  * signatures/versions, and values are checked against the in-memory
  * source matrix (the hdf5_load gate additionally pins the decoded
  * values to a DuckDB closed-form replay).
  */
class Hdf5Spec extends SparkSuite {

  private def tmp(n: String) =
    Fs.tempDir("graft_h5_").resolve(n).toString

  // deterministic matrix, exactly representable in float32 (≤3 fraction
  // bits, small magnitude) so f64/f32 round-trips compare with ==
  private def mat(rows: Int, cols: Int): Array[Array[Double]] =
    Array.tabulate(rows, cols)((i, j) => ((i * 131 + j * 17) % 1000) / 8.0)

  test("contiguous float32 dataset round-trips exactly") {
    val p = tmp("plain.hdf5")
    val m = mat(100, 7)
    Hdf5Write.write(p, Seq(Hdf5Write.Spec("train", m, F32)))
    val ds = Hdf5.datasets(p)
    assert(ds.map(_.name) == Seq("train"))
    assert(ds.head.rows == 100 && ds.head.cols == 7 && ds.head.dtype == F32)
    val back = Hdf5.readRows(p, ds.head, 0, 100)
    assert(back.map(_.toSeq).toSeq == m.map(_.toSeq).toSeq)
    // partial range: rows [37, 61)
    val part = Hdf5.readRows(p, ds.head, 37, 61)
    assert(part.map(_.toSeq).toSeq == m.slice(37, 61).map(_.toSeq).toSeq)
  }

  test("chunked float64 with shuffle+deflate round-trips, chunk edges padded") {
    val p = tmp("packed.hdf5")
    // 53 rows, 11 cols with 16x4 chunks: ragged edges in both dims
    val m = mat(53, 11)
    Hdf5Write.write(p, Seq(Hdf5Write.Spec(
      "train", m, F64, chunk = Some((16, 4)), shuffle = true, deflate = true)))
    val ds = Hdf5.datasets(p).head
    assert(ds.dtype == F64)
    val back = Hdf5.readRows(p, ds, 0, 53)
    assert(back.map(_.toSeq).toSeq == m.map(_.toSeq).toSeq)
    // a range crossing chunk-row boundaries
    val part = Hdf5.readRows(p, ds, 13, 37)
    assert(part.map(_.toSeq).toSeq == m.slice(13, 37).map(_.toSeq).toSeq)
  }

  test("multiple datasets resolve by name through the symbol table") {
    val p = tmp("ann.hdf5")
    val train = mat(40, 5)
    val test_ = mat(8, 5).map(_.map(_ + 0.125))
    val neighbors = Array.tabulate(8, 10)((i, j) => ((i * 10 + j) % 40).toDouble)
    Hdf5Write.write(p, Seq(
      Hdf5Write.Spec("train", train, F32),
      Hdf5Write.Spec("test", test_, F32),
      Hdf5Write.Spec("neighbors", neighbors, I32)))
    val ds = Hdf5.datasets(p)
    assert(ds.map(_.name).sorted == Seq("neighbors", "test", "train"))
    val n = ds.find(_.name == "neighbors").get
    assert(n.dtype == I32)
    assert(Hdf5.readRows(p, n, 3, 4).head.toSeq == neighbors(3).toSeq)
    val t = ds.find(_.name == "train").get
    assert(Hdf5.readRows(p, t, 0, 40).map(_.toSeq).toSeq == train.map(_.toSeq).toSeq)
  }

  test("distributed matrix read: many slices reassemble the full table") {
    val p = tmp("dist.hdf5")
    val m = mat(257, 6) // prime-ish row count vs 32 slices: ragged ranges
    Hdf5Write.write(p, Seq(Hdf5Write.Spec("train", m, F32)))
    val df = Hdf5.matrix(spark, p, "train", slices = 32)
    assert(df.rdd.getNumPartitions == 32)
    val rows = df.orderBy("vec_id").collect()
    assert(rows.length == 257)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i.toLong)
      assert(r.getSeq[Float](1).map(_.toDouble) == m(i).toSeq, s"row $i")
    }
  }

  test("distributed chunked read: driver-parsed chunk subsets, aligned bounds") {
    val p = tmp("dist_chunked.hdf5")
    val m = mat(257, 6)
    Hdf5Write.write(p, Seq(Hdf5Write.Spec(
      "train", m, F64, chunk = Some((10, 6)), deflate = true)))
    // slices (32) don't divide the 26 chunk-rows: bounds snap to chunk
    // boundaries, some collapse, every row still arrives exactly once
    val rows = Hdf5.matrix(spark, p, "train", slices = 32)
      .orderBy("vec_id").collect()
    assert(rows.length == 257)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i.toLong)
      assert(r.getSeq[Float](1).map(_.toDouble) == m(i).toSeq, s"row $i")
    }
  }

  test("reference loader parity: angular file names normalize and pick cosine") {
    val dir = Fs.tempDir("graft_h5_")
    val pe = dir.resolve("mnist-784-euclidean.hdf5").toString
    val pa = dir.resolve("glove-25-angular.hdf5").toString
    val m = mat(20, 4).map(_.map(_ + 1.0)) // keep away from the zero vector
    Hdf5Write.write(pe, Seq(Hdf5Write.Spec("train", m, F32)))
    Hdf5Write.write(pa, Seq(Hdf5Write.Spec("train", m, F32)))
    val (de, metE) = Hdf5.vectors(spark, pe)
    val (da, metA) = Hdf5.vectors(spark, pa)
    assert(metE == "euclidean" && metA == "cosine")
    val rawRow = de.orderBy("vec_id").head.getSeq[Float](1)
    assert(rawRow.map(_.toDouble) == m(0).toSeq)
    // every normalized row has unit L2 norm (float32 tolerance, like the
    // reference's float32 normalise loop, loadhdf5.go:17-27)
    da.collect().foreach { r =>
      val v = r.getSeq[Float](1)
      val n2 = v.map(x => x.toDouble * x).sum
      assert(math.abs(n2 - 1.0) < 1e-5, s"row ${r.getLong(0)}: |v|^2 = $n2")
    }
  }

  test("importHdf5: ann-benchmarks file becomes a searchable collection") {
    val dir = Fs.tempDir("graft_h5_imp_")
    val p = dir.resolve("rand-4-angular.hdf5").toString
    // distinct directions so cosine ranking is unambiguous
    val m = Array.tabulate(30, 4)((i, j) =>
      (if (j == i % 4) 8.0 else 1.0) + (i / 4) * 0.125)
    graft.sources.Hdf5Write.write(p, Seq(Hdf5Write.Spec("train", m, F32)))
    val db = graft.Graft(spark,
      Fs.tempDir("graft_h5_db_").toString)
    assert(db.importHdf5("bench", p) == "cosine")
    // the stored vectors are normalized (angular), and the nearest
    // neighbor of row 0's own direction is row 0 itself
    val q = m(0).map(x => x / math.sqrt(m(0).map(y => y * y).sum))
    val hits = db.search("bench",
      s"""{"query": {"property": "vector",
         |  "vectorVamana": {"vector": [${q.mkString(",")}],
         |                   "operator": "near", "limit": 3}},
         | "limit": 3, "select": []}""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(hits.head == "000000000000", hits)
    assert(hits.length == 3)
  }

  test("DataSource V2: spark.read.format(\"hdf5\") and SQL USING hdf5") {
    val dir = Fs.tempDir("graft_h5_dsv2_")
    val p = dir.resolve("dsv2-angular.hdf5").toString
    val m = mat(90, 5).map(_.map(_ + 1.0))
    Hdf5Write.write(p, Seq(
      Hdf5Write.Spec("train", m, F32),
      Hdf5Write.Spec("test", m.take(4), F64, chunk = Some((2, 5)), deflate = true)))
    // default: train dataset, angular name -> normalized
    val df = spark.read.format("hdf5").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("vec_id", "embedding"))
    val n2 = df.orderBy("vec_id").head.getSeq[Float](1).map(x => x.toDouble * x).sum
    assert(math.abs(n2 - 1.0) < 1e-5, s"|v|^2 = $n2")
    assert(df.count() == 90)
    // explicit dataset + normalize off reads raw values, chunked layout
    val raw = spark.read.format("hdf5")
      .option("dataset", "test").option("normalize", "false").load(p)
      .orderBy("vec_id").collect()
    assert(raw.length == 4)
    assert(raw(2).getSeq[Float](1).map(_.toDouble) == m(2).toSeq)
    // the same table through SQL
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW h5v USING hdf5 OPTIONS (path '$p', normalize 'false')")
    val viaSql = spark.sql("SELECT sum(embedding[0]) AS s0 FROM h5v").head.getDouble(0)
    assert(viaSql == m.map(_(0)).sum, viaSql)
    // slices option controls partitioning
    assert(spark.read.format("hdf5").option("slices", "7").load(p)
      .rdd.getNumPartitions == 7)
  }

  test("AnnBenchHdf5: the reference's evaluation loop scores recall 1.0 exact") {
    val dir = Fs.tempDir("graft_h5_ab_")
    val p = dir.resolve("toy-4-euclidean.hdf5").toString
    // distinct vectors with distinct pairwise distances (quadratic spread)
    val train = Array.tabulate(24, 4)((i, j) =>
      ((i * i + 7 * i) % 97) / 8.0 + j * 0.25 + (if (j == i % 4) 3.0 else 0.0))
    val test_ = Array.tabulate(3, 4)((q, j) => train(q * 7)(j) + 0.125)
    val k = 5
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val neighbors = test_.map { q =>
      train.zipWithIndex.sortBy { case (v, i) => (d2(q, v), i) }
        .take(k).map(_._2.toDouble)
    }
    graft.sources.Hdf5Write.write(p, Seq(
      Hdf5Write.Spec("train", train, F32),
      Hdf5Write.Spec("test", test_, F32),
      Hdf5Write.Spec("neighbors", neighbors, I32)))
    val r = graft.tools.AnnBenchHdf5.evaluate(spark, p, k = k)
    assert(r.metric == "euclidean" && r.nQueries == 3)
    assert(r.recall == 1.0, s"recall ${r.recall}")
  }

  test("exportHdf5 round-trips a collection back to an importable file") {
    val dir = Fs.tempDir("graft_h5_exp_")
    val p = dir.resolve("src-4-euclidean.hdf5").toString
    val m = mat(17, 4)
    graft.sources.Hdf5Write.write(p, Seq(Hdf5Write.Spec("train", m, F32)))
    val db = graft.Graft(spark, Fs.tempDir("graft_h5_edb_").toString)
    db.importHdf5("src", p)
    val out = dir.resolve("exported.hdf5").toString
    assert(db.exportHdf5("src", "vector", out) == 17L)
    // the exported file reads back as the original matrix (ids are
    // zero-padded row indices, so id order == row order)
    val ds = Hdf5.datasets(out)
    assert(ds.map(_.name) == Seq("train") && ds.head.rows == 17 && ds.head.cols == 4)
    val back = Hdf5.readRows(out, ds.head, 0, 17)
    assert(back.map(_.toSeq).toSeq == m.map(_.toSeq).toSeq)
  }

  test("unsupported shapes fail with clear errors, not garbage") {
    val p = tmp("bad.hdf5")
    // not an HDF5 file at all
    Files.write(java.nio.file.Paths.get(p), Array.fill[Byte](64)(7))
    val e = intercept[IllegalArgumentException](Hdf5.datasets(p))
    assert(e.getMessage.contains("not an HDF5 file"))
    // v2 superblock signature is detected and named
    val v2 = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n', 2) ++
      Array.fill[Byte](56)(0)
    val p2 = tmp("v2.hdf5")
    Files.write(java.nio.file.Paths.get(p2), v2)
    val e2 = intercept[IllegalArgumentException](Hdf5.datasets(p2))
    assert(e2.getMessage.contains("superblock version 2"))
  }

  /** A fixture authored INDEPENDENTLY of Hdf5Write, hand-assembled from
    * the public HDF5 File Format Specification (version 0 superblock,
    * III.A v1 group B-tree, III.D local heap, III.C symbol node, IV.A v1
    * object header, message types IV.A.2.b/d/i) — so the reader cannot
    * pass by sharing a misreading with the repo's own writer. Every
    * structure's offset is derived in the comments; the dataset is
    * "temps", 3x2 float32, contiguous.
    */
  test("reader parses a hand-assembled spec-derived v0 file (writer-independent)") {
    val buf = java.nio.ByteBuffer.allocate(432).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val UNDEF = -1L // the spec's "undefined address" (all ones)

    // ---- superblock v0, bytes 0..95 -------------------------------------
    // signature (8) + versions/sizes (8) + ks/flags (8) + 4 addresses (32)
    // + root symbol-table entry (40) = 96
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    buf.put(0.toByte)  //  8: superblock version 0
    buf.put(0.toByte)  //  9: free-space storage version
    buf.put(0.toByte)  // 10: root group symbol-table version
    buf.put(0.toByte)  // 11: reserved
    buf.put(0.toByte)  // 12: shared-header message version
    buf.put(8.toByte)  // 13: size of offsets
    buf.put(8.toByte)  // 14: size of lengths
    buf.put(0.toByte)  // 15: reserved
    buf.putShort(4)    // 16: group leaf node k
    buf.putShort(16)   // 18: group internal node k
    buf.putInt(0)      // 20: file consistency flags
    buf.putLong(0L)    // 24: base address
    buf.putLong(UNDEF) // 32: free-space info address
    buf.putLong(432L)  // 40: end-of-file address
    buf.putLong(UNDEF) // 48: driver information address
    // root group symbol-table entry (40 bytes, at 56 = 24 + 4*8)
    buf.putLong(0L)    // 56: link name offset (heap offset 0 = "")
    buf.putLong(96L)   // 64: root object header address
    buf.putInt(1)      // 72: cache type 1 (scratch caches btree+heap)
    buf.putInt(0)      // 76: reserved
    buf.putLong(136L)  // 80: scratch: group B-tree address
    buf.putLong(184L)  // 88: scratch: local heap address
    assert(buf.position() == 96)

    // ---- root group object header v1, bytes 96..135 ----------------------
    // prefix (8) + pad-to-16 (8 written as part of the 16-byte prefix the
    // reader consumes) + one 0x0011 symbol-table message (8 hdr + 16 data)
    buf.put(1.toByte); buf.put(0.toByte) // version 1, reserved
    buf.putShort(1)                      // total header messages
    buf.putInt(1)                        // object reference count
    buf.putInt(24)                       // header size (the message block)
    buf.putInt(0)                        // alignment pad (prefix is 16 bytes)
    buf.putShort(0x0011)                 // message type: symbol table
    buf.putShort(16)                     // message data size
    buf.putInt(0)                        // flags + reserved
    buf.putLong(136L)                    // v1 B-tree address
    buf.putLong(184L)                    // local heap address
    assert(buf.position() == 136)

    // ---- group B-tree v1 leaf, bytes 136..183 ----------------------------
    // header (24) + key0/child0/key1 (24): one child, the SNOD at 248
    buf.put("TREE".getBytes("US-ASCII"))
    buf.put(0.toByte)  // node type 0 (group)
    buf.put(0.toByte)  // level 0 (leaf: children are symbol nodes)
    buf.putShort(1)    // entries used
    buf.putLong(UNDEF) // left sibling
    buf.putLong(UNDEF) // right sibling
    buf.putLong(0L)    // key 0: heap offset of "" (before all names)
    buf.putLong(248L)  // child 0: symbol node address
    buf.putLong(8L)    // key 1: heap offset of the last name ("temps")
    assert(buf.position() == 184)

    // ---- local heap, bytes 184..247 ---------------------------------------
    // header (32) + data segment (32 at 216): "" at 0, "temps" at 8
    buf.put("HEAP".getBytes("US-ASCII"))
    buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
    buf.putLong(32L)   // data segment size
    buf.putLong(UNDEF) // free-list head offset (no free blocks)
    buf.putLong(216L)  // data segment address
    assert(buf.position() == 216)
    buf.putLong(0L)    // heap[0..7]: "" + pad (link-name offset 0)
    buf.put("temps".getBytes("US-ASCII")); buf.put(0.toByte) // heap[8..13]
    buf.putShort(0)    // pad "temps\0" (6 bytes) to the 8-byte boundary
    buf.putLong(0L); buf.putLong(0L) // unused heap tail (declared size 32)
    assert(buf.position() == 248)

    // ---- symbol node (SNOD), bytes 248..295 --------------------------------
    // header (8) + one 40-byte entry for "temps" -> object header 296
    buf.put("SNOD".getBytes("US-ASCII"))
    buf.put(1.toByte)  // version
    buf.put(0.toByte)  // reserved
    buf.putShort(1)    // number of symbols
    buf.putLong(8L)    // entry: link name offset ("temps")
    buf.putLong(296L)  // entry: object header address
    buf.putInt(0)      // entry: cache type 0 (nothing cached)
    buf.putInt(0)      // entry: reserved
    buf.putLong(0L); buf.putLong(0L) // entry: scratch (unused)
    assert(buf.position() == 296)

    // ---- dataset object header v1, bytes 296..407 ---------------------------
    // 16-byte prefix + 3 messages of (8 header + 24 padded data) = 112
    buf.put(1.toByte); buf.put(0.toByte) // version, reserved
    buf.putShort(3)    // 3 messages
    buf.putInt(1)      // reference count
    buf.putInt(96)     // header size (the message block)
    buf.putInt(0)      // alignment pad
    // dataspace v1 (type 0x0001): rank 2, dims {3, 2}
    buf.putShort(0x0001); buf.putShort(24); buf.putInt(0)
    buf.put(1.toByte)  // version
    buf.put(2.toByte)  // dimensionality
    buf.put(0.toByte)  // flags (no maxdims)
    buf.put(Array[Byte](0, 0, 0, 0, 0)) // reserved (5)
    buf.putLong(3L); buf.putLong(2L)
    // datatype (type 0x0003): v1, class 1 (float), little-endian IEEE f32
    buf.putShort(0x0003); buf.putShort(20); buf.putInt(0)
    buf.put(0x11.toByte) // (version 1) << 4 | class 1
    buf.put(0x20.toByte) // bits 0-7: LE, lo-pad 0, hi-pad 0, mantissa-norm 2 (bit 4-5), sign at...
    buf.put(31.toByte)   // bits 8-15: sign bit position 31
    buf.put(0.toByte)    // bits 16-23
    buf.putInt(4)        // element size
    buf.putShort(0)      // bit offset
    buf.putShort(32)     // bit precision
    buf.put(23.toByte)   // exponent location
    buf.put(8.toByte)    // exponent size
    buf.put(0.toByte)    // mantissa location
    buf.put(23.toByte)   // mantissa size
    buf.putInt(127)      // exponent bias
    buf.putInt(0)        // pad message data 20 -> 24
    // data layout v3 (type 0x0008): class 1 contiguous at 384, 24 bytes
    buf.putShort(0x0008); buf.putShort(18); buf.putInt(0)
    buf.put(3.toByte)  // layout message version
    buf.put(1.toByte)  // layout class: contiguous
    buf.putLong(408L)  // raw data address
    buf.putLong(24L)   // raw data size
    buf.putShort(0); buf.putInt(0) // pad message data 18 -> 24
    assert(buf.position() == 408)

    // ---- raw data, bytes 408..431: 3x2 f32, row-major ----------------------
    val want = Array(Array(1.5, -2.25), Array(3.0, 0.125), Array(-0.5, 8.0))
    want.foreach(_.foreach(v => buf.putFloat(v.toFloat)))
    assert(buf.position() == 432)

    val p = tmp("handmade.hdf5")
    Files.write(java.nio.file.Paths.get(p), buf.array())
    val ds = Hdf5.datasets(p)
    assert(ds.map(_.name) == Seq("temps"), ds)
    assert(ds.head.rows == 3 && ds.head.cols == 2 && ds.head.dtype == F32)
    assert(ds.head.layout == Hdf5.Contiguous(408L, 24L))
    val back = Hdf5.readRows(p, ds.head, 0, 3)
    assert(back.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // and a partial range slices the same bytes
    assert(Hdf5.readRows(p, ds.head, 1, 2).map(_.toSeq).toSeq ==
      Seq(want(1).toSeq))
  }
}
