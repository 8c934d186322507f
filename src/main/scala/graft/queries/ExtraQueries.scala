package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Search

/** Remaining surface-parity queries: semi-structured JSON extraction from
  * event props, and the full JSON `SearchRequest` wire format driven
  * through the engine (same oracle shape as the AST path — proves the
  * parser, not just the compiler).
  */
object ExtraQueries {

  val q8JsonProps = NamedQuery(
    "q8_json_props",
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS DECIMAL(28,6))) / count(*), 4) AS DOUBLE) AS avg_k
      |FROM events
      |WHERE regexp_extract(props, '"k":\s*(\d+)', 1) != ''
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("_k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1))
      .filter(col("_k") =!= "")
      .withColumn("_k", col("_k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), davg(col("_k")).as("avg_k"))
      .orderBy("event_type")
  }

  /** The s9 integer-range query, but entering as a raw JSON request body —
    * exercises Json.parseSearchRequest → validation → compiler → pipeline.
    */
  val q9JsonRequest = NamedQuery(
    "q9_json_request",
    """SELECT CAST(p_partkey AS VARCHAR) AS _id,
      |  CAST(NULL AS REAL) AS _distance, CAST(NULL AS REAL) AS _score,
      |  CAST(0.0 AS REAL) AS _hybridScore, p_name,
      |  CAST(p_size AS BIGINT) AS p_size
      |FROM part
      |WHERE p_size BETWEEN 10 AND 15 AND lower(p_name) LIKE 'blue%'
      |ORDER BY p_size DESC NULLS LAST, _id
      |LIMIT 20 OFFSET 2""".stripMargin) { (s, d) =>
    val json =
      """{
        |  "query": {"property": "_and", "_and": [
        |    {"property": "p_size", "integer": {"operator": "inRange", "value": 10, "endValue": 15}},
        |    {"property": "p_name", "string": {"operator": "startsWith", "value": "Blue"}}]},
        |  "select": ["p_name", "p_size"],
        |  "sort": [{"property": "p_size", "descending": true}],
        |  "offset": 2,
        |  "limit": 20
        |}""".stripMargin
    Search.searchJson(TestCollections.parts(s, d), json)
  }

  /** The co-located bucketed-join path end-to-end through the driver
    * gate: documents and embeddings are each written ONCE as bucketed
    * external tables hashed on their id (graft.operators.Bucketing),
    * then joined and aggregated through the catalog — the join itself
    * is exchange-free (BucketingSpec machine-asserts zero
    * ShuffleExchange on this exact shape; the driver gate proves the
    * answer matches a plain DuckDB join, i.e. co-location changed the
    * plan, not the semantics). Table names are unique per run so
    * concurrent Verify/Bench invocations sharing a session can't
    * collide; the temp data dir is deleted by the OS tempdir policy.
    */
  val q12BucketedJoin = NamedQuery(
    "q12_bucketed_join",
    // CAST to BIGINT: DuckDB types a bare sum(BIGINT) as HUGEINT, which
    // pandas renders as float64 and the checker then %.9g-truncates —
    // fine until a group's sum reaches 10 significant digits, then a
    // spurious hash break (the Relational q1 DECIMAL convention, exact
    // here because char counts are integral)
    """SELECT d.source, e.label, count(*) AS n,
      |  CAST(sum(d.n_chars) AS BIGINT) AS chars
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY d.source, e.label
      |ORDER BY d.source, e.label""".stripMargin) { (s, d) =>
    import graft.operators.Bucketing
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val base = graft.Fs.tempDir("graft_bucketed_").toString
    val docsT = s"graft_docs_$tag"
    val embT = s"graft_emb_$tag"
    // finally-cleanup: a failure anywhere must not strand catalog entries
    // in the shared session or table copies on disk (long-lived container
    // — "OS tempdir policy" never runs)
    try {
      Bucketing.writeBucketed(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        docsT, s"$base/docs", key = "doc_id", numBuckets = 8)
      Bucketing.writeBucketed(
        Tables.embeddings(s, d).select("vec_id", "label"),
        embT, s"$base/emb", key = "vec_id", numBuckets = 8)
      s.table(docsT)
        .join(s.table(embT), col("doc_id") === col("vec_id"))
        .groupBy("source", "label")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("source", "label")
        // materialize BEFORE the finally drops the tables the plan reads
        .localCheckpoint(true)
    } finally {
      Bucketing.drop(s, docsT, embT)
      rmTree(base)
    }
  }

  /** The skew-salted join end-to-end through the driver gate, on a
    * GENUINELY skewed key: `documents.source` has a handful of distinct
    * values over the whole corpus, so the unsalted join shuffles every
    * document of a source to one reducer. SkewJoin.salted spreads each
    * source across 8 salt sub-keys (right side replicated 8×), and the
    * oracle replays the PLAIN join in DuckDB — salting must change the
    * distribution, never the answer.
    */
  val q13SaltedJoin = NamedQuery(
    "q13_salted_join",
    """SELECT d.doc_id, d.source, s.n_docs, d.n_chars
      |FROM documents d
      |JOIN (SELECT source, count(*) AS n_docs FROM documents GROUP BY source) s
      |  ON d.source = s.source
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import graft.operators.SkewJoin
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy(col("source").as("src"))
      .agg(count(lit(1)).as("n_docs"))
    SkewJoin.salted(
      docs.select("doc_id", "source", "n_chars"), stats,
      leftKey = "source", rightKey = "src", salts = 8)
      .select("doc_id", "source", "n_docs", "n_chars")
      .orderBy("doc_id")
  }

  /** Directory-partitioned layout end-to-end through the driver gate:
    * events are rewritten partitioned by event_type
    * (Bucketing.writePartitioned), re-read with a partition filter —
    * which prunes to ONE directory at planning time (BucketingSpec
    * asserts the plan) — and aggregated; the oracle replays the same
    * filter+aggregate over the ORIGINAL unpartitioned parquet in
    * DuckDB, proving the layout round-trip changed the file tree, not
    * the data.
    */
  val q14PartitionPruned = NamedQuery(
    "q14_partition_pruned",
    s"""SELECT user_id % 16 AS ub, count(*) AS n, ${sqlDsum("value")} AS sum_v
       |FROM events WHERE event_type = 'click'
       |GROUP BY user_id % 16
       |ORDER BY ub""".stripMargin) { (s, d) =>
    import graft.operators.Bucketing
    val base = graft.Fs.tempDir("graft_partitioned_").toString
    try {
      Bucketing.writePartitioned(Tables.events(s, d), s"$base/events", "event_type")
      s.read.parquet(s"$base/events")
        .filter(col("event_type") === "click")
        .groupBy((col("user_id") % 16).as("ub"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .orderBy("ub")
        // materialize (16 rows) before the finally deletes the layout the
        // lazy plan would otherwise scan after the caller collects
        .localCheckpoint(true)
    } finally rmTree(base)
  }

  /** Recursive delete for the per-run temp layouts above — the
    * long-lived container never cleans /tmp, so every gate/bench run
    * would otherwise leak a full table copy.
    */
  private def rmTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  /** Z-order (Morton) clustering codes over (user_id, value) at 12 bits
    * per dimension — the multi-dimension layout key a clustered write
    * sorts by so min/max chunk stats prune on EVERY z-ordered column.
    * The interleave SQL is GENERATED from the same (bit, column) loop
    * the Spark expression uses, so the two engines cannot drift; the
    * affine quantizer is a fixed-shape IEEE-double formula replayable
    * from the global (min, max) pair (one bounded scalar agg, the only
    * pre-pass).
    */
  val q17Zorder = {
    val bits = 12
    val top = (1 << bits) - 1 // 4095
    // lockstep with Layout.zvalue: column i contributes bit b at z-bit b·n+i
    val interleave = (for {
      b <- 0 until bits
      (q, i) <- Seq("q1", "q2").zipWithIndex
    } yield s"((($q >> $b) & 1) << ${b * 2 + i})").mkString(" | ")
    def sqlQuant(v: String, lo: String, hi: String): String =
      s"CAST(least(greatest(coalesce(floor((CAST($v AS DOUBLE) - $lo) * $top.0 / ($hi - $lo)), 0.0), 0.0), $top.0) AS BIGINT)"
    NamedQuery(
      "q17_zorder",
      s"""WITH mm AS (
         |  SELECT min(CAST(user_id AS DOUBLE)) AS lo1, max(CAST(user_id AS DOUBLE)) AS hi1,
         |         min(CAST(value AS DOUBLE)) AS lo2, max(CAST(value AS DOUBLE)) AS hi2
         |  FROM events),
         |q AS (
         |  SELECT event_id,
         |    ${sqlQuant("user_id", "lo1", "hi1")} AS q1,
         |    ${sqlQuant("value", "lo2", "hi2")} AS q2
         |  FROM events, mm)
         |SELECT event_id AS id, $interleave AS z
         |FROM q ORDER BY z, id""".stripMargin) { (s, d) =>
      graft.operators.Layout.zorder(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
          Seq(col("user_id"), col("value")), bits = bits)
        .select(col("event_id").as("id"), col("z"))
        .orderBy("z", "id")
    }
  }

  /** Point lookups through the per-file Bloom skipping index: documents
    * land as 16 range-partitioned files in a scratch dir, the index is
    * built from one scan, and three id probes read ONLY the may-contain
    * files. The row set is provably identical to the full-scan filter (a
    * Bloom miss is definitive; the exact predicate still applies), which
    * is exactly what the oracle replays; `skipped_some` asserts the probe
    * touched fewer files than the table has — deterministic because the
    * filters are pure functions of the fixed corpus. SkippingSpec
    * measures the skipping itself (≤2 of 16 files per probe).
    */
  val q18BloomSkip = NamedQuery(
    "q18_bloom_skip",
    """SELECT doc_id AS id, lang, source, n_chars, TRUE AS skipped_some
      |FROM documents WHERE doc_id IN (42, 123, 444)
      |ORDER BY id""".stripMargin) { (s, d) =>
    val dir = graft.Fs.tempDir("graft_skip_").toString
    Tables.documents(s, d)
      .repartitionByRange(16, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val idx = graft.operators.Skipping.buildIndex(
      s, s"$dir/docs", "doc_id", expectedPerFile = 1000, fpp = 0.001)
    val total = idx.count()
    Seq(42L, 123L, 444L).map { id =>
      val may = graft.operators.Skipping.filesFor(idx, lit(id))
      graft.operators.Skipping.readPoint(s, s"$dir/docs", idx, "doc_id", id)
        .select(col("doc_id").as("id"), col("lang"), col("source"), col("n_chars"),
          lit(may.size < total).as("skipped_some"))
    }.reduce(_ unionAll _).orderBy("id")
  }

  /** Range scan through a zone map over a Z-ORDERED write: events land
    * z-clustered on (user_id, value), the per-file (min,max) frame is
    * built from one scan, and a user_id range probe opens only
    * intersecting files — byte-identical to the full scan (the oracle's
    * plain BETWEEN), with `skipped_some` proving files were pruned even
    * though user_id is not the leading sort key (z-clustering keeps BOTH
    * dimensions' zones tight; SkippingSpec measures the spans).
    */
  val q19ZonemapRange = NamedQuery(
    "q19_zonemap_range",
    """SELECT event_id AS id, user_id, event_type, TRUE AS skipped_some
      |FROM events WHERE user_id >= 100 AND user_id <= 120
      |ORDER BY id""".stripMargin) { (s, d) =>
    val dir = graft.Fs.tempDir("graft_zone_").toString
    graft.operators.Layout.writeZOrdered(
      Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      s"$dir/ev", Seq(col("user_id"), col("value")), numFiles = 16, bits = 12)
    val zm = graft.operators.Skipping.buildZoneMap(s, s"$dir/ev", Seq("user_id"))
    val total = zm.count()
    val may = graft.operators.Skipping.filesForRange(zm, "user_id", lit(100L), lit(120L))
    graft.operators.Skipping.readRange(s, s"$dir/ev", zm, "user_id", 100L, 120L)
      .select(col("event_id").as("id"), col("user_id"), col("event_type"),
        lit(may.size < total).as("skipped_some"))
      .orderBy("id")
  }

  /** Snapshot diff over a deterministic corpus refresh BOTH engines
    * construct: drop multiples of 7, edit multiples of 5, add a shifted
    * tail — then classify every id as added/removed/changed/unchanged
    * from one full outer join of md5 digests (16 bytes per row on the
    * wire, never content). The per-row statuses hash-compare exactly;
    * q20's rollup is the governance report a refresh audit reads.
    */
  val q20SnapshotDiff = NamedQuery(
    "q20_snapshot_diff",
    """WITH old AS (SELECT doc_id AS id, text FROM documents),
      |new AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 11 = 0),
      |d AS (
      |  SELECT coalesce(o.id, n.id) AS id,
      |    CASE WHEN o.id IS NULL THEN 'added'
      |         WHEN n.id IS NULL THEN 'removed'
      |         WHEN coalesce(md5(o.text), '<null>') = coalesce(md5(n.text), '<null>')
      |           THEN 'unchanged' ELSE 'changed' END AS status
      |  FROM old o FULL OUTER JOIN new n ON o.id = n.id)
      |SELECT status, count(*) AS n FROM d GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val oldSnap = docs.select(col("doc_id"), col("text"))
    val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.operators.Audit.diff(oldSnap, newSnap, col("doc_id"), col("text"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** Geohash-PREFIX search (reference shard/index/string/string.go prefix
    * scan over geohash-encoded points; functions/Geohash.scala is the
    * encoder): derive [lat, lon] from embeddings (the s2_near_haversine
    * convention), encode precision-5 geohashes with the codegen
    * expression, and keep points whose hash starts with a fixed cell
    * prefix. The ORACLE replays the SEMANTIC, not the string op: a
    * geohash prefix is exactly a half-open bbox (Geohash.bbox — the
    * bisection construction), so DuckDB filters lat/lon against the
    * box literals. Any encoder drift — bit order, base32 alphabet,
    * rounding — moves some point across a cell boundary and flips the
    * selected set. The bbox face is also the 100 TB plan: range
    * predicates on raw lat/lon push down to parquet stats, where a
    * string startsWith over hashes cannot.
    */
  val geoPrefixSearch = {
    val Prefix = "s0"
    val (latLo, latHi, lonLo, lonHi) = graft.functions.Geohash.bbox(Prefix)
    NamedQuery(
      "geo_prefix_search",
      s"""WITH geo AS (
        |  SELECT vec_id AS id,
        |    CAST(embedding[1] * 60 AS REAL) AS lat,
        |    CAST(embedding[2] * 120 AS REAL) AS lon
        |  FROM embeddings)
        |SELECT id,
        |  ${sqlDround("CAST(lat AS DOUBLE)", 4)} AS lat_r,
        |  ${sqlDround("CAST(lon AS DOUBLE)", 4)} AS lon_r
        |FROM geo
        |WHERE CAST(lat AS DOUBLE) >= $latLo AND CAST(lat AS DOUBLE) < $latHi
        |  AND CAST(lon AS DOUBLE) >= $lonLo AND CAST(lon AS DOUBLE) < $lonHi
        |ORDER BY id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          (element_at(col("embedding"), 1) * lit(60.0f)).cast("float").as("lat"),
          (element_at(col("embedding"), 2) * lit(120.0f)).cast("float").as("lon"))
        .withColumn("gh",
          graft.functions.Geohash(array(col("lat"), col("lon")), 5))
        .filter(col("gh").startsWith(Prefix))
        .select(col("id"),
          dround(col("lat").cast("double"), 4).as("lat_r"),
          dround(col("lon").cast("double"), 4).as("lon_r"))
        .orderBy("id")
    }
  }

  /** HDF5 source under the hard gate (reference internal/loadhdf5):
    * a deterministic matrix — every value an exact multiple of 1/8, so
    * float32, float64 and DuckDB doubles all agree bit-for-bit — is
    * written as BOTH layout shapes the reader supports (contiguous
    * float32; chunked float64 with shuffle+deflate and ragged edge
    * chunks), read back through the DISTRIBUTED row-range path, and
    * reduced to per-row exact sums plus two probe cells (one per
    * column-chunk block, so a chunk-offset bug flips values). DuckDB
    * replays the generator in closed form — the file bytes never matter
    * to the oracle, only the decoded VALUES, which is exactly what a
    * format reader can get wrong.
    */
  val hdf5Load = {
    val N = 300; val D = 12
    NamedQuery(
      "hdf5_load",
      s"""WITH cells AS (
        |  SELECT i, j, CAST((i * 131 + j * 17) % 1000 AS DOUBLE) / 8.0 AS v
        |  FROM range($N) t(i) CROSS JOIN range($D) u(j)),
        |per AS (
        |  SELECT i AS vec_id, sum(v) AS vsum,
        |    max(CASE WHEN j = 0 THEN v END) AS v0,
        |    max(CASE WHEN j = 7 THEN v END) AS v7
        |  FROM cells GROUP BY i)
        |SELECT src AS source, vec_id, vsum, v0, v7
        |FROM per CROSS JOIN (VALUES ('chunked_f64'), ('contiguous_f32')) s(src)
        |ORDER BY source, vec_id""".stripMargin) { (s, d) =>
      val dir = graft.Fs.tempDir("graft_h5_gate_")
      val m = Array.tabulate(N, D)((i, j) => ((i * 131 + j * 17) % 1000) / 8.0)
      val pc = dir.resolve("contig.hdf5").toString
      val pk = dir.resolve("chunked.hdf5").toString
      graft.sources.Hdf5Write.write(pc,
        Seq(graft.sources.Hdf5Write.Spec("train", m, graft.sources.Hdf5.F32)))
      graft.sources.Hdf5Write.write(pk,
        Seq(graft.sources.Hdf5Write.Spec("train", m, graft.sources.Hdf5.F64,
          chunk = Some((32, 5)), shuffle = true, deflate = true)))
      def face(path: String, tag: String) =
        graft.sources.Hdf5.matrix(s, path, "train")
          .select(lit(tag).as("source"), col("vec_id"),
            aggregate(col("embedding"), lit(0.0d), (acc, x) => acc + x).as("vsum"),
            element_at(col("embedding"), 1).cast("double").as("v0"),
            element_at(col("embedding"), 8).cast("double").as("v7"))
      val out = face(pc, "contiguous_f32").unionAll(face(pk, "chunked_f64"))
        .orderBy("source", "vec_id")
      // materialize off the temp files, then delete them
      val got = out.localCheckpoint()
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(p =>
        try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
      got
    }
  }

  val all: Seq[NamedQuery] = Seq(q8JsonProps, q9JsonRequest, q12BucketedJoin,
    q13SaltedJoin, q14PartitionPruned, q17Zorder, q18BloomSkip, q19ZonemapRange,
    q20SnapshotDiff, geoPrefixSearch, hdf5Load)
}
