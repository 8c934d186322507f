package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Collection
import graft.model.{IndexSchema, IndexKind}
import IndexKind._

/** Maps the driver testdata onto semadb-style collections so every §2
  * operator can run (and be oracle-checked) on real tables.
  */
object TestCollections {

  /** `part` as a multi-index collection: string (both case modes),
    * stringArray, integer and float properties.
    */
  def parts(s: SparkSession, d: String): Collection = Collection(
    Tables.part(s, d).select(
      col("p_partkey").cast("string").as("_id"),
      col("p_name"),
      col("p_brand"),
      col("p_type"),
      split(col("p_name"), " ").as("name_words"),
      col("p_size").cast("long").as("p_size"),
      col("p_retailprice")),
    IndexSchema(
      "p_name" -> Str(caseSensitive = false),
      "p_brand" -> Str(caseSensitive = false),
      "p_type" -> Str(caseSensitive = true),
      "name_words" -> StrArray(caseSensitive = false),
      "p_size" -> Integer,
      "p_retailprice" -> Float))

  // one built collection per (app, sfDir): the text index (persisted
  // postings + numDocs) is shared across every query in the session, like
  // the reference's cached per-shard index structures. Keyed by
  // applicationId, NOT the session object (the PipelineQueries cache
  // convention) — a session key would pin every stopped SparkSession's
  // whole object graph (plans, cached frames) in a long-lived JVM.
  private val docsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Collection]()

  /** documents ⋈ embeddings (doc_id = vec_id) as a hybrid text+vector
    * collection — text index on `text`, flat cosine on `embedding`, a
    * vamana-declared euclidean view of the same vectors on `vec_l2`.
    */
  def docs(s: SparkSession, d: String): Collection = {
    val app = s.sparkContext.applicationId
    // entries from a previous (stopped) application hold DataFrames bound
    // to its dead context — unusable and heap-pinning; drop them
    docsCache.keySet.removeIf(k => k._1 != app)
    docsCache.computeIfAbsent((app, d), _ =>
      docsUncached(s, d).withTextIndexCached("text", textIdxCacheDir(s, d)))
  }

  /** Per-(application, sfDir) parquet location for a derived serving
    * artifact (text index / vamana graph / ivf-rbq layout). Survives
    * `clearCache()` (the bench isolation step) WITHIN the invocation —
    * a cleared cache costs a columnar re-read, not a re-derivation —
    * but deliberately NOT across driver invocations: every bench/oracle
    * run derives its artifacts from the parquet inputs afresh (the
    * builds are untimed — Bench's warm-up/prebuild block — so the timed
    * region still measures pure serving). The applicationId in the key
    * is what forbids cross-run reuse; the version component documents
    * the artifact format so an in-app format change can't alias.
    */
  private def artifactDir(
      s: SparkSession, kind: String, d: String, version: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d#$version#${s.sparkContext.applicationId}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    registerArtifactDir(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_${kind}_$key").toString)
  }

  // Application-keyed artifact dirs are unreachable after the JVM exits
  // (the key forbids cross-run reuse by design), so they would leak in
  // java.io.tmpdir forever — one text index + vamana graph + ivf-rbq
  // layout per bench/verify/dump invocation (round-12 advice). The shared
  // JVM-exit reaper removes them.
  private def registerArtifactDir(p: String): String = {
    graft.Fs.reapOnExit(java.nio.file.Paths.get(p))
    // withVamanaVectorIndex derives a sibling "<dir>_serve" bucketed
    // serving table next to the graph dir — reap it with its owner
    graft.Fs.reapOnExit(java.nio.file.Paths.get(p.stripSuffix("/") + "_serve"))
    p
  }

  private def textIdxCacheDir(s: SparkSession, d: String): java.nio.file.Path =
    // v2: postings format changed (explode_outer null-term rows).
    // The suffixed dir is the one actually created — register it too.
    java.nio.file.Paths.get(
      registerArtifactDir(artifactDir(s, "textidx", d, "v2") + "_text"))

  // vamana-attached docs collection, cached like docsCache (the attach
  // joins + persists the serving frame and computes the entry node once)
  private val vamanaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Collection]()

  /** [[docs]] with a Vamana graph artifact attached to `vec_l2` — the
    * engine's `"approx": true` vectorVamana serving path. The artifact is
    * disk-cached per (application, sfDir): the build is a pure function
    * of the corpus (a reused artifact is byte-identical to a fresh one,
    * VamanaSpec layout-independence), and Bench derives it untimed in
    * the prebuild block each invocation.
    */
  def docsVamana(s: SparkSession, d: String): Collection = {
    val app = s.sparkContext.applicationId
    vamanaCache.keySet.removeIf(k => k._1 != app)
    vamanaCache.computeIfAbsent((app, d), _ =>
      // v1 = degreeBound 32, α 1.2, 2 NN-Descent rounds (the attach default)
      docs(s, d).withVamanaVectorIndex(
        "vec_l2", artifactDir(s, "vamana", d, "vamana_v1")))
  }

  // SQ8-attached docs collection, cached like docsVamana: the min/max fit
  // is a deterministic corpus aggregate (identical every call), so the
  // two SQ8-served gates (s2_near_sq_approx, s2_near_flat_many) measure
  // SERVING, not a repeated fit
  private val sqCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Collection]()

  /** [[docs]] with an SQ8 scalar-quantizer artifact attached to
    * `embedding` (the flat `"approx": true` serving path).
    */
  def docsSq8(s: SparkSession, d: String): Collection = {
    val app = s.sparkContext.applicationId
    sqCache.keySet.removeIf(k => k._1 != app)
    sqCache.computeIfAbsent((app, d), _ => {
      val base = docs(s, d)
      val (lo, hi) = graft.operators.ScalarQuantizer.fitMinMax(
        base.df, col("embedding"), 64)
      base.withScalarVectorIndex("embedding", lo, hi)
    })
  }

  // IVF-RaBitQ-attached docs collection (identity rotation, 4-bit sign
  // coarse, nprobe 4 — the s2_near_ivfrbq_approx / s2_near_ivf_many gate
  // configuration), cached like docsVamana: the fit is a pure function of
  // the corpus (sign-bit cells + deterministic residual codes), so a
  // reused artifact is byte-identical to a fresh one — and the gates then
  // measure SERVING, not a per-invocation rebuild (the graft.Bench
  // convention for artifact-heavy gates).
  private val ivfRbqCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Collection]()

  /** [[docs]] with an IVF-RaBitQ artifact attached to `embedding`. */
  def docsIvfRbq(s: SparkSession, d: String): Collection = {
    val app = s.sparkContext.applicationId
    ivfRbqCache.keySet.removeIf(k => k._1 != app)
    ivfRbqCache.computeIfAbsent((app, d), _ => {
      val base = docs(s, d)
      val rotation = Array.tabulate(64)(i =>
        Array.tabulate(64)(j => if (i == j) 1.0 else 0.0))
      base.withIvfRbqVectorIndex("embedding",
        artifactDir(s, "ivfrbq", d, "ivfrbq_v1") + "/art",
        () => graft.operators.IvfPq.signCoarse(base.df, col("embedding"), nBits = 4),
        rotation, nprobe = 4)
    })
  }

  private def docsUncached(s: SparkSession, d: String): Collection = {
    val doc = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    Collection(
      doc.join(emb, doc("doc_id") === emb("vec_id"))
        .select(
          doc("doc_id").cast("string").as("_id"),
          col("text"),
          col("lang"),
          col("source"),
          col("n_chars"),
          col("label").cast("long").as("label"),
          col("embedding"),
          col("embedding").as("vec_l2"),
          col("embedding").as("emb_dot"),
          // sign bits of the embedding as a 0/1 float vector — exercises the
          // hamming/jaccard 0.5-binarization contract on meaningful bits
          transform(col("embedding"), x => when(x > 0f, 1.0f).otherwise(0.0f).cast("float"))
            .as("bits"),
          transform(col("embedding"), x => when(x > 0f, 1.0f).otherwise(0.0f).cast("float"))
            .as("bits_jac"),
          // first two dims scaled into [lat,lon] degrees for haversine
          array(
            (element_at(col("embedding"), 1) * 60.0f).cast("float"),
            (element_at(col("embedding"), 2) * 120.0f).cast("float")).as("geo")),
      IndexSchema(
        "text" -> Text(),
        "lang" -> Str(caseSensitive = false),
        "source" -> Str(caseSensitive = false),
        "n_chars" -> Integer,
        "label" -> Integer,
        "embedding" -> VectorFlat(64, Metric.Cosine),
        "vec_l2" -> VectorVamana(64, Metric.Euclidean),
        "emb_dot" -> VectorFlat(64, Metric.Dot),
        "bits" -> VectorFlat(64, Metric.Hamming),
        "bits_jac" -> VectorFlat(64, Metric.Jaccard),
        "geo" -> VectorFlat(2, Metric.Haversine)))
  }

  /** A deterministic query vector: the embedding of a given vec_id,
    * fetched driver-side (a handful of floats, like a user-supplied query).
    */
  def queryVector(s: SparkSession, d: String, vecId: Long): Seq[Float] =
    Tables.embeddings(s, d)
      .filter(col("vec_id") === vecId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
}
