package graft.tools

import org.apache.spark.sql.SparkSession
import graft.sources.Hdf5

/** The reference's ann-benchmarks evaluation loop, end-to-end over the
  * pure-JVM HDF5 loader: import `train` as a served collection
  * (reference internal/loadhdf5 semantics — angular names normalize and
  * serve under cosine), run every `test` row as a search, score
  * recall@k against the file's `neighbors` ground-truth dataset. This is
  * the workflow a reference user runs when they benchmark a dataset
  * (README.md:198 of the reference); with [[Hdf5Write]] it also closes
  * the loop for exporting one.
  *
  * Queries run through the same JSON search surface every gate uses —
  * recall here measures the SERVED artifact, not a detached index. The
  * query loop is driver-paced (one search per test row, like the
  * reference harness); `maxQueries` bounds it.
  */
object AnnBenchHdf5 {

  final case class Result(recall: Double, nQueries: Int, metric: String)

  def evaluate(spark: SparkSession, path: String, k: Int = 10,
      approx: Boolean = false, maxQueries: Int = 100,
      buildGraph: Boolean = false): Result = {
    val dss = Hdf5.datasets(path)
    def ds(n: String) = dss.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"$path: ann-benchmarks layout needs a '$n' dataset (have ${dss.map(_.name).mkString(", ")})"))
    val neighborsDs = ds("neighbors")
    val testDs = ds("test")
    require(neighborsDs.cols >= k, s"ground truth has ${neighborsDs.cols} columns < k=$k")

    val root = graft.Fs.tempDir("graft_annbench_").toString
    val db = graft.Graft(spark, root)
    val metric = db.importHdf5("annbench", path)
    if (buildGraph) db.buildVamanaIndex("annbench", "vector")
    val angular = new java.io.File(path).getName.contains("angular")

    val nQ = math.min(maxQueries.toLong, testDs.rows).toInt
    val queries = Hdf5.readRows(path, testDs, 0, nQ)
    val truth = Hdf5.readRows(path, neighborsDs, 0, nQ)
    var hits = 0L
    var qi = 0
    while (qi < nQ) {
      val q = queries(qi).map(_.toFloat)
      if (angular) Hdf5.normalizeInPlace(q) // reference harness queries in the same space
      val got = db.search("annbench",
        s"""{"query": {"property": "vector",
           |  "vectorVamana": {"vector": [${q.mkString(",")}],
           |                   "operator": "near", "limit": $k,
           |                   "approx": $approx}},
           | "limit": $k, "select": []}""".stripMargin)
        .collect().map(_.getString(0)).toSet
      val want = truth(qi).take(k).map(v => f"${v.toLong}%012d").toSet
      hits += got.intersect(want).size
      qi += 1
    }
    db.dropCollection("annbench")
    Result(hits.toDouble / (nQ.toLong * k), nQ, metric)
  }
}
