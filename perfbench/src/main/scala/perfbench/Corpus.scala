package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.model.{IndexKind, IndexSchema}

/** One point of the serving collection, held by the benchmark so it can
  * compute reference answers itself.
  */
final case class Doc(id: String, text: String, lang: String, nChars: Long,
    embedding: Array[Float], vecL2: Array[Float])

/** The benchmark's own inputs: the sf0.1 `documents ⋈ embeddings` rows
  * shipped with the benchmark, plus everything the seed derives from them
  * (query vectors, request parameters, write payloads). Nothing here calls
  * the program's generators, so a change to the program cannot change
  * the inputs it is measured on.
  */
final class Corpus(val docs: IndexedSeq[Doc]) {
  val byId: Map[String, Doc] = docs.map(d => d.id -> d).toMap
  val langs: IndexedSeq[String] = docs.map(_.lang).distinct.sorted
  val vocabulary: IndexedSeq[String] =
    docs.flatMap(d => Corpus.tokens(d.text)).distinct.sorted
  val dim: Int = docs.head.embedding.length
  /** UTF-8 bytes of every point as a client would send it. */
  val userBytes: Long = docs.map(d => Corpus.pointJson(d).getBytes("UTF-8").length.toLong).sum
}

object Corpus {
  val Schema: IndexSchema = IndexSchema(
    "text" -> IndexKind.Text(),
    "lang" -> IndexKind.Str(),
    "n_chars" -> IndexKind.Integer,
    "embedding" -> IndexKind.VectorFlat(64, IndexKind.Metric.Cosine),
    "vec_l2" -> IndexKind.VectorVamana(64, IndexKind.Metric.Euclidean, degreeBound = 32))

  val SparkSchema: StructType = StructType(Seq(
    StructField("_id", StringType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("n_chars", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("vec_l2", ArrayType(FloatType, containsNull = false), nullable = true)))

  private val TokenSplit = "[^\\p{L}\\p{N}]+".r

  def tokens(text: String): Seq[String] =
    TokenSplit.split(text.toLowerCase).toSeq.filter(_.nonEmpty)

  /** `documents ⋈ embeddings` on doc_id = vec_id; `vec_l2` holds the same
    * vectors as `embedding`.
    */
  def load(spark: SparkSession, dataDir: String): Corpus = {
    val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars").collect()
      .flatMap(r => vecs.get(r.getLong(0)).map(v =>
        Doc(r.getLong(0).toString, r.getString(1), r.getString(2), r.getLong(3), v, v)))
      .sortBy(_.id.toLong).toIndexedSeq
    new Corpus(docs)
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.map(d =>
      Row(d.id, d.text, d.lang, d.nChars, d.embedding.toSeq, Option(d.vecL2).map(_.toSeq).orNull)).asJava,
      SparkSchema)
  }

  def vecJson(v: Array[Float]): String =
    v.map(x => java.lang.Float.toString(x)).mkString("[", ",", "]")

  def str(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))

  /** A point as a client sends it; a null `vecL2` is left out. */
  def pointJson(d: Doc): String =
    s"""{"_id":${str(d.id)},"text":${str(d.text)},"lang":${str(d.lang)},""" +
      s""""n_chars":${d.nChars},"embedding":${vecJson(d.embedding)}""" +
      Option(d.vecL2).map(v => s""","vec_l2":${vecJson(v)}""").getOrElse("") + "}"

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** A unit vector near `v`: Gaussian noise of scale `sigma` per dimension. */
  def perturb(rng: scala.util.Random, v: Array[Float], sigma: Double): Array[Float] =
    normalize(v.map(x => (x + rng.nextGaussian() * sigma).toFloat))

  def randomUnit(rng: scala.util.Random, dim: Int): Array[Float] =
    normalize(Array.fill(dim)(rng.nextGaussian().toFloat))

  /** The engine's cosine distance over unit vectors: 1 - dot, in float. */
  def cosine(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    1f - s
  }

  /** The engine's euclidean distance: squared L2, in float. */
  def l2sq(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
