package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** What a correct answer to a request looks like. */
sealed trait Expect
object Expect {
  /** Top-k by `dist` over the corpus; exact, or (approx) only valid. */
  final case class TopK(dist: Doc => Float, k: Int, exact: Boolean) extends Expect
  /** The rows matching `filter`, ordered by `key`, the page at `offset`. */
  final case class Page(filter: Doc => Boolean, key: Doc => Long, desc: Boolean,
      offset: Int, limit: Int) extends Expect
  /** Equal to the serial warm-up answer for pool entry `key`, or, where
    * writes can move text scores, only well-formed and matching `terms`.
    */
  final case class Pooled(key: String, terms: Set[String]) extends Expect
}

final case class Request(shape: String, body: String, expect: Expect)

/** The answer to one request: an error when it is wrong, and the recall of
  * an approximate top-k against the exact one.
  */
final case class Verdict(error: Option[String], recall: Option[Double])

/** The seeded request mix: seven shapes in equal shares. Text and hybrid
  * requests come from a small seeded pool so that every answer can be
  * compared with the answer the same request got when sent alone.
  */
final class Mix(corpus: Corpus, seed: Long) {
  import Mix._

  private def words(rng: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(corpus.vocabulary(rng.nextInt(corpus.vocabulary.length))).distinct

  private def queryVec(rng: scala.util.Random): Array[Float] =
    Corpus.perturb(rng, corpus.docs(rng.nextInt(corpus.docs.length)).embedding, 0.05)

  private val poolRng = new scala.util.Random(seed ^ 0x5eedL)
  val pool: IndexedSeq[Request] = (0 until PoolSize).flatMap { i =>
    val t = words(poolRng, 2)
    val v = queryVec(poolRng)
    val tq = s"""{"property":"text","text":{"value":${Corpus.str(t.mkString(" "))},"operator":"containsAny","limit":10}}"""
    val hq = s"""{"property":"_or","_or":[""" +
      s"""{"property":"vec_l2","vectorVamana":{"vector":${Corpus.vecJson(v)},"operator":"near","searchSize":75,"limit":10,"approx":true,"weight":0.5}},""" +
      s"""{"property":"text","text":{"value":${Corpus.str(t.mkString(" "))},"operator":"containsAny","limit":20,"weight":2.0}}]}"""
    Seq(
      Request("text", s"""{"query":$tq,"select":["_id"],"limit":10}""",
        Expect.Pooled(s"text$i", t.toSet)),
      Request("hybrid", s"""{"query":$hq,"select":["_id"],"limit":10}""",
        Expect.Pooled(s"hybrid$i", Set.empty)))
  }

  def next(rng: scala.util.Random, shape: String): Request = shape match {
    case "flat" =>
      val v = queryVec(rng)
      Request("flat", s"""{"query":{"property":"embedding","vectorFlat":{"vector":${Corpus.vecJson(v)},"operator":"near","limit":10}},"select":["_id"],"limit":10}""",
        Expect.TopK(d => Corpus.cosine(v, d.embedding), 10, exact = true))
    case s @ ("vamana_approx" | "vamana_exact") =>
      val v = queryVec(rng)
      val approx = s == "vamana_approx"
      Request(s, s"""{"query":{"property":"vec_l2","vectorVamana":{"vector":${Corpus.vecJson(v)},"operator":"near","searchSize":75,"limit":10,"approx":$approx}},"select":["_id"],"limit":10}""",
        Expect.TopK(d => Corpus.l2sq(v, d.vecL2), 10, exact = !approx))
    case "text" => pool.filter(_.shape == "text")(rng.nextInt(PoolSize))
    case "hybrid" => pool.filter(_.shape == "hybrid")(rng.nextInt(PoolSize))
    case "filter_sort" =>
      val lang = corpus.langs(rng.nextInt(corpus.langs.length))
      val floor = 100L + rng.nextInt(300)
      Request("filter_sort", s"""{"query":{"property":"_and","_and":[{"property":"lang","string":{"value":${Corpus.str(lang)},"operator":"equals"}},{"property":"n_chars","integer":{"value":$floor,"operator":"greaterThan"}}]},"select":["_id","n_chars"],"sort":[{"property":"n_chars","descending":true}],"limit":10}""",
        Expect.Page(d => d.lang == lang && d.nChars > floor, _.nChars, desc = true, 0, 10))
    case "int_page" =>
      val lo = 50L + rng.nextInt(300)
      val hi = lo + 50 + rng.nextInt(150)
      val offset = 10 * rng.nextInt(4)
      Request("int_page", s"""{"query":{"property":"n_chars","integer":{"value":$lo,"endValue":$hi,"operator":"inRange"}},"select":["_id","n_chars"],"sort":[{"property":"n_chars"}],"offset":$offset,"limit":10}""",
        Expect.Page(d => d.nChars >= lo && d.nChars <= hi, _.nChars, desc = false, offset, 10))
  }

  /** Client `c`'s request sequence, a pure function of (seed, c): blocks
    * of the seven shapes, each block in a seeded order, so every client
    * sends the shapes in equal shares at any length.
    */
  def stream(c: Int): Iterator[Request] = {
    val rng = new scala.util.Random(seed * 1000003L + c)
    Iterator.continually(rng.shuffle(Shapes)).flatten.map(next(rng, _))
  }
}

object Mix {
  val Shapes: IndexedSeq[String] = Vector(
    "flat", "vamana_approx", "vamana_exact", "text", "hybrid", "filter_sort", "int_page")
  val PoolSize = 2
  /** Distances are compared at this absolute tolerance: the engine and the
    * benchmark sum the same float products in different orders.
    */
  val Tol = 1e-4

  def points(body: String): List[Map[String, JValue]] =
    JsonMethods.parse(body) \ "points" match {
      case JArray(xs) => xs.collect { case o: JObject => o.obj.toMap }
      case other => throw new IllegalArgumentException(s"no points array in ${body.take(200)}")
    }

  private def num(v: Option[JValue]): Option[Double] = v.collect {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case JLong(l) => l.toDouble
  }

  /** Check `body` against `r.expect`. `reference` holds the serial
    * warm-up answers; `stable` says whether the corpus the reads see is
    * unchanged since then.
    */
  def check(corpus: Corpus, r: Request, body: String,
      reference: collection.Map[String, String], stable: Boolean): Verdict = {
    val pts = try points(body) catch {
      case e: Exception => return Verdict(Some(e.getMessage), None)
    }
    val ids = pts.flatMap(_.get("_id").collect { case JString(s) => s })
    def fail(m: String) = Verdict(Some(s"${r.shape}: $m"), None)
    if (ids.length != pts.length || ids.distinct.length != ids.length)
      return fail("missing or repeated _id")
    if (!ids.forall(corpus.byId.contains)) return fail("an _id outside the corpus")
    r.expect match {
      case Expect.TopK(dist, k, exact) =>
        val want = corpus.docs.map(d => (d.id, dist(d))).sortBy(x => (x._2, x._1)).take(k)
        val got = pts.zip(ids).map { case (p, id) => (id, num(p.get("_distance"))) }
        if (got.length != want.length) return fail(s"${got.length} rows, want ${want.length}")
        for ((id, d) <- got) {
          val mine = dist(corpus.byId(id))
          if (d.forall(x => math.abs(x - mine) > Tol)) return fail(s"_distance of $id is $d, want $mine")
        }
        val ds = got.map(g => dist(corpus.byId(g._1)).toDouble)
        if (ds.zip(ds.drop(1)).exists { case (a, b) => b < a - Tol }) return fail("not ordered by distance")
        if (exact && ds.last > want.last._2 + Tol) return fail("not the exact top-k")
        val recall = want.map(_._1).toSet.intersect(ids.toSet).size.toDouble / want.length
        Verdict(None, Some(recall))
      case Expect.Page(filter, key, desc, offset, limit) =>
        val all = corpus.docs.filter(filter).map(key).sorted
        val want = (if (desc) all.reverse else all).slice(offset, offset + limit)
        val got = ids.map(corpus.byId)
        if (!got.forall(filter)) return fail("a row outside the filter")
        if (got.map(key) != want) return fail(s"keys ${got.map(key)} != ${want}")
        Verdict(None, None)
      case Expect.Pooled(key, terms) =>
        if (stable) {
          val ref = reference.get(key)
          if (!ref.contains(body)) return fail(s"answer differs from the serial answer")
        } else {
          val scoreField = if (r.shape == "hybrid") "_hybridScore" else "_score"
          val scores = pts.map(p => num(p.get(scoreField)).getOrElse(Double.NaN))
          if (scores.exists(_.isNaN)) return fail(s"missing $scoreField")
          if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a + Tol })
            return fail(s"not ordered by $scoreField")
          if (terms.nonEmpty && !ids.forall(id =>
              Corpus.tokens(corpus.byId(id).text).exists(terms)))
            return fail("a row matching none of the terms")
          if (pts.isEmpty) return fail("no rows")
        }
        Verdict(None, None)
    }
  }
}
