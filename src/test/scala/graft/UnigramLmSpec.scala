package graft

import org.apache.spark.sql.functions._
import graft.operators.UnigramLm

/** Laws for the unigram-LM tokenizer: Viterbi correctness and tiebreaks,
  * learned-piece recovery of planted morphology, round-trip
  * concatenation, unknown-character coverage, layout independence, and
  * guards.
  */
class UnigramLmSpec extends SparkSuite {
  import spark.implicits._

  private def model(ps: (String, Double)*): UnigramLm.Model =
    UnigramLm.Model(ps.toMap)

  test("viterbi: picks the cheapest segmentation; longest wins ties") {
    // 'ab' as one piece is cheaper than a+b
    val m1 = model("a" -> 0.25, "b" -> 0.25, "ab" -> 0.5)
    assert(UnigramLm.viterbi("ab", m1) === Seq("ab"))
    // equal-probability pieces: any 2-piece split beats a+b+c (3); the
    // deterministic tiebreak prefers the longer FINAL piece -> [a, bc]
    val m2 = model("a" -> 0.2, "b" -> 0.2, "c" -> 0.2, "ab" -> 0.2, "bc" -> 0.2)
    assert(UnigramLm.viterbi("abc", m2) === Seq("a", "bc"))
    assert(UnigramLm.viterbi("", m2) === Seq.empty)
  }

  test("viterbi: unknown characters fall back to singleton pieces") {
    val m = model("a" -> 0.5, "b" -> 0.5)
    assert(UnigramLm.viterbi("axb", m) === Seq("a", "x", "b"))
  }

  test("train: recovers a planted suffix as a high-probability piece") {
    val docs = (1 to 40).flatMap(i =>
      Seq((i.toLong, "walking talking jumping resting looking")))
      .toDF("id", "text")
    val m = UnigramLm.train(docs, col("text"),
      vocabSize = 40, maxPieceLen = 4, emIters = 3, seedCap = 200, minCount = 2)
    assert(m.pieces.contains("ing"), s"pieces: ${m.pieces.keys.toSeq.sorted}")
    // 'ing' should outweigh any random trigram — it ends every word
    val ing = m.pieces("ing")
    assert(m.pieces.filter(_._1.length == 3).forall { case (_, p) => p <= ing })
    // tokenizing an UNSEEN word reuses the learned suffix
    val toks = UnigramLm.tokenize(Seq((1L, "speaking")).toDF("id", "text"),
        col("id"), col("text"), m)
      .select("pieces").as[Seq[String]].head()
    assert(toks.last === "ing", s"got $toks")
    assert(toks.mkString("") === "speaking") // round-trip
  }

  test("train + tokenize: concatenation round-trips every corpus word") {
    val docs = Tables.documents(spark, sf0001)
    val m = UnigramLm.train(docs, col("text"), vocabSize = 150, emIters = 2)
    val out = UnigramLm.tokenize(docs, col("doc_id"), col("text"), m)
    val rt = out.select(col("id"), concat_ws("", col("pieces")).as("joined"))
    val direct = docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("id"),
        concat_ws("", graft.operators.Dedup.tokens(col("text"))).as("joined"))
    assert(rt.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(rt).count() === 0)
    // pieces compress: fewer pieces than characters
    val chars = direct.select(sum(length(col("joined")))).as[Long].head()
    val pieces = out.select(sum(col("n_pieces"))).as[Long].head()
    assert(pieces < chars, s"$pieces pieces vs $chars chars")
  }

  test("train is layout-independent") {
    val docs = Tables.documents(spark, sf0001)
    val a = UnigramLm.train(docs, col("text"), vocabSize = 100, emIters = 2)
    val b = UnigramLm.train(docs.repartition(11, col("lang")), col("text"),
      vocabSize = 100, emIters = 2)
    assert(a.pieces === b.pieces)
  }

  test("save/load round-trips the model; served tokenization identical") {
    val docs = Tables.documents(spark, sf0001)
    val m = UnigramLm.train(docs, col("text"), vocabSize = 80, emIters = 2)
    val dir = Fs.tempDir("unigram").toString
    UnigramLm.save(spark, m, s"$dir/m")
    val loaded = UnigramLm.load(spark, s"$dir/m")
    assert(loaded.pieces === m.pieces)
    val a = UnigramLm.tokenize(docs, col("doc_id"), col("text"), m)
    val b = UnigramLm.tokenize(docs, col("doc_id"), col("text"), loaded)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("guards: parameters and empty corpus rejected") {
    val docs = Seq((1L, "a")).toDF("id", "text")
    intercept[IllegalArgumentException](
      UnigramLm.train(docs, col("text"), vocabSize = 0))
    intercept[IllegalArgumentException](
      UnigramLm.train(docs, col("text"), minCount = 100L)) // nothing survives
  }
  test("gate digest pins segmentation: an alternate split of the same text flips it") {
    // Two VALID segmentations of the same word stream. Joined with "" both
    // reconstruct "walking" (the round-trip law), so an unseparated digest
    // could never tell them apart; the gate's space-joined row string can.
    val segA = Seq((1L, Seq("walk", "ing"))).toDF("id", "pieces")
    val segB = Seq((1L, Seq("walki", "ng"))).toDF("id", "pieces")
    def rows(df: org.apache.spark.sql.DataFrame, sep: String) =
      df.select(concat_ws(":", col("id"), concat_ws(sep, col("pieces"))).as("_row"))
        .agg(graft.queries.orderFreeDigest(col("_row")).as("digest"))
        .as[String].head()
    assert(rows(segA, "") === rows(segB, ""), "sanity: unseparated join collides")
    assert(rows(segA, " ") !== rows(segB, " "),
      "space-separated gate digest must distinguish segmentations")
  }
}
