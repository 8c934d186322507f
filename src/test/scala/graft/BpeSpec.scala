package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Specs for distributed BPE tokenizer training: hand-computed merges on
  * the classic word-frequency example, partition invariance (determinism),
  * and the encode loop.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  // the standard BPE walkthrough dict: hug×10 pug×5 pun×12 bun×4 hugs×5
  private def corpus = {
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
  }

  // hand-computed: (u,g)=20 wins round 1; round 2 ties (u,n)=(n,</w>)=16
  // and the pair-string tiebreak picks (n,</w>); then (u,n</w>)=16; then
  // the 15-tie (h,ug) vs (ug,</w>) resolves to (h,ug)
  private val expected = Seq(
    ("u", "g"), ("n", Bpe.EndMark), ("u", "n" + Bpe.EndMark), ("h", "ug"))

  test("learnMerges matches the hand-computed example, ties broken deterministically") {
    val got = Bpe.learnMerges(corpus, col("text"), numMerges = 4, minPairCount = 1L)
    assert(got == expected, s"got $got")
  }

  test("learnMerges is partition-layout independent") {
    val a = Bpe.learnMerges(corpus.repartition(7), col("text"), 6, minPairCount = 1L)
    val b = Bpe.learnMerges(corpus.coalesce(1), col("text"), 6, minPairCount = 1L)
    assert(a == b)
  }

  test("driver-finished merge loop equals the distributed per-round table") {
    // budget 0 forces the per-round Spark loop; the default finishes the
    // loop driver-side after the one word-count pass — bit-identical law
    val dist = Bpe.learnMerges(corpus, col("text"), 6, minPairCount = 1L,
      driverDictBudget = 0L)
    val drv = Bpe.learnMerges(corpus, col("text"), 6, minPairCount = 1L)
    assert(drv == dist, s"driver $drv vs distributed $dist")
    // multibyte symbols: the driver argmax must break count ties in UTF-8
    // BYTE order (Spark's UTF8String comparison), not Java char order
    val uni = (Seq.fill(3)("héé") ++ Seq.fill(3)("zéé"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val a = Bpe.learnMerges(uni, col("text"), 4, minPairCount = 1L,
      driverDictBudget = 0L)
    val b = Bpe.learnMerges(uni, col("text"), 4, minPairCount = 1L)
    assert(a == b, s"driver $b vs distributed $a")
  }

  test("learnMerges stops at the support floor and on empty corpora") {
    // every pair in a singleton-word corpus has count 1 < minPairCount=2
    val tiny = Seq((1L, "zyx")).toDF("id", "text")
    assert(Bpe.learnMerges(tiny, col("text"), 10).isEmpty)
    val empty = Seq((1L, null: String)).toDF("id", "text")
    assert(Bpe.learnMerges(empty, col("text"), 10).isEmpty)
  }

  test("encodeWord applies merges lowest-rank-first; encode counts per doc") {
    val ranks = expected.zipWithIndex.map { case (p, r) => p -> r }.toMap
    // hug: (u,g) then (h,ug) → [hug, </w>]
    assert(Bpe.encodeWord("hug", ranks) == Seq("hug", Bpe.EndMark))
    // bug: only (u,g) applies → [b, ug, </w>]
    assert(Bpe.encodeWord("bug", ranks) == Seq("b", "ug", Bpe.EndMark))
    // pun: (n,</w>) before (u,n</w>) → [p, un</w>]
    assert(Bpe.encodeWord("pun", ranks) == Seq("p", "un" + Bpe.EndMark))
    // unseen word falls back to chars + terminal
    assert(Bpe.encodeWord("xy", ranks) == Seq("x", "y", Bpe.EndMark))
    val doc = Seq((7L, "hug bug pun")).toDF("id", "text")
    val row = Bpe.encode(doc, col("id"), col("text"), expected).collect().head
    assert(row.getLong(1) == 3L, "n_words")
    assert(row.getLong(2) == 2L + 3L + 2L, "n_bpe_tokens")
  }

  test("tokenize emits the positioned subword stream consistent with encode") {
    val doc = Seq((7L, "hug bug pun"), (8L, "pun hug")).toDF("id", "text")
    val rows = Bpe.tokenize(doc, col("id"), col("text"), expected)
      .orderBy("id").collect()
    // word order is preserved through the positioned reassembly
    assert(rows(0).getSeq[String](1) ==
      Seq("hug", Bpe.EndMark, "b", "ug", Bpe.EndMark, "p", "un" + Bpe.EndMark))
    assert(rows(1).getSeq[String](1) ==
      Seq("p", "un" + Bpe.EndMark, "hug", Bpe.EndMark))
    // consistency law vs encode: token-stream length == n_bpe_tokens
    val enc = Bpe.encode(doc, col("id"), col("text"), expected)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(r.getSeq[String](1).length.toLong == enc(r.getLong(0))))
  }

  test("merge-table artifact round-trips and serves identically") {
    val dir = Fs.tempDir("bpe_art").toString
    try {
      val learned = Bpe.learnMerges(corpus, col("text"), 6, minPairCount = 1L)
      Bpe.saveMerges(spark, learned, dir)
      val loaded = Bpe.loadMerges(spark, dir)
      assert(loaded == learned)
      val doc = Seq((1L, "hug bug pun")).toDF("id", "text")
      val a = Bpe.tokenize(doc, col("id"), col("text"), learned).collect().head
      val b = Bpe.tokenize(doc, col("id"), col("text"), loaded).collect().head
      assert(a.getSeq[String](1) == b.getSeq[String](1))
    } finally graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("more merges never increase the encoded token count") {
    val docs = corpus
    val m2 = Bpe.learnMerges(docs, col("text"), 2, minPairCount = 1L)
    val m6 = Bpe.learnMerges(docs, col("text"), 6, minPairCount = 1L)
    def total(ms: Seq[(String, String)]): Long =
      Bpe.encode(docs, col("id"), col("text"), ms)
        .agg(sum("n_bpe_tokens")).head().getLong(0)
    assert(m2 == m6.take(2), "merge tables are prefixes of each other")
    assert(total(m6) <= total(m2))
  }
}
