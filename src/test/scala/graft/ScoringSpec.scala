package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Specs for the corpus-scoring operators: unigram LM cross-entropy,
  * DSIR importance weights, and PII scan/redaction.
  */
class ScoringSpec extends SparkSuite {
  import spark.implicits._

  // ---- fineWebQuality -----------------------------------------------------

  test("fineWebQuality: each filter trips on its own hand-built fixture") {
    import org.apache.spark.sql.functions.{col, lit}
    val good = Seq.tabulate(10)(i => s"a sufficiently long line number $i ok.")
    val noPunct = good.map(_.stripSuffix("."))           // punct ratio 0
    val short = Seq.fill(9)("tiny.") ++ Seq("a long enough line to not count here.")
    val dup = Seq.fill(6)("duplicated line content that repeats verbatim.") ++
      good.take(1)
    val rows = Seq(
      (1L, good), (2L, noPunct), (3L, short), (4L, dup),
      (5L, good ++ Seq.fill(90)(""))) // 104 newlines vs ~70 words: nl ratio trips? words dominate; use words=10
      .toDF("id", "lines")
    val out = graft.operators.TextAnalysis
      .fineWebQuality(rows, col("id"), col("lines"), lit(100L))
      .orderBy("id").collect()
    def row(id: Long) = out.find(_.getLong(0) == id).get
    assert(row(1).getAs[Boolean]("passes"), row(1))
    assert(!row(2).getAs[Boolean]("passes") &&
      row(2).getAs[Double]("line_punct_r") == 0.0, row(2))
    assert(!row(3).getAs[Boolean]("passes") &&
      row(3).getAs[Double]("short_line_r") == 0.9, row(3))
    assert(!row(4).getAs[Boolean]("passes") &&
      row(4).getAs[Double]("dup_char_r") > 0.5, row(4))
    // 100 lines -> 99 newlines over 100 words = 0.99 > 0.3
    assert(!row(5).getAs[Boolean]("passes") &&
      row(5).getAs[Double]("nl_word_r") > 0.3, row(5))
  }

  // ---- lmScore ------------------------------------------------------------

  test("lmScore: matches the hand-computed add-one unigram model") {
    // corpus: "a a b" + "b c" → N=5, V=3, denom=8
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val out = TextAnalysis.lmScore(df, col("id"), col("text"))
      .orderBy("id").collect()
    val denom = 5.0 + 3.0
    def nlp(c: Long): Double = {
      val raw = -math.log((c + 1).toDouble / denom)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // doc 1: tokens a(c=2) a b(c=2) → mean of [nlp2, nlp2, nlp2]
    val ce1 = BigDecimal((nlp(2) + nlp(2) + nlp(2)) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2: b(2), c(1)
    val ce2 = BigDecimal((nlp(2) + nlp(1)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 2L))
    assert(math.abs(out(0).getDouble(2) - ce1) < 1e-9)
    assert(math.abs(out(1).getDouble(2) - ce2) < 1e-9)
    // perplexity = exp(ce) rounded at scale 2
    assert(math.abs(out(0).getDouble(3) - math.exp(out(0).getDouble(2))) < 0.01)
  }

  test("bigramLmScore: matches the hand-computed interpolated model") {
    // corpus: "a b" ×2, "a c" → occ a×3 b×2 c×1, N=6 V=3 denom=9;
    // bigrams (a,b)×2 (a,c)×1, context c1(a)=3
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("id", "text")
    val out = TextAnalysis.bigramLmScore(df, col("id"), col("text"))
      .orderBy("id").collect()
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val denom = 9.0
    val first = r6(-math.log(4.0 / denom)) // a: c1=3 → (3+1)/9
    // (a,b): 0.9·(2/3) + 0.1·((2+1)/9); (a,c): 0.9·(1/3) + 0.1·((1+1)/9)
    val bAfterA = r6(-math.log(0.9 * (2.0 / 3.0) + (1.0 - 0.9) * (3.0 / denom)))
    val cAfterA = r6(-math.log(0.9 * (1.0 / 3.0) + (1.0 - 0.9) * (2.0 / denom)))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L))
    assert(math.abs(out(0).getDouble(2) - (first + bAfterA)) < 1e-9, "doc1 nlp_sum")
    assert(math.abs(out(2).getDouble(2) - (first + cAfterA)) < 1e-9, "doc3 nlp_sum")
    // the frequent continuation (a→b seen twice) is less surprising
    assert(out(0).getDouble(2) < out(2).getDouble(2))
  }

  test("bigramLmScore: word order matters — scrambled text scores worse") {
    // under a UNIGRAM model these two docs are indistinguishable; the
    // bigram model must prefer the order the corpus actually uses
    val fluent = (1L to 10L).map(i => (i, "the quick brown fox jumps"))
    val scrambled = Seq((99L, "fox the jumps quick brown"))
    val df = (fluent ++ scrambled).toDF("id", "text")
    val out = TextAnalysis.bigramLmScore(df, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(99L) > out(1L),
      s"scrambled ppl ${out(99L)} should exceed fluent ${out(1L)}")
  }

  test("bigramLmScore: partition-layout independent") {
    val df = Tables.documents(spark, sf0001).limit(60)
      .select(col("doc_id").as("id"), col("text"))
    val a = TextAnalysis.bigramLmScore(df.repartition(7), col("id"), col("text"))
      .orderBy("id").collect().toSeq
    val b = TextAnalysis.bigramLmScore(df.coalesce(1), col("id"), col("text"))
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("lmScore: rare-token documents score higher cross-entropy") {
    val common = (1L to 20L).map(i => (i, "the quick brown fox"))
    val rare = Seq((99L, "zyzzyva qwertyuiop"))
    val df = (common ++ rare).toDF("id", "text")
    val out = TextAnalysis.lmScore(df, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(99L) > out(1L))
    // null/empty text: absent, not null rows
    val withEmpty = df.union(Seq((100L, null: String), (101L, "  ")).toDF("id", "text"))
    val ids = TextAnalysis.lmScore(withEmpty, col("id"), col("text"))
      .select("id").as[Long].collect().toSet
    assert(!ids.contains(100L) && !ids.contains(101L))
  }

  test("lmScore and dsirWeights: token-free corpus yields empty output, not NPE") {
    val df = Seq((1L, null: String), (2L, "  .,;  ")).toDF("id", "text")
    assert(TextAnalysis.lmScore(df, col("id"), col("text")).count() == 0)
    assert(TextAnalysis.dsirWeights(df, col("id"), col("text"), lit(false)).count() == 0)
  }

  // ---- dsirWeights --------------------------------------------------------

  test("dsirWeights: target-like raw documents get larger log weights") {
    // target slice speaks "alpha beta", one raw doc mimics it, one doesn't
    val docs = (1L to 30L).map(i => (i, "alpha beta alpha beta", true)) ++
      Seq((101L, "alpha beta alpha", false), (102L, "gamma delta epsilon", false))
    val df = docs.toDF("id", "text", "is_t")
    val out = TextAnalysis.dsirWeights(df, col("id"), col("text"), col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(101L, 102L), "only raw docs are scored")
    assert(out(101L) > out(102L))
  }

  test("dsirWeights: partition-count independent") {
    val docs = (1L to 50L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3}", i % 4 == 0))
    def run(p: Int): Seq[(Long, Long, Double)] = {
      val df = spark.createDataFrame(docs).toDF("id", "text", "is_t")
        .repartition(p)
      TextAnalysis.dsirWeights(df, col("id"), col("text"), col("is_t"))
        .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    }
    assert(run(2) == run(13))
  }

  // ---- profile ------------------------------------------------------------

  test("profile matches the standalone operators column-for-column") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def empty(df: org.apache.spark.sql.DataFrame) = assert(df.count() == 0, df.columns.mkString(","))
    val p = TextAnalysis.profile(docs, col("doc_id"), col("text")).persist()
    val li = TextAnalysis.languageId(docs, col("doc_id"), col("text"))
      .select("id", "pred_lang")
    empty(p.select("id", "pred_lang").exceptAll(li))
    empty(li.exceptAll(p.select("id", "pred_lang")))
    // quality() drops token-free docs; profile keeps them with NULL metrics
    val q = TextAnalysis.quality(docs, col("doc_id"), col("text"))
      .select("id", "n_chars", "n_tokens", "stopword_ratio", "punct_ratio",
        "uniq_ratio", "quality")
    val pq = p.filter(col("n_tokens") > 0)
      .select("id", "n_chars", "n_tokens", "stopword_ratio", "punct_ratio",
        "uniq_ratio", "quality")
    empty(pq.exceptAll(q)); empty(q.exceptAll(pq))
    val tc = TextAnalysis.tokenCounts(docs, col("doc_id"), col("text"))
      .select("id", "ws_tokens", "bpe_like_tokens", "est_subword_tokens")
    val pt = p.select("id", "ws_tokens", "bpe_like_tokens", "est_subword_tokens")
    empty(pt.exceptAll(tc)); empty(tc.exceptAll(pt))
    val fp = TextAnalysis.fingerprint(docs, col("doc_id"), col("text"))
    empty(p.select("id", "fingerprint").exceptAll(fp))
    p.unpersist()
  }

  // ---- gumbelTopK ---------------------------------------------------------

  test("gumbelTopK: heavy weights dominate the sample; selection is deterministic") {
    import graft.operators.Sampling
    // 200 light rows (log w = 0) vs 20 heavy rows (log w = ln 1000): the
    // heavy block should take (nearly) all of a k=20 sample
    val df = ((1L to 200L).map(i => (i, 0.0)) ++
      (1001L to 1020L).map(i => (i, math.log(1000.0)))).toDF("id", "lw")
    val picked = Sampling.gumbelTopK(df, col("id"), col("lw"), k = 20)
      .select("id").as[Long].collect().toSet
    assert(picked.size == 20)
    assert(picked.count(_ >= 1001L) >= 18, s"heavy rows should dominate: $picked")
    // partition-layout independence
    val again = Sampling.gumbelTopK(df.repartition(13), col("id"), col("lw"), k = 20)
      .select("id").as[Long].collect().toSet
    assert(again == picked)
  }

  test("gumbelTopK: k >= n returns every row") {
    import graft.operators.Sampling
    val df = Seq((1L, 0.0), (2L, -5.0), (3L, 2.0)).toDF("id", "lw")
    assert(Sampling.gumbelTopK(df, col("id"), col("lw"), k = 10).count() == 3)
  }

  // ---- streaming face -----------------------------------------------------

  test("profile and piiScan run unchanged over a structured stream") {
    // stateless per-row curation scoring is streaming-safe by
    // construction: the SAME DataFrame functions compile against a
    // readStream source — batch/stream parity without a second code path
    // the file stream source wants a DIRECTORY to watch — stage the
    // single-file table into a temp dir
    val src = java.nio.file.Paths.get(s"$sf0001/documents.parquet")
    val dirPath = Fs.tempDir("graft_stream_docs")
    java.nio.file.Files.copy(src, dirPath.resolve("part-0.parquet"))
    val dir = dirPath.toString
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val prof = TextAnalysis.profile(stream, col("doc_id"), col("text"))
    val pii = TextAnalysis.piiScan(stream, col("doc_id"), col("text"))
    assert(prof.isStreaming && pii.isStreaming)
    val q1 = prof.writeStream.format("memory").queryName("prof_stream")
      .outputMode("append").start()
    val q2 = pii.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try { q1.processAllAvailable(); q2.processAllAvailable() }
    finally { q1.stop(); q2.stop() }
    val batchProf = TextAnalysis.profile(
      spark.read.parquet(dir), col("doc_id"), col("text"))
    assert(spark.table("prof_stream").exceptAll(batchProf).count() == 0)
    assert(batchProf.exceptAll(spark.table("prof_stream")).count() == 0)
    val batchPii = TextAnalysis.piiScan(
      spark.read.parquet(dir), col("doc_id"), col("text"))
    assert(spark.table("pii_stream").exceptAll(batchPii).count() == 0)
    graft.Fs.deleteTree(dirPath)
  }

  // ---- gopherFilter -------------------------------------------------------

  test("gopherFilter: hand-computed signals on a crafted multi-line doc") {
    // 8 ws-words, 3 lines (1 bullet, 1 ellipsis-terminated), one '...'
    // symbol, one letterless word, stop hits {the, with}
    val text = "the cat sat\n• bullet\nends with dots..."
    val out = TextAnalysis.gopherFilter(
      Seq((1L, text)).toDF("id", "text"), col("id"), col("text"),
      minWords = 5L).collect().head
    assert(out.getLong(1) == 8L, "n_words")
    assert(out.getDouble(2) == 3.875, "mean_word_len = 31 non-ws chars / 8")
    assert(out.getDouble(3) == 0.125, "symbol_ratio = one '...' / 8 words")
    assert(out.getDouble(4) == 0.3333, "bullet_ratio = 1/3 rounded")
    assert(out.getDouble(5) == 0.3333, "ellipsis_ratio = 1/3 rounded")
    assert(out.getDouble(6) == 0.875, "alpha_ratio = 7 lettered words / 8")
    assert(out.getLong(7) == 2L, "stop_hits = the + with")
    assert(!out.getBoolean(8), "symbol_ratio 0.125 > 0.1 fails the rule")
  }

  test("gopherFilter: clean prose passes; word-count bounds gate") {
    val good = "the good cat sat on the soft mat and that have be to of " +
      "with more words here today."
    val df = Seq((1L, good), (2L, "tiny."), (3L, null: String))
      .toDF("id", "text")
    val rows = TextAnalysis.gopherFilter(df, col("id"), col("text"),
      minWords = 5L).orderBy("id").collect()
    assert(rows.length == 2, "null text dropped")
    assert(rows(0).getBoolean(8), "doc 1 passes every Gopher rule")
    assert(!rows(1).getBoolean(8), "1 word < minWords")
    // default paper bounds: 19 words < 50 → fails on count alone
    val strict = TextAnalysis.gopherFilter(
      Seq((1L, good)).toDF("id", "text"), col("id"), col("text"))
      .collect().head
    assert(!strict.getBoolean(8))
  }

  // ---- c4Clean ------------------------------------------------------------

  test("c4Clean: per-line rules fire in order and counters sum to n_lines") {
    val text = Seq(
      "Short line.",                                  // < 5 words
      "This line has five words",                     // no terminal punct
      "Enable javascript in your browser please.",    // javascript
      "This is a good sentence that stays.",          // kept
      "Another good sentence stays right here!"       // kept
    ).mkString("\n")
    val out = TextAnalysis.c4Clean(Seq((1L, text)).toDF("id", "text"),
      col("id"), col("text")).collect().head
    assert(out.getLong(1) == 5L, "n_lines")
    assert(out.getLong(2) == 1L, "n_short")
    assert(out.getLong(3) == 1L, "n_nopunct")
    assert(out.getLong(4) == 1L, "n_js")
    assert(out.getLong(5) == 2L, "n_kept")
    assert(out.getLong(2) + out.getLong(3) + out.getLong(4) + out.getLong(5)
      == out.getLong(1), "ordered counters partition the lines")
    assert(out.getBoolean(6), "page_ok")
    assert(out.getString(7) ==
      "This is a good sentence that stays.\nAnother good sentence stays right here!")
  }

  test("c4Clean: lorem ipsum and curly braces drop the whole page") {
    val keepable = "This is a good sentence that stays."
    val df = Seq(
      (1L, s"Lorem Ipsum dolor sit amet.\n$keepable"),
      (2L, s"var x = { a: 1 };\n$keepable"),
      (3L, "Only short lines\nhere now"),
      (4L, null: String)).toDF("id", "text")
    val rows = TextAnalysis.c4Clean(df, col("id"), col("text"))
      .orderBy("id").collect()
    assert(rows.length == 3, "null text dropped")
    assert(!rows(0).getBoolean(6) && rows(0).isNullAt(7),
      "lorem ipsum (case-insensitive) drops the page")
    assert(!rows(1).getBoolean(6) && rows(1).isNullAt(7),
      "curly brace drops the page")
    assert(rows(2).getBoolean(6) && rows(2).isNullAt(7),
      "page ok but zero kept lines → NULL clean_text")
    assert(rows(2).getLong(5) == 0L)
  }

  // ---- piiScan ------------------------------------------------------------

  test("piiScan: detects and redacts emails, IPv4, phones") {
    val text = "Contact jo.doe+x@example.co.uk or admin@host.io, " +
      "server at 10.0.255.3, call +1 (555) 123-4567 today"
    val out = TextAnalysis.piiScan(Seq((1L, text)).toDF("id", "text"),
      col("id"), col("text")).collect().head
    assert(out.getLong(1) == 2, "emails")
    assert(out.getLong(2) == 1, "ipv4")
    assert(out.getLong(3) == 1, "phones")
    val red = out.getString(4)
    assert(red == "Contact <EMAIL> or <EMAIL>, server at <IP>, call <PHONE> today")
  }

  test("piiScan: sequential passes keep dotted quads out of the phone count") {
    // a dotted quad is also phone-shaped ([0-9(). -] runs) — the IP pass
    // must claim it first
    val out = TextAnalysis.piiScan(
      Seq((1L, "ping 192.168.001.255 now")).toDF("id", "text"),
      col("id"), col("text")).collect().head
    assert(out.getLong(2) == 1 && out.getLong(3) == 0)
    assert(out.getString(4) == "ping <IP> now")
  }

  test("piiScan: clean text passes through untouched; null text is dropped") {
    val df = Seq((1L, "no pii here at all"), (2L, null: String)).toDF("id", "text")
    val rows = TextAnalysis.piiScan(df, col("id"), col("text")).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(4) == "no pii here at all")
    assert(rows.head.getLong(1) == 0 && rows.head.getLong(2) == 0 && rows.head.getLong(3) == 0)
  }

  test("ccnetBuckets: terciles are balanced, ordered, and match explicit cutoffs") {
    val docs = Tables.documents(spark, sf001)
    val out = TextAnalysis.ccnetBuckets(docs, col("doc_id"), col("text"))
    val byBucket = out.groupBy("ppl_bucket").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = byBucket.values.sum
    // exact terciles: each bucket within a rounding-tie of n/3
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet))
    byBucket.values.foreach(c =>
      assert(math.abs(c - n / 3.0) < n * 0.05, s"unbalanced terciles: $byBucket"))
    // ordering invariant: every head ppl <= every middle ppl <= every tail ppl
    import org.apache.spark.sql.functions.{max => smax, min => smin}
    val stats = out.groupBy("ppl_bucket")
      .agg(smin("perplexity").as("lo"), smax("perplexity").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(stats("head")._2 <= stats("middle")._1)
    assert(stats("middle")._2 <= stats("tail")._1)
    // explicit cutoffs reproduce the fitted verdicts (the at-scale path:
    // cutoffs fitted elsewhere, operator = one per-row CASE)
    val c1 = stats("head")._2
    val c2 = stats("middle")._2
    val explicitOut = TextAnalysis.ccnetBuckets(
      docs, col("doc_id"), col("text"), cutoffs = Some((c1, c2)))
    val a = out.select("id", "ppl_bucket").orderBy("id").collect().toSeq
    val b = explicitOut.select("id", "ppl_bucket").orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("bm25: hand-computed Okapi scores, idf ordering, analyzer parity") {
    // N=3 docs, all dl=3 after analysis (no stopwords in the fixture), so
    // avgdl=3 and every length norm is 1. Query "spark filter":
    //   df(spark)=2 → idf = ln(1 + 1.5/2.5)   = ln(1.6)
    //   df(filter)=1 → idf = ln(1 + 2.5/1.5)  = ln(8/3)
    // doc 1 (tf spark=2, filter=1): ln(1.6)·(2·2.2)/(2+1.2) + ln(8/3)·1
    //                             = 0.6462550 + 0.9808293 = 1.6270842
    // doc 2 (tf spark=1):           ln(1.6)·1 = 0.4700036
    // doc 3 matches nothing → absent.
    val docs = Seq(
      (1L, "spark spark filter"),
      (2L, "spark banana cherry"),
      (3L, "zebra yak xylophone")).toDF("id", "text")
    // "The spark, FILTER!" must analyze to [spark, filter] — the query
    // side goes through the same stopword/casefold analyzer as the corpus
    val out = TextAnalysis.bm25(docs, col("id"), col("text"),
        queryText = "The spark, FILTER!")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Float]("score32")).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(math.abs(out(1L) - 1.6270842f) < 5e-4)
    assert(math.abs(out(2L) - 0.4700036f) < 5e-4)
  }

  test("bm25: tf saturates and longer docs are penalized") {
    val docs = Seq(
      (1L, "topic topic topic topic topic topic topic topic"),
      (2L, "topic topic filler filler filler filler filler filler"),
      (3L, "topic word2"),
      (4L, "unrelated entirely")).toDF("id", "text")
    val out = TextAnalysis.bm25(docs, col("id"), col("text"), queryText = "topic")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Float]("score32")).toMap
    // saturation: 8 occurrences beat 2, but nowhere near 4× the score
    assert(out(1L) > out(2L) && out(1L) < 2.5f * out(2L))
    // length norm: a short doc with one hit beats a long doc with two
    assert(out(3L) > out(2L))
    assert(!out.contains(4L))
  }

  test("encodingQuality: counts, ratios, admission rule, guards") {
    val df = Seq(
      (1L, "clean text here"),
      (2L, "lossy � transcode �"),
      (3L, "nul\u0000ridden\u0007binary\u009F"),
      (4L, "tabs\tand\nnewlines are fine"))
      .toDF("id", "text")
    val out = TextAnalysis.encodingQuality(df, col("id"), col("text"))
      .select("id", "n_replacement", "n_control", "encoding_ok")
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (a, b, c, d) => a -> ((b, c, d)) }.toMap
    assert(out(1L) === ((0L, 0L, true)))
    assert(out(2L) === ((2L, 0L, false)))
    assert(out(3L) === ((0L, 3L, false)))
    assert(out(4L) === ((0L, 0L, true))) // \t \n are whitespace, not control
    intercept[IllegalArgumentException](
      TextAnalysis.encodingQuality(df, col("id"), col("text"), maxControlRatio = 1.5))
  }

  test("knLmScore: matches the hand-computed Kneser-Ney model") {
    // corpus: "a b", "a c" → voc {a:2,b:1,c:1} V=3; bigrams (a,b),(a,c)
    // B=2, bv=5; nFollow(a)=2; nCont(b)=nCont(c)=1; nCont(a)=0
    val df = Seq((1L, "a b"), (2L, "a c")).toDF("id", "text")
    val out = TextAnalysis.knLmScore(df, col("id"), col("text"), discount = 0.75)
      .orderBy("id").collect()
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val first = r6(-math.log(1.0 / 5.0)) // Pcont(a) = (0+1)/5
    // (a,b): max(1−.75,0)/2 + (.75·2/2)·((1+1)/5) = .125 + .75·.4 = .425
    val pair = r6(-math.log(0.25 / 2.0 + (0.75 * 2.0 / 2.0) * (2.0 / 5.0)))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L))
    out.foreach(r => assert(math.abs(r.getDouble(2) - (first + pair)) < 1e-9))
  }

  test("knLmScore: continuation counts discriminate one-context words") {
    // 'only' follows exclusively 'san' (one context, many occurrences);
    // 'any' follows three distinct contexts with the same total count.
    // A fresh bigram 'new any' must beat 'new only': nCont(any)=3 vs 1.
    val corpus = Seq(
      (1L, "san only san only san only"),
      (2L, "x any y any z any"),
      (3L, "new any"), (4L, "new only"))
      .toDF("id", "text")
    val out = TextAnalysis.knLmScore(corpus, col("id"), col("text"))
      .filter(col("id") >= 3L)
      .select("id", "nlp_sum").as[(Long, Double)].collect().toMap
    assert(out(3L) < out(4L),
      s"higher-continuation 'any' should score better: ${out(3L)} vs ${out(4L)}")
  }

  test("knLmScore: layout independence and guards") {
    val d = Tables.documents(spark, sf0001)
    val a = TextAnalysis.knLmScore(d, col("doc_id"), col("text"))
    val b = TextAnalysis.knLmScore(d.repartition(7, col("lang")), col("doc_id"), col("text"))
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    intercept[IllegalArgumentException](
      TextAnalysis.knLmScore(d, col("doc_id"), col("text"), discount = 1.5))
  }
}
