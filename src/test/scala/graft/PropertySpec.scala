package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.IndexKind.Metric

/** The property layer SURVEY §5 promises (the reference has none): laws
  * over the pure kernels that unit fixtures can't sweep — bounded top-k
  * algebra, prune invariants, codec round-trips, metric axioms, hash
  * formulation parity. Driver-side only (no Spark jobs per case), so
  * hundreds of cases cost milliseconds.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, cases: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  // ---- TopKAgg: reduce/merge in any order == global sorted take(k) -------

  test("TopKAgg equals sorted.take(k) under arbitrary reduce/merge splits") {
    val entries = Gen.listOf(Gen.zip(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0L, 1000L)))
    val ks = Gen.chooseNum(1, 12)
    check(Prop.forAll(entries, ks, Gen.chooseNum(0, 10)) { (xs, k, splitSeed) =>
      val agg = new operators.Similarity.TopKAgg(k)
      // split the input into chunks, reduce each, merge pairwise — the
      // distributed execution shape (map-side partials + exchange merge)
      val chunks =
        if (xs.isEmpty) Seq(Seq.empty)
        else xs.grouped(math.max(1, splitSeed + 1)).toSeq
      val bufs = chunks.map(c => c.foldLeft(agg.zero)((b, e) => agg.reduce(b, e)))
      val merged = bufs.reduce(agg.merge)
      val out = agg.finish(merged)
      val expect = xs.sortBy(e => (e._1, e._2)).take(k)
      out.ids.take(out.n).toSeq == expect.map(_._2) &&
        out.ds.take(out.n).toSeq == expect.map(_._1)
    })
  }

  // ---- robustPrune invariants -------------------------------------------

  test("robustPrune: bounded degree, subset of candidates, closest kept") {
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0).map(_.toFloat)).map(_.toArray)
    val candGen = Gen.listOf(Gen.zip(Gen.chooseNum(0.0, 100.0), Gen.chooseNum(0L, 500L), vecGen))
    check(Prop.forAll(candGen, Gen.chooseNum(1, 8)) { (cands0, db) =>
      // ids must be unique (the operator's candidate lists are deduped)
      val cands = cands0.groupBy(_._2).map(_._2.head).toSeq
      val kept = operators.VamanaBuild.robustPrune(cands, alpha = 1.2, db, Metric.Euclidean)
      val candIds = cands.map(_._2).toSet
      kept.length <= db &&
        kept.forall(candIds.contains) &&
        kept.distinct.length == kept.length &&
        (cands.isEmpty || kept.headOption.contains(
          cands.minBy(c => (c._1, c._2))._2)) // closest candidate always survives
    })
  }

  // ---- msgpack round-trip -----------------------------------------------

  private val jLeaf: Gen[org.json4s.JValue] = {
    import org.json4s._
    Gen.oneOf(
      Gen.const(JNull),
      Gen.oneOf(true, false).map(JBool(_)),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(JLong(_)),
      Gen.chooseNum(-1e12, 1e12).map(JDouble(_)),
      Gen.asciiPrintableStr.map(JString(_)))
  }
  private def jTree(depth: Int): Gen[org.json4s.JValue] = {
    import org.json4s._
    if (depth <= 0) jLeaf
    else Gen.oneOf(
      jLeaf,
      Gen.listOfN(3, jTree(depth - 1)).map(JArray(_)),
      Gen.listOfN(3, Gen.zip(Gen.alphaStr.suchThat(_.nonEmpty), jTree(depth - 1)))
        .map(kvs => JObject(kvs.map { case (k, v) => k -> v }.toMap.toList)))
  }

  test("msgpack encode/decode round-trips every request-shaped JSON tree") {
    import org.json4s._
    // decode normalizes ints to JLong; apply the same to the input
    def norm(v: JValue): JValue = v match {
      case JInt(x) => JLong(x.toLong)
      case JArray(xs) => JArray(xs.map(norm))
      case JObject(fs) => JObject(fs.map { case (k, x) => k -> norm(x) })
      case other => other
    }
    check(Prop.forAll(jTree(3)) { v =>
      model.MsgPack.decode(model.MsgPack.encode(v)) == norm(v)
    }, cases = 300)
  }

  // ---- metric axioms over the shared scalar kernel -----------------------

  private val pairGen = for {
    n <- Gen.chooseNum(1, 16)
    a <- Gen.listOfN(n, Gen.chooseNum(-5.0, 5.0).map(_.toFloat))
    b <- Gen.listOfN(n, Gen.chooseNum(-5.0, 5.0).map(_.toFloat))
  } yield (a.toArray, b.toArray)

  test("scalar distance axioms: symmetry, self-zero, bounded jaccard") {
    import graft.functions.VectorDistance.scalarDistance
    check(Prop.forAll(pairGen) { case (a, b) =>
      val symmetric = Seq(Metric.Euclidean, Metric.Dot, Metric.Cosine,
        Metric.Hamming, Metric.Jaccard).forall(m =>
        scalarDistance(m, a, b) == scalarDistance(m, b, a))
      val selfZero = scalarDistance(Metric.Euclidean, a, a) == 0.0 &&
        scalarDistance(Metric.Hamming, a, a) == 0.0 &&
        scalarDistance(Metric.Jaccard, a, a) <= 0.0 + 1e-12
      val jac = scalarDistance(Metric.Jaccard, a, b)
      symmetric && selfZero && jac >= 0.0 && jac <= 1.0 &&
        scalarDistance(Metric.Euclidean, a, b) >= 0.0 &&
        scalarDistance(Metric.Hamming, a, b) >= 0.0
    })
  }

  // ---- geohash prefix monotonicity ---------------------------------------

  test("geohash: lower precision is always a prefix of higher precision") {
    val coords = Gen.zip(Gen.chooseNum(-90.0, 90.0), Gen.chooseNum(-180.0, 180.0))
    check(Prop.forAll(coords, Gen.chooseNum(1, 11)) { case ((lat, lon), p) =>
      val long = functions.Geohash.encode(lat, lon, p + 1)
      functions.Geohash.encode(lat, lon, p) == long.take(p)
    })
  }

  // ---- geohash bbox: the prefix <-> box equivalence the oracle uses ------

  test("geohash bbox: startsWith(prefix) iff point in bbox(prefix) (half-open)") {
    val coords = Gen.zip(Gen.chooseNum(-90.0, 90.0), Gen.chooseNum(-180.0, 180.0))
    // prefixes drawn from OTHER points so matches and misses both occur
    val prefixes = Gen.zip(coords, Gen.chooseNum(1, 6))
      .map { case ((la, lo), p) => functions.Geohash.encode(la, lo, p) }
    check(Prop.forAll(coords, prefixes) { case ((lat, lon), prefix) =>
      val (latLo, latHi, lonLo, lonHi) = functions.Geohash.bbox(prefix)
      val inBox = lat >= latLo && lat < latHi && lon >= lonLo && lon < lonHi
      val byPrefix = functions.Geohash.encode(lat, lon, 8).startsWith(prefix)
      inBox == byPrefix
    })
    // degenerate inputs fail loud
    intercept[IllegalArgumentException](functions.Geohash.bbox(""))
    intercept[IllegalArgumentException](functions.Geohash.bbox("a")) // 'a' is not in geohash base32
  }

  // ---- PII redaction: idempotent, no residual matches --------------------

  test("PII redaction is idempotent and leaves no residual matches") {
    import operators.TextAnalysis.{EmailPattern, Ipv4Pattern, PhonePattern}
    // the same sequential chain piiScan's Column algebra applies —
    // java.util.regex on both sides, so the law transfers
    def redact(s: String): String =
      s.replaceAll(EmailPattern, "<EMAIL>")
        .replaceAll(Ipv4Pattern, "<IP>")
        .replaceAll(PhonePattern, "<PHONE>")
    // adversarial corpus: PII fragments glued with and without separators,
    // placeholder look-alikes, orphan @s, digit runs straddling boundaries
    val frag = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("jo.doe+x@example.co.uk", "a@b.co", "10.0.255.3",
        "1.2.3.4.5.6.7.8", "+1 (555) 123-4567", "12345678901234567",
        "<EMAIL>", "<IP>", "<PHONE>", "@", "@z.com", "...", "()",
        " ", "", ".", "-"))
    val textGen = Gen.listOf(frag).map(_.mkString(""))
    check(Prop.forAll(textGen) { s =>
      val once = redact(s)
      redact(once) == once &&
        !EmailPattern.r.findFirstIn(once).isDefined &&
        !Ipv4Pattern.r.findFirstIn(once).isDefined &&
        !PhonePattern.r.findFirstIn(once).isDefined
    })
  }

  // ---- packWords/packed-hamming vs elementwise definition ----------------

  test("packed hamming equals the elementwise sign-bit definition") {
    val dims = Gen.chooseNum(1, 130) // crosses the 64-bit word boundary twice
    val gen = for {
      n <- dims
      v <- Gen.listOfN(n, Gen.chooseNum(-2.0, 2.0).map(_.toFloat))
      w <- Gen.listOfN(n, Gen.chooseNum(-2.0, 2.0).map(_.toFloat))
      th <- Gen.listOfN(n, Gen.chooseNum(-1.0, 1.0))
    } yield (v.toArray, w.toArray, th.toArray)
    check(Prop.forAll(gen) { case (v, w, th) =>
      val a = operators.BinaryQuantizer.packWords(v, th)
      val b = operators.BinaryQuantizer.packWords(w, th)
      val packed = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      val elementwise = v.indices.count(i => (v(i) > th(i)) != (w(i) > th(i)))
      packed == elementwise
    })
  }

  // ---- round-6 pure kernels ---------------------------------------------

  test("Jacobi eigensolve: orthonormal basis, eigen-equation residual, trace preserved") {
    val dGen = Gen.chooseNum(2, 6)
    check(Prop.forAll(dGen, Gen.listOfN(36, Gen.chooseNum(-5.0, 5.0))) { (d, raw) =>
      // symmetric matrix from the raw pool
      val a = Array.tabulate(d, d)((i, j) => raw((math.min(i, j) * 6 + math.max(i, j)) % 36))
      val (vals, basis) = operators.Embeddings.jacobiEigen(a)
      val orthonormal = (0 until d).forall { c =>
        val n = math.sqrt(basis(c).map(x => x * x).sum)
        math.abs(n - 1.0) < 1e-8 && (c + 1 until d).forall { c2 =>
          math.abs(basis(c).zip(basis(c2)).map { case (x, y) => x * y }.sum) < 1e-8
        }
      }
      val residualOk = (0 until d).forall { c =>
        val av = (0 until d).map(i => (0 until d).map(j => a(i)(j) * basis(c)(j)).sum)
        av.zip(basis(c)).forall { case (x, w) => math.abs(x - vals(c) * w) < 1e-6 }
      }
      val traceOk = math.abs((0 until d).map(i => a(i)(i)).sum - vals.sum) < 1e-6
      val sortedOk = vals.sliding(2).forall { case Array(x, y) => x >= y - 1e-12; case _ => true }
      orthonormal && residualOk && traceOk && sortedOk
    }, cases = 100)
  }

  test("bloom bits: inserted keys always probe positive (no false negatives, any k/m)") {
    val keyGen = Gen.listOf(Gen.zip(Gen.long, Gen.long))
    check(Prop.forAll(keyGen, Gen.chooseNum(1, 8), Gen.chooseNum(1, 16)) { (keys, words, k) =>
      val agg = new operators.BloomDedup.BloomAgg(words, k)
      val buf = keys.foldLeft(agg.zero)((b, kv) =>
        agg.reduce(b, operators.BloomDedup.KeyedHashes(0, kv._1, kv._2)))
      keys.forall { case (h1, h2) =>
        operators.BloomDedup.hasBits(buf.words, h1, h2, k)
      }
    })
  }

  test("bloom merge is an OR: union filter answers every side's keys") {
    val keyGen = Gen.listOf(Gen.zip(Gen.long, Gen.long))
    check(Prop.forAll(keyGen, keyGen, Gen.chooseNum(1, 4)) { (ka, kb, words) =>
      val agg = new operators.BloomDedup.BloomAgg(words, 4)
      def build(ks: List[(Long, Long)]) = ks.foldLeft(agg.zero)((b, kv) =>
        agg.reduce(b, operators.BloomDedup.KeyedHashes(0, kv._1, kv._2)))
      val merged = agg.merge(build(ka), build(kb))
      (ka ++ kb).forall { case (h1, h2) =>
        operators.BloomDedup.hasBits(merged.words, h1, h2, 4)
      }
    })
  }

  test("Morton code round-trips: interleave then deinterleave recovers ranks") {
    val b = 8
    val rankGen = Gen.listOfN(2, Gen.chooseNum(0L, (1L << b) - 1))
    check(Prop.forAll(rankGen) { qs =>
      var z = 0L
      for (bit <- 0 until b; (q, i) <- qs.zipWithIndex)
        z |= ((q >> bit) & 1L) << (bit * qs.size + i)
      val back = qs.indices.map { i =>
        (0 until b).foldLeft(0L)((acc, bit) =>
          acc | (((z >> (bit * qs.size + i)) & 1L) << bit))
      }
      back == qs
    })
  }

  test("RRF fusion is monotone: improving a rank never lowers the fused score") {
    val rGen = Gen.chooseNum(1L, 1000L)
    check(Prop.forAll(rGen, rGen, Gen.chooseNum(0, 100)) { (r1, r2, k) =>
      def s(r: Long) = 1.0 / (k + r)
      val better = math.max(1L, r1 - 1)
      s(better) + s(r2) >= s(r1) + s(r2)
    })
  }

  // ---- HDF5 writer → reader round-trip over the whole declared subset ----

  test("HDF5 round-trips any shape/dtype/chunking/filter combination exactly") {
    import graft.sources.{Hdf5, Hdf5Write}
    val shapeGen = for {
      rows <- Gen.chooseNum(1, 60)
      cols <- Gen.chooseNum(1, 9)
      dt <- Gen.oneOf(Hdf5.F32, Hdf5.F64, Hdf5.I32)
      chunk <- Gen.option(Gen.zip(Gen.chooseNum(1, 17), Gen.chooseNum(1, 5)))
      shuffle <- Gen.oneOf(true, false)
      deflate <- Gen.oneOf(true, false)
      seed <- Gen.chooseNum(0, 1 << 20)
      r0frac <- Gen.chooseNum(0.0, 1.0)
      r1frac <- Gen.chooseNum(0.0, 1.0)
    } yield (rows, cols, dt, chunk, shuffle && chunk.isDefined,
      deflate && chunk.isDefined, seed, r0frac, r1frac)
    check(Prop.forAll(shapeGen) {
      case (rows, cols, dt, chunk, shuffle, deflate, seed, r0f, r1f) =>
        // exact in every dtype: multiples of 1/8, small magnitude;
        // I32 floors to the integer part on write (spec: fixed-point)
        val m = Array.tabulate(rows, cols)((i, j) =>
          (((i * 131 + j * 17 + seed) % 1000) - 500) / 8.0)
        val mExpect =
          if (dt == Hdf5.I32) m.map(_.map(_.toInt.toDouble)) else m
        val p = Fs.tempDir("graft_h5_prop_")
          .resolve("t.hdf5").toString
        Hdf5Write.write(p, Seq(Hdf5Write.Spec("train", m, dt,
          chunk = chunk, shuffle = shuffle, deflate = deflate)))
        val ds = Hdf5.datasets(p).head
        val lo = math.min((rows * r0f).toInt, rows)
        val hi = math.max(lo, math.min((rows * r1f).toInt, rows))
        val whole = Hdf5.readRows(p, ds, 0, rows).map(_.toSeq).toSeq
        val part = Hdf5.readRows(p, ds, lo, hi).map(_.toSeq).toSeq
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
        ds.rows == rows && ds.cols == cols &&
          whole == mExpect.map(_.toSeq).toSeq &&
          part == mExpect.slice(lo, hi).map(_.toSeq).toSeq
    }, cases = 120)
  }

  // ---- OPQ / RaBitQ rotation + estimator laws -----------------------------

  test("eigenAllocation: permutation, exact bucket fill, largest axes spread") {
    val spectra = Gen.chooseNum(1, 5).flatMap(sub =>
      Gen.chooseNum(2, 6).flatMap(m =>
        Gen.listOfN(m * sub, Gen.chooseNum(0.0, 100.0)).map(l =>
          (l.sortBy(-_).toArray, m, sub))))
    check(Prop.forAll(spectra) { case (eig, m, sub) =>
      val alloc = operators.Opq.eigenAllocation(eig, m, sub)
      val buckets = alloc.grouped(sub).toSeq
      alloc.sorted.toSeq == eig.indices &&
        buckets.forall(_.length == sub) &&
        // the m largest (distinct-bucket) law needs distinct eigenvalues
        (eig.distinct.length != eig.length ||
          (0 until m).map(a => buckets.indexWhere(_.contains(a))).toSet.size == m)
    })
  }

  test("RaBitQ randomRotation is orthonormal for any (dim, seed)") {
    check(Prop.forAll(Gen.chooseNum(2, 24), Gen.chooseNum(0L, 1000L)) { (d, seed) =>
      val r = operators.RaBitQ.randomRotation(d, seed)
      (0 until d).forall { i =>
        (i until d).forall { j =>
          val dot = (0 until d).map(t => r(i)(t) * r(j)(t)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
        }
      }
    }, cases = 60)
  }

  test("Opq.rotateVec under an orthogonal matrix preserves pairwise L2 (float tolerance)") {
    val vecGen = Gen.listOfN(12, Gen.chooseNum(-100.0, 100.0).map(_.toFloat)).map(_.toArray)
    check(Prop.forAll(vecGen, vecGen, Gen.chooseNum(0L, 500L)) { (x, q, seed) =>
      val rot = operators.RaBitQ.randomRotation(12, seed)
      def l2(a: Array[Float], b: Array[Float]): Double =
        a.zip(b).map { case (u, v) => (u.toDouble - v) * (u.toDouble - v) }.sum
      val raw = l2(x, q)
      val rr = l2(operators.Opq.rotateVec(rot, x), operators.Opq.rotateVec(rot, q))
      math.abs(raw - rr) <= 1e-3 * math.max(raw, 1.0)
    })
  }

  test("RaBitQ self-estimate is exactly zero for any corpus vector and rotation") {
    // cosEst(x, x) = <x-bar, o>/<o, x-bar> = 1 identically, so the
    // estimated ||x - x||^2 collapses to 0 regardless of quantization
    // error — a sharp identity fixtures can't sweep
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-50.0, 50.0).map(_.toFloat)).map(_.toArray)
    val cGen = Gen.listOfN(8, Gen.chooseNum(-5.0, 5.0)).map(_.toArray)
    check(Prop.forAll(vecGen, cGen, Gen.chooseNum(0L, 500L)) { (x, c, seed) =>
      val model = operators.RaBitQ.RbqModel(c, operators.RaBitQ.randomRotation(8, seed))
      // driver-side replay of encode + estimator with q = x
      val r = x.zip(c).map { case (a, b) => a.toDouble - b }
      val n = math.sqrt(r.map(t => t * t).sum)
      n == 0.0 || {
        val o = r.map(_ / n)
        val p = Array.tabulate(8)(i => (0 until 8).map(j => model.rotation(i)(j) * o(j)).sum)
        val inv = 1.0 / math.sqrt(8.0)
        val dotq = p.map(math.abs).sum * inv
        val uDotQ = p.map(v => if (v > 0) v else -v).sum * inv // <sign(p)/sqrt(D), p>
        val cosEst = uDotQ / dotq
        val est = n * n + n * n - 2.0 * n * n * cosEst
        math.abs(est) < 1e-9
      }
    })
  }
}
