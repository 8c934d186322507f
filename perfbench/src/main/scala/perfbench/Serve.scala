package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.Graft
import graft.store.UserPlan
import graft.wire.{HttpListener, WireRouter, WireService}

/** The serving workloads: three search clients on the collection `served`,
  * and one write client on the collection `written`. In serve_read the two
  * are different collections created from the same rows, and only the
  * served one has a graph: the reads see the writer's Spark load but never
  * its invalidations, and the writes never patch a graph. In serve_write
  * the writer writes to the collection being read, graph included.
  *
  * The window is a closed loop: it lasts `seconds`, or until the writer
  * has finished the rotation in flight at that moment, whichever is later,
  * and the search clients keep searching until it ends.
  */
final class Serve(ctx: Ctx, writeServed: Boolean) {
  import Serve._
  private val spark = ctx.spark
  private val corpus = {
    val t0 = System.nanoTime()
    try Corpus.load(spark, ctx.dataDir)
    finally log(f"corpus ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
  private val mix = new Mix(corpus, ctx.seed)
  private val root = ctx.work.resolve("store").toString
  private val served = s"coll${SetupRuns - 1}"
  private val written = if (writeServed) served else s"coll${SetupRuns - 2}"
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private def fail(m: String): Unit = synchronized { failures += m }

  private def group[A](g: String)(f: => A): A = {
    if (ctx.trace) spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try f finally if (ctx.trace) spark.sparkContext.clearJobGroup()
  }

  def run(): Result = {
    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    // set-up: create the store-backed collection SetupRuns times (the
    // last two become the written and the served one), then build the
    // served collection's graph; set-up time is the median create plus
    // the build
    val db = Graft.forTenant(spark, root, Tenant)
    val frame = Corpus.frame(spark, corpus.docs)
    val creates = (0 until SetupRuns).map { i =>
      val t0 = System.nanoTime()
      group(s"setup/create$i")(db.createCollection(s"coll$i", Corpus.Schema, frame))
      (System.nanoTime() - t0) / 1e9
    }
    val b0 = System.nanoTime()
    group("setup/build")(db.buildVamanaIndex(served, "vec_l2"))
    val buildS = (System.nanoTime() - b0) / 1e9
    metrics("setup_s") = Metric(Stats.median(creates) + buildS, "s")
    log(f"set-up: creates ${creates.map(c => f"$c%.2f").mkString(" ")} s, build $buildS%.1f s")

    val service = new WireService(spark, root, Map(Plan -> UserPlan()))
    val listener = new HttpListener(service)
    try {
      val http = new Http(listener.boundPort)
      val w0 = System.nanoTime()
      val reference = warmUp(http)
      log(f"warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")
      val writer = new Writer(corpus, ctx.seed)
      if (!ctx.trace) metrics ++= measure(http, writer, reference)
      else {
        metrics ++= traced(service, listener.boundPort, writer, reference)
        val work = ctx.acct.group("setup/build")
        metrics("store.create_s") = Metric(Stats.median(creates), "s")
        metrics("operators.vamana_build_s") = Metric(buildS, "s")
        metrics("spark.build_jobs") = Metric(work.jobs.toDouble, "count")
        metrics("spark.build_shuffle_write_bytes") = Metric(work.shuffleWrite.toDouble, "B")
        metrics("spark.build_spill_bytes") = Metric(work.spill.toDouble, "B")
      }
      val r0 = System.nanoTime()
      reopenCheck(writer)
      log(f"reopen check ${(System.nanoTime() - r0) / 1e9}%.1f s")
    } finally listener.close(0)
    if (ctx.trace) metrics ++= Gates.run(ctx)
    Result(failures.isEmpty, attempted, failures.length.toLong, metrics.toSeq, failures.toSeq)
  }

  /** Send every pooled request alone; its answer becomes the reference for
    * later identical requests. The first text search also builds the text
    * index, which the store builds lazily.
    */
  private def warmUp(http: Http): Map[String, String] =
    mix.pool.map { r =>
      val (status, body) = http.send("POST", s"/collections/$served/points/search", r.body)
      attempted += 1
      if (status != 200) fail(s"warm-up ${r.shape}: HTTP $status ${body.take(200)}")
      r.expect.asInstanceOf[Expect.Pooled].key -> body
    }.toMap

  /** The timed closed loop: SearchClients searching, one client writing. */
  private def measure(http: Http, writer: Writer,
      reference: Map[String, String]): Seq[(String, Metric)] = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val readers = (0 until SearchClients).map { c =>
      runThread {
        val out = mutable.ArrayBuffer.empty[Sample]
        val it = mix.stream(c)
        while (System.nanoTime() < deadline || !writerDone.get) {
          val r = it.next()
          val s0 = System.nanoTime()
          val (status, body) = http.send("POST", s"/collections/$served/points/search", r.body)
          out += Sample(r.shape, System.nanoTime() - s0, status, body, r)
        }
        out.toSeq
      }
    }
    val writes = runThread {
      val out = mutable.ArrayBuffer.empty[Sample]
      var space = Double.NaN
      try while (System.nanoTime() < deadline || !writer.atRotationStart) {
        val op = writer.next()
        val s0 = System.nanoTime()
        val (status, body) = http.send(op.method, s"/collections/$written/points", op.body)
        out += Sample(op.kind, System.nanoTime() - s0, status, body, null)
        if (status == 200) writer.acknowledge(op)
        if (space.isNaN && writer.atRotationStart) space = spaceAfterRotation(http, writer)
      } finally writerDone.set(true)
      (out.toSeq, space)
    }
    val reads = readers.flatMap(_.join())
    val (ws, space) = writes.join()
    val wall = System.nanoTime() - t0
    attempted += reads.length + ws.length
    val recalls = mutable.ArrayBuffer.empty[Double]
    reads.foreach { s =>
      if (s.status != 200) fail(s"${s.shape}: HTTP ${s.status} ${s.body.take(200)}")
      else {
        val v = Mix.check(corpus, s.req, s.body, reference, stable = !writeServed)
        v.error.foreach(fail)
        if (s.shape == "vamana_approx") v.recall.foreach(recalls += _)
      }
    }
    ws.foreach(s => if (s.status != 200) fail(s"${s.shape}: HTTP ${s.status} ${s.body.take(200)}"))
    val readMs = reads.map(_.ns / 1e6)
    log(f"window: ${reads.length} reads, ${ws.length} writes in ${wall / 1e9}%.1f s; " +
      Mix.Shapes.map(sh => f"$sh ${Stats.median(reads.filter(_.shape == sh).map(_.ns / 1e6) :+ 0.0)}%.0f").mkString(" ") +
      s"; writes ${ws.map(w => f"${w.shape} ${w.ns / 1e6}%.0f").mkString(" ")}")
    val m = mutable.LinkedHashMap.empty[String, Metric]
    m("search_qps") = Metric(reads.length / (wall / 1e9), "1/s")
    m("search_p50_ms") = Metric(Stats.median(readMs), "ms")
    Stats.tailMean(readMs, 0.8).foreach(v => m("search_tail_ms") = Metric(v, "ms"))
    // the rotation's three kinds differ in cost up to 100x, so a median of
    // all writes would land on whichever kind sits in the middle: summarize
    // each kind by its median and combine the three geometrically
    val kinds = ws.groupBy(_.shape).values.map(k => math.log(Stats.median(k.map(_.ns / 1e6))))
    m("write_p50_ms") = Metric(math.exp(kinds.sum / kinds.size), "ms")
    m("writes_per_s") = Metric(ws.length / (wall / 1e9), "1/s")
    if (recalls.nonEmpty) m("recall_at_10") = Metric(Stats.mean(recalls.toSeq), "ratio")
    m("disk_bytes_per_user_byte") = Metric(space, "ratio")
    m.toSeq
  }

  /** The written collection's bytes on disk per byte of its live points,
    * taken once, right after the writer's first rotation. The point count
    * a later snapshot would see depends on how many writes the window held,
    * and whether the store has compacted by then flips the figure between
    * two levels, so a fixed point in the write sequence is measured: one
    * GET of the collection first folds the pending update and delete into a
    * delta, and its point count is checked.
    */
  private def spaceAfterRotation(http: Http, writer: Writer): Double = {
    val (status, body) = http.send("GET", s"/collections/$written", "")
    attempted += 1
    val want = corpus.docs.length + writer.live.size
    val count = if (status != 200) -1L else pointCount(JsonMethods.parse(body))
    if (count != want) fail(s"after first rotation: $count points (HTTP $status), want $want")
    Serve.dirBytes(Paths.get(root, Tenant, written)).toDouble /
      (corpus.userBytes + writer.liveUserBytes)
  }

  /** The traced replay: the same request streams at the same concurrency,
    * calling each layer's public function in order under its own span and
    * Spark job group.
    */
  private def traced(service: WireService, port: Int, writer: Writer,
      reference: Map[String, String]): Seq[(String, Metric)] = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    val db = Graft.forTenant(spark, root, Tenant)
    val headers = Map("X-User-Id" -> Tenant, "X-Plan-Id" -> Plan)
    val http = new Http(port)
    val listenerMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val nonOk = new java.util.concurrent.atomic.AtomicLong(0)
    final case class Done(id: Long, req: Request, body: Option[String], rows: Int)
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until SearchClients).map { c =>
      runThread {
        val out = mutable.ArrayBuffer.empty[Done]
        val it = mix.stream(c)
        while (System.nanoTime() < deadline || !writerDone.get) {
          val r = it.next()
          val id = tracer.newId()
          def layer[A](name: String, parent: Long)(f: => A): A =
            tracer.span(name, parent, id) { _ =>
              sc.setJobGroup(s"q$id/$name", name, interruptOnCancel = false)
              try f finally sc.clearJobGroup()
            }
          val body = try Some(tracer.span("request", 0L, id) { root =>
            val req = layer("model.decode", root)(graft.model.Json.parseSearchRequest(r.body))
            layer("store.load", root)(db.collection(served))
            val df = layer("engine.compile", root)(db.search(served, req))
            layer("catalyst.plan", root)(df.queryExecution.executedPlan)
            val rows = layer("spark.execute", root)(df.collect())
            layer("wire.encode", root)(JsonMethods.compact(JsonMethods.render(
              JObject("points" -> JArray(rows.toList.map(WireRouter.rowToPointMap))))))
          }) catch { case scala.util.control.NonFatal(e) =>
            nonOk.incrementAndGet(); fail(s"traced ${r.shape}: ${e.getMessage}"); None
          }
          // the listener's own cost: an HTTP round trip minus the service's
          // handling of the same request in process
          val p0 = System.nanoTime()
          val (st, _) = http.send("GET", "/ping", "")
          val p1 = System.nanoTime()
          service.handle("GET", "/ping", headers)
          val p2 = System.nanoTime()
          if (st != 200) nonOk.incrementAndGet()
          listenerMs.add(((p1 - p0) - (p2 - p1)) / 1e6)
          out += Done(id, r, body, body.map(b => Mix.points(b).length).getOrElse(0))
        }
        out.toSeq
      }
    }
    val writeSpans = runThread {
      val out = mutable.ArrayBuffer.empty[(String, Long)]
      val scan = new StoreScan(Paths.get(root, Tenant, written))
      try while (System.nanoTime() < deadline || !writer.atRotationStart) {
        val op = writer.next()
        val id = tracer.newId()
        try {
          tracer.span(s"store.${op.kind}", 0L, id) { _ =>
            sc.setJobGroup(s"w$id/${op.kind}", op.kind, interruptOnCancel = false)
            try op.kind match {
              case "insert" => db.insert(written, Corpus.frame(spark, op.docs))
              case "update" =>
                db.update(written, spark.createDataFrame(op.updates.map { case (i, n, t) =>
                  Row(i, n, t) }.asJava, UpdateSchema))
              case "delete" => db.delete(written, op.ids)
            } finally sc.clearJobGroup()
          }
          writer.acknowledge(op)
        } catch { case scala.util.control.NonFatal(e) =>
          nonOk.incrementAndGet(); fail(s"traced ${op.kind}: ${e.getMessage}")
        }
        scan.scan()
        out += ((op.kind, id))
      } finally writerDone.set(true)
      (out.toSeq, scan, writer.writtenUserBytes)
    }
    val done = readers.flatMap(_.join())
    val (writes, scan, userWritten) = writeSpans.join()
    attempted += done.length + writes.length
    done.foreach(d => d.body.foreach(b =>
      Mix.check(corpus, d.req, b, reference, stable = !writeServed).error.foreach(fail)))
    org.apache.spark.PerfbenchBus.drain(sc)

    val spans = tracer.spans
    val byRequest = spans.groupBy(_.request)
    val m = mutable.LinkedHashMap.empty[String, Metric]
    def layerMs(name: String): Seq[Double] =
      spans.filter(_.name == name).map(_.durNs / 1e6)
    val ok = done.filter(_.body.isDefined)
    for (l <- Seq("model.decode", "store.load", "engine.compile", "catalyst.plan",
        "spark.execute", "wire.encode")) {
      val xs = layerMs(l)
      m(s"${l}_ms") = Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    m("wire.listener_ms") = Metric(Stats.median(listenerMs.asScala.toSeq), "ms")
    val roots = spans.filter(_.name == "request")
    m("trace.request_ms") = Metric(Stats.median(roots.map(_.durNs / 1e6)), "ms")
    m("trace.self_ms") = Metric(Stats.median(roots.map(r => Spans.selfNs(r, byRequest(r.request)) / 1e6)), "ms")
    m("trace.coverage") = Metric(Stats.median(roots.map(r =>
      1.0 - Spans.selfNs(r, byRequest(r.request)).toDouble / r.durNs)), "ratio")
    m("trace.overhead_ms") = Metric(instrumentationMs(), "ms")

    val work = ok.map(d => d -> ctx.acct.total(_.startsWith(s"q${d.id}/")))
    val n = math.max(1, work.length).toDouble
    m("spark.jobs_per_search") = Metric(work.map(_._2.jobs).sum / n, "count")
    m("spark.stages_per_search") = Metric(work.map(_._2.stages).sum / n, "count")
    m("spark.tasks_per_search") = Metric(work.map(_._2.tasks).sum / n, "count")
    m("spark.task_busy_ms_per_search") = Metric(work.map(_._2.busyMs).sum / n, "ms")
    m("spark.task_wait_ms_per_search") = Metric(work.map(_._2.waitMs).sum / n, "ms")
    m("spark.shuffle_bytes_per_search") = Metric(work.map(w => w._2.shuffleRead + w._2.shuffleWrite).sum / n, "B")
    m("spark.rows_read_per_row_returned") = Metric(
      work.map(_._2.recordsRead).sum.toDouble / math.max(1, ok.map(_.rows).sum), "ratio")
    for (s <- Mix.Shapes) {
      val mine = work.filter(_._1.req.shape == s)
      val ms = mine.map { case (d, _) => roots.find(_.request == d.id).get.durNs / 1e6 }
      m(s"shape.$s.ms") = Metric(if (ms.isEmpty) 0.0 else Stats.median(ms), "ms")
      m(s"shape.$s.jobs") = Metric(if (mine.isEmpty) 0.0 else mine.map(_._2.jobs).sum.toDouble / mine.length, "count")
    }
    for (k <- Seq("insert", "update", "delete")) {
      val mine = writes.filter(_._1 == k)
      val ms = mine.flatMap { case (_, id) => spans.find(_.request == id).map(_.durNs / 1e6) }
      m(s"store.${k}_ms") = Metric(if (ms.isEmpty) 0.0 else Stats.median(ms), "ms")
      m(s"spark.jobs_per_$k") = Metric(if (mine.isEmpty) 0.0 else
        mine.map { case (_, id) => ctx.acct.total(_.startsWith(s"w$id/")).jobs }.sum.toDouble / mine.length, "count")
    }
    m("store.compactions") = Metric(scan.compactions.toDouble, "count")
    m("store.deltas_live") = Metric(scan.deltasLive.toDouble, "count")
    m("store.write_bytes_per_user_byte") = Metric(scan.bytesWritten.toDouble / math.max(1L, userWritten), "ratio")
    m("spark.tasks_failed") = Metric(ctx.acct.total(_ => true).tasksFailed.toDouble, "count")
    m("wire.non_200") = Metric(nonOk.get.toDouble, "count")
    m("spark.local_dir_peak_bytes") = Metric(ctx.localDirPeak().toDouble, "B")
    Files.write(ctx.work.resolve("spans.tsv"), spans.sortBy(_.startNs).map(s =>
      s"${s.request}\t${s.id}\t${s.parent}\t${s.name}\t${s.startNs}\t${s.endNs}").asJava)
    m.toSeq
  }

  /** What tracing adds to one request: the median time of a traced request
    * whose layers do no work (a root span and six layer spans, each setting
    * and clearing its Spark job group).
    */
  private def instrumentationMs(): Double = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    Stats.median((0 until 500).map { _ =>
      val id = tracer.newId()
      val t0 = System.nanoTime()
      tracer.span("request", 0L, id) { root =>
        (1 to 6).foreach { l =>
          tracer.span(s"layer$l", root, id) { _ =>
            sc.setJobGroup(s"o$id/$l", "", interruptOnCancel = false)
            sc.clearJobGroup()
          }
        }
      }
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** Reopen the store through a fresh service and check that every
    * acknowledged write, and nothing else, is there.
    */
  private def reopenCheck(writer: Writer): Unit = {
    val fresh = new WireService(spark, root, Map(Plan -> UserPlan()))
    val headers = Map("X-User-Id" -> Tenant, "X-Plan-Id" -> Plan,
      "Content-Type" -> "application/json")
    attempted += 1
    val info = fresh.handle("GET", s"/collections/$written", headers)
    val count = pointCount(info.body)
    val want = corpus.docs.length + writer.live.size
    if (count != want) fail(s"reopen: $count points, want $want")
    val inserted = writer.insertedIds.toSeq
    val seen = mutable.Map.empty[String, Long]
    inserted.grouped(100).foreach { ids =>
      attempted += 1
      val body = s"""{"query":{"property":"_id","stringArray":{"value":[${ids.map(Corpus.str).mkString(",")}],"operator":"containsAny"}},"select":["_id","n_chars"],"limit":100}"""
      val r = fresh.handle("POST", s"/collections/$written/points/search", headers, body.getBytes("UTF-8"))
      if (r.status != 200) fail(s"reopen search: HTTP ${r.status}")
      else Mix.points(r.json).foreach { p =>
        (p.get("_id"), p.get("n_chars")) match {
          case (Some(JString(i)), Some(JInt(n))) => seen(i) = n.toLong
          case other => fail(s"reopen: malformed point $other")
        }
      }
    }
    if (seen.keySet != writer.live.keySet)
      fail(s"reopen: live ids differ: ${(seen.keySet diff writer.live.keySet).take(5)} extra, " +
        s"${(writer.live.keySet diff seen.keySet).take(5)} missing")
    writer.live.foreach { case (i, n) =>
      if (seen.get(i).exists(_ != n)) fail(s"reopen: $i has n_chars ${seen(i)}, want $n")
    }
  }
}

object Serve {
  /** One answered request of the timed window. */
  final case class Sample(shape: String, ns: Long, status: Int, body: String, req: Request)

  def log(m: String): Unit = System.err.println(s"[perfbench] $m")
  val Tenant = "bench"
  val Plan = "basic"
  val SetupRuns = 3
  val SearchClients = 3
  val UpdateSchema: StructType = StructType(Seq(
    StructField("_id", StringType, nullable = false),
    StructField("n_chars", LongType),
    StructField("text", StringType)))

  /** The point count of a `GET /collections/{id}` answer, -1 if it has none. */
  def pointCount(info: JValue): Long = (info \ "shards" \ "pointCount") match {
    case JArray(xs) => xs.collect { case JInt(i) => i.toLong }.sum
    case JInt(i) => i.toLong
    case _ => -1L
  }

  /** Bytes of the regular files under `p`; files that vanish during the
    * walk are skipped.
    */
  def dirBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  final class Joinable[A](t: Thread, result: () => A) {
    def join(): A = { t.join(); result() }
  }

  def runThread[A](f: => A): Joinable[A] = {
    @volatile var out: Either[Throwable, A] = null
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) })
    t.start()
    new Joinable(t, () => out.fold(e => throw e, identity))
  }
}

/** A blocking HTTP/1.1 client over loopback with the tenant headers. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def send(method: String, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("X-User-Id", Serve.Tenant).header("X-Plan-Id", Serve.Plan)
      .header("Content-Type", "application/json")
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .build()
    try {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }
  }
}

/** One write request of the rotation. */
final case class WriteOp(kind: String, method: String, body: String,
    docs: Seq[Doc] = Nil, updates: Seq[(String, Long, String)] = Nil, ids: Seq[String] = Nil)

/** The write rotation: insert 10 new points, update 5 of them, delete the
  * other 5. Written points use a language, text tokens, lengths and a flat
  * vector no search of the mix can match, so every read keeps its reference
  * answer. They carry no `vec_l2`, so no write patches the graph: one
  * graph-patching insert outlasts a whole window.
  */
final class Writer(corpus: Corpus, seed: Long) {
  private val rng = new scala.util.Random(seed ^ 0x77L)
  private var n = 0
  private var step = 0
  private var batch: Seq[Doc] = Nil
  /** Acknowledged live inserted points and their current n_chars. */
  val live = mutable.LinkedHashMap.empty[String, Long]
  val insertedIds = mutable.LinkedHashSet.empty[String]
  private var userWritten = 0L
  private val pointBytes = mutable.Map.empty[String, Long]

  def next(): WriteOp = {
    val op = step % 3 match {
      case 0 =>
        batch = (0 until 10).map { _ =>
          n += 1
          val u = Corpus.randomUnit(rng, corpus.dim)
          Doc(s"w$n", s"zqw$n zqx", "zz", -n.toLong, u.map(_ * 0.1f), null)
        }
        WriteOp("insert", "POST", batch.map(Corpus.pointJson).mkString("""{"points":[""", ",", "]}"), docs = batch)
      case 1 =>
        val ups = batch.take(5).map(d => (d.id, d.nChars - 100000L, s"zqu${d.id}"))
        WriteOp("update", "PUT", ups.map { case (i, c, t) =>
          s"""{"_id":${Corpus.str(i)},"n_chars":$c,"text":${Corpus.str(t)}}""" }
          .mkString("""{"points":[""", ",", "]}"), updates = ups)
      case _ =>
        val ids = batch.drop(5).map(_.id)
        WriteOp("delete", "DELETE", ids.map(Corpus.str).mkString("""{"ids":[""", ",", "]}"), ids = ids)
    }
    step += 1
    op
  }

  def acknowledge(op: WriteOp): Unit = {
    userWritten += op.body.getBytes("UTF-8").length
    op.kind match {
      case "insert" => op.docs.foreach { d =>
        live(d.id) = d.nChars; insertedIds += d.id
        pointBytes(d.id) = Corpus.pointJson(d).getBytes("UTF-8").length
      }
      case "update" => op.updates.foreach { case (i, c, _) => if (live.contains(i)) live(i) = c }
      case _ => op.ids.foreach(live.remove)
    }
  }

  /** True before the first write of a rotation (insert, update, delete). */
  def atRotationStart: Boolean = step % 3 == 0

  def writtenUserBytes: Long = userWritten
  def liveUserBytes: Long = live.keys.map(pointBytes).sum
}

/** Scans a collection directory after each write: bytes of files not seen
  * before, base versions seen, and live delta directories.
  */
final class StoreScan(dir: Path) {
  private val seen = mutable.Map.empty[String, Long]
  private val bases = mutable.Set.empty[String]
  var bytesWritten = 0L
  var deltasLive = 0
  scan()
  bytesWritten = 0L
  private val initialBases = bases.size

  def scan(): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator.asScala.foreach { p =>
      val rel = dir.relativize(p).toString
      if (Files.isRegularFile(p)) {
        val size = try Files.size(p) catch { case _: java.io.IOException => 0L }
        if (!seen.get(rel).contains(size)) { bytesWritten += size; seen(rel) = size }
      }
      if (p.getParent == dir && rel.matches("v\\d+")) bases += rel
    } finally s.close()
    val ls = Files.list(dir)
    try deltasLive = ls.iterator.asScala.count(_.getFileName.toString.matches("d\\d+_\\d+"))
    finally ls.close()
  }

  def compactions: Int = bases.size - initialBases
}
