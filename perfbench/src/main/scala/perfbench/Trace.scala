package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Order statistics with the benchmark's reporting rule: a percentile is
  * reported only when at least ten samples lie beyond it.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` in (0, 1); None when fewer than ten
    * samples lie strictly beyond the chosen rank.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p * s.length).toInt)
    if (s.length - rank < 10) None else Some(s(rank - 1))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Mean of the samples beyond the nearest-rank percentile `p`; None when
    * fewer than ten lie beyond it. Steadier than the percentile itself when
    * the samples mix request shapes whose latencies differ tenfold.
    */
  def tailMean(xs: Seq[Double], p: Double): Option[Double] =
    percentile(xs, p).map(_ => mean(xs.sorted.drop(math.max(1, math.ceil(p * xs.length).toInt))))
}

/** One timed region. `parent` is the id of the span that caused it; spans
  * of one request share `request`.
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Length of the union of `intervals` clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(span: Span, all: Seq[Span]): Long =
    span.durNs - covered(span.startNs, span.endNs,
      all.filter(_.parent == span.id).map(c => (c.startNs, c.endNs)))
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  /** Time `f` as span `name` under `parent`; `f` receives the span's id. */
  def span[A](name: String, parent: Long, request: Long)(f: Long => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try f(id)
    finally done.add(Span(id, parent, request, name, t0, System.nanoTime()))
  }

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq
  }
}

/** Spark work attributed to one job group. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var busyMs = 0L
  var waitMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; busyMs += o.busyMs; waitMs += o.waitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; recordsRead += o.recordsRead
  }
}

/** A SparkListener that attributes jobs, stages, tasks, task busy and wait
  * time, shuffle, spill and input records read to the job group that launched
  * them. Work outside any job group lands under "".
  */
final class GroupAccounting extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    work(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (!stageGroup.contains(id)) stageGroup(id) = groupOf(e.properties)
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    work(stageGroup(id)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    if (!e.taskInfo.successful) w.tasksFailed += 1
    stageSubmitted.get(e.stageId).foreach(s =>
      w.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      w.busyMs += m.executorRunTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.diskBytesSpilled
      w.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Sum of the work of every group accepted by `p`. */
  def total(p: String => Boolean): Work = synchronized {
    val w = new Work
    byGroup.foreach { case (g, x) => if (p(g)) w += x }
    w
  }

  def group(g: String): Work = total(_ == g)
}
