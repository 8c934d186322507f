package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Metric)], failures: Seq[String])

/** Everything a workload needs: the session, its inputs and the run's own
  * scratch directory.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val dataDir: String, val work: Path, localDir: Path) {
  val acct = new GroupAccounting
  if (trace) spark.sparkContext.addSparkListener(acct)

  @volatile private var peak = 0L
  private val sampler = new Thread(() => {
    try while (true) {
      peak = math.max(peak, Serve.dirBytes(localDir))
      Thread.sleep(250)
    } catch { case _: InterruptedException => () }
  })
  sampler.setDaemon(true)
  if (trace) sampler.start()

  /** The largest size the Spark local dir reached so far (traced runs). */
  def localDirPeak(): Long = peak
}

/** Runs one workload and prints its result as one JSON line.
  *
  * Usage: `perfbench.Main --workload <serve_read|serve_write|selftest>
  * --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>`.
  * `--work` must be a fresh directory; the store, the Spark local dir and
  * the JVM temp dir all live under it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val work = Paths.get(need("work")).toAbsolutePath
    val localDir = work.resolve("spark-local")
    Files.createDirectories(localDir)
    val t0 = System.nanoTime()
    val spark = session(localDir, work)
    Serve.log(f"session ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val result =
      try {
        val ctx = new Ctx(spark, need("seed").toLong, need("seconds").toDouble,
          need("trace") == "1", need("data"), work, localDir)
        workload match {
          case "serve_read" => new Serve(ctx, writeServed = false).run()
          case "serve_write" => new Serve(ctx, writeServed = true).run()
          case "selftest" => SelfTest.run(ctx)
          case other => sys.error(s"unknown workload $other")
        }
      } finally {
        val s0 = System.nanoTime()
        spark.stop()
        Serve.log(f"stop ${(System.nanoTime() - s0) / 1e9}%.1f s")
      }
    result.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    println(render(result))
  }

  /** graft.Bench's session profile: every core, one shuffle partition per
    * core, UTC, shuffled-hash joins preferred, and the default broadcast
    * threshold.
    */
  def session(localDir: Path, work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def render(r: Result): String = {
    val ms = r.metrics.map { case (k, m) =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""$k": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$ms}}"""
  }
}
