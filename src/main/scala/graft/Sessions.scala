package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every entry point runs: the bench, the
  * correctness dump, the tools and the test suite all get the same plans.
  *
  *   - master `local[cpus]`, one shuffle partition per core; `cpus` is
  *     `SPARK_GRAFT_CPUS`, or every available core when that is unset;
  *   - UTC session time zone (runAsStream, behind q7_stream_window,
  *     hard-requires it), no UI, log level WARN;
  *   - shuffled-hash joins preferred over sort-merge when the build side
  *     fits: filter-set semi-joins on `_id` would otherwise sort the wide
  *     candidate stream per request (the same never-sort-the-payload rule
  *     the dedup verify joins learned at 100×), and AQE may rewrite a
  *     planned sort-merge join to shuffled-hash from real post-shuffle
  *     partition sizes up to 64m.
  *
  * Caveat: `preferSortMergeJoin=false` changes the static planner choice
  * from estimated sizes, and a shuffled-hash build map does not spill — a
  * badly underestimated or skewed build side can OOM where sort-merge
  * would not. The AQE threshold is the safe half: it decides from real
  * partition sizes and stops applying past 64m. The engine's own
  * bounded-build joins carry explicit broadcast()/shuffle_hash hints, so
  * they do not depend on this session default either way.
  *
  * `overrides` are applied after the profile, so they win.
  */
object Sessions {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(overrides: (String, String)*): SparkSession = {
    val profile = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")
    val s = (profile ++ overrides)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
