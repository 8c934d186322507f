package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.Bridge

/** Dump the plans of named registry gates — the evidence for plan-shape
  * claims (plans/<round>/...).
  *
  * Usage: `runMain graft.tools.DumpPlans <outDir> <suffix> <name> [name ...]`
  * (sf dir from SPARK_GRAFT_SF_DIR, session from [[graft.Sessions]], so
  * the dumped plans are the plans the bench runs). `<outDir>/<name>_<suffix>.txt`
  * holds, in order:
  *   - the executed plan of every Dataset action the gate ran while it
  *     built its frame (a search's ranked-leaf folds, the Vamana walk's
  *     point reads, a merge's collects), captured by
  *     [[Bridge.captureExecutions]];
  *   - the frame's optimized logical plan and initial physical plan;
  *   - the final plan of the frame's run through the noop sink — every
  *     column of every row computed, nothing collected — which the write
  *     plans afresh (`AdaptiveSparkPlan isFinalPlan=true` where the plan
  *     is adaptive: AQE's runtime rewrites, such as sort-merge to
  *     shuffled-hash joins, show only there).
  * A gate that fails still gets a file with the error, so a dump over a
  * historical commit cannot silently skip a gate missing there.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpPlans <outDir> <suffix> <name>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    dump(spark, sfDir, Paths.get(args(0)), args(1), args.drop(2).toSeq)
      .foreach(f => println(s"[plans] wrote $f"))
    spark.stop()
  }

  def dump(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
      names: Seq[String]): Seq[Path] = {
    Files.createDirectories(outDir)
    names.map { name =>
      val body =
        try {
          val (df, actions) =
            Bridge.captureExecutions(spark)(graft.SparkEntry.queries(name)(spark, sfDir))
          val built = actions.zipWithIndex.flatMap { case (qe, i) =>
            Seq(s"== Action ${i + 1} of ${actions.size} (building the frame) ==",
              qe.executedPlan.treeString)
          }
          val qe = df.queryExecution
          (built ++ Seq(
            "== Optimized Logical Plan ==", qe.optimizedPlan.treeString,
            "== Initial Physical Plan ==", qe.executedPlan.treeString,
            "== Final Physical Plan ==", executedThroughNoop(df).executedPlan.treeString
          )).mkString("\n")
        } catch {
          case e: Throwable => s"FAILED: $e"
        }
      val f = outDir.resolve(s"${name}_$suffix.txt")
      Files.write(f, (s"== $name ($suffix, sf=$sfDir, cpus=${graft.Sessions.cpus}) ==\n" +
        body).getBytes(UTF_8))
      f
    }
  }

  /** Run `df` through the noop sink and return the write's own
    * QueryExecution: the write plans its query afresh, so only its plan
    * shows what actually ran.
    */
  private def executedThroughNoop(df: org.apache.spark.sql.DataFrame): QueryExecution =
    Bridge.captureExecutions(df.sparkSession) {
      df.write.format("noop").mode("overwrite").save()
    }._2.find(_.analyzed.isInstanceOf[V2WriteCommand])
      .getOrElse(sys.error("the noop write reported no query execution"))
}
