package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: one local SparkSession per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** Run `f` under a fresh job group of its own and count the Spark jobs
    * it launched — concurrently running work on the shared session can't
    * pollute the tally.
    */
  def countJobs[A](group: String)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = s"$group-${SparkSuite.groups.incrementAndGet()}"
    sc.setJobGroup(id, id, interruptOnCancel = false)
    try { val r = f; (r, sc.statusTracker.getJobIdsForGroup(id).length) }
    finally sc.clearJobGroup()
  }

  /** Run `f` and capture the QueryExecution of every Dataset action it
    * ran (org.apache.spark.sql.graft.Bridge.captureExecutions).
    */
  def captureExecutions[A](f: => A): (A, Seq[QueryExecution]) =
    org.apache.spark.sql.graft.Bridge.captureExecutions(spark)(f)

  /** The executed plans among `execs` that fold a multi-query top-k: the
    * one-stage MapPartitions of QueryCompiler's candidate and text folds.
    */
  def topKFolds(execs: Seq[QueryExecution]): Seq[SparkPlan] =
    execs.map(_.executedPlan).filter(SparkSuite.plans.find(_)(_.isInstanceOf[MapPartitionsExec]).isDefined)

  /** Every shuffle or broadcast exchange in `plan`, adaptive stages included. */
  def exchanges(plan: SparkPlan): Seq[SparkPlan] = SparkSuite.plans.collect(plan) {
    case e: ShuffleExchangeExec => e
    case e: BroadcastExchangeExec => e
  }
}

object SparkSuite {
  private val groups = new java.util.concurrent.atomic.AtomicLong()
  private object plans extends AdaptiveSparkPlanHelper

  // One session per JVM (sbt forks one test JVM); suites share it so the
  // whole test run pays session startup once. The suite runs the profile
  // the bench and the tools run.
  lazy val session: SparkSession = Sessions.local()
}
