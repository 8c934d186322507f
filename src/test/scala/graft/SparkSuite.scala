package graft

import org.apache.spark.sql.SparkSession
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
}

object SparkSuite {
  private val groups = new java.util.concurrent.atomic.AtomicLong()

  // One session per JVM (sbt forks one test JVM); suites share it so the
  // whole test run pays session startup once. The suite runs the profile
  // the bench and the tools run.
  lazy val session: SparkSession = Sessions.local()
}
