package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionColumnNode}

/** Column ⇄ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql]` (the Column API is now connect/classic-agnostic), so the
  * library's custom Catalyst expressions hop through this package-located
  * shim — the conventional extension-point pattern.
  */
object Bridge {
  def toColumn(e: Expression): Column = new Column(ExpressionColumnNode(e))
  def toExpression(c: Column): Expression = ColumnConversions.expression(c)

  /** `e` with NaN and −0.0 normalized as Spark normalizes grouping and
    * join keys before hashing them (`normalize` is `private[sql]`).
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** `AbstractDataType` is `private[sql]`; expressions outside the spark
    * package need this alias to declare `inputTypes` for analyzer-side
    * implicit casting.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Re-bind `df`'s (analyzed) plan to `session`, so the query PLANS under
    * that session's SQL conf — same data, same lineage, different planner
    * settings. Used by the Vamana walk to run per-hop fetches under a
    * cloned session whose `autoBucketedScan` override can never leak into
    * (or race with) user queries on the main session. The analyzed plan is
    * already resolved, so no temp-view/catalog lookup recurs in the target
    * session; `ofRows` is `private[sql]`, hence this shim.
    */
  def rebind(df: org.apache.spark.sql.Dataset[_],
      session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** `df`'s rows, collected once, as a frame over a `LocalRelation` in
    * `df`'s session: every later plan reads them as a job-free
    * LocalTableScan (`ofRows` is `private[sql]`).
    */
  def collectLocal(df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation.fromExternalRows(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema),
        df.toDF().collect().toSeq))

  /** A clone of `session` sharing its SparkContext, SharedState (external
    * catalog, cache manager) and a COPY of its SessionState (runtime conf,
    * temp views) — `cloneSession` is `private[sql]`.
    */
  def cloneSession(session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** A cheap change signal for `session`'s runtime SQL conf: (size, entry
    * hash) of the UNDERLYING settings map — zero-copy, unlike
    * `conf.getAll`, which materializes a full immutable Map per call
    * (`settings` is `protected[spark]`, hence this shim). The hash follows
    * the `java.util.Map.hashCode` contract (sum of entry hashes), computed
    * by direct iteration because `Collections.synchronizedMap` wrappers
    * inherit Object's identity hash; iteration holds the wrapper's monitor
    * as its contract requires. Any set/unset/overwrite changes the signal —
    * the only false-negative is a 32-bit entry-hash collision coinciding
    * with a conf edit, whose worst case is one fetch planned under the
    * previous (still valid at clone time) conf; the next edit re-signals.
    */
  def confSignature(session: org.apache.spark.sql.SparkSession): (Int, Int) = {
    val m = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.settings
    m.synchronized {
      var h = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) h += it.next().hashCode()
      (m.size(), h)
    }
  }

  /** Release the storage behind a DataFrame whether it was `persist()`ed
    * (CacheManager) or `localCheckpoint()`ed — checkpoint blocks live in
    * the RDD layer, where `Dataset.unpersist` is a silent no-op.
    *
    * ROOT-ONLY on purpose: only the frame's own checkpoint (the analyzed
    * plan IS the LogicalRDD) is unpersisted. Walking the whole plan would
    * also destroy NESTED checkpoint frames the caller does not own — a
    * postings view built over a store's merged view carries the store's
    * live delta checkpoints in its lineage, and releasing those wedges
    * every subsequent read of the collection until compaction. Owned
    * nested blocks are always released by their own handles (e.g.
    * TextIndex.blocks holds each add-batch frame individually).
    */
  def release(df: org.apache.spark.sql.Dataset[_]): Unit = {
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
    df.unpersist(false)
  }

  /** Plans cached in `session`'s CacheManager, which every session of the
    * application shares (`cacheManager` sits behind the classic API).
    */
  def cachedEntries(session: org.apache.spark.sql.SparkSession): Int =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Block until every event posted so far has reached its listeners:
    * query-execution listeners run on the listener bus, after the action
    * returns (`listenerBus` is `private[spark]`).
    */
  def drainListeners(session: org.apache.spark.sql.SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `f`; return its result and the QueryExecution of every Dataset
    * action that completed while it ran, in completion order. It listens
    * to the SQL-execution-end event that drives query-execution
    * listeners, but on the whole context: a session's listeners see only
    * that session, and the Vamana walk fetches under a cloned one. Drains
    * the listener bus ([[drainListeners]]) before returning.
    */
  def captureExecutions[A](session: org.apache.spark.sql.SparkSession)(
      f: => A): (A, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case end: SparkListenerSQLExecutionEnd
              if end.qe != null && end.executionFailure.isEmpty => seen.add(end.qe)
          case _ => ()
        }
    }
    val sc = session.sparkContext
    sc.addSparkListener(listener)
    try {
      val r = f
      drainListeners(session)
      (r, seen.toArray(Array.empty[org.apache.spark.sql.execution.QueryExecution]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
