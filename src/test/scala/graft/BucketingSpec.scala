package graft

import org.apache.spark.sql.functions._
import graft.operators.Bucketing

/** Machine-checks the bucketed co-location contract the way PlanLintSpec
  * checks join shapes: two tables written with the same bucket count on
  * their join keys must join with ZERO ShuffleExchange nodes — the scan
  * layout satisfies the join's distribution requirement — and a
  * key-equality filter must prune the scan to 1 of N buckets. Results
  * stay identical to the plain (shuffling) join.
  */
class BucketingSpec extends SparkSuite {
  import spark.implicits._

  private def withSmj[A](f: => A): A = {
    // force a real sort-merge join: tiny test tables would otherwise
    // broadcast, which elides exchanges for the wrong reason
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def restore(k: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try f finally {
      restore("spark.sql.autoBroadcastJoinThreshold", prev)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
    }
  }

  private def tmp(): String =
    Fs.tempDir("graft_bucketing_spec_").toString

  test("co-bucketed join is exchange-free and matches the shuffling join") {
    val base = tmp()
    val left = (0L until 200L).map(i => (i, s"u$i", i % 7)).toDF("id", "name", "grp")
    val right = (0L until 300L).map(i => (i % 250, i * 10)).toDF("rid", "amount")
    Bucketing.writeBucketed(left, "bspec_left", s"$base/l", "id", numBuckets = 4,
      sortCols = Seq("id"))
    Bucketing.writeBucketed(right, "bspec_right", s"$base/r", "rid", numBuckets = 4,
      sortCols = Seq("rid"))
    try withSmj {
      val joined = spark.table("bspec_left")
        .join(spark.table("bspec_right"), col("id") === col("rid"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      // identical answer to the plain DataFrame join (which DOES shuffle)
      val expect = left.join(right, col("id") === col("rid"))
        .select("id", "rid", "amount").collect().map(_.toString).sorted
      val got = joined.select("id", "rid", "amount").collect().map(_.toString).sorted
      assert(got.sameElements(expect), "bucketed join changed the answer")
      val shuffled = left.join(right, col("id") === col("rid"))
        .queryExecution.executedPlan.toString
      assert(shuffled.contains("Exchange"),
        "control: the unbucketed join of the same data does shuffle")
    } finally Bucketing.drop(spark, "bspec_left", "bspec_right")
  }

  test("sorted buckets also elide the per-task Sort under the merge join") {
    val base = tmp()
    val df = (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")
    Bucketing.writeBucketed(df, "bspec_s1", s"$base/a", "id", 4, Seq("id"))
    Bucketing.writeBucketed(df.withColumnRenamed("v", "w"), "bspec_s2", s"$base/b",
      "id", 4, Seq("id"))
    try withSmj {
      val plan = spark.table("bspec_s1").join(spark.table("bspec_s2"), "id")
        .queryExecution.executedPlan
      val smjSorts = plan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(smjSorts.isEmpty,
        s"bucket-sorted scans should satisfy the SMJ ordering requirement:\n$plan")
    } finally Bucketing.drop(spark, "bspec_s1", "bspec_s2")
  }

  test("key-equality filter prunes to a single bucket") {
    val base = tmp()
    val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("id", "payload")
    Bucketing.writeBucketed(df, "bspec_prune", s"$base/p", "id", numBuckets = 8)
    // a filter-only scan has no distribution requirement, so the planner's
    // autoBucketedScan heuristic would fall back to a plain file scan and
    // skip pruning — pin the bucketed layout on for this query
    val prevAuto = spark.conf.getOption("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val q = spark.table("bspec_prune").filter(col("id") === 123L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected bucket pruning in:\n$plan")
      assert(q.collect().map(_.getString(1)).toSeq == Seq("row123"))
    } finally {
      prevAuto.fold(
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled"))(
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", _))
      Bucketing.drop(spark, "bspec_prune")
    }
  }

  test("directory-partitioned write prunes partitions at planning time") {
    val base = tmp()
    val df = (0 until 600).map(i => (i.toLong, s"t${i % 3}", i * 1.5))
      .toDF("id", "kind", "v")
    Bucketing.writePartitioned(df, s"$base/events", "kind")
    val back = spark.read.parquet(s"$base/events")
    val q = back.filter(col("kind") === "t1")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("kind#"),
      s"kind filter must reach PartitionFilters:\n$scan")
    // the pruned scan reads only t1's directory: of the 3 kind=…
    // partitions on disk, exactly 1 survives planning
    val counts = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(counts == Seq(1), s"pruned scan must keep 1 of 3 partitions: $counts")
    assert(q.count() == 200)
    // a non-partition filter does NOT prune (it data-filters instead)
    val unpruned = back.filter(col("v") > 100)
    assert(unpruned.count() == df.filter(col("v") > 100).count())
  }

  test("groupBy on the bucket key aggregates without a shuffle") {
    val base = tmp()
    val df = (0L until 500L).map(i => (i % 50, i)).toDF("k", "v")
    Bucketing.writeBucketed(df, "bspec_agg", s"$base/g", "k", numBuckets = 4)
    try {
      val agg = spark.table("bspec_agg").groupBy("k").agg(sum("v").as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed scan already hash-distributes the grouping key:\n$plan")
      val expect = df.groupBy("k").agg(sum("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == expect)
    } finally Bucketing.drop(spark, "bspec_agg")
  }
}
