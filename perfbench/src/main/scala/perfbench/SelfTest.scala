package perfbench

/** Self-tests of the benchmark's own statistics: the percentile rule, span
  * self time, and job-group attribution.
  */
object SelfTest {
  def run(ctx: Ctx): Result = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def expect(name: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) failures += name
    }

    // percentile: reported only with at least ten samples beyond it
    val xs = (1 to 200).map(_.toDouble)
    expect("p95 of 200 samples is the 190th", Stats.percentile(xs, 0.95).contains(190.0))
    expect("p95 of 199 samples is withheld", Stats.percentile(xs.take(199), 0.95).isEmpty)
    expect("p50 of 20 samples is the 10th", Stats.percentile(xs.take(20), 0.5).contains(10.0))
    expect("p50 of 19 samples is withheld", Stats.percentile(xs.take(19), 0.5).isEmpty)
    expect("median of an even count averages", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("tail mean beyond p80 of 50 samples", Stats.tailMean(xs.take(50), 0.8).contains(45.5))
    expect("tail mean of 49 samples is withheld", Stats.tailMean(xs.take(49), 0.8).isEmpty)

    // self time: a span minus the union of its children, clipped to it
    val root = Span(1, 0, 1, "request", 0, 100)
    val spans = Seq(root,
      Span(2, 1, 1, "a", 10, 30), Span(3, 1, 1, "b", 20, 50), // overlap 20..30
      Span(4, 1, 1, "c", 90, 120), // runs past its parent
      Span(5, 2, 1, "grandchild", 12, 14)) // not a direct child of root
    expect("self time of root", Spans.selfNs(root, spans) == 100 - 40 - 10)
    expect("self time of a leaf", Spans.selfNs(spans(2), spans) == 30)
    expect("self time with a grandchild", Spans.selfNs(spans(1), spans) == 18)

    // job-group attribution: two groups on two threads at once
    val acct = new GroupAccounting
    val sc = ctx.spark.sparkContext
    sc.addSparkListener(acct)
    def inGroup(g: String, parts: Int, jobs: Int): Thread = {
      val t = new Thread(() => {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        (1 to jobs).foreach(_ => sc.parallelize(1 to 100, parts).map(_ * 2).count())
      })
      t.start(); t
    }
    Seq(inGroup("self/a", 3, 2), inGroup("self/b", 5, 1)).foreach(_.join())
    sc.parallelize(1 to 10, 2).count() // outside any group
    org.apache.spark.PerfbenchBus.drain(sc)
    val a = acct.group("self/a")
    val b = acct.group("self/b")
    expect("group a: 2 jobs, 6 tasks", a.jobs == 2 && a.tasks == 6 && a.stages == 2)
    expect("group b: 1 job, 5 tasks", b.jobs == 1 && b.tasks == 5 && b.stages == 1)
    expect("ungrouped work stays out", acct.group("").tasks == 2)
    expect("no failed tasks", acct.total(_ => true).tasksFailed == 0)
    sc.removeSparkListener(acct)

    Result(failures.isEmpty, attempted, failures.length.toLong,
      Seq("selftest.checks" -> Metric(attempted.toDouble, "count")), failures.toSeq)
  }
}
