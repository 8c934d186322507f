package perfbench

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The offline half: two of the costliest non-serving gates, each once in
  * its own job group. `q11_stream_join` covers streaming; `pipeline_curation`
  * chains the dedup (n-gram Jaccard pairs, connected components) and curation
  * operators. Each gate's rows are written out for the DuckDB oracle compare
  * the runner does after the JVM exits.
  */
object Gates {
  val Names: Seq[String] = Seq("q11_stream_join", "pipeline_curation")

  def run(ctx: Ctx): Seq[(String, Metric)] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val out = ctx.work.resolve("gates")
    Files.createDirectories(out)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    var wallMs = 0.0
    Names.foreach { name =>
      val q = registry(name)
      sc.setJobGroup(s"gate/$name", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val rows = try {
        val df = q.build(spark, ctx.dataDir)
        (df.schema, df.collect())
      } finally sc.clearJobGroup()
      val s = (System.nanoTime() - t0) / 1e9
      wallMs += s * 1000
      spark.createDataFrame(rows._2.toSeq.asJava, rows._1).coalesce(1)
        .write.parquet(out.resolve(name).toString)
      spark.catalog.clearCache()
      m(s"queries.$name.s") = Metric(s, "s")
    }
    Files.writeString(out.resolve("oracle_sql.json"), org.json4s.jackson.JsonMethods.compact(
      org.json4s.JObject(Names.map(n => n -> org.json4s.JString(registry(n).oracle.get)): _*)))
    org.apache.spark.PerfbenchBus.drain(sc)
    var busy = 0L
    Names.foreach { name =>
      val w = ctx.acct.group(s"gate/$name")
      busy += w.busyMs
      m(s"queries.$name.jobs") = Metric(w.jobs.toDouble, "count")
      m(s"queries.$name.shuffle_bytes") = Metric((w.shuffleRead + w.shuffleWrite).toDouble, "B")
      m(s"queries.$name.spill_bytes") = Metric(w.spill.toDouble, "B")
    }
    m("queries.total_s") = Metric(wallMs / 1000, "s")
    m("spark.cpu_utilization") = Metric(
      busy / (wallMs * Runtime.getRuntime.availableProcessors), "ratio")
    m.toSeq
  }
}
