package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

class DumpPlansSpec extends SparkSuite {
  test("DumpPlans writes a gate's optimized logical plan and its final adaptive plan") {
    val dir = Fs.tempDir("graft_dump_plans_")
    val Seq(f) = tools.DumpPlans.dump(spark, sf0001, dir, "t", Seq("q5_kitchen_sink"))
    val text = new String(Files.readAllBytes(f), UTF_8)
    assert(!text.contains("FAILED"), text)
    val sections = Seq("== Optimized Logical Plan ==", "== Initial Physical Plan ==",
      "== Final Physical Plan ==").map(text.indexOf(_))
    assert(sections.forall(_ >= 0) && sections == sections.sorted, text)
    val Seq(optimized, initial, last) = sections.zip(sections.tail :+ text.length)
      .map { case (a, b) => text.substring(a, b).linesIterator.drop(1).mkString("\n") }
    assert(optimized.trim.nonEmpty)
    assert(initial.contains("AdaptiveSparkPlan isFinalPlan=false"), initial)
    assert(last.contains("AdaptiveSparkPlan isFinalPlan=true"), last)
  }

  test("DumpPlans writes the plan of every action a gate runs while building its frame") {
    val dir = Fs.tempDir("graft_dump_actions_")
    val Seq(f) = tools.DumpPlans.dump(spark, sf0001, dir, "t", Seq("s3_text_many"))
    val text = new String(Files.readAllBytes(f), UTF_8)
    assert(!text.contains("FAILED"), text)
    // the text group's top-k fold runs while the frame is built, and its
    // plan comes before the frame's own
    val (first, optimized) = (text.indexOf("== Action 1 of "), text.indexOf("== Optimized"))
    assert(first >= 0 && first < optimized, text)
    assert(text.substring(first, optimized).contains("MapPartitions"), text)
  }
}
