package graft

import org.scalatest.funsuite.AnyFunSuite

/** The developer tool's argument contract and the stage listener it
  * reads. */
class ToolSpec extends AnyFunSuite {

  test("Tool: a prefix that matches no entry fails and names the prefix") {
    val e = intercept[IllegalArgumentException](Tool.parse(Seq("time", "q01", "zz_no_such")))
    assert(e.getMessage.contains("zz_no_such"))
    assert(!e.getMessage.contains("q01"))
  }

  test("Tool: an unknown or missing subcommand fails and names it") {
    val e = intercept[IllegalArgumentException](Tool.parse(Seq("plan", "q01")))
    assert(e.getMessage.contains("'plan'"))
    intercept[IllegalArgumentException](Tool.parse(Seq.empty))
  }

  test("Tool: prefixes select their entries, sorted; no prefix selects the registry") {
    val (cmd, picked) = Tool.parse(Seq("stages", "q02", "q01"))
    assert(cmd == "stages")
    assert(picked.map(_._1) == SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("q01") || n.startsWith("q02")))
    assert(Tool.parse(Seq("explain"))._2.size == SparkEntry.queries.size)
  }

  test("StageProfile counts deterministically: one entry run twice gives equal jobs, stages and shuffle records") {
    val spark = TestSpark.spark
    val fn = SparkEntry.queries("q07_top_pages")
    val profile = StageProfile.attach(spark)
    val windows = try (1 to 2).map { _ =>
      val (sec, w) = profile.measure(Bench.timeEntry(spark, TestSpark.Sf0001, fn))
      assert(sec.isRight, s"q07 failed: $sec")
      w
    } finally profile.close()
    val Seq(a, b) = windows
    assert(a.jobs > 0 && a.stages.nonEmpty)
    assert(a.shuffleRecords > 0, "q07 shuffles; a zero count means the listener missed its stages")
    assert(a.jobs == b.jobs, s"jobs ${a.jobs} vs ${b.jobs}")
    assert(a.stages.size == b.stages.size, s"stages ${a.stages} vs ${b.stages}")
    assert(a.stages.map(_.shuffleRecords).sorted == b.stages.map(_.shuffleRecords).sorted)
  }
}
