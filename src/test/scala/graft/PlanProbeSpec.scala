package graft

import graft.tools.PlanProbe
import org.scalatest.funsuite.AnyFunSuite

class PlanProbeSpec extends AnyFunSuite {
  private def parse(args: String*) = PlanProbe.parseArgs(args)

  test("the value after a literal --set is a conf pair, not a positional") {
    val a = parse("q1_agg", "--set", "k=v")
    assert(a.name == "q1_agg" && a.sfDir == "/root/testdata/sf0.1" && a.runs == 3)
    assert(a.sets == Seq("k" -> "v"))
    val b = parse("q1_agg", "/data/sf1", "--set", "spark.x=a=b", "--plan", "2")
    assert(b.sfDir == "/data/sf1" && b.runs == 2 && b.flags == Set("--plan"))
    assert(b.sets == Seq("spark.x" -> "a=b"))
    assert(parse("--set=k=v", "q7_topk").sets == Seq("k" -> "v"))
  }

  test("malformed --set, unknown flags and a non-integer run count are rejected") {
    for (bad <- Seq(Seq("--set="), Seq("--set==v"), Seq("--set", "novalue"), Seq("--set"),
                    Seq("q1", "--bogus"), Seq("q1", "dir", "many")))
      intercept[IllegalArgumentException](PlanProbe.parseArgs(bad))
  }
}
