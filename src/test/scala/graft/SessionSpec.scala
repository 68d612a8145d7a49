package graft

import graft.plans.{TopKRewriteRule, TopKStrategy}
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("GraftSession.get installs the top-k rule and strategy exactly once") {
    val a = GraftSession.get(4)
    val b = GraftSession.get(4)
    assert(a eq b)
    assert(b.experimental.extraOptimizations.count(_ == TopKRewriteRule) == 1)
    assert(b.experimental.extraStrategies.count(_ == TopKStrategy) == 1)
  }

  test("only GraftSession builds a SparkSession in src/main") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val callers =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("SparkSession.builder()"))
        .map(_.getFileName.toString).toSet
      finally walk.close()
    assert(callers == Set("GraftSession.scala"), callers)
  }

  test("SPARK_GRAFT_CPUS parses as a positive integer or fails at once") {
    assert(GraftSession.envCores(env = Map.empty) == 4)
    assert(GraftSession.envCores(32, Map.empty) == 32)
    assert(GraftSession.envCores(env = Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    for (bad <- Seq("*", "", "0", "4.5", "eight"))
      intercept[IllegalArgumentException](
        GraftSession.envCores(env = Map("SPARK_GRAFT_CPUS" -> bad)))
  }
}
