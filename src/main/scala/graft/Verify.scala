package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — verify just those
    // (fast single-query iteration; the driver always runs all)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.get(GraftSession.envCores())
    new java.io.File(outDir).mkdirs()
    // prebuild the shared artifacts the picked queries consume, like Bench;
    // a failed build is reported here and again by its consumers
    SparkEntry.artifacts.filter(a => only.forall(_.exists(a.consumers))).foreach { a =>
      try a.prebuild(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${a.name} prebuild failed: ${e.getMessage}")
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // leaked operator blocks would tax every later job with GC pauses
      Artifact.releaseUnowned(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
