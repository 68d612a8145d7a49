package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Deterministic scale-up of a testdata directory: every fact/dimension row
  * fans out `factor` ways with keys remapped into disjoint per-copy ranges,
  * so referential integrity (orders→customer, lineitem→orders/part/supplier)
  * survives and every registered query still runs — the harness for the
  * "does the plan survive a 10× data step" measurement (sf0.1 → sf1) that
  * plan-shape pins alone can't give.
  *
  * Key remapping: each table's id stride is the next power of ten above its
  * max id, shared across referencing columns (o_custkey moves with
  * c_custkey's stride). Strides stay below the 100000L SHIFT the margin
  * fixtures plant at — documents/embeddings ids stay < 100000 after a 10×
  * fan-out (5k docs → stride 10^4, max scaled id 9·10^4+4999), so planted
  * ids remain collision-free at sf1.
  *
  * Copies are EXACT content copies under new keys: a narrow 10× explode,
  * no shuffle. Dedup-family queries consequently see every document in a
  * 10-member duplicate group at sf1 — a dedup stress test, and both engines
  * read the same files so the oracle compare stays exact.
  *
  * Output writes each table as a `<table>.parquet` DIRECTORY of `nFiles`
  * parquet parts — the shape scaled data actually has (a 10× corpus in ONE
  * file is ONE Spark input split: exact-copy text compresses ~10×, so a
  * 50k-doc table collapsed to a single ~1 MB split and every heavy map
  * stage over it ran single-task; measured 7+ min single-core grinds
  * before the multi-file layout). selfcheck.py globs directory tables;
  * timestamps stay INT96 (naive for both engines).
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val docFactor = args.lift(3).map(_.toInt).getOrElse(factor)
    val spark = GraftSession.get(GraftSession.envCores(8))
    run(spark, src, dst, factor, docFactor)
    spark.stop()
  }

  /** `docFactor` caps the documents/embeddings fan-out separately: the ANN
    * margin fixtures plant at doc_id/vec_id >= 100000, which bounds those
    * two tables to a 10x fan-out from sf0.1 — a relational x100 leg
    * (factor=100, docFactor=10) stays fixture-safe while the fact tables
    * take the full step. The dedup-family x100 evidence comes from
    * DedupScale's own corpus instead.
    */
  def run(spark: SparkSession, src: String, dst: String, factor: Int,
          docFactor: Int = -1): Unit = {
    val docF = if (docFactor <= 0) factor else docFactor
    Files.createDirectories(Paths.get(dst))

    def table(name: String): DataFrame =
      if (name == "events") Tables.events(spark, src) // normalize ts
      else Tables.load(spark, src, name)

    // max id per (table, column), computed once — stride and the
    // fixture-collision assert below share it (one full scan, not two)
    val maxIds = scala.collection.mutable.Map.empty[(String, String), Long]
    def maxId(name: String, idCol: String): Long =
      maxIds.getOrElseUpdate((name, idCol),
        Option(table(name).agg(max(col(idCol))).head.get(0)) match {
          case Some(m: Long) => m
          case Some(other) => sys.error(
            s"ScaleUp: $name.$idCol is ${other.getClass.getSimpleName}, expected Long")
          case None => sys.error(
            s"ScaleUp: $name is empty — cannot derive an id stride for $idCol")
        })

    // next power of ten above the table's max id — the per-copy id stride
    def stride(name: String, idCol: String): Long = {
      val mx = maxId(name, idCol)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    // the planted-fixture id bases the scaled ids must stay below: the ANN
    // margin fixtures live at doc_id/vec_id >= 100000L and the q22/q31
    // snapshot deltas at orderkey >= 1e10. A factor or source size that
    // pushes (factor-1)*stride + maxId past those bases silently corrupts
    // the oracle (the bug class the +1e6→+1e10 shift fix addressed), so
    // fail fast instead.
    def assertBelow(name: String, idCol: String, s: Long, base: Long,
                    f: Int): Unit = {
      val mx = maxId(name, idCol)
      val top = (f - 1).toLong * s + mx
      require(top < base,
        s"ScaleUp: scaled $name.$idCol would reach $top >= planted-fixture " +
          s"base $base (factor=$f, stride=$s) — ids would collide with " +
          "oracle fixtures; lower the factor or widen the fixture base")
    }

    val cust = stride("customer", "c_custkey")
    val supp = stride("supplier", "s_suppkey")
    val prt = stride("part", "p_partkey")
    val ord = stride("orders", "o_orderkey")
    val evt = stride("events", "event_id")
    val usr = stride("events", "user_id")
    val doc = stride("documents", "doc_id")
    val vec = stride("embeddings", "vec_id")
    assertBelow("documents", "doc_id", doc, 100000L, docF)
    assertBelow("embeddings", "vec_id", vec, 100000L, docF)
    assertBelow("orders", "o_orderkey", ord, 10000000000L, factor)

    // which columns shift by which stride, per table
    val remaps: Map[String, Seq[(String, Long)]] = Map(
      "region" -> Nil,
      "nation" -> Nil,
      "customer" -> Seq("c_custkey" -> cust),
      "supplier" -> Seq("s_suppkey" -> supp),
      "part" -> Seq("p_partkey" -> prt),
      "orders" -> Seq("o_orderkey" -> ord, "o_custkey" -> cust),
      "lineitem" -> Seq("l_orderkey" -> ord, "l_partkey" -> prt, "l_suppkey" -> supp),
      "events" -> Seq("event_id" -> evt, "user_id" -> usr),
      "documents" -> Seq("doc_id" -> doc),
      "embeddings" -> Seq("vec_id" -> vec)
    )

    Tables.all.foreach { name =>
      val base = table(name)
      val shifts = remaps(name)
      val tableFactor =
        if (name == "documents" || name == "embeddings") docF else factor
      val out =
        if (shifts.isEmpty) base // fixed dimensions don't scale
        else {
          val fanned = base.withColumn("__copy",
            explode(sequence(lit(0L), lit(tableFactor - 1L))))
          val shifted = shifts.foldLeft(fanned) { case (df, (c, s)) =>
            df.withColumn(c, col(c) + col("__copy") * s)
          }
          // entity names embed the key ("Customer#000000001") — re-derive
          // them from the REMAPPED key so scaled copies are distinct
          // entities, not 10 records sharing one name (which would melt
          // every name-blocked operator into key-collapsed mega-blocks:
          // measured 1.5e9 levenshtein pairs in q29 before this)
          val renamed = name match {
            case "customer" => shifted.withColumn("c_name",
              concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0")))
            case "supplier" => shifted.withColumn("s_name",
              concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0")))
            case _ => shifted
          }
          renamed.drop("__copy")
        }
      val target = s"$dst/$name.parquet"
      // dimensions stay single-part; fanned tables spread across nFiles so
      // scan parallelism survives the 10× compression of exact-copy text
      // 16 parts at a 10x step; grow with the factor (capped at 64) so a
      // x100 fan-out still yields enough splits after exact-copy compression
      val nFiles =
        if (shifts.isEmpty) 1
        else math.max(16, math.min(64, tableFactor * 16 / 10))
      out.repartition(nFiles).write.mode("overwrite").parquet(target)
      println(s"scaled $name -> $target ($nFiles files)")
    }
  }
}
