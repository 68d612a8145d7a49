package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Cost attribution for the d_cluster_labels_build bench line item (the
  * top sf0.1 item two rounds running: 6.29 → 7.34 s): split the build into
  * its two stages — near-dup PAIR generation (ngramJaccardPairs over the
  * chained corpus) and the iterative connected-components loop — and time
  * the CC loop's per-round pieces, so "creeping cost" resolves to either
  * pair scoring, per-round shuffle work, or the localCheckpoint write
  * floor.
  *
  * Usage: runMain graft.tools.CcProfile [sfDir]
  */
object CcProfile {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.get(GraftSession.envCores(32))

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ccprofile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // warm the table/codegen paths once so stage times aren't startup
    graft.Tables.documents(spark, src).count()

    (1 to 3).foreach { rep =>
      // the EXACT corpus/pair derivation the registered build runs
      // (DocumentQueries.clusterLabels without its cache)
      val pairs = time(s"rep$rep pairs_build+count") {
        val p = graft.queries.DocumentQueries.clusterPairsForProfile(spark, src)
          .localCheckpoint()
        val n = p.count(); println(s"[ccprofile]   pairs=$n"); p
      }
      time(s"rep$rep components") {
        val labels = graft.operators.Dedup.components(pairs)
        val n = labels.count(); println(s"[ccprofile]   labels=$n")
        labels.unpersist()
      }
      pairs.unpersist()
    }

    // finer attribution, steady-state (post-JIT): input build, candidate
    // stages, then the CC loop's per-round pieces
    val input = time("fine input_localckpt") {
      val i = graft.queries.DocumentQueries.clusterInputForProfile(spark, src)
        .localCheckpoint()
      i.count(); i
    }
    val rawPairs = time("fine pairs_from_ckpt_input") {
      val p = graft.operators.Dedup.ngramJaccardPairs(input, "text", "doc_id",
        blockCols = Seq("lang", "source"), n = 4, threshold = 0.8)
      p.count(); p
    }
    val edges0 = time("fine edges_distinct_ckpt") {
      val e = rawPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(rawPairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct().localCheckpoint()
      e.count(); e
    }
    var labels = time("fine seed_round") {
      val l = edges0.groupBy(col("src")).agg(min(col("dst")).as("__nmin"))
        .select(col("src").as("id"), least(col("src"), col("__nmin")).as("cluster"))
        .localCheckpoint()
      l.count(); l
    }
    (1 to 3).foreach { r =>
      labels = time(s"fine cc_round_$r") {
        val msgs = edges0.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("cluster"))
        val next = labels.unionByName(msgs)
          .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
          .localCheckpoint()
        next.count(); next
      }
      time(s"fine sum_witness_$r") {
        labels.agg(sum(col("cluster").cast(
          org.apache.spark.sql.types.DecimalType(38, 0)))).collect()
      }
    }
    spark.stop()
  }
}
