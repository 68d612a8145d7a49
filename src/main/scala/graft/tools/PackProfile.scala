package graft.tools

import graft.GraftSession
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Cost attribution for the s_pack streaming leg (STREAMSCALE's slowest
  * document surface at 3.6k docs/s): split the per-trigger cost into its
  * candidates — the per-row tokenCount regex (computed on the READ side,
  * where maxFilesPerTrigger=1 means ONE input split per batch, so it runs
  * single-threaded), the groupByKey shuffle + encoder round-trip, and the
  * keyed-state machinery — by timing each shape in batch and stream form.
  *
  * Usage: runMain graft.tools.PackProfile [srcDir] [nBatches]
  */
object PackProfile {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(16)
    val cpus = GraftSession.envCores(32)
    val spark = GraftSession.get(cpus)
    implicit val s: org.apache.spark.sql.SparkSession = spark

    val base = "target/packprofile"
    val docDir = s"$base/docs"
    graft.Tables.documents(spark, src).repartition(nBatches)
      .write.mode("overwrite").parquet(docDir)
    val docsN = spark.read.parquet(docDir).count()
    println(s"[packprofile] docs=$docsN batches=$nBatches")

    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[packprofile] $name: $sec%.2f s, ${(docsN / sec).round} docs/s")
    }

    // batch A: tokenCount over the staged files at natural (nBatches-file)
    // parallelism — the map-side regex cost when splits are available
    time("batch tokenCount x32") {
      spark.read.parquet(docDir)
        .select(graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
        .agg(sum("n")).collect()
    }
    // batch B: same, forced through ONE partition — what each
    // maxFilesPerTrigger=1 trigger actually pays on its read side
    time("batch tokenCount x1") {
      spark.read.parquet(docDir).coalesce(1)
        .select(graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
        .agg(sum("n")).collect()
    }

    def drainPack(name: String, mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      time(name) {
        val stream = spark.readStream.option("maxFilesPerTrigger", 1)
          .schema(Streams.documentSchema).parquet(docDir)
        val q = Streams.packStream(mk(stream), budget = 2048L).toDF()
          .writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", s"$base/ckpt-${System.nanoTime()}")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.write.format("noop").mode("overwrite").save()
          }
          .start()
        q.processAllAvailable()
        // where does the per-trigger second go? durationMs buckets from the
        // progress ring buffer (addBatch = compute+sink, the rest is
        // offset/commit/state machinery)
        val ps = q.recentProgress.toSeq.drop(2).take(6)
        ps.foreach { p =>
          val d = p.durationMs
          println(s"[packprofile]   batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${d}")
        }
        q.stop()
      }

    // stream A: the current STREAMSCALE shape — tokenCount on the 1-split
    // read side
    drainPack("stream pack (read-side tokenCount)", st =>
      st.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")))
    // stream B: repartition BEFORE tokenCount so the regex parallelizes
    // across the cores (text rides one extra shuffle)
    drainPack("stream pack (repartitioned tokenCount)", st =>
      st.repartition(cpus)
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")))

    // stream C: state partitions sized to the KEY CARDINALITY (#sources),
    // not the session's 32 — each trigger pays per-STATE-PARTITION
    // load/commit file IO, and pack's parallelism is #sources-bounded by
    // construction, so 28 of 32 stores are pure per-trigger overhead
    val sp8 = spark.newSession()
    sp8.conf.set("spark.sql.shuffle.partitions", "8")
    time("stream pack (8 state partitions)") {
      val stream = sp8.readStream.option("maxFilesPerTrigger", 1)
        .schema(Streams.documentSchema).parquet(docDir)
      val q = Streams.packStream(
          stream.select(col("doc_id"), col("source"),
            graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
          budget = 2048L)(sp8).toDF()
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", s"$base/ckpt-${System.nanoTime()}")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.format("noop").mode("overwrite").save()
        }
        .start()
      q.processAllAvailable()
      q.recentProgress.toSeq.drop(2).take(4).foreach { p =>
        println(s"[packprofile]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
      q.stop()
    }

    spark.stop()
  }
}
