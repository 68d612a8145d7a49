package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: print the formatted physical plan of one registry query and
  * time N runs — the `.explain`-and-iterate loop SURVEY §5 prescribes.
  *
  * Usage: runMain graft.tools.PlanProbe <queryName> [sfDir] [runs] [--plan]
  *          [--stages] [--final] [--set spark.conf.key=value ...]
  *
  * `--set k=v` applies runtime SQL confs before running — the A-B lever
  * for config experiments (e.g. AQE coalescing modes) without recompiling.
  */
object PlanProbe {
  final case class Args(name: String, sfDir: String, runs: Int,
                        flags: Set[String], sets: Seq[(String, String)])

  private val knownFlags = Set("--plan", "--stages", "--final")

  /** Parses `args` without side effects: flags are position-independent,
    * and `--set k=v` / `--set=k=v` pairs never count as positionals. */
  def parseArgs(args: Seq[String]): Args = {
    def bad(msg: String) = throw new IllegalArgumentException(msg)
    def conf(kv: String): (String, String) = kv.split("=", 2) match {
      case Array(k, v) if k.trim.nonEmpty => k.trim -> v
      case _ => bad(s"--set expects key=value with a non-empty key, got '$kv'")
    }
    val positional = Seq.newBuilder[String]
    val flags = Set.newBuilder[String]
    val sets = Seq.newBuilder[(String, String)]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--set" => sets += conf(if (it.hasNext) it.next() else bad("--set needs key=value"))
      case a if a.startsWith("--set=") => sets += conf(a.stripPrefix("--set="))
      case a if knownFlags(a) => flags += a
      case a if a.startsWith("--") => bad(s"unknown flag $a (known: ${knownFlags.mkString(", ")})")
      case a => positional += a
    }
    val pos = positional.result()
    if (pos.size > 3) bad(s"at most 3 positionals (query, sfDir, runs), got ${pos.mkString(" ")}")
    Args(pos.headOption.getOrElse("q1_agg"), pos.lift(1).getOrElse("/root/testdata/sf0.1"),
      pos.lift(2).fold(3)(r => r.toIntOption.getOrElse(bad(s"runs must be an integer, got '$r'"))),
      flags.result(), sets.result())
  }

  def main(argv: Array[String]): Unit = {
    val Args(name, sfDir, runs, flags, sets) = parseArgs(argv.toSeq)
    // static (core) confs only take effect at context construction —
    // stage them as system properties (SparkConf loads spark.* props),
    // then ALSO set runtime-settable SQL confs on the live session
    sets.foreach { case (k, v) => System.setProperty(k, v) }
    val spark = graft.GraftSession.get()
    sets.foreach { case (k, v) =>
      println(s"[probe] conf $k=$v")
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        println(s"[probe]   ($k is static — applied via system property)")
      }
    }
    try {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; valid names: " +
          graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
      if (flags("--plan")) fn(spark, sfDir).explain("formatted")
      // aggregate task metrics per run: input bytes ≈ how often the source
      // files were really scanned (runtime exchange/stage reuse is
      // invisible in the initial plan), shuffle bytes = exchange volume,
      // executor run time = the true parallel work behind the wall time
      val inB = new java.util.concurrent.atomic.AtomicLong
      val shB = new java.util.concurrent.atomic.AtomicLong
      val runMs = new java.util.concurrent.atomic.AtomicLong
      val nTasks = new java.util.concurrent.atomic.AtomicLong
      // per-stage attribution (--stages): stage id → (tasks, task-ms) so a
      // ballooning stage is nameable instead of guessed at
      val showStages = flags("--stages")
      val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
      val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              inB.addAndGet(m.inputMetrics.bytesRead)
              shB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
              runMs.addAndGet(m.executorRunTime)
              nTasks.incrementAndGet()
              stageAgg.merge(e.stageId, (1L, m.executorRunTime),
                (a, b) => (a._1 + b._1, a._2 + b._2))
            }
          }
          override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            stageName.put(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n'))
        })
      (1 to runs).foreach { i =>
        inB.set(0); shB.set(0); runMs.set(0); nTasks.set(0); stageAgg.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; give the bus a beat
        Thread.sleep(200)
        println(f"[probe] $name run $i: $sec%.3f s ($n rows) " +
          f"tasks=${nTasks.get} input=${inB.get / 1024}KB " +
          f"shuffleW=${shB.get / 1024}KB taskTime=${runMs.get / 1000.0}%.2fs")
        if (showStages && i == runs) {
          import scala.jdk.CollectionConverters._
          stageAgg.asScala.toSeq.sortBy(-_._2._2).take(12).foreach {
            case (sid, (nt, ms)) =>
              println(f"[probe]   stage $sid%4d: $nt%3d tasks ${ms / 1000.0}%7.2fs  " +
                stageName.getOrDefault(sid, "?"))
          }
        }
        // --final: the executed (post-AQE) operator skeleton — join
        // strategies and exchange counts as they actually RAN, which the
        // initial --plan cannot show
        if (flags("--final") && i == runs) {
          val df = fn(spark, sfDir); df.count()
          val skeleton = df.queryExecution.executedPlan.toString.linesIterator
            .map(_.replaceAll("\\[.*", "").replaceAll("\\(\\d+\\)", ""))
            .filter(l => l.exists(_.isLetter)).take(120)
          skeleton.foreach(l => println("[probe]  |" + l))
        }
      }
    } finally spark.stop()
  }
}
