package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a job: an ETL target, a curation pass, a query or a
  * dropped file. A failed operation carries no latency.
  */
final case class Op(name: String, latency: Option[Double], error: Option[String] = None,
                    detail: Map[String, Any] = Map.empty)

/** What one job reports: its operations, the bytes its sinks wrote and, in
  * a traced job, each layer's self time.
  */
final case class JobOut(ops: Seq[Op], outBytes: Long = 0L,
                        layers: Map[String, Double] = Map.empty,
                        counts: Map[String, Double] = Map.empty,
                        check: Map[String, Any] = Map.empty,
                        wall: Option[Double] = None)

/** Everything a workload needs while it runs. */
final class Ctx(val spark: SparkSession, val in: String, val work: String,
                val tracer: Tracer, val engine: EngineProbe, val streams: StreamProbe) {
  /** Time a full result: Spark's noop sink consumes every column of every
    * row, so nothing the query projects can be pruned away.
    */
  def full(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds `body` takes. */
  def timed(body: => Unit): Double = { val t0 = Clock.now(); body; Clock.now() - t0 }

  /** Seconds a noop write of `df` takes: the median of three, recorded as
    * one span. A single action jitters by ~0.1 s, as much as some layers
    * cost.
    */
  def prefix(name: String, op: String)(df: => DataFrame): Double = {
    val t0 = Clock.now()
    try tracer.span(name, op)(Main.median(Seq.fill(3)(timed(full(df)))))
    finally prefixSpent += Clock.now() - t0
  }

  /** Seconds spent in [[prefix]] runs so far. */
  var prefixSpent = 0.0

  def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) graft.TempFiles.deleteRecursively(path)
  }

  /** Bytes, file count of the data files under `dir`. */
  def dirStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
          .toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally w.close()
    }
  }
}

trait Workload {
  /** Read every input once (the "input touch" of set-up): rows, bytes, files. */
  def touch(spark: SparkSession, in: String): (Long, Long, Long)
  /** Build the shared artifacts the workload consumes. */
  def artifacts(spark: SparkSession, in: String): Unit = ()
  /** Untimed pass before measuring: warms the JVM and records what the
    * correctness checks need.
    */
  def prepare(ctx: Ctx): Map[String, Any] = Map.empty
  /** One complete job; `index` numbers the jobs of a run. */
  def job(ctx: Ctx, index: Int, traced: Boolean, share: (Int, Int)): JobOut
  /** Untimed reads of what a job committed, for the correctness checks and
    * the sink counts; runs after the job's wall and CPU time are taken.
    */
  def inspect(ctx: Ctx, out: JobOut): JobOut = out
  /** True when one job spans the whole measuring window (the stream). */
  def singleJob: Boolean = false
}

object Main {
  /** Task slots of the benchmark's session: `local[2]`. */
  val Cores = 2
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  private def arg(argv: Array[String], k: String): Option[String] =
    argv.sliding(2).collectFirst { case Array(`k`, v) => v }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0).toDouble

  def session(work: String): SparkSession =
    graft.GraftSession.builder(Cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "--workload").getOrElse(sys.error("--workload is required"))
    val in = arg(argv, "--in").getOrElse(sys.error("--in is required"))
    val work = arg(argv, "--work").getOrElse(sys.error("--work is required"))
    val out = arg(argv, "--out").getOrElse(sys.error("--out is required"))
    val seconds = arg(argv, "--seconds").getOrElse(sys.error("--seconds is required")).toDouble
    val trace = arg(argv, "--trace").contains("1")
    val seed = arg(argv, "--seed").getOrElse(sys.error("--seed is required")).toLong
    val jvmToMain = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val loadBefore = loadavg()
    val wl: Workload = workload match {
      case "etl_cookbook" => Etl
      case "query_mix" => QueryMix
      case "stream_ingest" => Stream
      case other => sys.error(s"unknown workload $other")
    }
    val heap = new HeapMonitor

    // ---- set-up, repeated: each repetition builds a fresh session and
    // reads the inputs through a different spelling of the input path, so
    // per-path caches in the library are rebuilt too
    val setupParts = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var inputStats = (0L, 0L, 0L)
    var inAlias = in
    for (r <- 1 to SetupReps) {
      inAlias = in + "/." * (r - 1)
      val t0 = Clock.now()
      spark = session(work)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = Clock.now()
      graft.functions.GraftFunctions.register(spark)
      graft.plans.TopKRewriteRule.register(spark)
      val t2 = Clock.now()
      inputStats = wl.touch(spark, inAlias)
      val t3 = Clock.now()
      wl.artifacts(spark, inAlias)
      val t4 = Clock.now()
      setupParts += Map("session.create_s" -> (t1 - t0), "session.register_s" -> (t2 - t1),
        "session.warm_s" -> (t3 - t2), "session.artifact_build_s" -> (t4 - t3),
        "setup_s" -> (t4 - t0))
      if (r < SetupReps) spark.stop()
    }
    val setup = setupParts.head.keys.map(k => k -> median(setupParts.map(_(k)).toSeq)).toMap

    val engine = new EngineProbe(spark.sparkContext)
    spark.sparkContext.addSparkListener(engine)
    val streams = new StreamProbe
    spark.streams.addListener(streams)
    val ctx = new Ctx(spark, inAlias, work,
      new Tracer(spark.sparkContext, enabled = false), engine, streams)

    // the shared artifacts set-up built stay cached; blocks anything else
    // leaves behind are released after the warm-up and after every job.
    // A trivial query then runs so that objects kept only for the most
    // recent query (up to ~35 MB after d_bm25) do not count as live heap.
    val protectedRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => protectedRdds(id) }
        .values.foreach(_.unpersist(blocking = true))
      spark.range(1).write.format("noop").mode("overwrite").save()
    }
    val tPrep = Clock.now()
    val prepared = wl.prepare(ctx)
    val prepS = Clock.now() - tPrep
    release()
    heap.settle()
    heap.reset()

    // ---- measuring: closed loop, one client, whole jobs. The traced run
    // spends its first half untraced so it can report tracing overhead.
    final case class JobRec(wall: Double, cpu: Double, traced: Boolean, out: JobOut,
                            t0Ms: Long, t1Ms: Long)
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val tStart = Clock.now()
    var i = 0
    val tracerSpans = mutable.ArrayBuffer.empty[(Int, Span)]
    def runJob(traced: Boolean, share: (Int, Int)): Unit = {
      val t = new Tracer(spark.sparkContext, enabled = traced)
      val jctx = new Ctx(spark, inAlias, work, t, engine, streams)
      val ms0 = System.currentTimeMillis()
      val c0 = Clock.cpu(); val w0 = Clock.now()
      val o = wl.job(jctx, i, traced, share)
      val w1 = Clock.now(); val c1 = Clock.cpu()
      val ms1 = System.currentTimeMillis()
      jobs += JobRec(o.wall.getOrElse(w1 - w0), c1 - c0, traced, wl.inspect(jctx, o), ms0, ms1)
      tracerSpans ++= t.all.map(s => (i, s))
      i += 1
      release()
      heap.settle()
    }
    if (wl.singleJob) {
      if (trace) { runJob(traced = false, (0, 2)); engine.reset(); runJob(traced = true, (1, 2)) }
      else runJob(traced = false, (0, 1))
    } else if (!trace) {
      do runJob(traced = false, (0, 1)) while (Clock.now() - tStart < seconds)
    } else {
      do runJob(traced = false, (0, 1)) while (Clock.now() - tStart < seconds / 2)
      engine.drain(); engine.reset()
      val tHalf = Clock.now()
      do runJob(traced = true, (0, 1)) while (Clock.now() - tHalf < seconds / 2)
    }
    engine.drain()
    val loadAfter = loadavg()

    // ---- result
    val untraced = jobs.filterNot(_.traced)
    val traced = jobs.filter(_.traced)
    val ops = jobs.zipWithIndex.flatMap { case (j, k) => j.out.ops.map(o => (o, k, j.traced)) }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "setup" -> setup, "setup_reps" -> setupParts.map(_("setup_s")),
      "input" -> Map("rows" -> inputStats._1, "bytes" -> inputStats._2, "files" -> inputStats._3),
      "jobs" -> jobs.map(j => Map("wall_s" -> j.wall, "cpu_s" -> j.cpu, "traced" -> j.traced,
        "out_bytes" -> j.out.outBytes, "ops" -> j.out.ops.size, "check" -> j.out.check)),
      "ops" -> ops.map { case (o, k, tr) => Map("name" -> o.name, "latency_s" -> o.latency,
        "error" -> o.error, "job" -> k, "traced" -> tr, "detail" -> o.detail) },
      "live_heap_peak_mb" -> heap.peakMb,
      "heap_settle_mb" -> heap.readings.asScala.toSeq,
      "heap_collections" -> heap.count,
      "phases" -> Map(
        "jvm_to_main_s" -> jvmToMain,
        "setup_total_s" -> setupParts.map(_("setup_s")).sum, "prepare_s" -> prepS,
        "measure_s" -> (Clock.now() - tStart)),
      "prepared" -> prepared,
      "env" -> Map(
        "local" -> s"local[$Cores]",
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "load_1m_before" -> loadBefore, "load_1m_after" -> loadAfter))
    if (trace) {
      val k = traced.size.max(1).toDouble
      val c = engine.total()
      val wall = traced.map(_.wall).sum
      val layerKeys = traced.flatMap(_.out.layers.keys).distinct
      val layers = layerKeys.map(n => n -> traced.map(_.out.layers.getOrElse(n, 0.0)).sum / k).toMap
      val counts = traced.flatMap(_.out.counts.keys).distinct
        .map(n => n -> median(traced.map(_.out.counts.getOrElse(n, 0.0)).toSeq)).toMap
      val gap = traced.map(j => engine.gapSeconds(j.t0Ms, j.t1Ms)).sum
      val selfSum = layers.values.sum
      val untracedWall = if (untraced.isEmpty) 0.0 else median(untraced.map(_.wall).toSeq)
      val tracedWall = wall / k
      result("trace") = Map(
        "layers" -> layers, "counts" -> counts,
        "engine" -> Map(
          "engine.jobs" -> c.jobs / k, "engine.stages" -> c.stages / k,
          "engine.tasks" -> c.tasks / k, "engine.task_run_s" -> c.runNs / 1e9 / k,
          "engine.task_cpu_s" -> c.cpuNs / 1e9 / k, "engine.gc_s" -> c.gcMs / 1e3 / k,
          "engine.shuffle_write_bytes" -> c.shufW / k,
          "engine.shuffle_read_bytes" -> c.shufR / k,
          "engine.fetch_wait_s" -> c.fetchMs / 1e3 / k, "engine.spill_bytes" -> c.spill / k,
          "engine.driver_gap_s" -> gap / k,
          "engine.core_util" -> (if (wall > 0) c.runNs / 1e9 / (wall * Cores) else 0.0)),
        "trace.wall_s" -> tracedWall, "trace.self_sum_s" -> selfSum,
        "trace.unattributed_s" -> (tracedWall - selfSum),
        "trace.overhead_s" -> (if (untraced.isEmpty) 0.0 else tracedWall - untracedWall),
        "spans" -> tracerSpans.map { case (j, s) => Map("job" -> j, "id" -> s.id,
          "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start" -> (s.start - tStart), "end" -> (s.end - tStart)) })
    }
    Files.write(Paths.get(out), Json.render(result).getBytes("UTF-8"))
    spark.stop()
  }
}
