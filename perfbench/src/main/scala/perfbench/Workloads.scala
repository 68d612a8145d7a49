package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.functions.Transformers
import graft.operators.{DenseId, ForeignKey, Validators}
import graft.pipeline.Pipeline
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.Streams

private object Io {
  def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
  def message(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
}

// ------------------------------------------------------------ etl_cookbook
/** The reference agent's cookbook: three text formats in, one pipeline run
  * per target (recipe, foreign-key fix-up, dense re-keying, constraint
  * report), accepted rows to parquet and rejects to csv.
  */
object Etl extends Workload {
  private val targets = Seq("customer", "orders", "lineitem")

  private def layout(in: String): Map[String, Seq[(String, Int)]] =
    Io.lines(s"$in/layout.tsv").map(_.split("\t")).groupBy(_(0))
      .map { case (t, rs) => t -> rs.map(r => (r(1), r(2).toInt)) }

  def source(spark: SparkSession, in: String, table: String,
             fields: Seq[(String, Int)]): DataFrame = {
    val schema = StructType(fields.map(f => StructField(f._1, StringType)))
    val dir = s"$in/src/$table"
    Sources.readCsv(spark, s"$dir/part.csv", schema = Some(schema))
      .unionByName(Sources.readJson(spark, s"$dir/part.jsonl", schema = Some(schema)))
      .unionByName(Sources.readFixedWidth(spark, s"$dir/part.fw", fields))
  }

  def touch(spark: SparkSession, in: String): (Long, Long, Long) = {
    val l = layout(in)
    val rows = targets.map(t => source(spark, in, t, l(t)).count()).sum
    val files = targets.flatMap(t => Seq("csv", "jsonl", "fw").map(e => s"$in/src/$t/part.$e"))
    (rows, files.map(f => Files.size(Paths.get(f))).sum, files.size.toLong)
  }

  private def dbl(c: Column): Column = trim(c).try_cast(DoubleType)
  import Pipeline.{allToAll, oneToOne, Recipe}
  import Transformers.{castStringToLong, concatAll, lowerOrUpper, parseTimestamp, splitSelect}

  val recipes: Map[String, Recipe] = Map(
    "customer" -> Recipe(Seq(
      oneToOne("c_custkey", "c_custkey", castStringToLong),
      oneToOne("c_name", "c_name", c => lowerOrUpper(trim(c), "upper")),
      oneToOne("c_nationkey", "c_nationkey", castStringToLong),
      oneToOne("c_acctbal", "c_acctbal", dbl),
      oneToOne("c_segment", "c_mktsegment", c => lowerOrUpper(c, "lower")),
      allToAll("c_label", Seq("c_mktsegment", "c_nationkey"),
        cs => concatAll("/", "[", "]", cs: _*)))),
    "orders" -> Recipe(Seq(
      oneToOne("o_orderkey", "o_orderkey", castStringToLong),
      oneToOne("o_custkey", "o_custkey", castStringToLong),
      oneToOne("o_status", "o_orderstatus", c => lowerOrUpper(trim(c), "upper")),
      oneToOne("o_totalprice", "o_totalprice", dbl),
      oneToOne("o_orderdate", "o_orderdate", c => parseTimestamp(trim(c), "yyyy-MM-dd")),
      oneToOne("o_prio", "o_orderpriority", c => castStringToLong(splitSelect(c, "-", 0))))),
    "lineitem" -> Recipe(Seq(
      oneToOne("l_orderkey", "l_orderkey", castStringToLong),
      oneToOne("l_partkey", "l_partkey", castStringToLong),
      oneToOne("l_suppkey", "l_suppkey", castStringToLong),
      oneToOne("l_linenumber", "l_linenumber", castStringToLong),
      oneToOne("l_quantity", "l_quantity", dbl),
      oneToOne("l_extendedprice", "l_extendedprice", dbl),
      oneToOne("l_discount", "l_discount", dbl),
      oneToOne("l_tax", "l_tax", dbl),
      allToAll("l_flags", Seq("l_returnflag", "l_linestatus"),
        cs => concatAll("", "", "", cs.map(trim): _*)),
      oneToOne("l_shipdate", "l_shipdate", c => parseTimestamp(trim(c), "yyyy-MM-dd")),
      allToAll("l_net", Seq("l_extendedprice", "l_discount"),
        cs => dbl(cs(0)) * (lit(1.0) - dbl(cs(1)))),
      allToAll("l_key", Seq("l_orderkey", "l_linenumber"),
        cs => castStringToLong(cs(0)) * 8 + castStringToLong(cs(1))))))

  /** Target key, dense id column, and the parent target its FK resolves to. */
  private val keys = Map(
    "customer" -> ("c_custkey", "c_id", None),
    "orders" -> ("o_orderkey", "o_id", Some(("o_custkey", "customer", "c_custkey", "c_id", "o_cust_id"))),
    "lineitem" -> ("l_key", "l_id", Some(("l_orderkey", "orders", "o_orderkey", "o_id", "l_o_id"))))

  private def out(ctx: Ctx, t: String) = s"${ctx.work}/etl/$t"

  private def withFk(ctx: Ctx, t: String, df: DataFrame): DataFrame = keys(t)._3 match {
    case None => df
    case Some((fk, parent, pk, pid, outCol)) =>
      val mapping = Sources.readParquet(ctx.spark, s"${out(ctx, parent)}/parquet").select(pk, pid)
      ForeignKey.fetch(df, fk, mapping, pk, pid, outCol)
  }

  private def constraints(ctx: Ctx, t: String): Seq[Validators.Constraint] = {
    import Validators._
    t match {
      case "customer" => Seq(NotNull("c_custkey"), NotNull("c_nationkey"), NotNull("c_acctbal"),
        InRange("c_nationkey", 0, 24), Unique(Seq("c_custkey")))
      case "orders" => Seq(NotNull("o_custkey"), NotNull("o_totalprice"), NotNull("o_cust_id"),
        RefIntegrity("o_custkey",
          Sources.readParquet(ctx.spark, s"${out(ctx, "customer")}/parquet"), "c_custkey"),
        Unique(Seq("o_orderkey")))
      case "lineitem" => Seq(NotNull("l_quantity"), NotNull("l_discount"), NotNull("l_o_id"),
        InRange("l_quantity", 1, 50), Unique(Seq("l_orderkey", "l_linenumber")))
    }
  }

  /** Row-wise acceptance: every not-null and range rule holds. */
  private def valid(cs: Seq[Validators.Constraint]): Column = cs.collect {
    case Validators.NotNull(c) => col(c).isNotNull
    case Validators.InRange(c, lo, hi) => col(c).between(lo, hi)
  }.reduce(_ && _)

  /** Warm-up: one untimed job. */
  override def prepare(ctx: Ctx): Map[String, Any] =
    Map("warmup_errors" -> job(ctx, -1, traced = false, (0, 1)).ops.flatMap(_.error))

  /** Actions that each compute a target's typed, FK-resolved rows once: the
    * constraint report, the parquet write of accepted rows and the csv
    * write of rejects.
    */
  private val Passes = 3

  def job(ctx: Ctx, index: Int, traced: Boolean, share: (Int, Int)): JobOut = {
    val l = layout(ctx.in)
    val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ops = targets.map { t =>
      val op = s"$t#$index"
      val (key, idCol, _) = keys(t)
      val src = () => source(ctx.spark, ctx.in, t, l(t))
      try {
        // traced: noop writes of successive prefixes. Inside the operation
        // each action is preceded by a noop write of the DataFrame it
        // consumes, so its self time excludes the recomputed prefix.
        val (a, b) = if (!traced) (0.0, 0.0) else (
          ctx.prefix("sources", op)(src()),
          ctx.prefix("pipeline.recipe", op)(Pipeline.transform(src(), recipes(t))))
        var report = Map.empty[String, Long]
        var c, cons, d, r, sink = 0.0
        val t0 = Clock.now()
        ctx.tracer.span("op", op) {
          Pipeline.run(ctx.spark, _ => src(), recipes(t), { typed =>
            val fixed = withFk(ctx, t, typed)
            val cs = constraints(ctx, t)
            if (traced) c = ctx.prefix("operators.fk_fetch", op)(fixed)
            cons = ctx.tracer.span("operators.constraints", op)(ctx.timed {
              report = Validators.checkConstraints(fixed, cs).collect()
                .map(r => r.getString(0) -> r.getLong(1)).toMap
            })
            val ok = coalesce(valid(cs), lit(false))
            // built per use: DenseId checkpoints its input at first use,
            // and the write must not reuse the baseline's checkpoint
            def accepted = DenseId.withDenseId(fixed.filter(ok), key, idCol)
            val rejected = fixed.filter(!ok)
            if (traced) {
              d = ctx.prefix("operators.dense_id", op)(accepted)
              r = ctx.prefix("sinks.rejects", op)(rejected)
            }
            sink = ctx.tracer.span("sinks.write", op)(ctx.timed {
              Sinks.writeParquet(accepted, s"${out(ctx, t)}/parquet")
              Sinks.writeCsv(rejected, s"${out(ctx, t)}/rejects")
            })
          })
        }
        val full = Clock.now() - t0
        if (traced) {
          // sources, recipe and FK run once per pass; an operator's own
          // re-reads of its input (DenseId's range sampling, a reference
          // check's scan) stay with that operator
          layers("sources.read_s") += Passes * a
          layers("pipeline.recipe_s") += Passes * (b - a)
          layers("operators.fk_fetch_s") += Passes * (c - b)
          layers("operators.constraints_s") += cons - c
          layers("operators.dense_id_s") += d - c
          layers("sinks.write_s") += sink - d - r
        }
        Op(t, Some(full), None, Map("report" -> report))
      } catch { case NonFatal(e) => Op(t, None, Some(Io.message(e))) }
    }
    JobOut(ops, layers = layers.toMap, counts = Map("trace.prefix_s" -> ctx.prefixSpent))
  }

  /** What the sinks hold after the job: accepted and rejected rows per
    * target, output bytes and files.
    */
  override def inspect(ctx: Ctx, o: JobOut): JobOut = {
    val sinks = targets.map { t =>
      val accepted = ctx.spark.read.parquet(s"${out(ctx, t)}/parquet").count()
      val rejected = ctx.spark.read.option("header", "true").csv(s"${out(ctx, t)}/rejects").count()
      val (pb, pf) = ctx.dirStats(s"${out(ctx, t)}/parquet")
      val (cb, cf) = ctx.dirStats(s"${out(ctx, t)}/rejects")
      t -> (accepted, rejected, pb + cb, pf + cf)
    }.toMap
    val ops = o.ops.map { op =>
      if (op.error.isDefined) op
      else {
        val (accepted, rejected, _, _) = sinks(op.name)
        op.copy(detail = op.detail ++ Map("accepted" -> accepted, "rejected" -> rejected))
      }
    }
    val v = sinks.values
    // every input row ends up accepted or rejected
    val rows = v.map(x => x._1 + x._2).sum.toDouble
    o.copy(ops = ops, outBytes = v.map(_._3).sum, counts = o.counts ++ Map(
      "sinks.output_bytes" -> v.map(_._3).sum.toDouble,
      "sinks.files" -> v.map(_._4).sum.toDouble,
      "sinks.rows" -> rows,
      "functions.ns_per_row" ->
        o.layers.getOrElse("pipeline.recipe_s", 0.0) / (Passes * rows.max(1.0)) * 1e9))
  }
}

// --------------------------------------------------------------- query_mix
/** One analyst issuing read-only registry queries back to back, each timed
  * to its full result.
  */
object QueryMix extends Workload {
  private def tables(in: String) = s"$in/tables"
  private def sequence(in: String) = Io.lines(s"$in/sequence.txt")
  private val families = Seq("relational" -> "q", "profiling" -> "p_")
  private def family(q: String): String =
    families.collectFirst { case (f, p) if q.startsWith(p) => f }.getOrElse("retrieval")

  def touch(spark: SparkSession, in: String): (Long, Long, Long) = {
    val dir = tables(in)
    val rows = graft.Tables.all.map(t => graft.Tables.load(spark, dir, t).count()).sum
    val files = graft.Tables.all.map(t => Paths.get(s"$dir/$t.parquet"))
    (rows, files.map(Files.size).sum, files.size.toLong)
  }

  override def artifacts(spark: SparkSession, in: String): Unit = {
    val seq = sequence(in).toSet
    val dir = tables(in)
    if (seq.exists(graft.queries.AnnQueries.ivfConsumers)) {
      graft.queries.AnnQueries.ivfIndex(spark, dir).indexed.count()
      graft.queries.AnnQueries.ivfIndexPlanted(spark, dir).indexed.count()
    }
    if (seq.exists(graft.queries.AnnQueries.pqConsumers))
      graft.queries.AnnQueries.pqBooks(spark, dir)
  }

  /** The check pass: every query's full result goes to parquet for the
    * oracle comparison, and the full-result guard inspects what the timed
    * action really executes. The timed action of each query then runs
    * once, untimed: after the check pass alone, the JIT still compiled
    * through the first measured pass, which then took ~30% more CPU than
    * the next one.
    */
  override def prepare(ctx: Ctx): Map[String, Any] = {
    val dir = tables(ctx.in)
    val registry = graft.SparkEntry.queries
    val seq = sequence(ctx.in).distinct
    val results = seq.map { q =>
      q -> (try {
        val df = registry(q)(ctx.spark, dir)
        df.write.mode("overwrite").parquet(s"${ctx.work}/results/$q")
        Map("ok" -> true, "columns" -> df.columns.toSeq)
      } catch { case NonFatal(e) => Map("ok" -> false, "error" -> Io.message(e)) })
    }.toMap
    val guard = if (!seq.contains("d_fingerprint")) Map[String, Any]("checked" -> false)
      else {
        val q = registry("d_fingerprint")
        val fullPlan = executedPlans(ctx)(ctx.full(q(ctx.spark, dir))).mkString("\n")
        val countPlan = executedPlans(ctx)(q(ctx.spark, dir).count()).mkString("\n")
        Map("checked" -> true,
          "full_evaluates_projection" -> (fullPlan.contains("md5(") && fullPlan.contains("array_join(")),
          "count_prunes_projection" -> !countPlan.contains("md5("))
      }
    val oracles = seq.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.write(Paths.get(s"${ctx.work}/oracle_sql.json"), Json.render(oracles).getBytes("UTF-8"))
    val warm = seq.flatMap { q =>
      try { ctx.full(registry(q)(ctx.spark, dir)); None }
      catch { case NonFatal(e) => Some(s"$q: ${Io.message(e)}") }
    }
    Map("queries" -> results, "guard" -> guard, "warmup_errors" -> warm)
  }

  /** Executed plans (as text) of every query execution `action` runs. */
  private def executedPlans(ctx: Ctx)(action: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    ctx.spark.listenerManager.register(listener)
    try { action; ctx.engine.drain() }
    finally ctx.spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def exchanges(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange ") && !l.contains("ReusedExchange"))

  def job(ctx: Ctx, index: Int, traced: Boolean, share: (Int, Int)): JobOut = {
    val dir = tables(ctx.in)
    val registry = graft.SparkEntry.queries
    val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val perQuery = scala.collection.mutable.Map.empty[String, Double]
    val ops = sequence(ctx.in).map { q =>
      val op = s"$q#$index"
      try {
        val planS = if (!traced) 0.0 else ctx.tracer.span("plans.plan", op) {
          val tp = Clock.now()
          val plan = registry(q)(ctx.spark, dir).queryExecution.executedPlan.toString
          counts("plans.exchanges") += exchanges(plan)
          Clock.now() - tp
        }
        val s = ctx.tracer.span(s"queries.$q", op)(ctx.timed(ctx.full(registry(q)(ctx.spark, dir))))
        if (traced) {
          layers("plans.plan_s") += planS
          layers(s"queries.${family(q)}_s") += s
          perQuery(q) = perQuery.getOrElse(q, 0.0) + s
          counts("trace.prefix_s") += planS
        }
        Op(q, Some(s))
      } catch { case NonFatal(e) => Op(q, None, Some(Io.message(e))) }
    }
    if (traced) {
      // the plan span re-plans outside the timed write; the write plans
      // again, so the query layer's self time is its write minus planning
      families.map(_._1).:+("retrieval").foreach { f =>
        counts(s"queries.${f}_total_s") = layers(s"queries.${f}_s")
      }
      val plan = layers("plans.plan_s")
      val total = layers.filter(_._1.startsWith("queries.")).values.sum
      families.map(_._1).:+("retrieval").foreach { f =>
        val v = layers(s"queries.${f}_s")
        layers(s"queries.${f}_s") = if (total > 0) v - plan * v / total else v
      }
      // a query's mean over its runs in the pass
      val seq = sequence(ctx.in)
      perQuery.foreach { case (q, v) => counts(s"queries.${q}_s") = v / seq.count(_ == q) }
    }
    JobOut(ops, 0L, layers.toMap, counts.toMap)
  }
}

// ----------------------------------------------------------- stream_ingest
/** Continuous ingestion: a single-threaded dropper moves generated event
  * files into a watched directory on a fixed schedule; the stream dedups
  * them and appends each key once.
  */
object Stream extends Workload {
  override def singleJob: Boolean = true

  private def schedule(tsv: String): Seq[(String, Double, Long)] =
    Io.lines(tsv).map(_.split("\t")).map(r => (r(0), r(1).toDouble, r(2).toLong))

  /** Warm-up: one untimed stream over the separate warm-up drop. */
  override def prepare(ctx: Ctx): Map[String, Any] = {
    val w = run(ctx, "warm", s"${ctx.in}/warm", schedule(s"${ctx.in}/warm.tsv"))
    Map("warmup_errors" -> w.ops.flatMap(_.error).distinct)
  }

  def touch(spark: SparkSession, in: String): (Long, Long, Long) = {
    val files = schedule(s"$in/schedule.tsv").map(f => Paths.get(s"$in/stage/${f._1}"))
    Sources.readParquet(spark, s"$in/warm").count()
    (Sources.readParquet(spark, s"$in/stage").count(), files.map(Files.size).sum, files.size.toLong)
  }

  /** Batch id of every file, from the checkpoint's file-source log. */
  private def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.exists(dir)) Map.empty
    else {
      val pat = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
      val ls = Files.list(dir)
      try ls.iterator().asScala.toSeq
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.matches("\\d+(\\.compact)?"))
        .flatMap(f => Files.readAllLines(f).asScala)
        .flatMap(l => pat.findFirstMatchIn(l))
        .map(m => m.group(1).split("/").last -> m.group(2).toLong).toMap
      finally ls.close()
    }
  }

  def job(ctx: Ctx, index: Int, traced: Boolean, share: (Int, Int)): JobOut = {
    val all = schedule(s"${ctx.in}/schedule.tsv")
    val (part, parts) = share
    val mine = all.grouped(math.ceil(all.size.toDouble / parts).toInt).toSeq(part)
    run(ctx, index.toString, s"${ctx.in}/stage", mine)
  }

  /** Drop `mine` from `stage` on schedule into a fresh watched directory,
    * stream it to completion, and attribute every file to its batch.
    */
  private def run(ctx: Ctx, tag: String, stage: String,
                  mine: Seq[(String, Double, Long)]): JobOut = {
    val base = mine.head._2
    val root = s"${ctx.work}/stream/$tag"
    ctx.rmrf(root)
    val drop = s"$root/drop"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(drop))
    ctx.streams.triggers.clear()
    val expectRows = mine.map(_._3).sum
    val lateness = scala.collection.mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None
    var t0Ms = 0L
    val startTs = Clock.now()
    val q = ctx.tracer.span("streaming.start", "stream") {
      Streams.toParquetUnique(Streams.dedupStream(Streams.eventStream(ctx.spark, drop)),
        outDir, ckpt, Seq("event_id"))
    }
    val startS = Clock.now() - startTs
    try {
      ctx.tracer.span("streaming.run", "stream") {
        // the dropper: one thread, fixed schedule (open loop)
        t0Ms = System.currentTimeMillis() + 500
        mine.foreach { case (f, off, _) =>
          val due = t0Ms + ((off - base) * 1000).toLong
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          lateness += (System.currentTimeMillis() - due) / 1000.0
          Files.move(Paths.get(s"$stage/$f"), Paths.get(s"$drop/$f"),
            StandardCopyOption.ATOMIC_MOVE)
        }
        val deadline = System.currentTimeMillis() + 60000
        def consumed = ctx.streams.triggers.asScala.map(_.rows).sum
        while (consumed < expectRows && q.exception.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        q.exception.foreach(e => throw e)
        if (consumed < expectRows) sys.error(s"stream consumed $consumed of $expectRows rows in time")
      }
    } catch { case NonFatal(e) => error = Some(Io.message(e)) }
    finally {
      q.stop()
      // put the files back so a later run over the same inputs finds them
      mine.foreach { case (f, _, _) =>
        val p = Paths.get(s"$drop/$f")
        if (Files.exists(p)) Files.move(p, Paths.get(s"$stage/$f"))
      }
    }
    ctx.engine.drain()
    val trig = ctx.streams.triggers.asScala.toSeq
    val commitMs = trig.map(t => t.batchId -> t.endMs).toMap
    val batchOf = fileBatches(ckpt)
    val ops = mine.map { case (f, off, _) =>
      val due = t0Ms + ((off - base) * 1000).toLong
      (error, batchOf.get(f).flatMap(commitMs.get)) match {
        case (None, Some(end)) => Op(f, Some((end - due) / 1000.0))
        case (e, _) => Op(f, None, Some(e.getOrElse("file not attributed to a committed batch")))
      }
    }
    val data = trig.filter(_.rows > 0)
    val lastCommit = if (commitMs.isEmpty) t0Ms else commitMs.values.max
    def total(keys: String*): Double =
      data.map(t => keys.map(t.durations.getOrElse(_, 0L)).sum).sum / 1e3
    // self times partition the batches' trigger time; the rest of the
    // wall is the stream waiting for files
    val layers = Map(
      "sinks.write_s" -> total("addBatch"),
      "streaming.offsets_s" -> total("latestOffset", "getBatch"),
      "streaming.planning_s" -> total("queryPlanning"),
      "streaming.wal_commit_s" -> total("walCommit", "commitOffsets"))
    val counts = Map(
      "streaming.trigger_s" -> total("triggerExecution"),
      "streaming.add_batch_s" -> total("addBatch"),
      "session.stream_start_s" -> startS,
      "streaming.batches" -> data.size.toDouble,
      "streaming.rows_per_batch" -> (if (data.isEmpty) 0.0 else data.map(_.rows).sum.toDouble / data.size),
      "streaming.state_rows" -> (if (data.isEmpty) 0.0 else data.last.stateRows.toDouble),
      "streaming.backlog_files_end" -> mine.count(f => !batchOf.contains(f._1)).toDouble,
      "streaming.generator_late_s" -> (if (lateness.isEmpty) 0.0 else lateness.max))
    val check = Map("out_dir" -> outDir, "files" -> mine.map(_._1),
      "wall_s" -> (lastCommit - t0Ms) / 1000.0,
      "rate_files_per_s" -> (mine.size / math.max(1e-9, mine.last._2 - base + 1e-9)))
    JobOut(ops, 0L, layers, counts, check, Some((lastCommit - t0Ms) / 1000.0))
  }

  /** Rows and distinct keys the sink holds, output bytes and files. */
  override def inspect(ctx: Ctx, o: JobOut): JobOut = {
    val outDir = o.check("out_dir").toString
    val (rows, keys) = if (!Files.exists(Paths.get(outDir))) (0L, 0L) else {
      val r = ctx.spark.read.parquet(outDir)
        .agg(count(lit(1)), countDistinct(col("event_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (ob, of) = ctx.dirStats(outDir)
    o.copy(outBytes = ob,
      counts = o.counts ++ Map("sinks.output_bytes" -> ob.toDouble,
        "sinks.files" -> of.toDouble, "sinks.rows" -> rows.toDouble),
      check = o.check ++ Map("out_rows" -> rows, "out_keys" -> keys))
  }
}
