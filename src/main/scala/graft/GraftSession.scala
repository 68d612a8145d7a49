package graft

import org.apache.spark.sql.SparkSession

/** Builds a SparkSession tuned for this engine.
  *
  * Local-mode defaults mirror what we would set per-executor on a real
  * cluster: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the parallelism instead of the
  * 200 default, UTC session time so results are oracle-comparable.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // SIZE-first coalescing (r17): with the default parallelismFirst=true
      // AQE keeps every post-shuffle stage at ~`cores` partitions no matter
      // how few bytes flow, so per-task fixed costs (launch, codegen setup,
      // state/commit IO, M×R shuffle blocks) scale with the core count —
      // measured as 1.5-2× wall on small exchanges at local[32] vs local[8]
      // on identical code. Deriving the partition count from DATA SIZE
      // (advisory 256 MB, the optimization guide's production starting
      // point) makes partitioning scale-adaptive: tiny exchanges collapse
      // to one task, 100 TB exchanges get ~bytes/256MB tasks. CPU-heavy
      // stages whose input bytes are tiny (pair scoring, pigeonhole
      // enumeration) keep their parallelism via the EXPLICIT
      // repartition(n, cols) fanouts those operators already pin.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
      // Sort-based shuffle writer for every multi-reducer exchange (r17).
      // The default bypass-merge writer (reducers <= 200) opens and writes
      // ONE FILE PER REDUCE PARTITION PER MAP TASK — M×R shuffle files,
      // the §2.2 block-explosion cost paid at file-create time. Measured
      // here: a 32-map-task stage cost 12 task-seconds at 32 shuffle
      // partitions vs 1.1 s with the sort writer (same plan) — and AQE
      // coalescing cannot help, because it merges partitions on READ
      // while the map side still writes R files per task. The sort-based
      // (serialized) writer emits one file per map task at any R; its
      // extra cost is a radix sort of partition ids — negligible at every
      // scale. Threshold 1 keeps the direct single-file path for R = 1.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Naive (no-timezone) parquet timestamps read as TIMESTAMP in the UTC
      // session, not TIMESTAMP_NTZ: the oracle (DuckDB) reads the same files
      // as naive timestamps, so the two engines agree value-for-value, and
      // time functions (unix_micros, windows, intervals) keep working no
      // matter which annotation a producer wrote.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** The core count the mains run at: `SPARK_GRAFT_CPUS`, else `default`;
    * any value but a positive integer fails at once. */
  def envCores(default: Int = 4, env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** The session every graft main runs on: the settings above plus the SQL
    * functions and the top-k rewrite, both registered idempotently. */
  def get(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // full engine surface out of the box: SQL-callable custom expressions
    // and the conservative top-k window rewrite
    graft.functions.GraftFunctions.register(s)
    graft.plans.TopKRewriteRule.register(s)
    s
  }
}
