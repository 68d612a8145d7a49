package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the result file (numbers, strings, nested
  * maps and sequences); the benchmark has no JSON dependency of its own.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Process clocks. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Double = System.nanoTime() / 1e9
  def cpu(): Double = os.getProcessCpuTime / 1e9
}

/** Live heap: heap in use right after a collection, summed over the heap
  * pools' usage after it. Every collection is observed through GC
  * notifications, young ones during a job included; [[settle]] forces a
  * full one at a job boundary, so every job contributes a reading even if
  * it allocates too little to collect.
  */
final class HeapMonitor {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  /** JVM uptime (ms) before which collections do not count. */
  @volatile private var since = 0L
  @volatile private var collections = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val gc = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        if (gc.getStartTime >= since) {
          collections += 1
          record(gc.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum)
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  /** Heap in use after each boundary collection, in MB. */
  val readings = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private def record(used: Long): Unit = synchronized { if (used > peak) peak = used }
  def settle(): Unit = {
    // the first collection lets Spark's ContextCleaner see which broadcasts
    // and shuffles died; the second one runs after it has released them
    System.gc()
    Thread.sleep(300)
    System.gc()
    val u = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    readings.add(u >> 20)
    record(u)
  }
  /** Forget every reading so far: later collections start a new peak. */
  def reset(): Unit = synchronized {
    since = ManagementFactory.getRuntimeMXBean.getUptime
    collections = 0L
    readings.clear()
    peak = 0L
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
  def count: Long = collections
}

/** One timed region of the traced run. `op` groups the spans of one ETL
  * job, query or file.
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      start: Double, end: Double)

/** Engine counters per span, from a listener the benchmark attaches.
  * Actions run under the local property `perfbench.span`, which Spark
  * copies into every job's properties; stages and tasks inherit the job's
  * span.
  */
final class EngineProbe(sc: SparkContext) extends SparkListener {
  final class Counters {
    var jobs, stages, tasks = 0L
    var runNs, cpuNs, gcMs, shufW, shufR, fetchMs, spill = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runNs += o.runNs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shufW += o.shufW; shufR += o.shufR
      fetchMs += o.fetchMs; spill += o.spill
    }
  }
  private val byStage = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  /** Task (launch, finish) intervals in epoch ms, for driver-gap accounting. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def of(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse("-")
    e.stageIds.foreach(byStage.put(_, span))
    of(span).synchronized { of(span).jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(byStage.getOrDefault(e.stageInfo.stageId, "-"))
    c.synchronized { c.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(byStage.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shufW += m.shuffleWriteMetrics.bytesWritten
        c.shufR += m.shuffleReadMetrics.totalBytesRead
        c.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    intervals.synchronized { intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

  def reset(): Unit = {
    counters.clear(); byStage.clear(); intervals.synchronized(intervals.clear())
  }

  /** Counters summed over all spans. */
  def total(): Counters = {
    val t = new Counters
    counters.asScala.values.foreach(c => c.synchronized(t.add(c)))
    t
  }

  /** Seconds in [t0, t1] (epoch ms) during which no task was running. */
  def gapSeconds(t0: Long, t1: Long): Double = {
    val iv = intervals.synchronized(intervals.toSeq)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (t1 - t0) - covered) / 1000.0
  }
}

/** One streaming trigger: its batch, when it ended (epoch ms), its
  * duration breakdown, input rows and state rows.
  */
final case class Trigger(batchId: Long, endMs: Long, durations: Map[String, Long],
                         rows: Long, stateRows: Long)

/** Per-trigger timings of streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    triggers.add(Trigger(p.batchId, start + d.getOrElse("triggerExecution", 0L), d,
      p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum))
  }
}

/** Span recorder for the traced run: spans stay in memory and are written
  * out with the result.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Time `body` as a span named `name` of operation `op`; engine work it
    * triggers is attributed to the span. With tracing off it only runs
    * `body`.
    */
  def span[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val prev = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", name)
      val t0 = Clock.now()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, Clock.now())
        sc.setLocalProperty("perfbench.span", prev)
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq
}
