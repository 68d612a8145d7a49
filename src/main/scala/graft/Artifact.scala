package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A shared offline artifact — an index, a label table, trained codebooks,
  * a staged input directory — that registry queries reuse instead of
  * deriving it per call. One declaration names it, lists the registry
  * queries consuming it, and says how to build it from (session, data
  * dir); the [[Artifact$ registry]] memoizes, checks and releases it.
  */
final class Artifact[T] private (val name: String, val consumers: Set[String],
    private val pinned: Option[Any => Seq[Dataset[_]]], private val build: (SparkSession, String) => T) {

  /** The value for `dir`: built on first use, rebuilt once the cached
    * blocks it reads are gone. */
  def apply(spark: SparkSession, dir: String): T =
    Artifact.fetch(this, spark, dir, materialize = false).value.asInstanceOf[T]

  /** Fetches the value, materializing its cached Datasets, and returns the
    * seconds its own build took (builds of artifacts it fetched itself are
    * excluded). */
  def prebuild(spark: SparkSession, dir: String): Double =
    Artifact.fetch(this, spark, dir, materialize = true).seconds
}

/** The artifact registry. The memo key is the name and the dir string as
  * given, plus the session for cached artifacts.
  *
  * A cached artifact pins the Datasets its declaration names, each held in
  * the session's cache manager. A fetch that finds one of them uncached —
  * `clearCache`, or a caller unpersisting its block RDD — uncaches the
  * rest and builds again, instead of handing back a value whose blocks
  * are gone. Entries of stopped sessions are evicted. Each key has its own
  * lock, so unrelated artifacts build concurrently and a build may fetch
  * other artifacts.
  */
object Artifact {
  private final case class Entry(value: Any, pins: Seq[Dataset[_]], seconds: Double)
  private final class Slot { @volatile var entry: Option[Entry] = None }

  private val declarations = mutable.ArrayBuffer.empty[Artifact[_]]
  private val slots = new ConcurrentHashMap[(String, String, Option[SparkSession]), Slot]()
  // per thread: seconds spent in builds nested in the running one, and the
  // names fetchedBy is recording
  private val nestedSeconds = ThreadLocal.withInitial[Double](() => 0.0)
  private val fetchLog = ThreadLocal.withInitial[Option[mutable.Set[String]]](() => None)

  private def declare[T](a: Artifact[T]): Artifact[T] = synchronized {
    require(!declarations.exists(_.name == a.name), s"artifact ${a.name} is declared twice")
    declarations += a
    a
  }

  /** An artifact whose value reads Datasets cached (`persist`) in the
    * session that built it; `pinned` names them. A plain fetch leaves
    * filling the cache to the first reader; [[Artifact.prebuild]] fills it
    * inside the build it times. */
  def cached[T](name: String, consumers: String*)(build: (SparkSession, String) => T)(
      pinned: T => Seq[Dataset[_]]): Artifact[T] =
    declare(new Artifact(name, consumers.toSet, Some(v => pinned(v.asInstanceOf[T])), build))

  /** A driver-side value (trained codebooks, a path), shared by every
    * session of the JVM. */
  def data[T](name: String, consumers: String*)(build: (SparkSession, String) => T): Artifact[T] =
    declare(new Artifact(name, consumers.toSet, None, build))

  /** A staging directory ([[TempFiles.dir]]) that `write(spark, dir, out)`
    * fills once per data dir; the value is its path. */
  def staged(name: String, consumers: String*)(
      write: (SparkSession, String, String) => Unit): Artifact[String] =
    data(name, consumers: _*) { (spark, dir) =>
      val out = TempFiles.dir(s"graft_$name")
      write(spark, dir, out)
      out
    }

  /** The declarations of every object initialized so far —
    * [[SparkEntry.artifacts]] initializes the whole registry first. */
  def declared: Seq[Artifact[_]] = synchronized(declarations.toList)

  /** Runs `body` and returns the names of the artifacts it fetched on this
    * thread, including fetches made by the builds it triggered. */
  def fetchedBy[T](body: => T): (T, Set[String]) = {
    val outer = fetchLog.get
    val log = mutable.Set.empty[String]
    fetchLog.set(Some(log))
    try { val v = body; (v, log.toSet) }
    finally { fetchLog.set(outer); outer.foreach(_ ++= log) }
  }

  /** Unpersists every persistent RDD of `spark` that no live artifact
    * pins: the per-query reclaim of a long sweep, which would otherwise
    * accumulate the blocks operators leave behind. */
  def releaseUnowned(spark: SparkSession): Unit = {
    val keep = slots.asScala.collect { case ((_, _, Some(s)), slot) if s eq spark => slot.entry }
      .flatten.flatMap(_.pins).flatMap(DatasetBridge.cachedBlocks).map(_.id).toSet
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = false)
    }
  }

  private def live(ds: Dataset[_]): Boolean =
    DatasetBridge.cachedBlocks(ds).exists(_.getStorageLevel != StorageLevel.NONE)

  private def fetch(a: Artifact[_], spark: SparkSession, dir: String,
      materialize: Boolean): Entry = {
    fetchLog.get.foreach(_ += a.name)
    slots.keySet.removeIf(_._3.exists(_.sparkContext.isStopped))
    val slot = slots.computeIfAbsent(
      (a.name, dir, a.pinned.map(_ => spark)), _ => new Slot)
    slot.synchronized {
      slot.entry.filter(_.pins.forall(live)).getOrElse {
        // drop the stale cache-manager entries, so the rebuild caches anew
        slot.entry.foreach(_.pins.foreach(_.unpersist(blocking = false)))
        val e = build(a, spark, dir, materialize)
        slot.entry = Some(e)
        e
      }
    }
  }

  private def build(a: Artifact[_], spark: SparkSession, dir: String,
      materialize: Boolean): Entry = {
    val outer = nestedSeconds.get
    nestedSeconds.set(0.0)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      val value = a.build(spark, dir)
      val pins = a.pinned.fold(Seq.empty[Dataset[_]])(_(value))
      require(a.pinned.isEmpty || (pins.nonEmpty && pins.forall(live)),
        s"artifact ${a.name}: its build left a pinned Dataset uncached")
      if (materialize) pins.foreach(_.count())
      Entry(value, pins, elapsed - nestedSeconds.get)
    } finally nestedSeconds.set(outer + elapsed)
  }
}
