package graft

import graft.operators.Similarity
import graft.queries.{AnnQueries, DocumentQueries}
import org.apache.spark.sql.graft.DatasetBridge
import org.scalatest.funsuite.AnyFunSuite

class ArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted

  test("consumers survive a caller releasing every persisted block") {
    DocumentQueries.clusterLabels(spark, sf).count()
    val consumers = Seq("d_dedup_keep_best", "d_dedup_apply", "d_ann_ivf")
    val before = consumers.map(q => q -> rows(q)).toMap
    assert(before.values.forall(_.nonEmpty), before)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    consumers.foreach(q => assert(rows(q) == before(q), q))
  }

  test("every artifact a registry query fetches declares that query as a consumer") {
    val declared = SparkEntry.artifacts.map(a => a.name -> a).toMap
    val undeclared = SparkEntry.registry.flatMap { d =>
      val (_, fetched) = Artifact.fetchedBy(d.run(spark, sf).count())
      fetched.filterNot(declared(_).consumers(d.name)).map(a => s"${d.name} fetches $a")
    }
    assert(undeclared.isEmpty, undeclared.mkString("; "))
    val queries = SparkEntry.registry.map(_.name).toSet
    val unknown = declared.values.flatMap(a =>
      a.consumers.filterNot(queries).map(q => s"${a.name} lists $q"))
    assert(unknown.isEmpty, unknown.mkString("; "))
  }

  private def pinnedRdd(idx: Similarity.IvfIndex): Option[Int] =
    DatasetBridge.cachedBlocks(idx.indexed).map(_.id)
      .filter(spark.sparkContext.getPersistentRDDs.contains)

  // an RDD persisted and then dropped by every reference: a build leftover
  private def orphanRdd(): Int = {
    val r = spark.sparkContext.parallelize(1 to 10).persist()
    r.count()
    r.id
  }

  test("releaseUnowned and garbage-collected leftovers keep live artifacts") {
    val idx = AnnQueries.ivfIndex(spark, sf)
    val labels = DocumentQueries.clusterLabels(spark, sf)
    val n = labels.count()
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids
    spark.range(100).toDF("x").localCheckpoint().count()
    val unowned = ids -- before
    assert(unowned.nonEmpty)
    Artifact.releaseUnowned(spark)
    assert((ids intersect unowned).isEmpty)
    val orphan = orphanRdd()
    val deadline = System.nanoTime() + 30e9.toLong
    while (ids(orphan) && System.nanoTime() < deadline) { System.gc(); Thread.sleep(100) }
    assert(!ids(orphan), "the orphaned RDD was never collected")
    assert(AnnQueries.ivfIndex(spark, sf) eq idx)
    assert(pinnedRdd(idx).nonEmpty)
    assert(DocumentQueries.clusterLabels(spark, sf).count() == n)
    assert(labels.count() == n)
  }

  test("a sweep of block RDDs without clearCache re-caches the IVF index") {
    val first = AnnQueries.ivfIndex(spark, sf)
    val n = first.indexed.count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(pinnedRdd(first).isEmpty)
    val again = AnnQueries.ivfIndex(spark, sf)
    assert(!(again eq first))
    assert(pinnedRdd(again).nonEmpty)
    Artifact.releaseUnowned(spark)
    assert(pinnedRdd(again).nonEmpty)
    assert(AnnQueries.ivfIndex(spark, sf) eq again)
    assert(again.indexed.count() == n)
  }
}
