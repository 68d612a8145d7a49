package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Slowly-changing-dimension type-2 history maintenance — the APPLY step of
  * incremental sync. [[Validators.snapshotDiff]] detects what changed
  * between agent runs; this operator folds each new snapshot into a
  * versioned history table (validity intervals instead of overwrites),
  * which is how a warehouse target keeps every state the reference's
  * continuous source→target sync ever shipped
  * (/root/reference/src/main/scala/com/wegtam/tensei/agent/Processor.scala
  * drives repeated full-table runs; the history semantics are the standard
  * Kimball SCD type 2).
  *
  * Contract: `valid_from`/`valid_to` are ISO date strings; an open (current)
  * row has `valid_to IS NULL`. Snapshots are COMPLETE states of the source
  * (a key absent from the snapshot means deleted at the source).
  *
  * 100 TB shape: one full-outer join of the OPEN slice against the snapshot
  * on the key columns (both sides hash-partition on the same keys — the
  * diff, the close and the open all reuse that co-partitioning) plus a
  * pass-through union of the closed slice, which never reshuffles. Change
  * detection compares a codegen'd xxhash64 of the tracked columns, so wide
  * rows diff without shipping their payload twice.
  */
object Scd2 {

  /** Start a history from the first snapshot: every row open since `ts`. */
  def init(snap: DataFrame, ts: String): DataFrame =
    snap.withColumn("valid_from", lit(ts))
      .withColumn("valid_to", lit(null).cast("string"))

  /** Fold the complete snapshot `snap` (state of the source at `ts`) into
    * SCD2 history `scd`. Unchanged open rows persist; changed keys close
    * their open row at `ts` and open a fresh version; keys missing from the
    * snapshot close at `ts`; new keys open at `ts`. Closed rows pass
    * through untouched. Null-safe change compare (NULL == NULL, like
    * IS NOT DISTINCT FROM).
    *
    * Plan shape (r17, guide §1.2): ONE null-safe full-outer join of the
    * open slice against the snapshot, then a conditional row EXPLOSION
    * (same → open row; changed → closed version + fresh version; removed →
    * closed version; added → fresh version). The r16 formulation ran
    * [[Validators.snapshotDiff]] and re-joined open/snap against the diff's
    * key sets — four key joins and three scans of each input per merge;
    * this emits identical rows from the single join (2 exchanges instead
    * of 8, each payload ships exactly once). The change compare is
    * per-column `<=>` — the IS NOT DISTINCT FROM semantics snapshotDiff's
    * null-flagged hash encodes, minus the hash.
    */
  def merge(scd: DataFrame, snap: DataFrame, keys: Seq[String],
            compareCols: Seq[String], ts: String): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty,
      s"merge: keys and compareCols must each name a column, got $keys and $compareCols")
    val dataCols = keys ++ compareCols
    require(snap.columns.toSeq == dataCols,
      s"snapshot columns must be exactly keys ++ compareCols ($dataCols), got ${snap.columns.toSeq}")
    require(scd.columns.toSeq == dataCols ++ Seq("valid_from", "valid_to"),
      s"scd columns must be keys ++ compareCols ++ (valid_from, valid_to), got ${scd.columns.toSeq}")
    // a data column named like a join-side rename or presence marker below
    // would resolve against the wrong side (upsert's guard, widened)
    val clash = dataCols.intersect(dataCols.map("__s_" + _) :+ "__s_present" :+ "__o_present")
    require(clash.isEmpty, s"merge: column(s) ${clash.mkString(",")} collide with the " +
      "reserved __s_<column>/__s_present/__o_present names; rename them first")
    // null-safe equality (<=>) is undefined on maps, at any nesting depth
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val mapCols = dataCols.filter(c => hasMap(snap.schema(c).dataType))
    require(mapCols.isEmpty, s"merge: column(s) ${mapCols.mkString(",")} hold a map type, " +
      "which has no null-safe equality; convert them (array_sort(map_entries(c))) first")
    val open = scd.filter(col("valid_to").isNull)
    val closed = scd.filter(col("valid_to").isNotNull)
    // the snapshot side is fully RENAMED before joining (both frames
    // typically derive from one source table, and unrenamed columns over
    // shared lineage trip the ambiguous-self-join detector — the r8
    // lesson); presence is tracked by non-null marker literals because
    // keys themselves may be null, and the join is null-safe (<=>) so a
    // null-keyed open row still meets its null-keyed snapshot row instead
    // of silently vanishing from the history (r8 review).
    val snapR = snap.select(dataCols.map(c => col(c).as(s"__s_$c")) :+
      lit(1).as("__s_present"): _*)
    val openM = open.withColumn("__o_present", lit(1))
    val keyCond = keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _)
    val j = openM.join(snapR, keyCond, "full_outer")
    val changed = compareCols.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    def openRow(validTo: Column) = struct(
      dataCols.map(col) :+ col("valid_from") :+ validTo.as("valid_to"): _*)
    val snapRow = struct(
      dataCols.map(c => col(s"__s_$c").as(c)) :+
        lit(ts).as("valid_from") :+ lit(null).cast("string").as("valid_to"): _*)
    val emit =
      when(col("__o_present").isNull, array(snapRow)) // added
        .when(col("__s_present").isNull, array(openRow(lit(ts)))) // removed
        .when(changed, array(openRow(lit(ts)), snapRow)) // changed
        .otherwise(array(openRow(col("valid_to")))) // same
    val merged = j.select(explode(emit).as("__e"))
      .select(scd.columns.map(c => col(s"__e.$c").as(c)): _*)
    closed.unionByName(merged)
  }

  /** SCD type-1 merge — the everyday `MERGE INTO target USING source WHEN
    * MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`: source rows win on
    * key match (no history kept), unmatched target rows pass through.
    * One left-anti join on the keys plus a union; both sides hash-partition
    * on the same keys, so at any scale this is a single co-partitioned
    * shuffle pair and no wide row ships twice.
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(target.columns.toSeq == source.columns.toSeq,
      s"target/source columns must match: ${target.columns.toSeq} vs ${source.columns.toSeq}")
    // NULL-SAFE key match (IS NOT DISTINCT FROM), like [[merge]] since r8:
    // a plain equi-anti-join never matches a NULL key, so a null-keyed
    // target row would survive every apply while the source's null-keyed
    // winner appends AGAIN — one duplicate per re-application, breaking
    // the idempotence toUpsertSink's exactly-once story rests on. (ANSI
    // MERGE shares the null-unsafe bug; a CDC apply must not.) The source
    // keys are renamed before joining — both frames may share lineage,
    // and unrenamed null-safe conditions trip the ambiguous-self-join
    // detector (r8 lesson).
    // the rename prefix must be ABSENT from the schema: a real column
    // already named __s_<key> would make the join condition resolve both
    // sides against the source's renamed column (always equal — every
    // target row anti-joins away)
    val clash = keys.map(k => s"__s_$k").filter(target.columns.contains)
    require(clash.isEmpty,
      s"upsert: column(s) ${clash.mkString(",")} collide with the reserved " +
        "__s_<key> rename prefix; rename them before calling upsert")
    val srcKeys = source.select(keys.map(k => col(k).as(s"__s_$k")): _*)
    val keyCond = keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _)
    target.join(srcKeys, keyCond, "left_anti")
      .unionByName(source)
  }
}
