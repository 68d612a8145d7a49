package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf10 ORACLE leg for the dedup family's result-bounded outputs.
  *
  * The registered near-dup oracles replay pair ENUMERATION in DuckDB
  * (all-pairs Jaccard — O(n²), intractable past ~50k docs), so the ×100
  * scale evidence for this family was bench-only. But pair COUNTS and
  * SURVIVOR SETS are result-bounded even where enumeration isn't,
  * because the scaled corpus's true cluster structure is KNOWN:
  *
  *   - ScaleUp duplicates by EXACT copy (byte-identical text groups), and
  *   - the generator plants near-duplicates as `text + " dup"` — measured
  *     on THIS corpus: dup↔base word-3-shingle J ≥ 0.889 (minhash
  *     threshold 0.5) and char-4-gram J ≥ 0.905 (ngram threshold 0.8),
  *     while any cross-group pair measures ≤ 0.46 — wide margins on both
  *     sides of both thresholds.
  *
  * So the true clusters are canonical-text groups — canon strips the
  * trailing `" dup"` RUN, since plants chain (X, X dup, X dup dup; every
  * chain's adjacent links measure J ≥ 0.889, no broken chains on this
  * corpus) — with ONE semantic twist the leg deliberately exercises:
  * ngram dedup BLOCKS by (lang, source), and most planted dups carry a
  * different lang/source than their base — a blocked pass must keep
  * those apart (its contract: only block-local near-dups merge) while
  * the unblocked minhash pass merges them. The DuckDB replay is one
  * linear GROUP BY per variant:
  *   minhash: GROUP BY canon                           (global clusters)
  *   ngram:   GROUP BY lang, source, canon             (block clusters;
  *            every same-(block, canon) text pair measures J ≥ 0.92, so
  *            the groups are cliques == components)
  *
  * The replay is only sound if no Spark pair crosses its variant's canon
  * key; the harness PROVES that premise per run and aborts loudly rather
  * than dump an artifact whose oracle lies.
  *
  * Dump contract mirrors [[graft.Verify]]: `out/<name>/` parquet +
  * `out/oracle_sql.json`, compared by tools/selfcheck.py — run
  *   runMain graft.tools.DedupSf10 target/sf10 /tmp/dedup_sf10
  *   python3 tools/selfcheck.py target/sf10 /tmp/dedup_sf10
  *
  * Usage: runMain graft.tools.DedupSf10 [srcDir] [outDir]
  */
object DedupSf10 {
  import graft.operators.Dedup

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("target/sf10")
    val out = args.lift(1).getOrElse("/tmp/dedup_sf10")
    val spark = GraftSession.get(GraftSession.envCores(32))
    run(spark, src, out)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String): Unit = {
    import spark.implicits._
    val d = Tables.documents(spark, src)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))

    // canonical keys mirroring the two variants' true cluster structure:
    // plants can CHAIN (X, X dup, X dup dup), so canon strips the whole
    // trailing run; the blocked variant additionally keys by (lang,
    // source) — pairs are block-local, and every same-(block, canon)
    // text pair measures J ≥ 0.92 (cliqued), so components == groups
    val strip = regexp_replace(col("text"), "( dup)+$", "")
    val globalCanon = d.select(col("doc_id"), strip.as("canon"))
    val blockCanon = d.select(col("doc_id"),
      struct(col("lang"), col("source"), strip.as("t")).as("canon"))

    // registered-query parameters, full corpus
    val mh = Dedup.minhashPairs(d, "text", "doc_id",
      shingleK = 3, nHashes = 64, bands = 16, threshold = 0.5)
      .persist()
    val ng = Dedup.ngramJaccardPairs(d, "text", "doc_id",
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.8)
      .persist()

    // premise proof: a pair crossing its variant's canon key would make
    // the GROUP BY canon replay wrong — require none before dumping
    def crossCanon(pairs: DataFrame, canon: DataFrame, name: String): Unit = {
      val n = pairs
        .join(canon.select(col("doc_id").as("id_a"), col("canon").as("__ca")), "id_a")
        .join(canon.select(col("doc_id").as("id_b"), col("canon").as("__cb")), "id_b")
        .filter(col("__ca") =!= col("__cb")).count()
      require(n == 0, s"$name found $n cross-canon pairs — the measured " +
        "cluster structure does not hold on this corpus; the GROUP BY " +
        "canon oracle would be wrong. Aborting the dump.")
    }
    crossCanon(mh, globalCanon, "minhash")
    crossCanon(ng, blockCanon, "ngram")

    val counts = Seq((mh.count(), ng.count()))
      .toDF("minhash_pairs", "ngram_pairs")
    // deterministic quality that DIFFERS among a group's copies, so
    // keep-best must consult the score, not just the id tie-break
    val scored = d.withColumn("__q", pmod(col("doc_id"), lit(7)))

    val queries: Seq[(String, DataFrame)] = Seq(
      "x10_pair_counts" -> counts,
      "x10_minhash_survivors" ->
        Dedup.keepCanonical(d, mh, "doc_id").select("doc_id"),
      "x10_ngram_survivors" ->
        Dedup.keepCanonical(d, ng, "doc_id").select("doc_id"),
      "x10_keepbest_survivors" ->
        Dedup.keepBest(scored, ng, "doc_id", "__q").select("doc_id")
    )

    // shared canon CTE (DuckDB): strip the trailing " dup" run; the
    // blocked variant groups by (lang, source, canon)
    val canonC =
      """WITH c AS (SELECT doc_id, lang, source, doc_id % 7 AS q,
        | regexp_replace(text, '( dup)+$', '') AS canon FROM documents)""".stripMargin
    val oracles = Map(
      "x10_pair_counts" -> (canonC + """,
        |g AS (SELECT COUNT(*) AS c FROM c GROUP BY canon),
        |b AS (SELECT COUNT(*) AS c FROM c GROUP BY lang, source, canon)
        |SELECT
        | (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) FROM g) AS minhash_pairs,
        | (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) FROM b) AS ngram_pairs""".stripMargin),
      "x10_minhash_survivors" ->
        (canonC + "\nSELECT MIN(doc_id) AS doc_id FROM c GROUP BY canon"),
      "x10_ngram_survivors" ->
        (canonC + "\nSELECT MIN(doc_id) AS doc_id FROM c GROUP BY lang, source, canon"),
      "x10_keepbest_survivors" ->
        (canonC + """
          |SELECT doc_id FROM (
          | SELECT doc_id, ROW_NUMBER() OVER (
          |  PARTITION BY lang, source, canon ORDER BY q DESC, doc_id) AS rn
          | FROM c)
          |WHERE rn = 1""".stripMargin)
    )

    new java.io.File(out).mkdirs()
    queries.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      println(s"[dedup-sf10] $name dumped")
    }
    val json = oracles
      .map { case (k, v) => s"${graft.Jsons.quote(k)}: ${graft.Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      json.getBytes("UTF-8"))
    mh.unpersist(); ng.unpersist()
  }
}
