package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fresh-content scale harness for the near-dup dedup family.
  *
  * [[ScaleUp]] fans tables with EXACT copies, which the r7 exact-collapse
  * rewrites (distinct-signature / distinct-gram-set / distinct-vector
  * grouping) absorb by construction — quadratic work tracks distinct
  * content, and exact copies add none. That makes the 10× ScaleUp evidence
  * the EASY case. This harness measures the hard one: every fanned copy is
  * a NEAR-duplicate with DISTINCT content (two appended tokens per text
  * copy; per-element jitter on embeddings keeping cosine ≈ 0.999), so
  * distinct-content volume grows O(n) with the fan-out and the collapse
  * optimizations cannot help. Operators run with the SAME parameters as
  * their registered queries; output is one JSON line of wall seconds and
  * result sizes per operator.
  *
  * Ids stride by 10^7 per copy — far above both the planted-fixture bases
  * and any real id — but nothing here feeds the oracle: this is a
  * perf-only harness (the correctness of each operator is pinned by its
  * sf0.01 oracle row and specs).
  *
  * Usage: runMain graft.tools.DedupScale [srcDir] [factor] [ops]
  *   ops: comma-separated subset of
  *        simhash,minhash,ngram,embed,embed12,semdedup (default: all)
  */
object DedupScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(30)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.get(GraftSession.envCores(32))
    if (only.exists(_.contains("ann"))) annScale(spark, src, factor)
    else run(spark, src, factor, only)
    spark.stop()
  }

  /** ANN serving-path scale step (r9): fan the embedding corpus `factor`×
    * with jittered near-duplicates (dense cos≈0.999 clusters — the WORST
    * case for IVF cell balance), build the IVF index and PQ codebooks at
    * scale-appropriate settings, then probe a sampled query set at several
    * nProbe settings and measure recall@10 against the exact brute force
    * over the same corpus. Emits one JSON line (build/probe walls, cell
    * skew, per-setting recall).
    *
    * nCells guidance baked in: sqrt(n) capped at 256 — the coarse
    * quantizer trains DRIVER-SIDE (Lloyd over a 100-per-cell sample), and
    * past ~256 cells × 25.6k samples the driver k-means, not the cluster,
    * is the build bottleneck. A corpus needing finer cells (≥100M vectors)
    * moves training to a distributed k-means and keeps everything else
    * unchanged; the cap is recorded in the output so the reader sees which
    * regime the build ran in.
    */
  def annScale(spark: SparkSession, src: String, factor: Int): Unit = {
    import graft.operators.Similarity
    val stride = 10000000L
    val embs = Tables.embeddings(spark, src)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      .select(
        (col("vec_id") + col("__c") * stride).as("vec_id"),
        when(col("__c") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, i) => x * (lit(1.0d) +
              (pmod(i * col("__c"), lit(7)) - lit(3.0d)) * lit(0.001d)))
            .cast("array<float>")).as("embedding"))
    val base = "target/dedupscale_ann"
    embs.repartition(64).write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    val n = e.count()
    // sqrt(n) cells, uncapped to 1024 since r11's distributed trainer:
    // past the 256-cell driver-kmeans ceiling the Lloyd refinement runs
    // as full-corpus assignment + elementwise-mean passes instead
    val nCells = math.max(16, math.min(1024, math.sqrt(n.toDouble).toInt))
    val distributed = nCells > 256
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (idx, buildSec) = timed {
      val i =
        if (distributed)
          Similarity.ivfBuildDistributed(e, "embedding", "vec_id",
            nCentroids = nCells, iters = 3)
        else Similarity.ivfBuild(e, "embedding", "vec_id",
          nCentroids = nCells, trainTarget = nCells * 100)
      i.indexed.count() // materialize the persisted cell assignment
      i
    }
    val (books, pqSec) = timed {
      Similarity.pqTrain(e, "embedding", m = 8, ksub = 16, trainTarget = 25600)
    }
    val cellCounts = idx.indexed.groupBy(col("cell")).count()
      .select(col("count")).collect().map(_.getLong(0)).sorted
    val cellMax = cellCounts.last
    val cellP50 = cellCounts(cellCounts.length / 2)
    // deterministic ~100-query sample spread across originals AND copies
    // (hash, not a multiplicative scramble: ids reach ~5e9 at factor 500
    // and a 32-bit-constant multiply overflows Long under ANSI mode)
    val q = e.filter(pmod(xxhash64(col("vec_id")),
        lit(math.max(1L, n / 100L))) === 0L)
      .limit(100).persist()
    val nQ = q.count()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bruteP, bruteSec) = timed {
      pairs(Similarity.bruteForceTopK(e, q, "embedding", "vec_id", k = 10))
    }
    def recall(p: Set[(Long, Long)]): Double =
      if (bruteP.isEmpty) 1.0 else p.intersect(bruteP).size.toDouble / bruteP.size
    val probeResults = Seq(1, 2, 4).map { np =>
      val (p, s) = timed {
        pairs(Similarity.ivfQuery(idx, q, "embedding", "vec_id", k = 10,
          nProbe = np))
      }
      (s"ivf_np$np", s, recall(p))
    } :+ {
      val (p, s) = timed {
        pairs(Similarity.ivfPqQuery(idx, books, q, "embedding", "vec_id",
          k = 10, nProbe = 4))
      }
      ("ivfpq_np4", s, recall(p))
    }
    val pj = probeResults.map { case (nm, s, r) =>
      s""""$nm":{"sec":${f"$s%.3f"},"recall":${f"$r%.4f"}}"""
    }.mkString(",")
    println(s"""{"metric":"ann_scale","n_vecs":$n,"factor":$factor,""" +
      s""""n_queries":$nQ,"n_cells":$nCells,""" +
      s""""n_cells_capped":${nCells == 1024},"trainer":"${if (distributed) "distributed" else "driver"}",""" +
      s""""build_sec":${f"$buildSec%.3f"},"pq_train_sec":${f"$pqSec%.3f"},""" +
      s""""cell_max":$cellMax,"cell_p50":$cellP50,""" +
      s""""brute_sec":${f"$bruteSec%.3f"},"probes":{$pj}}""")
  }

  def run(spark: SparkSession, src: String, factor: Int,
          only: Option[Set[String]]): Unit = {
    import graft.operators.Dedup

    val stride = 10000000L // disjoint per-copy id ranges, no fixture overlap

    // near-dup fan-out with O(n) distinct content: copy 0 is the original;
    // copy c appends two copy-and-doc-specific tokens (distinct gram sets,
    // distinct simhash for token-rich docs, true Jaccard stays high)
    val docs = Tables.documents(spark, src)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      .select(
        (col("doc_id") + col("__c") * stride).as("doc_id"),
        when(col("__c") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rev"), col("__c"),
            lit(" m"), pmod(col("doc_id") * 31 + col("__c"), lit(9973)))).as("text"),
        col("lang"), col("source"))

    // per-element jitter: distinct bits, direction shift ~1e-3 (cos≈0.999);
    // a pure scalar multiple would keep every hyperplane sign identical
    val embs = Tables.embeddings(spark, src)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      .select(
        (col("vec_id") + col("__c") * stride).as("vec_id"),
        when(col("__c") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, i) => x * (lit(1.0d) +
              (pmod(i * col("__c"), lit(7)) - lit(3.0d)) * lit(0.001d)))
            .cast("array<float>")).as("embedding"))

    // materialize the fanned inputs as multi-file parquet (the shape scaled
    // data has; also keeps mutation cost out of every measured operator)
    val base = "target/dedupscale"
    docs.repartition(32).write.mode("overwrite").parquet(s"$base/documents.parquet")
    embs.repartition(32).write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val d = spark.read.parquet(s"$base/documents.parquet")
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    val nDocs = d.count(); val nVecs = e.count()

    // diagnostic ops run only when explicitly named: ngrampf forces the
    // PPJoin prefix path regardless of block population, and on THIS
    // template-generated synthetic corpus its candidate volume measures
    // the corpus's sub-threshold similarity mass (every doc's rarest grams
    // are still shared by hundreds of template-mates), not the operator —
    // the exact reason ngramJaccardPairs auto-prefers the quadratic walk
    // until blocks outgrow maxQuadraticBlock. A-B at factor 10: identical
    // 224,794 pairs, 8.4 s quadratic vs 29.6 s forced-prefix.
    val diagnosticOnly = Set("ngrampf")
    def time(name: String)(f: => Long): Option[(String, Double, Long)] =
      if (only.exists(o => !o(name)) ||
          (only.isEmpty && diagnosticOnly(name))) None
      else {
        val t0 = System.nanoTime()
        val rows = f
        Some((name, (System.nanoTime() - t0) / 1e9, rows))
      }

    val results = Seq(
      time("simhash") {
        Dedup.simhashPairs(d, "text", "doc_id", maxDist = 3).count()
      },
      time("minhash") {
        Dedup.minhashPairs(d, "text", "doc_id",
          shingleK = 3, nHashes = 64, bands = 16, threshold = 0.5).count()
      },
      time("ngram") {
        Dedup.ngramJaccardPairs(d, "text", "doc_id",
          blockCols = Seq("lang", "source"), n = 4, threshold = 0.8).count()
      },
      time("ngrampf") { // forced PPJoin prefix-filter path (the hot-block
        // strategy) measured against the same corpus for the strategy A-B
        Dedup.ngramJaccardPairs(d, "text", "doc_id",
          blockCols = Seq("lang", "source"), n = 4, threshold = 0.8,
          maxQuadraticBlock = 0).count()
      },
      time("embed") { // the registered query's setting (8 hyperplanes)
        Dedup.embeddingPairs(e, "embedding", "vec_id",
          nBits = 8, threshold = 0.95, probeRadius = 2).count()
      },
      time("embed12") { // the scale-tuned setting: more hyperplanes ->
        // finer buckets; the operator's documented knob for larger corpora
        Dedup.embeddingPairs(e, "embedding", "vec_id",
          nBits = 12, threshold = 0.95, probeRadius = 2).count()
      },
      time("semdedup") {
        Dedup.semanticDedup(e, "embedding", "vec_id",
          nCells = 16, threshold = 0.92).count()
      },
      time("substring_rewrite") { // r13: the span-REMOVED corpus at fresh-
        // content scale — every fanned copy shares its parent's full text
        // as duplicated spans, so nearly the whole corpus rewrites (the
        // worst case). sum(length) forces the text assembly, not just the
        // survivor count; the KEEP/DROP decision exchanges carry only
        // (id, pos, hash) — pinned by ScaleSpec.
        val out = Dedup.removeDuplicatedSpans(d, "text", "doc_id", k = 5)
        out.agg(count(lit(1)), sum(length(col("clean_text"))))
          .collect()(0).getLong(0)
      },
      // ---- curation family at the same fresh-content scale (r11): the
      // non-dedup §2e workhorses at their registered-query settings. The
      // inverted index's df band scales WITH the fan-out ([50,400]·factor):
      // every original token's df multiplies by `factor` on this corpus
      // (mutations only append), so the scaled band selects the SAME
      // underlying mid-frequency vocabulary the registered query indexes —
      // a fixed band would go empty (everything exits through the top).
      // Postings lists then grow to maxDf·factor entries: the inherent
      // cost of indexing the same band of a 100×-bigger corpus.
      time("tfidf") {
        graft.operators.Corpus.tfIdfTopK(d, "doc_id", "text", k = 3).count()
      },
      time("inverted_index") {
        graft.operators.Corpus.invertedIndex(d, "doc_id", "text",
          minDf = 50L * factor, maxDf = 400L * factor).count()
      },
      time("token_budget") {
        import graft.functions.TextFunctions.{qualityScore, tokenCount}
        val q = d.select(col("doc_id"), qualityScore(col("text")).as("quality"),
          tokenCount(col("text")).as("n_tokens"))
        graft.operators.Corpus.selectUnderBudgetFraction(
          q, "quality", "doc_id", "n_tokens", 1L, 2L).count()
      },
      time("heavy_hitters") {
        graft.operators.Corpus.heavyHitterTokens(d, "text",
          denom = 200, capacity = 800).count()
      }
    ).flatten

    val qjson = results.map { case (n, s, rows) =>
      s""""$n":{"sec":${f"$s%.3f"},"rows":$rows}"""
    }.mkString(",")

    // Bucket-population diagnostics for the two banded paths (r11): the
    // scale claim is that the candidate exchanges key on (band, hash)
    // buckets whose population stays bounded as the corpus grows — a
    // hot bucket is where a banded join would collapse to one task. Uses
    // the same bucketing the operators use: minhash band keys over the
    // 64-hash signature (16 bands), simhash 16-bit pigeonhole chunks over
    // DISTINCT signatures.
    def bucketStats(keyed: DataFrame): (Long, Long) = {
      val counts = keyed.groupBy(col("k")).count()
        .agg(max(col("count")), percentile_approx(col("count"), lit(0.5), lit(1000)))
        .collect()(0)
      (counts.getLong(0), counts.getLong(1))
    }
    val wantBuckets = only.forall(o => o("minhash") || o("simhash"))
    val bucketJson = if (!wantBuckets) "" else {
      val (mhHot, mhP50) = bucketStats(
        d.select(col("doc_id").as("id"),
            Dedup.signatureColumn(col("text"), 3, 64).as("sig"))
          .select(explode(Dedup.bandKeysFromSig(col("sig"), 64, 16)).as("k")))
      val (shHot, shP50) = bucketStats(
        Dedup.simhash(d, "text", "doc_id").select(col("simhash")).distinct()
          .select(explode(array((0 until 4).map(i =>
            struct(lit(i).as("c"),
              shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("k")))
      s""","buckets":{"minhash_band":{"hottest":$mhHot,"p50":$mhP50},""" +
        s""""simhash_chunk_distinct_sigs":{"hottest":$shHot,"p50":$shP50}}"""
    }
    println(s"""{"metric":"dedup_scale","factor":$factor,"n_docs":$nDocs,""" +
      s""""n_vecs":$nVecs,"distinct_content":true,"ops":{$qjson}$bucketJson}""")
  }
}
