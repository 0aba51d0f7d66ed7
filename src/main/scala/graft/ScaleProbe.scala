package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, DedupOps, SimilarityOps}
import graft.sources.Tables

/** Reproducible source of the SCALE_NOTES.md numbers: replicates the
  * documents/embeddings tables `factor`× in memory with shifted ids (a
  * deliberately duplicate-heavy worst case for near-dup output size) and
  * times the dedup/similarity tier against the replicated corpus.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_PROBE_FACTOR=10 \
  *     sbt "runMain graft.ScaleProbe"
  *
  * Prints one JSON line of {operator: seconds}. Timing action is a noop
  * write (see Bench.scala for why count() is not a valid timing action).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_PROBE_FACTOR", "10").toInt
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // ODD offset: replicas alternate id parity, so parity-based splits (the
    // contamination probe's even/odd corpus-vs-benchmark cut) see every
    // document's content on BOTH sides — an even offset would keep replicas
    // on their original side and quietly skip the worst case
    def replicate(df: DataFrame, idCol: String): DataFrame =
      (0 until factor).map { i =>
        df.withColumn(idCol, col(idCol) + lit(i * 1000001L))
      }.reduce(_ unionByName _).cache()

    val docs = replicate(Tables(spark, sfDir, "documents"), "doc_id")
    val emb = replicate(Tables(spark, sfDir, "embeddings"), "vec_id")
    println(s"probe corpus: ${docs.count()} documents, ${emb.count()} embeddings ($factor x $sfDir)")

    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // one scope for the whole probe: the dedup operators deliberately share
    // the token-hash cache across timings (as a pipeline would), released
    // once at the end
    val scope = CacheScope()
    // optional comma-separated op filter (SPARK_GRAFT_PROBE_OPS): lets the
    // linear tier probe at factors where the quadratic-output pair ops
    // would drown the run in their own (by-definition) output size
    val only = sys.env.get("SPARK_GRAFT_PROBE_OPS")
      .map(_.split(",").map(_.trim).toSet)
    val results = Seq[(String, () => Unit)](
      "exactDedup" -> (() => run(DedupOps.exactDedupSummary(docs))),
      "jaccardPairs_J02" -> (() => run(DedupOps.jaccardPairs(docs, minJaccard = 0.02, scope = scope))),
      "jaccardPairsPrefix_J08" -> (() => run(DedupOps.jaccardPairsPrefix(docs, minJaccard = 0.8, scope = scope))),
      "minHashVerifiedPairs" -> (() => run(DedupOps.minHashVerifiedPairs(docs, scope = scope))),
      // worst case for CC: replication makes every doc a factor-sized dup
      // cluster, so the pair graph is a union of factor-cliques
      "nearDupClusters" -> (() => run(DedupOps.nearDupClusters(docs, scope = scope))),
      // replication puts every even doc's full shingle set in the odd half:
      // worst case for the semi-join's probe-side hit rate
      "contaminationReport" -> (() => run(DedupOps.contaminationReport(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        scope = scope))),
      "topTerms" -> (() => run(graft.ops.TextOps.topTerms(docs))),
      "maskText" -> (() => run(graft.ops.TextOps.maskText(docs,
        graft.ops.TextOps.defaultMaskPatterns))),
      "bigramCounts" -> (() => run(graft.ops.TextOps.bigramCounts(docs, k = 25))),
      // lang cardinality is fixed (5), so replication grows each window
      // partition 10× — the honest worst case for the percent_rank filter
      "qualityFilter" -> (() => run(graft.ops.TextOps.qualityFilter(docs))),
      "repetitionStats" -> (() => run(graft.ops.TextOps.repetitionStats(docs))),
      "simHashNearDupPairs" -> (() => run(
        DedupOps.simHashNearDupPairs(DedupOps.simHash60(DedupOps.shingleHashRows(docs, scope = scope))))),
      "cosinePairsBlocked" -> (() => run(SimilarityOps.cosinePairsBlocked(emb, 0.4, nBlocks = 32))),
      "srpNearDupPairs" -> (() => run(SimilarityOps.srpNearDupPairs(emb, 0.45))),
      "lshTopK" -> (() => run(SimilarityOps.lshTopK(emb, k = 5))),
      "ivfTopKDistributed" -> (() => run(SimilarityOps.ivfTopKDistributed(emb, k = 5, nCells = 32, scope = scope))),
      "chunkDocs" -> (() => run(graft.ops.TextOps.chunkDocs(docs))),
      "bm25" -> (() => run(graft.ops.TextOps.bm25(docs, Seq("spark", "join", "fast")))),
      // replication multiplies both sides of the stratum windows
      "hashRankSample" -> (() => run(graft.ops.RelationalOps.hashRankSample(
        docs, "doc_id", "lang", Map("en" -> 100000L, "de" -> 30000L, "zh" -> 10000L)))),
      // persisted-index lifecycle at the replicated scale: the build pays
      // the full corpus ONCE; probe and append pay |batch| + bucket scans.
      // Batch = one more replica (ids beyond every indexed copy), making
      // every batch doc a near-dup of `factor` corpus copies — worst case
      // for the rerank join's candidate fan-out
      "writeBandedIndex_full" -> (() => DedupOps.writeBandedIndex(
        docs, "probe_banded_idx", buckets = 32, corpusTag = "probe",
        scope = scope)),
      "probeBandedIndex_batch" -> (() => run(DedupOps.probeBandedIndex(
        Tables(spark, sfDir, "documents")
          .withColumn("doc_id", col("doc_id") + lit(factor * 1000001L)),
        "probe_banded_idx", scope = scope))),
      "appendToBandedIndex_batch" -> (() => DedupOps.appendToBandedIndex(
        Tables(spark, sfDir, "documents")
          .withColumn("doc_id", col("doc_id") + lit(factor * 1000001L)),
        "probe_banded_idx", scope = scope)),
      // sketch cost is nSources·k-bounded past the distinct shuffle — the
      // replication should be visible only in the map-side hash pass
      "kmvOverlapMatrix" -> (() => run(DedupOps.kmvOverlapMatrix(docs))),
      // replication turns every doc into a factor-clique of identical
      // fingerprint sets — worst case for the pair join's fan-out
      "winnowFingerprints" -> (() => run(DedupOps.winnowFingerprints(docs, scope = scope))),
      "winnowOverlapPairs" -> (() => run(DedupOps.winnowOverlapPairs(docs, scope = scope))),
      "vocabCoverage" -> (() => run(graft.ops.TextOps.vocabCoverage(docs))),
      "boilerplatePrefixes" -> (() => run(graft.ops.TextOps.boilerplatePrefixes(docs))),
      "scriptMix" -> (() => run(graft.ops.TextOps.scriptMix(docs))),
      "lengthDeciles" -> (() => run(graft.ops.TextOps.lengthDeciles(docs))),
      // replication multiplies cell populations 10×: the honest worst case
      // for the within-cell quadratic term (scale path = raise nCells)
      "semDedup" -> (() => run(SimilarityOps.semDedup(emb, nCells = 8,
        minCos = 0.4, scope = scope))),
      // native per-row expression: should scale with the scan alone
      "charEntropyReport" -> (() => run(graft.ops.TextOps.charEntropyReport(docs))),
      // replication makes every doc a factor-clique of exact copies —
      // pair output grows ~factor² per original pair (the q21/q125 class);
      // candidate gen itself is (gram, band)-bounded
      "editDistancePairs" -> (() => run(DedupOps.editDistancePairs(docs, scope = scope))),
      // two histogram-median passes: the (source, micro-value) shuffle is
      // value-bounded, so replication should show up only in the scan/scoring
      "madQualityOutliers" -> (() => run(graft.ops.TextOps.madQualityOutliers(docs, scope = scope))),
      // digest-only full-outer join on id — linear by construction
      "snapshotDiff" -> (() => run(graft.ops.RelationalOps.snapshotDiff(
        docs, docs.withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev]")))
            .otherwise(col("text")))))),
      // ---- round-8 late additions ----
      // map-only folds/slices: should scale with the scan
      "fimTransform" -> (() => run(graft.ops.TextOps.fimTransform(docs))),
      "spanCorrupt" -> (() => run(graft.ops.TextOps.spanCorrupt(docs))),
      // TakeOrderedAndProject: map-side keys + per-partition k-heaps
      "weightedSample" -> (() => run(graft.ops.RelationalOps.weightedSample(
        docs, col("n_chars"), k = 100))),
      "stratifiedWeightedSample" -> (() => run(
        graft.ops.RelationalOps.stratifiedWeightedSample(
          docs, "source", col("n_chars"), k = 25))),
      // one (token) agg + chunked prefix sum; replication multiplies
      // occurrence rows but not type count
      "vocabGrowth" -> (() => run(graft.ops.TextOps.vocabGrowth(docs))),
      // pair/unigram aggs; replication scales counts, not vocab
      "pmiCollocations" -> (() => run(graft.ops.TextOps.pmiCollocations(docs))),
      // real deflate per row: pure CPU, map-only
      "compressionRatio" -> (() => run(graft.ops.TextOps.compressionRatio(docs))),
      // all-pairs audit shape by design: quadratic in corpus, documented —
      // at real scale this runs on ANN candidates, not the full cross
      "knnDensityOutliers" -> (() => run(SimilarityOps.knnDensityOutliers(emb,
        scope = scope))),
      // probe side fans out x13; corpus bucketed once — replication grows
      // bucket occupancy, candidate counts follow the bucket sizes
      "lshTopKMultiProbe" -> (() => run(SimilarityOps.lshTopKMultiProbe(
        emb, k = 5, nPlanes = 12, nTables = 2))),
      // posting-list retrieval: work ∝ postings of the query terms
      "bm25Retrieve" -> (() => run {
        val spark = docs.sparkSession
        import spark.implicits._
        graft.ops.TextOps.bm25Retrieve(docs, Seq(
          (0L, "spark join fast"), (1L, "table scan slow row"),
          (2L, "hash merge batch window")).toDF("query_id", "query_text"),
          k = 5)
      }),
      // replication makes every doc fully contained in its replicas:
      // qualifying pairs grow ~100x — linear-in-output like q21
      "containmentPairs" -> (() => run(DedupOps.containmentPairs(
        docs, minContain = 0.8, scope = scope)))
    ).filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, f) =>
        val t0 = System.nanoTime()
        try f() catch { case e: Throwable => System.err.println(s"[probe] $name: $e") }
        name -> (System.nanoTime() - t0) / 1e9
      }
    scope.release()
    graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      try graft.sources.Bucketing.dropTableAndLocation(spark, s"probe_banded_idx_$s")
      catch { case _: Throwable => () })
    println(results.map { case (k, v) => s"\"$k\":$v" }
      .mkString(s"""{"factor":$factor,"sf":"$sfDir",""", ",", "}"))
    spark.stop()
  }
}
