package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k and exact all-pairs as correctness baselines, and
  * sign-random-projection LSH bucketing as the scale path (candidates from
  * bucket equality, exact rerank inside buckets).
  *
  * Dot products come in three forms: [[dot]], a higher-order-function
  * fold for arbitrary dimension; [[dotU]], a dimension-unrolled flat
  * expression that stays inside whole-stage codegen; and the native
  * `dotF` expression ([[cosineF]]). All accumulate left-to-right in double
  * precision, so results are bit-identical to each other and to a
  * sequential SQL `list_sum`, regardless of partitioning.
  *
  * SRP hyperplanes are md5-derived constants ([[DetHash.planeComponent]]):
  * the Spark plan embeds them as literals (codegen, no runtime hashing) and
  * the correctness oracle recomputes the identical values in SQL — buckets
  * match bit-for-bit across engines.
  */
object SimilarityOps {

  /** Dot product of two array<float|double> columns (double accumulation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Dimension-unrolled dot product: `dim` fused multiply-adds, left-to-right
    * — whole-stage-codegen'd (no interpreted lambda per element).
    */
  def dotU(a: Column, b: Column, dim: Int): Column =
    (0 until dim).map { i =>
      element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double")
    }.reduce(_ + _)

  /** Cosine via the native [[graft.functions.DotProduct]] expression — one
    * plan node per dot, a codegen'd loop at runtime, bit-identical
    * accumulation. The preferred expression form for array<float> columns
    * (dotU stays for arbitrary element types / parity testing).
    */
  private def cosineF(a: Column, b: Column): Column = {
    import graft.functions.VectorExpressions.dotF
    dotF(a, b) / (sqrt(dotF(a, a)) * sqrt(dotF(b, b)))
  }

  /** Brute-force cosine top-k: score every (query, corpus) pair, rank per
    * query. The query side is broadcast (queries ≪ corpus), so the corpus
    * scan stays a single narrow pass — at 100 TB this is the exact-rerank
    * baseline you run on a candidate subset, not the full corpus.
    * Deterministic tiebreak on corpus id.
    *
    * Kernel shape: the queries are collected and broadcast — the SAME
    * driver-sized build the previous `crossJoin(broadcast(q))` paid inside
    * its BroadcastExchange — and each
    * corpus partition scores all queries in one compiled loop with a
    * k-bounded insertion sort per query, emitting ≤ |queries|·k partial
    * rows per partition. The expression form materialized all |q|·|c|
    * scored rows through a per-partition sort (the window's group-limit
    * needs sorted input), which dominated the self-cross audits (q146/
    * q160) at sf0.1. Cosines stay bit-identical to [[cosineF]]: floats
    * widen to double, accumulate left-to-right, one divide by the norm
    * product; the partial order uses `java.lang.Double.compare` — Spark's
    * own double total order — so the final rank window sees a true
    * superset of the global top-k.
    *
    * Contract notes: `idCol` must be LONG-CASTABLE — ids are returned as
    * BIGINT `query_id`/`neighbor_id` (the engine's vec ids are longs
    * end-to-end; a non-castable id would decode as null). `dim` is kept
    * for signature parity with the banded tier and is not enforced here:
    * mismatched-length vectors dot-product over the shorter length, like
    * the zip_with form they replaced. The query-side broadcast lives as
    * long as the returned frame (the plan references it lazily) and is
    * released by the ContextCleaner with it.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int = 64,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    def l2(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    // (cos desc, neighbor id asc) under Spark's double total order
    def better(c1: Double, id1: Long, c2: Double, id2: Long): Boolean = {
      val cmp = java.lang.Double.compare(c1, c2)
      cmp > 0 || (cmp == 0 && id1 < id2)
    }
    val qArr = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qNorm = qArr.map(q => l2(q._2))
    val bc = spark.sparkContext.broadcast((qArr, qNorm))
    val partials = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].mapPartitions { rows =>
        val (qs, qns) = bc.value
        val nq = qs.length
        val ids = Array.fill(nq)(new Array[Long](k))
        val cos = Array.fill(nq)(new Array[Double](k))
        val szs = new Array[Int](nq)
        rows.foreach { case (nid, cv) =>
          val cn = l2(cv)
          var qi = 0
          while (qi < nq) {
            val qv = qs(qi)._2
            if (qs(qi)._1 != nid) {
              var dp = 0.0; var j = 0
              val m = math.min(qv.length, cv.length)
              while (j < m) { dp += qv(j).toDouble * cv(j).toDouble; j += 1 }
              val c = dp / (qns(qi) * cn)
              val idsQ = ids(qi); val cosQ = cos(qi); val sz = szs(qi)
              if (sz < k) {
                idsQ(sz) = nid; cosQ(sz) = c
                var p = sz
                while (p > 0 && better(cosQ(p), idsQ(p), cosQ(p - 1), idsQ(p - 1))) {
                  val tc = cosQ(p); cosQ(p) = cosQ(p - 1); cosQ(p - 1) = tc
                  val ti = idsQ(p); idsQ(p) = idsQ(p - 1); idsQ(p - 1) = ti
                  p -= 1
                }
                szs(qi) = sz + 1
              } else if (better(c, nid, cosQ(k - 1), idsQ(k - 1))) {
                idsQ(k - 1) = nid; cosQ(k - 1) = c
                var p = k - 1
                while (p > 0 && better(cosQ(p), idsQ(p), cosQ(p - 1), idsQ(p - 1))) {
                  val tc = cosQ(p); cosQ(p) = cosQ(p - 1); cosQ(p - 1) = tc
                  val ti = idsQ(p); idsQ(p) = idsQ(p - 1); idsQ(p - 1) = ti
                  p -= 1
                }
              }
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          (0 until szs(qi)).iterator.map(r => (qs(qi)._1, ids(qi)(r), cos(qi)(r)))
        }
      }.toDF("query_id", "neighbor_id", "cos")
    RelationalOps.topKPerGroup(partials, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn").as("rank"))
  }

  /** kNN-DENSITY outlier scoring: each vector's cosine to its k-th nearest
    * neighbor (self excluded) as a local-density estimate — isolated
    * vectors (mislabeled scrapes, encoding failures, off-distribution
    * content) sit far even from their k-th neighbor, while dense regions
    * score near 1. The `low_density` flag marks the bottom `bottomPct`% BY
    * VALUE: the threshold is the smallest micro-quantized score whose
    * cumulative count reaches ceil(n·pct/100) in an exact value histogram
    * (ties included — value-based, so the flag set is engine-replayable;
    * a row_number cut would need a corpus-wide total order instead).
    *
    * Every input id appears in the report exactly once: vectors that never
    * reach a k-th neighbor (corpus of n ≤ k rows here; a short ANN
    * candidate list in [[knnDensityOutliersFromCandidates]]) carry NULL
    * `knn_cos`/`knn_micro`/`low_density` rather than silently vanishing —
    * an audit that drops the very rows it cannot score would hide exactly
    * the isolated content it exists to find.
    *
    * Scale shape: scoring reuses [[bruteForceTopK]]'s broadcast kernel —
    * an AUDIT shape (all pairs); at corpus scale use
    * [[knnDensityOutliersFromCandidates]] fed from the persisted IVF tier
    * instead of the full cross. The threshold is a value histogram whose
    * window is bounded by distinct micro scores (≤ 2·10^6), never by
    * corpus size, and broadcasts back as one row.
    */
  def knnDensityOutliers(emb: DataFrame, k: Int = 5, bottomPct: Int = 5,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         scope: CacheScope = CacheScope.default): DataFrame = {
    require(bottomPct >= 0 && bottomPct <= 100, s"bottomPct in [0,100]")
    // CACHE the kth-NN frame: it feeds the count, the histogram threshold
    // AND the output — uncached, the quadratic all-pairs pass would run
    // three times (once per consumer)
    val knn = scope.register(
      bruteForceTopK(emb, emb, k, idCol = idCol, vecCol = vecCol)
        .filter(col("rank") === k)
        .select(col("query_id").as(idCol), col("cos").as("knn_cos"),
          floor(col("cos") * 1e6).cast("long").as("knn_micro")))
    densityReport(emb.select(col(idCol)), knn, bottomPct, idCol)
  }

  /** Shared EXACT rerank of an ANN candidate frame — the one place that
    * holds the *FromCandidates kernels' load-bearing contract: the
    * dot/norm expression shape is bit-identical to [[bruteForceTopK]]'s
    * (norms once per vector, one dot + one divide per pair), so a
    * candidate-fed report is value-identical to its brute kernel whenever
    * candidates cover the true neighbors. Dedups the pair frame
    * (multi-table LSH emits a pair once per colliding table), optionally
    * drops self-pairs, and carries any requested extra columns from each
    * side. Returns (query_id, neighbor_id, extras..., cos) plus the
    * vector/norm working columns — callers select what they need.
    */
  private def rerankCandidates(queries: DataFrame, corpus: DataFrame,
      candidates: DataFrame, idCol: String, vecCol: String,
      dropSelfPairs: Boolean,
      qExtra: Seq[(String, String)] = Nil,
      cExtra: Seq[(String, String)] = Nil): DataFrame = {
    import graft.functions.VectorExpressions.dotF
    val pairs = candidates.select(col("query_id"), col("neighbor_id"))
    val cand = (if (dropSelfPairs)
        pairs.filter(col("query_id") =!= col("neighbor_id"))
      else pairs).distinct()
    val q = queries.select(col(idCol).as("query_id") +: col(vecCol).as("qv") +:
      sqrt(dotF(col(vecCol), col(vecCol))).as("qn") +:
      qExtra.map { case (src, as) => col(src).as(as) }: _*)
    val c = corpus.select(col(idCol).as("neighbor_id") +: col(vecCol).as("cv") +:
      sqrt(dotF(col(vecCol), col(vecCol))).as("cn") +:
      cExtra.map { case (src, as) => col(src).as(as) }: _*)
    cand.join(q, "query_id").join(c, "neighbor_id")
      .withColumn("cos", dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
  }

  /** [[knnDensityOutliers]] fed by a precomputed ANN CANDIDATE frame
    * instead of the all-pairs cross — the 100 TB path: generate candidates
    * with [[ivfTopKPersisted]] / [[lshTopK]] (any frame carrying
    * `query_id`/`neighbor_id`; extra columns and approximate scores are
    * ignored), then this overload reranks EXACTLY on candidates only,
    * with the same dot/norm expression shape as [[bruteForceTopK]] so
    * cosines are bit-identical. With candidates = the full id cross the
    * report is value-identical to the brute kernel (OpsSpec asserts).
    * Candidate lists shorter than k (ANN recall shortfall) surface as
    * NULL-scored rows, never as silently missing ids — raise the
    * upstream candidate k' or nProbe if they appear in volume.
    *
    * Scale shape: two id-keyed equi-joins fetch vectors onto the
    * candidate pairs (shuffle on id — nothing is broadcast, the corpus
    * never crosses itself), one per-query window over ≤ k' candidate
    * rows, then the same bounded value-histogram threshold. No stage is
    * quadratic in the corpus (BucketingSpec asserts off the persisted
    * IVF index).
    */
  def knnDensityOutliersFromCandidates(emb: DataFrame, candidates: DataFrame,
      k: Int = 5, bottomPct: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding",
      scope: CacheScope = CacheScope.default): DataFrame = {
    require(bottomPct >= 0 && bottomPct <= 100, s"bottomPct in [0,100]")
    // self-pairs drop: ANN top-k over the corpus itself ranks self first
    val scored = rerankCandidates(emb, emb, candidates, idCol, vecCol,
        dropSelfPairs = true)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val knn = scope.register(
      RelationalOps.topKPerGroup(scored, Seq("query_id"),
          Seq(col("cos").desc, col("neighbor_id").asc), k)
        .filter(col("rn") === k)
        .select(col("query_id").as(idCol), col("cos").as("knn_cos"),
          floor(col("cos") * 1e6).cast("long").as("knn_micro")))
    densityReport(emb.select(col(idCol)), knn, bottomPct, idCol)
  }

  /** Shared tail of the kNN-density report: exact value-histogram
    * threshold over the scored frame, LEFT-joined back onto the full id
    * universe so every vector appears exactly once (NULL scores for ids
    * that never reached a k-th neighbor; their `low_density` is NULL —
    * unknown, not false). Threshold window is bounded by distinct micro
    * values (≤ 2·10^6), never corpus size. */
  private def densityReport(ids: DataFrame, knn: DataFrame, bottomPct: Int,
                            idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = knn.agg(count(lit(1)).as("n"))
    val wc = Window.orderBy(col("knn_micro"))
      .rowsBetween(Window.unboundedPreceding, 0) // ≤ distinct micro values
    val thr = knn.groupBy(col("knn_micro")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wc))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 100 >= col("n") * bottomPct)
      .agg(min(col("knn_micro")).as("thr_micro"))
    ids.join(knn, Seq(idCol), "left")
      .crossJoin(broadcast(thr))
      .select(col(idCol), col("knn_cos"), col("knn_micro"),
        (col("knn_micro") <= col("thr_micro")).as("low_density"))
  }

  /** HARD-NEGATIVE mining for contrastive training: per query, the k
    * nearest corpus vectors whose `labelCol` DIFFERS from the query's —
    * the semantically-closest wrong answers, which is exactly what a
    * contrastive loss wants as negatives (easy random negatives teach
    * nothing). Same exact-cosine kernel and broadcast shape as
    * [[bruteForceTopK]] (this IS the rerank stage you run on an ANN
    * candidate set at scale); the label inequality filters BEFORE ranking,
    * so every query gets k true negatives, and self is excluded for free
    * (same label). Deterministic tiebreak on neighbor id.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    import graft.functions.VectorExpressions.dotF
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("qlab"),
      col(vecCol).as("qv"), sqrt(dotF(col(vecCol), col(vecCol))).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neg_label"), col(vecCol).as("cv"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neg_label") =!= col("qlab"))
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        (dotF(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("cos"), col("rn").as("rank"))
  }

  /** [[hardNegatives]] fed by a precomputed ANN CANDIDATE frame
    * (`query_id`/`neighbor_id`, e.g. [[ivfTopKPersisted]] output with a
    * generous k') — the corpus-scale path the brute kernel's docstring
    * promises: the label-inequality filter and the EXACT cosine rerank
    * run on candidates only, with the identical expression shape as
    * [[hardNegatives]] so scores are bit-identical; with candidates =
    * the full query×corpus cross the output matches the brute kernel
    * row-for-row (OpsSpec asserts). A query whose label-filtered
    * candidate list holds fewer than k rows yields fewer than k
    * negatives — the ANN recall tradeoff; mine with candidate k' ≫ k so
    * same-label near-neighbors can't starve the negative set.
    *
    * Scale shape: two id-keyed equi-joins (no broadcast of either side),
    * one per-query window over ≤ k' rows — no quadratic stage.
    */
  def hardNegativesFromCandidates(corpus: DataFrame, queries: DataFrame,
      candidates: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    // no self-pair drop needed: self shares its own label, so the
    // label-inequality filter removes it
    val scored = rerankCandidates(queries, corpus, candidates, idCol, vecCol,
        dropSelfPairs = false,
        qExtra = Seq(labelCol -> "qlab"),
        cExtra = Seq(labelCol -> "neg_label"))
      .filter(col("neg_label") =!= col("qlab"))
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("cos"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("cos"), col("rn").as("rank"))
  }

  /** LABEL-NEIGHBORHOOD PURITY — the mislabel audit over an embedding
    * column: for each vector, how many of its k nearest neighbors (exact
    * cosine, self excluded, the shared (cos desc, id) total order) carry
    * the SAME label. Purity near 1 = the label agrees with the geometry;
    * `suspect` marks vectors with ZERO same-label neighbors — the
    * classic nearest-neighbor mislabel signal (a cheap, deterministic
    * stand-in for Confident-Learning-style audits): route suspects to
    * relabeling or drop them before training. Output per vector:
    * (idCol, label, n_match, purity_micro = (10^6·n_match) div k,
    * suspect).
    *
    * Scale shape: the brute kernel is the AUDIT form (broadcast queries ×
    * corpus pass); at corpus scale feed [[labelPurityFromCandidates]]
    * from the persisted IVF tier exactly like
    * [[knnDensityOutliersFromCandidates]].
    */
  def labelNeighborhoodPurity(emb: DataFrame, k: Int = 5,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              labelCol: String = "label"): DataFrame =
    purityReport(emb,
      bruteForceTopK(emb, emb, k, idCol = idCol, vecCol = vecCol),
      k, idCol, labelCol)

  /** [[labelNeighborhoodPurity]] fed by an ANN candidate frame
    * (`query_id`/`neighbor_id`) — exact rerank on candidates, then the
    * same purity tail; vectors whose candidate list never reaches k rows
    * still appear (their n_match counts only the neighbors that exist,
    * purity still divides by k — the honest reading under recall
    * shortfall is "purity is a lower bound").
    */
  def labelPurityFromCandidates(emb: DataFrame, candidates: DataFrame,
                                k: Int = 5, idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                labelCol: String = "label"): DataFrame = {
    val scored = rerankCandidates(emb, emb, candidates, idCol, vecCol,
        dropSelfPairs = true)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val topk = RelationalOps.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cos").desc, col("neighbor_id").asc), k)
    purityReport(emb, topk, k, idCol, labelCol)
  }

  /** Shared purity tail: join neighbor labels on, count matches per
    * query, LEFT-join back onto the id universe (no silent drops). */
  private def purityReport(emb: DataFrame, topk: DataFrame, k: Int,
                           idCol: String, labelCol: String): DataFrame = {
    val labels = emb.select(col(idCol), col(labelCol))
    val matches = topk
      .join(labels.select(col(idCol).as("query_id"),
        col(labelCol).as("qlab")), Seq("query_id"))
      .join(labels.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nlab")), Seq("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("qlab") === col("nlab"), 1L).otherwise(0L))
        .as("n_match"))
    labels.join(matches.withColumnRenamed("query_id", idCol),
        Seq(idCol), "left")
      .na.fill(0L, Seq("n_match"))
      .select(col(idCol), col(labelCol), col("n_match"),
        expr(s"(1000000 * n_match) div $k").as("purity_micro"),
        (col("n_match") === 0L).as("suspect"))
  }

  /** ANN RECALL audit — the measurement that tunes every approximate
    * index: per query, how many of the TRUE top-k neighbors (exact cosine,
    * (cos desc, id) total order, self excluded) the candidate method's
    * top-k actually surfaced. `annTopK` is any (query_id, neighbor_id,
    * rank) frame — [[lshTopK]], [[lshTopKMultiProbe]],
    * [[ivfTopKPersisted]] — ranked under the SAME total order, so a hit is
    * a plain id match at rank ≤ k. Output one row per query:
    * (query_id, n_hits, recall_micro = (10^6·hits) div k) — the per-query
    * distribution matters (mean recall hides the starved tail the NULL
    * contract in [[knnDensityOutliersFromCandidates]] surfaces), and the
    * knob loop is: measured recall too low → raise nPlanes/nTables/nProbe,
    * re-audit, commit the cheapest setting that clears the target.
    *
    * Scale shape: an AUDIT over a query sample — the brute side is one
    * broadcast-queries corpus pass ([[bruteForceTopK]]'s shape), the join
    * is (query_id, neighbor_id)-keyed, output |queries| rows. Run it on a
    * sampled query set, never the full corpus.
    */
  def annRecallAudit(corpus: DataFrame, queries: DataFrame,
                     annTopK: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, k, idCol = idCol,
        vecCol = vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annTopK.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col(idCol).cast("long").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("query_id"), col("n_hits"),
        expr(s"(1000000 * n_hits) div $k").as("recall_micro"))
  }

  /** [[annRecallAudit]] against a PERSISTED IVF index: the approximate
    * side is [[ivfTopKPersisted]] at the given partial probe, the truth
    * side is exact cosine over the index's LIVE members (tombstones
    * excluded — a deleted vector is not a neighbor the index could owe
    * anyone), so the reported recall isolates exactly what the coarse
    * quantizer loses at `nProbe`. This is the number the index operator
    * watches: run it on a sampled query set per maintenance cycle (or per
    * micro-batch via
    * [[graft.streaming.StreamingEvents.annRecallMonitorIngest]]) and
    * retrain the quantizer when it sags — the measurement closing the
    * loop that [[ivfDriftSummary]]'s distance-shift heuristic only
    * approximates.
    *
    * Scale shape: the truth side is one broadcast-queries pass over the
    * live members (the audit contract — run on a SAMPLE, work is
    * |sample|·|corpus| dots but one corpus scan); the approximate side is
    * the index's own exchange-free probe path.
    */
  def ivfRecallAuditPersisted(queries: DataFrame, tablePrefix: String,
                              k: Int = 10, nProbe: Int = 4,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val live = liveCells(spark, tablePrefix, "neighbor_id")
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol))
    val ann = ivfTopKPersisted(queries, tablePrefix, k, nProbe, idCol, vecCol)
    annRecallAudit(live, queries, ann, k, idCol, vecCol)
  }

  /** MATRYOSHKA truncation audit: recall@k of cosine search over the FIRST
    * `d` embedding dimensions against the full-width ranking — the
    * measured number that decides how far a matryoshka-style embedding can
    * be truncated before committing a corpus to the cheaper width (the
    * dimension-axis sibling of [[pqRecallAudit]]'s code-axis compression).
    * Output one row per audited width: (dim, n_hits, recall_micro) with
    * recall the exact integer quotient of 10^6·hits by k·|queries|.
    * Self-matches are excluded (they'd inflate every width's recall by a
    * guaranteed hit). Both rankings are (cos desc, id) total orders over
    * doubles computed in ONE expression shape (dot, two norms, one
    * quotient — q104's determinism lemma, applied to array slices), so the
    * audit replays bit-identically cross-engine.
    *
    * Scale shape: an AUDIT, not a search — queries are a small predicate
    * sample riding a broadcast; the corpus side is one narrow pass per
    * audited width (len(dims)+1 passes total), each a per-group heap
    * top-k, never a global sort.
    */
  def matryoshkaAudit(df: DataFrame, queryPred: Column, dims: Seq[Int],
                      k: Int = 10, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.dotF
    require(dims.nonEmpty, "need at least one truncation width")
    def topk(d: Option[Int]): DataFrame = {
      def tr(c: Column) = d.map(n => slice(c, 1, n)).getOrElse(c)
      // norms once per ROW (per width), not per pair — same IEEE value
      // either way (identical expression on identical input), the
      // hardNegatives shape
      val q = df.filter(queryPred)
        .select(col(idCol).as("query_id"), tr(col(vecCol)).as("qv"))
        .withColumn("qn", sqrt(dotF(col("qv"), col("qv"))))
      val c = df.select(col(idCol).as("neighbor_id"), tr(col(vecCol)).as("cv"))
        .withColumn("cn", sqrt(dotF(col("cv"), col("cv"))))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dotF(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      RelationalOps.topKPerGroup(scored, Seq("query_id"),
          Seq(col("cos").desc, col("neighbor_id").asc), k)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = topk(None)
    val nq = df.filter(queryPred).agg(count(lit(1)).as("n_q"))
    dims.map { d =>
      topk(Some(d))
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nq))
        .select(lit(d).cast("int").as("dim"), col("n_hits"),
          expr(s"(1000000 * n_hits) div ($k * n_q)").as("recall_micro"))
    }.reduce(_ unionByName _).orderBy(col("dim"))
  }

  /** ALL near-duplicate pairs with cosine ≥ `minCos`, exact, over the whole
    * table. Norms are computed once per row (same IEEE value the per-pair
    * recompute would give); the pair loop is a nested-loop join evaluating
    * one unrolled codegen'd dot per surviving pair. Inputs are repartitioned
    * so the pair enumeration parallelizes across all cores.
    *
    * Scale note: exact all-pairs at a loose threshold is inherently O(n²) —
    * this is the right tool up to ~10^5 vectors per run (candidate sets,
    * per-bucket rerank, validation). For corpus-scale near-dup at tight
    * thresholds, use [[lshTopK]]-style SRP bucketing to generate candidates
    * and this as the in-bucket verifier.
    */
  def cosinePairsExact(df: DataFrame, minCos: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       maxRows: Long = 1L << 20): DataFrame = {
    // Dense all-pairs is linear algebra, not relational algebra: any join
    // formulation evaluates the 64-dim dot as an interpreted per-pair
    // expression (~35 µs/pair measured — both nested-loop conditions and
    // non-codegen'd hash-join conditions). mapPartitions with a broadcast
    // corpus runs the same arithmetic as a tight JVM loop, ~100x faster,
    // with IDENTICAL results: double accumulation left-to-right in double
    // precision in index order, exactly like the expression form and the
    // SQL oracle. One corpus copy rides the broadcast (dim·n floats);
    // each partition scans its rows against it. Quadratic by nature — at
    // corpus scale this is the in-bucket verifier under LSH/banded
    // candidate generation; [[cosinePairsBlocked]] is the full-table form.
    import df.sparkSession.implicits._
    val ds = df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    def l2(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    // fail fast instead of silently OOMing the driver: this operator's
    // contract is a driver-collected broadcast corpus (in-bucket verifier).
    // limit(maxRows+1) early-exits the scan instead of counting the full
    // input (a bare count() would evaluate the whole upstream subtree twice)
    val bound = math.min(maxRows, Int.MaxValue - 1L).toInt
    require(ds.limit(bound + 1).count() <= maxRows,
      s"cosinePairsExact collects the corpus to the driver and is bounded " +
        s"to maxRows=$maxRows vectors; use cosinePairsBlocked for " +
        s"full-table exact pairs at scale")
    val corpus = ds.collect().sortBy(_._1)
    val bc = df.sparkSession.sparkContext.broadcast(
      corpus.map { case (id, v) => (id, v, l2(v)) })
    ds.mapPartitions { rows =>
      val right = bc.value
      rows.flatMap { case (a, av) =>
        val na = l2(av)
        right.iterator.filter(_._1 > a).flatMap { case (b, bv, nb) =>
          var dp = 0.0; var i = 0
          while (i < av.length) { dp += av(i).toDouble * bv(i).toDouble; i += 1 }
          val cos = dp / (na * nb)
          if (cos >= minCos) Iterator.single((a, b, cos)) else Iterator.empty
        }
      }
    }.toDF("a", "b", "cos")
  }

  /** ALL near-duplicate pairs with cosine ≥ `minCos`, exact and FULLY
    * DISTRIBUTED: block-nested-loop join over `nBlocks` deterministic
    * id-hash blocks. Each of the nBlocks·(nBlocks+1)/2 block pairs is one
    * task-sized unit of work: both blocks arrive as grouped vector arrays
    * and a tight JVM loop scores the cross product — the same
    * left-to-right double accumulation as [[cosinePairsExact]] and the SQL
    * oracle, so the output is bit-identical to both.
    *
    * Nothing is collected to the driver. Shuffle cost is corpus × nBlocks
    * (each block participates in nBlocks block-pairs); per-task memory is
    * two blocks. Pick nBlocks so corpus/nBlocks fits a task comfortably —
    * work grows O(n²) with corpus size (inherent to exact all-pairs), but
    * parallelism grows O(nBlocks²) with no driver bottleneck.
    */
  def cosinePairsBlocked(df: DataFrame, minCos: Double, nBlocks: Int = 16,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    import df.sparkSession.implicits._
    def l2(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val blocks = df
      .select(pmod(col(idCol).cast("long"), lit(nBlocks)).as("blk"),
        struct(col(idCol).cast("long").as("_1"),
          col(vecCol).cast("array<float>").as("_2")).as("m"))
      .groupBy(col("blk")).agg(collect_list(col("m")).as("ms"))
    val lb = blocks.select(col("blk").as("bl"), col("ms").as("ml"))
    val rb = blocks.select(col("blk").as("br"), col("ms").as("mr"))
    lb.crossJoin(rb).filter(col("bl") <= col("br"))
      .as[(Long, Array[(Long, Array[Float])], Long, Array[(Long, Array[Float])])]
      .flatMap { case (bl, ml, br, mr) =>
        val same = bl == br
        val rightNorms = mr.map(m => l2(m._2))
        ml.iterator.flatMap { case (a, av) =>
          val na = l2(av)
          mr.indices.iterator.flatMap { j =>
            val (b, bv) = mr(j)
            if (same && b <= a) Iterator.empty
            else {
              var dp = 0.0; var i = 0
              while (i < av.length) { dp += av(i).toDouble * bv(i).toDouble; i += 1 }
              val cos = dp / (na * rightNorms(j))
              if (cos >= minCos)
                Iterator.single((math.min(a, b), math.max(a, b), cos))
              else Iterator.empty
            }
          }
        }
      }.toDF("a", "b", "cos")
  }

  /** Sign-random-projection bucket id for one LSH table: `nPlanes` sign bits
    * of md5-derived hyperplane projections, packed into a long. Each
    * projection is ONE native [[graft.functions.DotProduct]] node over a
    * double-array plane literal — a codegen'd loop, not an interpreted
    * HOF fold (the fold measured ~6x slower at 20k vectors × 48 planes),
    * and not a dim-unrolled add-chain (thousands of plan nodes blew up
    * optimizer + codegen time). Accumulation is left-to-right double, so
    * buckets are bit-identical to the fold form and the SQL oracle.
    * Cosine-similar vectors collide with probability (1 - θ/π)^nPlanes per
    * table.
    */
  private def srpBucket(vec: Column, nPlanes: Int, table: Int, dim: Int): Column = {
    import graft.functions.VectorExpressions.dotF
    (0 until nPlanes).map { i =>
      val plane = typedlit(
        (0 until dim).map(j => DetHash.planeComponent(table * nPlanes + i, j)))
      val proj = dotF(vec, plane)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** LSH-bucketed ANN: bucket by SRP signature with `nTables` independent
    * plane families, take distinct within-bucket candidate pairs, exact-
    * rerank with true cosine, keep top-k per query. Shuffle keys are
    * (table, bucket) and the candidate pair ids — never all pairs; the
    * vectors rejoin the candidates via broadcast-able id lookups. Recall
    * grows with nTables; precision is exact (rerank is true cosine).
    *
    * Skew guard: a (table, bucket) with more than `maxBucket` members is
    * dropped before the candidate self-join (O(bucket²) rows otherwise —
    * the degenerate case is a corpus of near-identical vectors all landing
    * in one bucket). ANN is approximate by contract, so the cap only trades
    * a little recall on pathological corpora for a bounded plan.
    */
  def lshTopK(df: DataFrame, k: Int, nPlanes: Int = 12, nTables: Int = 4,
              dim: Int = 64, idCol: String = "vec_id",
              vecCol: String = "embedding", maxBucket: Int = 10000): DataFrame =
    lshTopKImpl(df, None, k, nPlanes, nTables, dim, idCol, vecCol, maxBucket)

  /** [[lshTopK]] restricted to a QUERY subset — the audit/sample shape
    * (q158's recall measurement probes 20 queries, not the corpus): the
    * corpus side is banded and capped exactly as in lshTopK, but only the
    * subset's rows enter the candidate join, exact rerank and per-query
    * window, so the work is |queries|-proportional instead of
    * corpus-proportional. For ids in the subset the report is
    * row-identical to lshTopK's (the per-query chain never sees other
    * queries).
    */
  def lshTopKForQueries(df: DataFrame, queries: DataFrame, k: Int,
                        nPlanes: Int = 12, nTables: Int = 4, dim: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxBucket: Int = 10000): DataFrame =
    lshTopKImpl(df, Some(queries), k, nPlanes, nTables, dim, idCol, vecCol,
      maxBucket)

  /** The RAW SRP bucket-collision pair frame behind [[lshTopK]] —
    * distinct (query_id, neighbor_id) ids that share any (table, bucket),
    * before any rerank or top-k truncation. This is the candidate frame
    * the `...FromCandidates` audit kernels
    * ([[knnDensityOutliersFromCandidates]], [[labelPurityFromCandidates]],
    * [[hardNegativesFromCandidates]]) want: feeding them lshTopK's
    * truncated top-k instead couples the audit's correctness to the
    * label-agnostic cap (a k that is a no-op at test scale silently
    * drops candidates once per-bucket collision counts grow past it at a
    * larger corpus), whereas the raw frame has no cap to outgrow — the
    * kernels apply their own exact rerank and their own k under the
    * shared total order. Same shuffle shape as lshTopK's candidate step:
    * (tbl, bucket)-keyed band join, maxBucket skew cap, pair distinct;
    * never all pairs.
    */
  def lshCandidatePairs(df: DataFrame, nPlanes: Int = 12, nTables: Int = 4,
                        dim: Int = 64, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxBucket: Int = 10000): DataFrame =
    lshCandidatePairsImpl(df, None, nPlanes, nTables, dim, idCol, vecCol,
      maxBucket)

  private def lshCandidatePairsImpl(df: DataFrame, queries: Option[DataFrame],
                                    nPlanes: Int, nTables: Int, dim: Int,
                                    idCol: String, vecCol: String,
                                    maxBucket: Int): DataFrame = {
    val banded = df.select(col(idCol).as("id"),
      posexplode(array((0 until nTables).map(t =>
        srpBucket(col(vecCol), nPlanes, t, dim)): _*)).as(Seq("tbl", "bucket")))
    // one-pass bucket-size guard (see DedupOps.simHashNearDupPairs): the
    // window's shuffle is also the candidate join's partitioning
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket"))
    val kept = banded.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket).drop("bn")
    // a query subset prunes the QUERY side of the candidate join (and the
    // rerank/window downstream) before any per-pair work; the corpus side
    // stays the full capped index either way
    val qSide = queries.fold(kept)(qs =>
      kept.join(qs.select(col(idCol).as("id")), Seq("id"), "left_semi"))
    qSide.select(col("tbl"), col("bucket"), col("id").as("query_id"))
      .join(kept.select(col("tbl"), col("bucket"), col("id").as("neighbor_id")),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
  }

  private def lshTopKImpl(df: DataFrame, queries: Option[DataFrame], k: Int,
                          nPlanes: Int, nTables: Int, dim: Int, idCol: String,
                          vecCol: String, maxBucket: Int): DataFrame = {
    val cand = lshCandidatePairsImpl(df, queries, nPlanes, nTables, dim,
      idCol, vecCol, maxBucket)
    import graft.functions.VectorExpressions.dotF
    // per-vector norms (see bruteForceTopK) — bit-identical to cosineF
    val q = queries.getOrElse(df)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        sqrt(dotF(col(vecCol), col(vecCol))).as("qn"))
    val n = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("cn"))
    val scored = cand.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotF(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn").as("rank"))
  }

  /** MULTI-PROBE LSH ANN (Lv et al., VLDB'07): each query probes its own
    * SRP bucket AND every Hamming-1 perturbation of it (one flipped sign
    * bit) in each table — the buckets a near-miss neighbor most likely
    * fell into. Recall per table rises from (1−θ/π)^p toward what p−1
    * planes give, WITHOUT adding tables: candidates ⊇ [[lshTopK]]'s at the
    * same (nPlanes, nTables) (the exact bucket is probe 0), so measured
    * recall is monotonically ≥ — the standard way to hit a recall target
    * with fewer hash tables, i.e. less index memory and fewer corpus
    * passes. Precision stays exact (true-cosine rerank).
    *
    * Scale shape: the corpus is bucketed ONCE (same (tbl, bucket) shuffle
    * as lshTopK, same maxBucket skew cap); only the probe SIDE fans out
    * ×(nPlanes+1) — probe rows are (tbl, bucket, id) ints, joined on the
    * bucket key against the capped corpus index. At persisted-index scale
    * the probe list is what you'd send against the bucketed table.
    *
    * maxBucket asymmetry (DELIBERATE): the probe side is built from the
    * UNCAPPED assignment — a query always probes all nPlanes+1 buckets,
    * even when its home bucket was capped away on the corpus side
    * (skew lives in the corpus bucket population, not in the one probe
    * row per (table, query); capping the probe side would silently drop
    * hot-bucket queries from the report). The corpus side stays capped,
    * so per-bucket join fan-in is bounded either way, and the candidate
    * superset-of-lshTopK property holds: probe 0 against the capped
    * corpus reproduces exactly lshTopK's candidates. The q151 DuckDB
    * oracle models NO cap on either side — it matches whenever every
    * bucket is ≤ maxBucket (true for the test corpora; at over-cap skew
    * the engine deliberately returns fewer candidates than the oracle).
    */
  def lshTopKMultiProbe(df: DataFrame, k: Int, nPlanes: Int = 12,
                        nTables: Int = 4, dim: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxBucket: Int = 10000): DataFrame = {
    val banded = df.select(col(idCol).as("id"),
      posexplode(array((0 until nTables).map(t =>
        srpBucket(col(vecCol), nPlanes, t, dim)): _*)).as(Seq("tbl", "bucket")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket"))
    val kept = banded.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket).drop("bn")
    // probe 0 = the exact bucket; probes 1..p flip one sign bit each (the
    // probe side stays deliberately UNCAPPED — see the docstring)
    val probeBuckets = array((col("bucket") +:
      (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*)
    val probes = banded.select(col("tbl"), col("id").as("query_id"),
      explode(probeBuckets).as("bucket"))
    val cand = probes
      .join(kept.select(col("tbl"), col("bucket"), col("id").as("neighbor_id")),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    import graft.functions.VectorExpressions.dotF
    val q = df.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("qn"))
    val n = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("cn"))
    val scored = cand.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotF(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn").as("rank"))
  }

  /** Embedding near-duplicate pairs at corpus scale: SRP bucket collisions
    * generate candidates, a codegen'd exact cosine verifies them — the
    * composed bucketed shape for tight-threshold near-dup where exact
    * all-pairs ([[cosinePairsBlocked]]) is too expensive. Precision is
    * EXACT (every reported pair passes the true-cosine test); recall is
    * 1-(1-(1-θ/π)^nPlanes)^nTables per pair — near 1 for true near-dups
    * (θ→0) and deliberately low for unrelated vectors. All SRP randomness
    * is md5-derived, so the SQL oracle reproduces identical buckets.
    * Same hot-bucket window guard as [[lshTopK]].
    */
  def srpNearDupPairs(df: DataFrame, minCos: Double, nPlanes: Int = 8,
                      nTables: Int = 6, dim: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      maxBucket: Int = 10000): DataFrame =
    srpPairsImpl(df, minCos, nTables, maxBucket, idCol, vecCol,
      t => srpBucket(col(vecCol), nPlanes, t, dim))

  /** Plane-index STRIDE of the auto-sized SRP family: plane i of table t is
    * DetHash plane `t * srpPlaneStride + i` REGARDLESS of the chosen plane
    * count — so plane identities are stable as the operating point grows
    * with the corpus (a p-plane bucket is a prefix-extension of the
    * (p−1)-plane one), and the SQL oracle generates ONE strided plane
    * table and masks it to the count it derives from the same corpus
    * count. The fixed-layout [[srpBucket]] keeps its historical
    * `t * nPlanes + i` indexing.
    */
  val srpPlaneStride: Int = 32

  /** CORPUS-SIZED SRP plane count — the auto operating point that keeps
    * candidate volume ~linear in n: the smallest p in
    * [minPlanes, maxPlanes] with `(n >> p) <= targetOccupancy` (integer
    * shift, so both engines agree exactly — no log2 doubles at bucket
    * boundaries), i.e. expected bucket occupancy ≤ targetOccupancy.
    * Candidates per table ≈ buckets · occupancy²/2 = n · occupancy/2, so
    * a FIXED plane count densifies quadratically as the corpus grows
    * (measured: 8 planes at 200k vectors → ~780 occupancy → a candidate
    * join that spilled 77 GB of local disk), while the auto point holds
    * the per-bucket self-join flat UP TO THE PLANE CEILING: the rule
    * saturates at `maxPlanes` (default 24), so the flat regime covers
    * n ≤ targetOccupancy · 2^maxPlanes per table (~134M vectors at
    * target 8) and PAST it expected occupancy grows linearly again
    * (n >> 24) — and because autoPlanes is capped, the drift-based
    * outgrowth guard ([[maintainKnnIndex]]) reads 0 there; past the
    * ceiling the honest signal is [[srpOccupancyAudit]]'s occupancy
    * line. Composition past the ceiling: shard the corpus by id range
    * and union per-shard pairs (near-dup recall within shards only), or
    * raise maxPlanes toward `srpPlaneStride` — each extra plane halves
    * occupancy but also consumes a hot-bucket extension plane
    * ([[srpNearDupPairsSplit]] splits with planes [p, stride)) and
    * steepens the standard LSH recall curve: per-pair collision
    * probability (1 − θ/π)^p falls as p grows, so at large corpora only
    * tight near-dups (θ → 0) keep high recall at fixed nTables —
    * exactly the pairs near-dup dedup is after.
    */
  def autoPlanes(n: Long, targetOccupancy: Long = 8L,
                 minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    require(targetOccupancy >= 1, "targetOccupancy must be >= 1")
    require(minPlanes >= 1 && minPlanes <= maxPlanes &&
      maxPlanes <= srpPlaneStride,
      s"need 1 <= minPlanes <= maxPlanes <= srpPlaneStride=$srpPlaneStride")
    var p = minPlanes
    while (p < maxPlanes && (n >> p) > targetOccupancy) p += 1
    p
  }

  /** [[srpBucket]] under the STRIDED plane layout (see [[srpPlaneStride]]).
    */
  private def srpBucketStrided(vec: Column, nPlanes: Int, table: Int, dim: Int): Column = {
    import graft.functions.VectorExpressions.dotF
    (0 until nPlanes).map { i =>
      val plane = typedlit((0 until dim).map(j =>
        DetHash.planeComponent(table * srpPlaneStride + i, j)))
      val proj = dotF(vec, plane)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** [[srpNearDupPairs]] at an EXPLICIT strided plane count — the frozen-
    * operating-point form the persisted/incremental consumers replay
    * (plane count stamped in their meta), and the kernel [[
    * srpNearDupPairsAuto]] sizes.
    */
  def srpNearDupPairsSized(df: DataFrame, minCos: Double, nPlanes: Int,
                           nTables: Int = 6, dim: Int = 64,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           maxBucket: Int = 10000): DataFrame =
    srpPairsImpl(df, minCos, nTables, maxBucket, idCol, vecCol,
      t => srpBucketStrided(col(vecCol), nPlanes, t, dim))

  /** [[srpNearDupPairs]] at the CORPUS-SIZED operating point: one
    * metadata-cheap `count()` sizes the plane count via [[autoPlanes]],
    * then the same banded candidate + exact-cosine-verify shape runs at a
    * bucket occupancy that stays ~targetOccupancy up to the plane
    * ceiling (~2^24 · target vectors per table — see [[autoPlanes]] for
    * the honest bound and the composition story past it) — the
    * scale-safe default every new SRP consumer should take (the fixed
    * 8-plane form is the historical layout the small-sf audit tier
    * keeps). The SQL oracle derives the identical plane count from the
    * same corpus count (integer shift), so results stay bit-replayable.
    */
  def srpNearDupPairsAuto(df: DataFrame, minCos: Double, nTables: Int = 6,
                          dim: Int = 64, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          maxBucket: Int = 10000,
                          targetOccupancy: Long = 8L): DataFrame =
    srpNearDupPairsSized(df, minCos, autoPlanes(df.count(), targetOccupancy),
      nTables, dim, idCol, vecCol, maxBucket)

  /** HOT-DIRECTION remediation of the strided SRP banding: over-occupied
    * buckets are SPLIT with secondary strided planes instead of either
    * densifying the candidate join quadratically or being dropped.
    *
    * WHY: the auto operating point sizes planes for ~uniform occupancy,
    * but correlated embeddings concentrate — one measured hot DIRECTION
    * held 357 vectors in a single bucket at sf10 (vs target 8), and the
    * c·(c−1)/2 self-join inside such cells is the residual
    * super-linearity of the banded tier (79 pairs/vector at sf10 vs 27
    * at sf1 with no split). Splitting a c-occupancy cell with δ extra
    * planes cuts its candidate volume ~2^δ× while keeping every other
    * cell byte-identical.
    *
    * RULE (the [[autoPlanes]] integer-shift rule applied per bucket, so
    * the SQL oracle derives identical split depths from identical
    * counts): a (tbl, bucket) cell with occupancy bn > `splitOccupancy`
    * gains δ = the smallest d with `(bn >> d) <= splitOccupancy` extra
    * planes, clamped to the remaining strided planes
    * (`srpPlaneStride − nPlanes` — the stride exists to keep every
    * extension plane's identity `t·stride + nPlanes + i` stable). Its
    * members re-key to sub-bucket = the δ extension-plane sign bits;
    * un-split cells keep sub = 0, a key space disjoint from split cells
    * by bucket value. The `maxBucket` pathology cap applies to the
    * POST-split occupancy, so a truly unsplittable cell (identical
    * vectors project identically on every plane — no hyperplane count
    * separates them) still hits the documented drop guard.
    *
    * RECALL: pairs inside a split cell that land in different sub-buckets
    * lose THAT table's collision (other tables still vote) — the standard
    * LSH depth trade, now paid only inside the cells that are densifying.
    * Per surviving cell, candidates are a subset of the un-split form's;
    * the one DELIBERATE exception to global subset-ness is the cap
    * interaction: a cell whose PRE-split occupancy exceeds `maxBucket`
    * but whose sub-cells land under it is RESCUED by the split (the
    * un-split form drops it whole) — the cap exists to guard the c²/2
    * blow-up, and a split cell no longer has one. Precision is exact
    * (the shared cosine verify), and the q202 oracle replays the
    * post-split cap rule cell by cell. Default `splitOccupancy` = the
    * q201 audit's skew line (skewFactor 8 × target 8): splitting starts
    * exactly where the audit starts flagging.
    *
    * Scale shape: one banding pass + (tbl, bucket) count window (shared
    * with the un-split form), the extension projections computed ONLY for
    * members of hot cells (a batch-sized id-keyed join back to the
    * corpus), one (tbl, bucket, sub) recount window over those members,
    * and the candidate self-join on the split key.
    */
  def srpNearDupPairsSplit(df: DataFrame, minCos: Double, nPlanes: Int,
                           nTables: Int = 6, dim: Int = 64,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           maxBucket: Int = 10000,
                           splitOccupancy: Long = 64L): DataFrame = {
    require(splitOccupancy >= 1, "splitOccupancy must be >= 1")
    val extMax = srpPlaneStride - nPlanes
    val banded = df.select(col(idCol).as("id"),
      posexplode(array((0 until nTables).map(t =>
        srpBucketStrided(col(vecCol), nPlanes, t, dim)): _*))
        .as(Seq("tbl", "bucket")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket"))
    val counted = banded.withColumn("bn", count(lit(1)).over(w))
    val coldKept = counted.filter(col("bn") <= lit(splitOccupancy))
      .filter(col("bn") <= maxBucket)
      .select(col("tbl"), col("bucket"), lit(0L).as("sub"), col("id"))
    // smallest δ with (bn >> δ) <= splitOccupancy — first-true-wins when
    // chain, exactly the integer rule the oracle replays via min(range)
    val delta = (0 to extMax).foldRight(lit(extMax): Column) { (d, rest) =>
      when(shiftright(col("bn"), d) <= lit(splitOccupancy), lit(d))
        .otherwise(rest)
    }
    // extension sign bits of the hot member's OWN table ([[extOwnBits]] —
    // a CASE chain on tbl so codegen evaluates only the matching table's
    // dot products), masked to the cell's δ
    val hot = counted.filter(col("bn") > lit(splitOccupancy))
      .withColumn("delta", delta)
      .join(df.select(col(idCol).as("id"), col(vecCol).as("vec")),
        Seq("id"))
      .withColumn("extfull", extOwnBits(nPlanes, nTables, dim))
      .withColumn("sub", col("extfull")
        .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), delta) - 1")))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket"), col("sub"))
    val hotKept = hot.withColumn("bn2", count(lit(1)).over(w2))
      .filter(col("bn2") <= maxBucket)
      .select(col("tbl"), col("bucket"), col("sub"), col("id"))
    val kept = coldKept.unionByName(hotKept)
    val cand = kept.withColumnRenamed("id", "a")
      .join(kept.withColumnRenamed("id", "b"),
        Seq("tbl", "bucket", "sub"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cosineVerify(df, cand, minCos, idCol, vecCol)
  }

  /** [[srpNearDupPairsSplit]] at the corpus-sized operating point — the
    * skew-hardened scale default: [[autoPlanes]] handles uniform growth,
    * the per-bucket split handles the correlated tail the uniform rule
    * cannot see.
    */
  def srpNearDupPairsSplitAuto(df: DataFrame, minCos: Double,
                               nTables: Int = 6, dim: Int = 64,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               maxBucket: Int = 10000,
                               targetOccupancy: Long = 8L,
                               splitOccupancy: Long = 64L): DataFrame =
    srpNearDupPairsSplit(df, minCos, autoPlanes(df.count(), targetOccupancy),
      nTables, dim, idCol, vecCol, maxBucket, splitOccupancy)

  /** COMPOSITION PAST THE PLANE CEILING — the shard-and-union story of
    * [[autoPlanes]] as an operator. The auto rule's flat-occupancy regime
    * covers n ≤ targetOccupancy · 2^maxPlanes vectors per table; past it
    * occupancy (and the per-cell self-join) grows linearly again. This
    * form shards the corpus into `nShards` EQUAL-WIDTH ID RANGES
    * (shard = ((id − min) · nShards) div (max − min + 1) — pure integer
    * arithmetic, so the SQL oracle re-derives membership exactly; when
    * the multiply would overflow a 64-bit span, equal-width division
    * (id - min) div ceil(span / nShards) takes over, mirrored in the
    * oracle), sizes
    * each shard at its OWN operating point (autoPlanes of the shard's
    * count), and unions per-shard verified pairs — every shard's banding
    * runs in its flat regime as long as the SHARD stays under the
    * ceiling, so capacity scales to nShards · targetOccupancy · 2^maxPlanes.
    *
    * RECALL STATEMENT (the honest shard-boundary trade): candidates are
    * generated WITHIN shards only — a near-dup pair straddling a shard
    * boundary is never seen, so per-pair recall is the standard SRP curve
    * for intra-shard pairs and ZERO for cross-shard ones. Range sharding
    * (not hash) is deliberate: corpus ids are typically ingest-ordered,
    * so re-crawls / versions / near-in-time duplicates — the mass of true
    * near-dup pairs in a growing corpus — stay id-local and land in one
    * shard, while hash-mod sharding would spread every duplicate cluster
    * uniformly and cut recall to 1/nShards. For exact global recall past
    * the ceiling the alternative remains raising maxPlanes toward
    * [[srpPlaneStride]] (the documented LSH-curve trade).
    *
    * Precision is exact (the shared cosine verify); the `maxBucket`
    * pathology cap applies per (shard, tbl, bucket) cell. Scale shape:
    * one min/max aggregate + one nShards-row count collect (both
    * metadata-cheap), one banding pass at the WIDEST shard's plane count
    * masked per shard (strided plane identities are prefix-stable, so a
    * p-bit mask of the widest word IS the p-plane bucket), one count
    * window and the candidate self-join keyed by (shard, tbl, bucket) —
    * shards never exchange rows with each other.
    */
  def srpNearDupPairsSharded(df: DataFrame, minCos: Double, nShards: Int,
                             nTables: Int = 6, dim: Int = 64,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             maxBucket: Int = 10000,
                             targetOccupancy: Long = 8L,
                             minPlanes: Int = 4,
                             maxPlanes: Int = 24): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    val bounds = base.agg(min(col("id")), max(col("id"))).head()
    if (bounds.isNullAt(0))
      return base.sparkSession.range(0).select(col("id").as("a"),
        col("id").as("b"), col("id").cast("double").as("cos"))
    val mn = bounds.getLong(0)
    val span = bounds.getLong(1) - mn + 1
    // (id − mn) · nShards overflows silently for id spans near
    // 2^63 / nShards (timestamp-like ids) — Spark would wrap into
    // garbage shards while a BIGINT oracle errors. Past that point the
    // shard comes from equal-width division instead (identical integer
    // semantics both engines can replay; same boundaries as the multiply
    // form whenever nShards divides span). The branch condition is
    // driver-side (mn/span already collected); the SQL oracle mirrors it
    // with the same CASE on the same literals.
    val shardExpr =
      if (span <= Long.MaxValue / nShards)
        expr(s"(id - $mn) * $nShards DIV $span")
      else {
        val width = span / nShards + (if (span % nShards == 0) 0L else 1L)
        expr(s"(id - $mn) DIV $width")
      }
    // nShards rows — the per-shard operating points, driver-sized like
    // srpNearDupPairsAuto's single count()
    val planesOf: Map[Long, Int] = base.select(shardExpr.as("shard"))
      .groupBy(col("shard")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) ->
        autoPlanes(r.getLong(1), targetOccupancy, minPlanes, maxPlanes))
      .toMap
    val pmax = planesOf.values.max
    val banded = base
      .withColumn("shard", shardExpr)
      .withColumn("np", element_at(typedlit(planesOf), col("shard")))
      .select(col("id"), col("shard"), col("np"),
        posexplode(array((0 until nTables).map(t =>
          srpBucketStrided(col("vec"), pmax, t, dim)): _*))
          .as(Seq("tbl", "word")))
      .select(col("id"), col("shard"), col("tbl"),
        col("word").bitwiseAND(
          expr("shiftleft(CAST(1 AS BIGINT), np) - 1")).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("tbl"), col("bucket"))
    val kept = banded.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket).drop("bn")
    val cand = kept.withColumnRenamed("id", "a")
      .join(kept.withColumnRenamed("id", "b"),
        Seq("shard", "tbl", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cosineVerify(base, cand, minCos, "id", "vec")
  }

  private def srpPairsImpl(df: DataFrame, minCos: Double, nTables: Int,
                           maxBucket: Int, idCol: String, vecCol: String,
                           bucketFor: Int => Column): DataFrame = {
    val banded = df.select(col(idCol).as("id"),
      posexplode(array((0 until nTables).map(bucketFor): _*))
        .as(Seq("tbl", "bucket")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket"))
    val kept = banded.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket).drop("bn")
    val cand = kept.select(col("tbl"), col("bucket"), col("id").as("a"))
      .join(kept.select(col("tbl"), col("bucket"), col("id").as("b")),
        Seq("tbl", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cosineVerify(df, cand, minCos, idCol, vecCol)
  }

  /** Exact-cosine verification of a candidate `(a, b)` frame against the
    * corpus — the shared precision stage of every SRP family member:
    * per-vector norms computed once per side, (a)- then (b)-keyed
    * equi-joins, the `cos >= minCos` filter. Bit-identical to cosineF.
    */
  private def cosineVerify(df: DataFrame, cand: DataFrame, minCos: Double,
                           idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorExpressions.dotF
    val va = df.select(col(idCol).as("a"), col(vecCol).as("va"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("na"))
    val vb = df.select(col(idCol).as("b"), col(vecCol).as("vb"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("nb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .select(col("a"), col("b"),
        (dotF(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= lit(minCos))
  }

  /** Degree-BOUNDED near-dup graph — mutual-kNN edge selection over the
    * SRP candidate pairs: per vertex keep its `kTop` best candidates by
    * (exact cos desc, neighbor id asc), then keep an edge only when BOTH
    * endpoints kept each other. Output (a, b, cos) with a < b.
    *
    * WHY this exists (the fixed-ε failure mode): a threshold graph at a
    * fixed cosine densifies superlinearly as the corpus grows — measured
    * on this corpus, 10× the vectors at cos ≥ 0.2 gave ~180× the edges,
    * one fused component, and a 3-truss that kept 922k of 925k edges, so
    * every downstream closure/truss/keep-one consumer breaks at scale.
    * Mutual-kNN bounds the graph BY CONSTRUCTION: per-vertex degree ≤
    * kTop, edges ≤ n·kTop/2 at ANY corpus size or density, and the
    * mutuality requirement cuts the asymmetric hub edges (a generic
    * vector ranking a hub highly while the hub ranks thousands of closer
    * vectors above it) that pure directed top-k would keep.
    *
    * minCos stays as the candidate FLOOR (pairs below it are never
    * near-dups at all — and it keeps SRP recall semantics unchanged);
    * the per-vertex rank replaces the operating-point tuning that a
    * fixed ε needed re-done every time the corpus grew.
    *
    * Scale shape: the [[srpNearDupPairs]] banded candidate join (never
    * all-pairs), one per-vertex rank window (partition = vertex; the
    * frame is that vertex's candidate list, bounded by the SRP bucket
    * cap), one (a, b)-keyed self-join for mutuality. Determinism: cosines
    * ride the shared exact-double shape, ties break on neighbor id — the
    * SQL oracle replays the ranks bit-for-bit.
    */
  def knnGraph(df: DataFrame, minCos: Double, kTop: Int = 4,
               nPlanes: Int = 8, nTables: Int = 6, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxBucket: Int = 10000,
               scope: CacheScope = CacheScope.default): DataFrame =
    // consumed in both directions AND by sibling queries — register the
    // verified pairs so every consumer of the same (corpus, floor,
    // operating point) serves from ONE banding + cosine-verify pass
    // (registration is keyed by the canonicalized plan, so equivalent call
    // sites share)
    knnFromPairs(scope.register(srpNearDupPairs(df, minCos, nPlanes,
      nTables, dim, idCol, vecCol, maxBucket)), kTop)

  /** [[knnGraph]] with its CANDIDATE stage at the corpus-sized operating
    * point ([[srpNearDupPairsAuto]]): the output graph was already bounded
    * by construction (degree ≤ kTop), but at a fixed plane count the
    * candidate join feeding the rank window still densified ~occupancy²;
    * with auto-sized planes BOTH stages are ~linear in n — the form that
    * survives a 100× corpus.
    */
  def knnGraphAuto(df: DataFrame, minCos: Double, kTop: Int = 4,
                   nTables: Int = 6, dim: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   maxBucket: Int = 10000,
                   targetOccupancy: Long = 8L,
                   scope: CacheScope = CacheScope.default): DataFrame =
    knnFromPairs(scope.register(srpNearDupPairsAuto(df, minCos, nTables,
      dim, idCol, vecCol, maxBucket, targetOccupancy)), kTop)

  /** Mutual-kNN edge selection over verified (a, b, cos) pairs — the rank
    * + mutuality tail [[knnGraph]]/[[knnGraphAuto]] share and the
    * incremental maintenance path replays over merged kept-lists.
    */
  private[graft] def knnFromPairs(pairs: DataFrame, kTop: Int): DataFrame = {
    require(kTop >= 1, "kTop must be >= 1")
    mutualEdges(knnKeptLists(pairs, kTop))
  }

  /** Per-vertex DIRECTED kept list: top `kTop` candidates by (cos desc,
    * neighbor id asc) from a verified symmetric pair set — (v, nb, cos).
    * This is the state the incremental kNN lifecycle persists: top-k over
    * (old top-k ∪ new candidates) equals top-k over all candidates, so a
    * batch can re-rank ONLY touched vertices (see
    * [[graft.ops.GraphOps]]'s incremental convention).
    */
  private[graft] def knnKeptLists(pairs: DataFrame, kTop: Int): DataFrame = {
    val dirs = pairs.select(col("a").as("v"), col("b").as("nb"), col("cos"))
      .unionByName(pairs.select(col("b").as("v"), col("a").as("nb"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("cos").desc, col("nb"))
    dirs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kTop)
      .select(col("v"), col("nb"), col("cos"))
  }

  /** The mutual edges of a directed kept-list frame: the {a, b} edge
    * survives iff a kept b AND b kept a. Output (a, b, cos) with a < b.
    */
  private[graft] def mutualEdges(kept: DataFrame): DataFrame =
    kept.filter(col("v") < col("nb"))
      .select(col("v").as("a"), col("nb").as("b"), col("cos"))
      .join(kept.filter(col("v") > col("nb"))
          .select(col("nb").as("a"), col("v").as("b")),
        Seq("a", "b"))

  /** SEMANTIC near-duplicate CLUSTERS over an embedding column: (vec_id,
    * comp) for every vector, where comp = the minimum vec id reachable
    * through the DEGREE-BOUNDED pair graph — [[knnGraphAuto]]'s mutual-kNN
    * edges (candidate stage auto-sized, per-vertex degree ≤ kTop) →
    * [[GraphOps.connectedComponents]]. The embedding-space analog of
    * [[DedupOps.nearDupClusters]]: the SemDeDup-style step that keeps one
    * representative per MEANING, not just per surface form. Bounding the
    * degree instead of closing over the raw ε-graph is the form whose
    * cluster topology cannot densify into one fused component as the
    * corpus grows (the measured fixed-ε failure: 10× the vectors at
    * cos ≥ 0.2 gave ~113× the edges). minCos stays the near-dup FLOOR;
    * kTop bounds how aggressively the closure can chain. Singletons map
    * to themselves.
    */
  def semanticDupClustersBounded(df: DataFrame, minCos: Double, kTop: Int = 4,
                                 nTables: Int = 6, dim: Int = 64,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding",
                                 maxBucket: Int = 10000,
                                 targetOccupancy: Long = 8L): DataFrame =
    GraphOps.connectedComponents(
      knnGraphAuto(df, minCos, kTop, nTables, dim, idCol, vecCol,
        maxBucket, targetOccupancy),
      df.select(col(idCol)), idCol)

  /** Semantic dedup retention summary: one row per
    * [[semanticDupClustersBounded]] cluster with the kept representative
    * (min vec id) and the member count — the embedding analog of
    * [[DedupOps.nearDedupSummary]].
    */
  def semanticDedupSummaryBounded(df: DataFrame, minCos: Double,
                                  kTop: Int = 4, nTables: Int = 6,
                                  dim: Int = 64, idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  maxBucket: Int = 10000,
                                  targetOccupancy: Long = 8L): DataFrame =
    semanticDupClustersBounded(df, minCos, kTop, nTables, dim, idCol,
        vecCol, maxBucket, targetOccupancy)
      .groupBy(col("comp")).agg(count(lit(1)).as("n_vecs"))
      .select(col("comp").as("keep_id"), col("n_vecs"))

  // --------------------------------------------------------------------
  // Persisted mutual-kNN graph lifecycle (ensure / maintain / read)
  // --------------------------------------------------------------------

  /** Schema version stamped in the kNN index meta table. Version 3 is the
    * SPLIT-LAYOUT delta-kept format: unversioned epoch-stamped `_vecs` and
    * `_bands` (the bands carrying the hot-cell `sub` key — the X216
    * per-bucket split applied to the PERSISTED lifecycle), the frozen
    * split-cell table `_cells`, and ONE append-only `_kept` table whose
    * rows carry a version stamp (`kver`) — maintenance appends only the
    * touched vertices' re-ranked lists and readers serve the
    * latest-version row set per vertex.
    */
  val knnIndexFormatVersion: Int = 3

  private val knnMetaCols = Seq("fmt", "corpus_tag", "planes", "ktop",
    "min_cos", "n_tables", "dim", "buckets", "version", "epoch", "n_vecs",
    "target_occupancy", "split_occupancy")

  private def knnMetaHead(spark: org.apache.spark.sql.SparkSession,
                          tablePrefix: String)
      : Option[org.apache.spark.sql.Row] =
    if (!spark.catalog.tableExists(s"${tablePrefix}_meta")) None
    else {
      val m = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta")
      if (!knnMetaCols.forall(m.columns.contains)) None
      else m.orderBy(col("version").desc).limit(1).collect().headOption
    }

  /** Refresh token of a committed kNN-index state: every commit (ensure
    * rebuild, maintain, delete, compact) moves at least one component, so
    * [[graft.sources.Bucketing.freshTableGated]] reads of the CORPUS-SIZED
    * tables (`_vecs`/`_bands`/`_cells`/`_kept`) re-list part-files exactly
    * once per observed commit instead of once per read — at 100 TB an
    * ungated refresh re-listed millions of part-files per serve. The meta
    * head itself (1 row per commit) and the churn-sized `_deleted` stay
    * ALWAYS-fresh: tombstones land BEFORE the meta commit by protocol, so
    * gating them would reopen the X220 crash window.
    */
  private def knnToken(m: org.apache.spark.sql.Row): String =
    s"${m.getAs[Long]("version")}|${m.getAs[Long]("epoch")}|" +
      m.getAs[String]("corpus_tag")

  /** The COMMITTED view of an append-only epoch-stamped table: only rows
    * whose epoch a meta commit row names are visible — an orphan insert
    * from a crashed epoch never serves (the meta append IS the commit),
    * and a retried epoch's duplicate rows are exact copies under the same
    * content-derived epoch id, absorbed downstream (candidate `distinct`;
    * `dropDuplicates("id")` on the vector side). The epoch list is
    * commit-count-sized (one row per ingest), so it broadcasts; the
    * stream side's bucketing survives the broadcast semi-join.
    */
  private def committedRows(spark: org.apache.spark.sql.SparkSession,
                            tablePrefix: String, table: String,
                            token: String): DataFrame =
    graft.sources.Bucketing.freshTableGated(spark,
        s"${tablePrefix}_$table", token).join(
      broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta")
        .select(col("epoch")).distinct()),
      Seq("epoch"), "left_semi")

  /** [[committedRows]] minus the logical tombstones — the LIVE corpus
    * view every kNN-index read and fold runs against. The `_deleted`
    * table is churn-sized and broadcasts; physical removal is
    * [[compactKnnIndex]]'s job.
    */
  private def liveRows(spark: org.apache.spark.sql.SparkSession,
                       tablePrefix: String, table: String,
                       token: String): DataFrame =
    committedRows(spark, tablePrefix, table, token).join(
      broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")),
      Seq("id"), "left_anti")

  /** The COMMITTED kept-list view over the delta-versioned `_kept` table:
    * rows stamped past the committed version are orphans from a crashed
    * epoch (invisible — the meta append IS the commit; a retry re-appends
    * exact duplicates the `dropDuplicates` absorbs), the LATEST stamped
    * row set per vertex wins (maintenance appends only touched vertices'
    * re-ranked lists — the merge-on-read that makes kept-state I/O
    * per-epoch touched-sized instead of an O(n·kTop) rewrite), and
    * empty-list MARKER rows (`nb == v`, written when a delete's repair
    * leaves a vertex with no live neighbor above the floor) drop after
    * version selection. The table is bucketed by `v`, so the version
    * window, the dedup, and the mutual self-join all run exchange-free.
    */
  private def committedKept(spark: org.apache.spark.sql.SparkSession,
                            tablePrefix: String, version: Long,
                            token: String,
                            restrictTo: Option[DataFrame] = None)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    val raw = graft.sources.Bucketing
      .freshTableGated(spark, s"${tablePrefix}_kept", token)
      .filter(col("kver") <= lit(version))
    // maintenance verbs need only a batch-sized vertex subset's lists:
    // restricting BEFORE the version window (whole vertices, so the
    // per-vertex max is unchanged) keeps the per-epoch sort touched-sized
    // instead of O(n·kTop) — serving passes None and pays the full view
    val scoped = restrictTo.fold(raw)(r =>
      raw.join(broadcast(r.select(col("v"))), Seq("v"), "left_semi"))
    scoped
      .withColumn("mxv", max(col("kver")).over(w))
      .filter(col("kver") === col("mxv"))
      .filter(col("nb") =!= col("v"))
      .dropDuplicates("v", "nb")
      .select(col("v"), col("nb"), col("cos"))
  }

  /** Content-derived epoch id of a batch: bit-XOR of the id hashes. A
    * RETRY of the same batch derives the same id, so its re-inserted rows
    * are byte-duplicates of the crashed attempt's orphans (absorbed by the
    * committed-view dedups) rather than a second epoch; two DIFFERENT
    * batches collide only with 2^-64 probability.
    */
  private def epochIdOf(fresh: DataFrame): Long = {
    val r = fresh.agg(expr("bit_xor(xxhash64(id))")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Band an `(id, vec)` frame at `nPlanes` STRIDED planes: one
    * (id, tbl, bucket) row per table — the exact banding
    * [[srpNearDupPairsSized]] performs, factored out so ensure and
    * maintain produce byte-identical buckets for the same vector.
    */
  private def bandStrided(vecs: DataFrame, nPlanes: Int, nTables: Int,
                          dim: Int): DataFrame =
    vecs.select(col("id"),
      posexplode(array((0 until nTables).map(t =>
        srpBucketStrided(col("vec"), nPlanes, t, dim)): _*))
        .as(Seq("tbl", "bucket")))

  /** FULL extension-bit word of a row's OWN table — the hot-cell split's
    * secondary projections (strided plane ids `t·stride + nPlanes + i`,
    * i < stride − nPlanes), branched on the row's `tbl` with a CASE chain
    * so codegen evaluates only the matching table's dot products (an
    * array of all nTables extensions measured 3× the probe wall-clock at
    * sf10). Expects columns `vec` and `tbl`; callers mask the word to the
    * cell's split depth δ.
    */
  private def extOwnBits(nPlanes: Int, nTables: Int, dim: Int): Column = {
    import graft.functions.VectorExpressions.dotF
    val extMax = srpPlaneStride - nPlanes
    def extBits(t: Int): Column =
      (0 until extMax).map { i =>
        val plane = typedlit((0 until dim).map(j =>
          DetHash.planeComponent(t * srpPlaneStride + nPlanes + i, j)))
        when(dotF(col("vec"), plane) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    (0 until nTables).foldRight(lit(0L): Column) { (t, rest) =>
      when(col("tbl") === t, extBits(t)).otherwise(rest)
    }
  }

  /** The SPLIT-CELL table of a banded frame: every (tbl, bucket) cell with
    * occupancy bn > `splitOccupancy` and its split depth δ = the smallest
    * d with `(bn >> d) <= splitOccupancy` (the [[autoPlanes]] integer-shift
    * rule applied per bucket, clamped to the remaining strided planes
    * `extMax`). Skew-tail-sized by construction — it broadcasts.
    */
  private[graft] def splitCellsOf(banded: DataFrame, splitOccupancy: Long,
                                  extMax: Int): DataFrame = {
    require(splitOccupancy >= 1, "splitOccupancy must be >= 1")
    val delta = (0 to extMax).foldRight(lit(extMax): Column) { (d, rest) =>
      when(shiftright(col("bn"), d) <= lit(splitOccupancy), lit(d))
        .otherwise(rest)
    }
    banded.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > lit(splitOccupancy))
      .select(col("tbl"), col("bucket"), delta.as("delta"))
  }

  /** Band an `(id, vec)` frame at the FROZEN split layout: primary
    * (tbl, bucket) from `banded` (the [[bandStrided]] rows of the same
    * frame), then members landing in a frozen split cell re-key to
    * sub-bucket = their δ extension-plane sign bits while every other
    * member keeps sub = 0. `cells` is the skew-tail-sized frozen layout
    * ([[splitCellsOf]] of the ENSURE corpus, persisted as `_cells`), so
    * ensure, every maintain batch, and the SQL oracle derive identical
    * (tbl, bucket, sub) keys for the same vector at any later epoch —
    * the property the batch-recompute equality claim rests on. Extension
    * projections run ONLY for hot-cell members (broadcast join against
    * the cells, id-keyed join back for the vector).
    */
  private[graft] def bandSplitFrozen(vecs: DataFrame, banded: DataFrame,
                                     nPlanes: Int, nTables: Int, dim: Int,
                                     cells: DataFrame): DataFrame = {
    val cold = banded
      .join(broadcast(cells.select(col("tbl"), col("bucket"))),
        Seq("tbl", "bucket"), "left_anti")
      .select(col("id"), col("tbl"), col("bucket"), lit(0L).as("sub"))
    val hot = banded.join(broadcast(cells), Seq("tbl", "bucket"))
      .join(vecs.select(col("id"), col("vec")), Seq("id"))
      .withColumn("sub", extOwnBits(nPlanes, nTables, dim)
        .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), delta) - 1")))
      .select(col("id"), col("tbl"), col("bucket"), col("sub"))
    cold.unionByName(hot)
  }

  /** Candidate self-join on the SPLIT key (tbl, bucket, sub) over an
    * `(id, tbl, bucket, sub)` band frame, verified by the shared
    * exact-cosine stage — the pair tail the persisted lifecycle's build
    * and its batch-recompute oracle share.
    */
  private def pairsFromSplitBands(bands: DataFrame, df: DataFrame,
                                  minCos: Double, idCol: String,
                                  vecCol: String): DataFrame = {
    val cand = bands
      .select(col("tbl"), col("bucket"), col("sub"), col("id").as("a"))
      .join(bands
          .select(col("tbl"), col("bucket"), col("sub"), col("id").as("b")),
        Seq("tbl", "bucket", "sub"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cosineVerify(df, cand, minCos, idCol, vecCol)
  }

  /** The BATCH RECOMPUTE the persisted kNN lifecycle must serve at any
    * commit: the mutual-kNN graph over `df` at the operating point FROZEN
    * on `freezeDf` — plane count = [[autoPlanes]] of the freeze corpus,
    * split cells = [[splitCellsOf]] of the freeze corpus's banding, every
    * `df` member re-keyed by that frozen layout. Equality against this is
    * the lifecycle's correctness claim (OpsSpec/StreamingSpec assert it;
    * the q200/q204 oracles replay it in SQL).
    */
  private[graft] def knnGraphFrozen(df: DataFrame, freezeDf: DataFrame,
                                    minCos: Double, kTop: Int,
                                    nTables: Int = 6, dim: Int = 64,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding",
                                    targetOccupancy: Long = 8L,
                                    splitOccupancy: Long = 64L): DataFrame = {
    val all = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val freeze = freezeDf.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val planes = autoPlanes(freeze.count(), targetOccupancy)
    val cells = splitCellsOf(bandStrided(freeze, planes, nTables, dim),
      splitOccupancy, srpPlaneStride - planes)
    val bands = bandSplitFrozen(all, bandStrided(all, planes, nTables, dim),
      planes, nTables, dim, cells)
    knnFromPairs(pairsFromSplitBands(bands, all, minCos, "id", "vec"), kTop)
  }

  /** PERSISTED mutual-kNN graph — the degree-bounded near-dup graph
    * ([[knnGraphAuto]]) as maintained state, closing the lifecycle the
    * banded-dedup/IVF/cluster-assignment tiers already have: build once,
    * fold each vector ingest in with batch-sized compute, serve edges
    * from the store. The corpus-sized tables are APPEND-ONLY (the
    * [[graft.ops.DedupOps.appendToBandedIndex]] economics — per-epoch
    * I/O scales with the batch, never the corpus; a full-corpus rewrite
    * per micro-batch is the 100 TB scale-killer this layout removes);
    * only the O(n·kTop) state table snapshots per version:
    *
    *   - `${prefix}_vecs`  (id, vec, nrm, epoch) bucketed by id —
    *     append-only; the verify join's key;
    *   - `${prefix}_bands` (id, tbl, bucket, sub, epoch) bucketed by
    *     bucket — append-only; a batch's candidate probe co-locates on
    *     the corpus side and `insertInto` re-buckets JUST the new rows.
    *     `sub` is the X216 hot-cell split key (see `_cells`);
    *   - `${prefix}_cells` (tbl, bucket, delta) — the FROZEN split
    *     layout: the ensure corpus's over-occupied cells and their split
    *     depths ([[splitCellsOf]] at the stamped `split_occupancy`).
    *     Skew-tail-sized; broadcast at every band/probe so ensure, each
    *     maintain batch, and the SQL oracle key identically;
    *   - `${prefix}_kept` (v, nb, cos, kver) bucketed by v — DELTA-
    *     VERSIONED, append-only: the per-vertex DIRECTED top-k lists
    *     ([[knnKeptLists]]). Each epoch appends ONLY the touched
    *     vertices' re-ranked lists stamped with the next version;
    *     readers serve the latest committed row set per vertex
    *     ([[committedKept]]) — top-k over (old top-k ∪ new candidates)
    *     equals top-k over all candidates under append-only ingest, so
    *     maintenance is touched-sized in BOTH compute and I/O (the
    *     round-13 layout rewrote the full O(n·kTop) snapshot per epoch).
    *
    * COMMIT protocol: every `_vecs`/`_bands` row carries the epoch's
    * content-derived id ([[epochIdOf]]) and every `_kept` row the next
    * version stamp; inserts land first and the meta append naming
    * (version, epoch) is the single commit point. Readers see only
    * committed epochs ([[committedRows]]) and committed kept versions
    * ([[committedKept]]), so a crash at ANY step leaves the previous
    * version serving and the retried epoch re-folds as exact duplicates
    * that dedup away.
    *
    * The SRP operating point is FROZEN at ensure time ([[autoPlanes]] of
    * the base corpus AND the base corpus's hot-cell split layout, both
    * stamped) so every epoch bands with the same planes and the same
    * sub-bucket rule — the incremental path replays [[knnGraphFrozen]]
    * exactly. A corpus-tag change re-sizes and rebuilds (the ensure
    * convention). OUTGROWTH is checked, not assumed: meta carries the
    * committed corpus count and target occupancy, and [[maintainKnnIndex]]
    * fails loudly once `autoPlanes(newCount) − planes > 1` — the corpus
    * has outgrown the frozen point by more than one boundary and the
    * candidate join is densifying; re-ensure under a new tag. NO
    * hot-bucket drop cap applies inside the lifecycle (batch-recompute
    * equality would break if later epochs dropped cells earlier epochs
    * already folded): the split layout is the skew control — a separable
    * hot direction's cells split down to ~splitOccupancy, and the one
    * shape it cannot separate (identical directions project identically
    * on every plane) is what [[srpOccupancyAudit]] flags before a corpus
    * commits to the lifecycle at all.
    */
  def ensureKnnIndex(df: DataFrame, tablePrefix: String, corpusTag: String,
                     minCos: Double, kTop: Int = 4, nTables: Int = 6,
                     dim: Int = 64, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     targetOccupancy: Long = 8L, buckets: Int = 8,
                     splitOccupancy: Long = 64L): Unit = {
    val spark = df.sparkSession
    val upToDate = knnMetaHead(spark, tablePrefix).exists { m =>
      m.getAs[Int]("fmt") == knnIndexFormatVersion &&
        m.getAs[String]("corpus_tag") == corpusTag &&
        m.getAs[Int]("ktop") == kTop &&
        m.getAs[Double]("min_cos") == minCos &&
        m.getAs[Int]("n_tables") == nTables &&
        m.getAs[Int]("dim") == dim &&
        m.getAs[Int]("buckets") == buckets &&
        m.getAs[Long]("target_occupancy") == targetOccupancy &&
        m.getAs[Long]("split_occupancy") == splitOccupancy &&
        Seq(s"${tablePrefix}_vecs", s"${tablePrefix}_bands",
          s"${tablePrefix}_deleted", s"${tablePrefix}_cells",
          s"${tablePrefix}_kept")
          .forall(spark.catalog.tableExists)
    }
    if (!upToDate) {
      val cps = new CacheScope.Checkpoints
      try {
        val base = df.select(col(idCol).cast("long").as("id"),
          col(vecCol).as("vec")).dropDuplicates("id")
        val n = base.count()
        val planes = autoPlanes(n, targetOccupancy)
        import graft.functions.VectorExpressions.dotF
        val vecs = base.withColumn("nrm", sqrt(dotF(col("vec"), col("vec"))))
        // freeze the split layout on the base corpus's occupancy (one
        // banding pass; the cells frame is skew-tail-sized)
        val banded = bandStrided(base, planes, nTables, dim)
        val cells = cps(splitCellsOf(banded, splitOccupancy,
          srpPlaneStride - planes))
        val epoch = epochIdOf(base)
        import graft.sources.Bucketing
        import spark.implicits._
        // fresh build: recreate the append-only tables; sweep stale
        // versioned tables (a previous corpus OR the pre-delta formats) so
        // the warehouse never accumulates unreachable snapshots
        (Seq("vecs", "bands", "kept").flatMap(t =>
          spark.catalog.listTables().collect().map(_.name)
            .filter(_.startsWith(s"${tablePrefix}_${t}_v"))))
          .foreach(t => Bucketing.dropTableAndLocation(spark, t))
        Bucketing.writeBucketed(
          vecs.withColumn("epoch", lit(epoch))
            .select(col("id"), col("vec"), col("nrm"), col("epoch")),
          s"${tablePrefix}_vecs", Seq("id"), buckets)
        Bucketing.writeBucketed(
          bandSplitFrozen(base, banded, planes, nTables, dim, cells)
            .withColumn("epoch", lit(epoch))
            .select(col("id"), col("tbl"), col("bucket"), col("sub"),
              col("epoch")),
          s"${tablePrefix}_bands", Seq("bucket"), buckets)
        Bucketing.saveTable(cells, s"${tablePrefix}_cells")
        // the base kept lists are computed FROM the just-written tables:
        // the candidate self-join co-locates on the bands bucketing and the
        // verify reads the persisted vectors — the corpus never re-bands
        val bandsT = spark.table(s"${tablePrefix}_bands")
          .select(col("id"), col("tbl"), col("bucket"), col("sub"))
        val vecsT = spark.table(s"${tablePrefix}_vecs")
          .select(col("id"), col("vec"))
        val kept = knnKeptLists(
          pairsFromSplitBands(bandsT, vecsT, minCos, "id", "vec"), kTop)
        Bucketing.writeBucketed(kept.withColumn("kver", lit(1L)),
          s"${tablePrefix}_kept", Seq("v"), buckets)
        Bucketing.saveTable(
          spark.emptyDataset[Long].toDF("id"), s"${tablePrefix}_deleted")
        // the commit: meta RECREATES on a fresh build — stale rows from a
        // previous corpus must not keep orphan epochs visible
        Bucketing.saveTable(
          Seq((knnIndexFormatVersion, corpusTag, planes, kTop, minCos,
            nTables, dim, buckets, 1L, epoch, n, targetOccupancy,
            splitOccupancy))
            .toDF(knnMetaCols: _*),
          s"${tablePrefix}_meta")
      } finally cps.freeAll()
    }
  }

  /** Fold a batch of NEW vectors into the persisted kNN graph with
    * batch-sized compute AND batch-sized I/O: band the batch at the
    * frozen layout (stamped planes + the ensure-frozen split cells),
    * probe the stored bands for candidates on (tbl, bucket, sub) — one
    * side batch-sized, the corpus side co-located on its bucketing —
    * verify candidates with exact cosine, re-rank ONLY the touched
    * vertices' kept lists, `insertInto` the batch's `_vecs`/`_bands` rows
    * AND the touched vertices' kept delta (every committed part-file is
    * untouched — BucketingSpec asserts it), and commit with one meta
    * append. Equal to [[knnGraphFrozen]] recomputed over the full corpus
    * at the frozen operating point (OpsSpec asserts it on chained
    * batches) by the top-k merge property — a pair is generated exactly
    * once, at the epoch its LATER endpoint arrives, and an old candidate
    * pushed out of a kept list can never re-enter (candidates only
    * accumulate).
    *
    * At-least-once REPLAY is a structural no-op: batch ids already in the
    * committed store anti-join away, and an all-replayed batch returns
    * without writing (the served version is unchanged). A retry of a
    * CRASHED epoch re-derives the same content epoch id, so its
    * re-inserts duplicate the orphan rows exactly and the committed view
    * dedups them ([[committedRows]]).
    *
    * OUTGROWTH guard: fails with [[IllegalStateException]] when the
    * folded corpus would put `autoPlanes(count)` more than
    * `maxPlaneDrift` planes past the frozen point — candidate volume at
    * the frozen planes is densifying ~2× per crossed boundary and the
    * index needs a re-ensure (new tag) at the current corpus size.
    * `maxPlaneDrift = Int.MaxValue` opts out for callers that accept the
    * densification.
    */
  def maintainKnnIndex(batch: DataFrame, tablePrefix: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       maxPlaneDrift: Int = 1): Unit = {
    val spark = batch.sparkSession
    val m = knnMetaHead(spark, tablePrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed kNN index under '$tablePrefix' — run ensureKnnIndex"))
    val token = knnToken(m)
    val v = m.getAs[Long]("version")
    val planes = m.getAs[Int]("planes")
    val kTop = m.getAs[Int]("ktop")
    val minCos = m.getAs[Double]("min_cos")
    val nTables = m.getAs[Int]("n_tables")
    val dim = m.getAs[Int]("dim")
    val splitOcc = m.getAs[Long]("split_occupancy")
    val targetOcc = m.getAs[Long]("target_occupancy")
    val vecs = liveRows(spark, tablePrefix, "vecs", token)
      .dropDuplicates("id")
    val bands = liveRows(spark, tablePrefix, "bands", token)
    val cells = graft.sources.Bucketing.freshTableGated(spark,
      s"${tablePrefix}_cells", token)
    import graft.functions.VectorExpressions.dotF
    val cps = new CacheScope.Checkpoints // read only by this epoch's inserts
    try {
      // replayed ids drop structurally; consumed by banding AND verify AND
      // the inserts — materialize the (batch-sized) frame once, counted in
      // the same job. A TOMBSTONED id cannot re-enter before a compact
      // (the banded-index X85 rule: the tombstone suppresses its stale
      // committed rows, so a re-insert under the same id would vanish with
      // them on read and resurface BOTH after a naive un-tombstone)
      val (fresh, counts) = cps.measured(batch
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .dropDuplicates("id")
        .join(vecs.select(col("id")), Seq("id"), "left_anti")
        .join(broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")),
          Seq("id"), "left_anti")
        .withColumn("nrm", sqrt(dotF(col("vec"), col("vec")))))(_.size.toLong)
      val nFresh = counts.sum
      if (nFresh == 0) return
      val nNext = m.getAs[Long]("n_vecs") + nFresh
      val drift = autoPlanes(nNext, targetOcc) - planes
      if (drift > maxPlaneDrift) throw new IllegalStateException(
        s"kNN index '$tablePrefix' outgrew its frozen SRP operating point: " +
          s"autoPlanes($nNext) = ${planes + drift} vs frozen planes = " +
          s"$planes (drift $drift > $maxPlaneDrift). Candidate volume at " +
          "the frozen point densifies ~2x per crossed boundary — re-run " +
          "ensureKnnIndex under a new corpusTag to re-size, or raise " +
          "maxPlaneDrift to accept the densification.")
      val epoch = epochIdOf(fresh)
      // band the batch at the FROZEN layout: stamped planes AND the
      // ensure-frozen split cells, so a batch member landing in a hot cell
      // probes at the same sub key the corpus rows were written under
      val bandsNew = cps(bandSplitFrozen(fresh.select(col("id"), col("vec")),
        bandStrided(fresh.select(col("id"), col("vec")), planes, nTables,
          dim),
        planes, nTables, dim, cells))
      // candidates: batch bands probe (stored ∪ batch) bands — never
      // corpus × corpus; orientation dedupes the (new, new) double hit
      val cand = bandsNew
        .select(col("tbl"), col("bucket"), col("sub"), col("id").as("x"))
        .join(bands.select(col("id"), col("tbl"), col("bucket"), col("sub"))
            .unionByName(bandsNew)
            .select(col("tbl"), col("bucket"), col("sub"), col("id").as("y")),
          Seq("tbl", "bucket", "sub"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct()
      val allVecs = vecs.select(col("id"), col("vec"), col("nrm"))
        .unionByName(fresh)
      val va = allVecs.select(col("id").as("a"), col("vec").as("va"),
        col("nrm").as("na"))
      val vb = allVecs.select(col("id").as("b"), col("vec").as("vb"),
        col("nrm").as("nb"))
      val newPairs = cps(cand.join(va, Seq("a")).join(vb, Seq("b"))
        .select(col("a"), col("b"),
          (dotF(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
        .filter(col("cos") >= lit(minCos)))
      val dirsNew = newPairs
        .select(col("a").as("v"), col("b").as("nb"), col("cos"))
        .unionByName(newPairs
          .select(col("b").as("v"), col("a").as("nb"), col("cos")))
      // read only by keptAppend, which is materialized before any insert
      val touched = dirsNew.select(col("v")).distinct()
      // re-rank touched vertices over (old kept ∪ new candidates); a kept
      // (v, nb) row can never duplicate a new candidate — nb is new to
      // this epoch in every new pair. Touched vertices always re-rank
      // non-empty (each has at least its new direction row), so no
      // empty-list markers arise here. Materialized BEFORE any insert: the
      // plan reads the tables the inserts mutate. The kept read is SCOPED
      // to the touched vertices (batch-candidate-sized), so the version
      // window never sorts the O(n·kTop) state table inside an epoch
      val kept = committedKept(spark, tablePrefix, v, token, Some(touched))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("cos").desc, col("nb"))
      val next = v + 1L
      val keptAppend = cps(kept
        .unionByName(dirsNew)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= kTop)
        .select(col("v"), col("nb"), col("cos"))
        .withColumn("kver", lit(next)))
      // TOUCHED-SIZED appends everywhere: insertInto re-buckets just the
      // new rows (order is positional — match each table's layout); the
      // kept delta replaces the round-13 full O(n·kTop) snapshot rewrite.
      // Orphans from a crash anywhere below stay invisible until the meta
      // append commits this epoch (bands/vecs by epoch id, kept by kver).
      import spark.implicits._
      bandsNew.withColumn("epoch", lit(epoch))
        .select(col("id"), col("tbl"), col("bucket"), col("sub"), col("epoch"))
        .write.insertInto(s"${tablePrefix}_bands")
      fresh.withColumn("epoch", lit(epoch))
        .select(col("id"), col("vec"), col("nrm"), col("epoch"))
        .write.insertInto(s"${tablePrefix}_vecs")
      keptAppend.select(col("v"), col("nb"), col("cos"), col("kver"))
        .write.insertInto(s"${tablePrefix}_kept")
      Seq((knnIndexFormatVersion, m.getAs[String]("corpus_tag"), planes,
        kTop, minCos, nTables, dim, m.getAs[Int]("buckets"), next, epoch,
        nNext, targetOcc, splitOcc))
        .toDF(knnMetaCols: _*)
        .write.mode("append").saveAsTable(s"${tablePrefix}_meta")
    } finally cps.freeAll()
  }

  /** The served graph: mutual edges ([[mutualEdges]]) of the committed
    * kept lists — an (a, b)-keyed self-join over the O(n·kTop) state
    * table, co-located on its `v` bucketing. Tombstoned endpoints are
    * filtered at serve time (a churn-sized broadcast anti-join), so even
    * the crash window between a delete's tombstone write and its kept
    * re-rank commit serves NO deleted edge — conservatively: an edge a
    * deleted node was crowding out reappears only once the re-rank
    * commits. Absence throws (an empty graph for "store not initialized"
    * would read as "no near-dups").
    */
  def knnIndexEdges(spark: org.apache.spark.sql.SparkSession,
                    tablePrefix: String): DataFrame = {
    val m = knnMetaHead(spark, tablePrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed kNN index under '$tablePrefix' — run ensureKnnIndex"))
    val del = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
    mutualEdges(
      committedKept(spark, tablePrefix, m.getAs[Long]("version"),
        knnToken(m))
        .join(broadcast(del.select(col("id").as("v"))), Seq("v"), "left_anti")
        .join(broadcast(del.select(col("id").as("nb"))), Seq("nb"),
          "left_anti"))
  }

  /** TOMBSTONE vectors out of the persisted kNN graph — and, unlike the
    * probe-time indexes, REPAIR the affected state: a deleted neighbor
    * occupied top-k SLOTS, so merely filtering it at serve time would
    * leave every vertex that ranked it with a permanently shorter list
    * (the pair it crowded out can never re-enter from the kept state
    * alone). Deletion therefore re-ranks exactly the TOUCHED vertices —
    * live vertices whose kept list names a tombstoned id — by re-probing
    * THEIR band rows against the live store (|touched|-sized compute, the
    * maintain economics in reverse), so the committed graph stays equal
    * to the batch recompute over the live corpus at the frozen operating
    * point (OpsSpec asserts it).
    *
    * Protocol: `_deleted` merges first (read-merge-replace of a
    * churn-sized table, the [[deleteFromIvfIndex]] shape), then the
    * repaired lists append to `_kept` as a touched-sized delta under the
    * next version stamp (a vertex repaired down to NO live neighbor gets
    * an empty-list marker so its stale rows stop serving), then the meta
    * append commits — and the meta commit also lands when the tombstone
    * set merely GREW with nothing to repair, so `n_vecs` (the drift
    * guard's input) never goes stale. A crash after the tombstone write
    * serves no deleted edge ([[knnIndexEdges]] filters endpoints) and the
    * retry re-derives the same touched set from the still-committed kept
    * lists. Re-deleting is a structural no-op. Tombstoned ids cannot
    * re-enter via [[maintainKnnIndex]] before a [[compactKnnIndex]] (the
    * banded-index rule).
    */
  def deleteFromKnnIndex(ids: DataFrame, tablePrefix: String,
                         idCol: String = "vec_id"): Unit = {
    val spark = ids.sparkSession
    val m = knnMetaHead(spark, tablePrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed kNN index under '$tablePrefix' — run ensureKnnIndex"))
    val token = knnToken(m)
    val v = m.getAs[Long]("version")
    val planes = m.getAs[Int]("planes")
    val kTop = m.getAs[Int]("ktop")
    val minCos = m.getAs[Double]("min_cos")
    val cps = new CacheScope.Checkpoints
    try {
      val before = graft.sources.Bucketing.freshTable(spark,
        s"${tablePrefix}_deleted")
      val merged = cps(before
        .unionByName(ids.select(col(idCol).cast("long").as("id")))
        .distinct())
      // grew = this call tombstoned at least one NEW id — even with no kept
      // list to repair, the meta commit below must land so n_vecs (and the
      // status/drift-guard arithmetic on it) tracks the live corpus
      val grew = merged.count() > before.count()
      import graft.sources.Bucketing
      Bucketing.saveTable(merged, s"${tablePrefix}_deleted")
      // everything below uses the MATERIALIZED tombstone frame, never a
      // re-read of the table this call just replaced — a cloned session's
      // relation cache (streaming foreachBatch) can otherwise serve the
      // pre-replace file listing mid-call
      val del = merged
      // candidate vertices: any row of ANY version naming a tombstone — a
      // window-free superset that scopes the version window below to the
      // churn neighborhood instead of sorting the full O(n·kTop) state
      val namedSuper = graft.sources.Bucketing
        .freshTableGated(spark, s"${tablePrefix}_kept", token)
        .filter(col("kver") <= lit(v))
        .join(broadcast(del.select(col("id").as("nb"))), Seq("nb"),
          "left_semi")
        .select(col("v")).distinct()
      val kept = committedKept(spark, tablePrefix, v, token, Some(namedSuper))
      // touched = LIVE vertices whose LATEST kept list names ANY tombstoned
      // id — the full set, not just this call's: a crashed prior delete
      // left its vertices un-repaired and this pass self-heals them
      val touched = cps(kept
        .join(broadcast(del.select(col("id").as("nb"))), Seq("nb"),
          "left_semi")
        .select(col("v"))
        .join(broadcast(del.select(col("id").as("v"))), Seq("v"), "left_anti")
        .distinct())
      val vecsLive = liveRows(spark, tablePrefix, "vecs", token)
        .dropDuplicates("id")
      // the live count is RE-DERIVED, not decremented: a partially-replayed
      // delete batch would double-decrement ids already subtracted by the
      // crashed attempt's committed meta row
      val nLive = vecsLive.count()
      // pure replay — every id already tombstoned, every repair committed,
      // and the committed count already right (the last clause closes the
      // crash window where a prior attempt wrote tombstones that needed no
      // repair but died before its meta commit)
      if (!grew && touched.isEmpty && nLive == m.getAs[Long]("n_vecs")) return
      // re-probe the touched vertices' bands against the live store —
      // their FULL candidate set at the frozen (tbl, bucket, sub) layout
      // (top-k needs what the dead neighbor crowded out, which the kept
      // state no longer holds)
      val bandsLive = liveRows(spark, tablePrefix, "bands", token)
      val tb = bandsLive.join(touched.withColumnRenamed("v", "id"), Seq("id"))
      val cand = tb
        .select(col("tbl"), col("bucket"), col("sub"), col("id").as("v"))
        .join(bandsLive.select(col("tbl"), col("bucket"), col("sub"),
            col("id").as("nb")),
          Seq("tbl", "bucket", "sub"))
        .filter(col("v") =!= col("nb"))
        .select(col("v"), col("nb")).distinct()
      import graft.functions.VectorExpressions.dotF
      val va = vecsLive.select(col("id").as("v"), col("vec").as("va"),
        col("nrm").as("na"))
      val vb = vecsLive.select(col("id").as("nb"), col("vec").as("vb"),
        col("nrm").as("nb_n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("cos").desc, col("nb"))
      val next = v + 1L
      val reRanked = cand.join(va, Seq("v")).join(vb, Seq("nb"))
        .select(col("v"), col("nb"),
          (dotF(col("va"), col("vb")) / (col("na") * col("nb_n"))).as("cos"))
        .filter(col("cos") >= lit(minCos))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= kTop)
        .select(col("v"), col("nb"), col("cos"))
      // a touched vertex whose every candidate died gets an EMPTY-LIST
      // MARKER (nb = v — a value no real list can hold): under the
      // delta-versioned layout its stale rows stay on disk, and without a
      // newer version stamp they would keep serving
      val markers = touched.join(reRanked.select(col("v")), Seq("v"),
          "left_anti")
        .select(col("v"), col("v").as("nb"),
          lit(0.0).cast("double").as("cos"))
      // TOUCHED-SIZED kept delta (dead vertices' stale rows stay — the
      // serve-time endpoint anti-joins hide them and compact removes them
      // physically), materialized before the self-referential insert
      val keptAppend = cps(reRanked.unionByName(markers)
        .withColumn("kver", lit(next)))
      keptAppend.select(col("v"), col("nb"), col("cos"), col("kver"))
        .write.insertInto(s"${tablePrefix}_kept")
      // a delete epoch's id is salted so it can never alias a data epoch of
      // the same id set; no _vecs/_bands row carries it, so the committed
      // view's semi-join simply never matches it
      val delEpoch = epochIdOf(
        del.select(concat(lit("del|"), col("id").cast("string")).as("id")))
      import spark.implicits._
      Seq((knnIndexFormatVersion, m.getAs[String]("corpus_tag"), planes,
        kTop, minCos, m.getAs[Int]("n_tables"), m.getAs[Int]("dim"),
        m.getAs[Int]("buckets"), next, delEpoch, nLive,
        m.getAs[Long]("target_occupancy"), m.getAs[Long]("split_occupancy")))
        .toDF(knnMetaCols: _*)
        .write.mode("append").saveAsTable(s"${tablePrefix}_meta")
    } finally cps.freeAll()
  }

  /** COMPACT the persisted kNN index: physically rewrite `_vecs`/`_bands`
    * minus every tombstoned id (epoch stamps preserved — committed-epoch
    * visibility survives the rewrite), collapse `_kept` to the committed
    * live view (stale delta versions, empty-list markers, and dead
    * vertices' rows all drop — the X219 cadence is where the
    * delta-versioned layout pays its accumulated rent), and empty
    * `_deleted`, making tombstoned ids APPENDABLE again. Corpus-sized I/O
    * by design — run it when the tombstone set has grown, not per delete.
    * Crash order: `_vecs`/`_bands`/`_kept` rewrites, `_deleted` clears,
    * and the meta append lands LAST (its version bump is what tells a
    * GATED cross-session reader the part-files moved), so a crash at any
    * table boundary leaves tombstones in force and same-session reads
    * stay correct; each rewrite itself is destructive-first (the
    * [[compactBandedIndex]] contract — a crash mid-rewrite means rebuild
    * via ensure under a new tag).
    */
  def compactKnnIndex(tablePrefix: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = knnMetaHead(spark, tablePrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed kNN index under '$tablePrefix' — run ensureKnnIndex"))
    val token = knnToken(m)
    val v = m.getAs[Long]("version")
    val buckets = m.getAs[Int]("buckets")
    val deleted = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
    if (deleted.isEmpty) return
    val cps = new CacheScope.Checkpoints
    try {
      import graft.sources.Bucketing
      val vecsKeep = cps(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_vecs")
        .join(broadcast(deleted), Seq("id"), "left_anti")
        .select(col("id"), col("vec"), col("nrm"), col("epoch")))
      val bandsKeep = cps(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
        .join(broadcast(deleted), Seq("id"), "left_anti")
        .select(col("id"), col("tbl"), col("bucket"), col("sub"), col("epoch")))
      // the committed live kept view collapsed to one physical version (the
      // delete protocol already repaired every live list naming a dead id,
      // so dropping dead-v rows is the only filter left)
      val keptKeep = cps(committedKept(spark, tablePrefix, v, token)
        .join(broadcast(deleted.select(col("id").as("v"))), Seq("v"),
          "left_anti")
        .withColumn("kver", lit(v))
        .select(col("v"), col("nb"), col("cos"), col("kver")))
      Bucketing.writeBucketed(vecsKeep, s"${tablePrefix}_vecs", Seq("id"),
        buckets)
      Bucketing.writeBucketed(bandsKeep, s"${tablePrefix}_bands",
        Seq("bucket"), buckets)
      Bucketing.writeBucketed(keptKeep, s"${tablePrefix}_kept", Seq("v"),
        buckets)
      import spark.implicits._
      Bucketing.saveTable(
        spark.emptyDataset[Long].toDF("id"), s"${tablePrefix}_deleted")
      // commit: the version bump is the signal that moves every gated
      // reader's token past its cached (pre-rewrite) file listings. The
      // salted epoch matches no data row, so committed-epoch visibility of
      // the preserved stamps is unchanged
      val compactEpoch = epochIdOf(
        Seq(s"compact|$v").toDF("id"))
      Seq((knnIndexFormatVersion, m.getAs[String]("corpus_tag"),
        m.getAs[Int]("planes"), m.getAs[Int]("ktop"),
        m.getAs[Double]("min_cos"), m.getAs[Int]("n_tables"),
        m.getAs[Int]("dim"), buckets, v + 1L, compactEpoch,
        m.getAs[Long]("n_vecs"), m.getAs[Long]("target_occupancy"),
        m.getAs[Long]("split_occupancy")))
        .toDF(knnMetaCols: _*)
        .write.mode("append").saveAsTable(s"${tablePrefix}_meta")
    } finally cps.freeAll()
  }

  /** One-row OPERATING-POINT status of a persisted kNN index — the
    * outgrowth surface an operator dashboards: the committed (version,
    * corpus count, frozen planes) from meta beside `autoPlanes(count)` at
    * the stamped target occupancy and their drift. Drift 0–1 is healthy;
    * [[maintainKnnIndex]] refuses past its `maxPlaneDrift` (default 1),
    * so a drift-1 reading is the re-ensure-soon signal BEFORE ingest
    * starts failing. `split_cells` surfaces how much of the corpus's
    * skew tail the frozen layout is splitting. Meta- and cells-sized
    * reads only — no corpus scan.
    */
  def knnIndexStatus(spark: org.apache.spark.sql.SparkSession,
                     tablePrefix: String): DataFrame = {
    val m = knnMetaHead(spark, tablePrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed kNN index under '$tablePrefix' — run ensureKnnIndex"))
    val planes = m.getAs[Int]("planes")
    val n = m.getAs[Long]("n_vecs")
    val auto = autoPlanes(n, m.getAs[Long]("target_occupancy"))
    val splitCells = graft.sources.Bucketing.freshTableGated(spark,
      s"${tablePrefix}_cells", knnToken(m)).count()
    import spark.implicits._
    Seq((m.getAs[Long]("version"), n, planes, auto, auto - planes,
      splitCells))
      .toDF("version", "n_vecs", "frozen_planes", "auto_planes", "drift",
        "split_cells")
  }

  /** SRP OPERATING-POINT health audit — the number an operator owner reads
    * BEFORE committing a corpus to a banding run: at the [[autoPlanes]]
    * point for this corpus, the real bucket-occupancy distribution and the
    * EXACT banded-join candidate volume Σ c·(c−1)/2 over occupied
    * (tbl, bucket) cells (the pre-dedup row count of the candidate
    * self-join — the quantity the operating point exists to control).
    * `skewed` flags max occupancy > skewFactor × targetOccupancy: the
    * expected-occupancy rule assumes ~uniform buckets, and correlated
    * embeddings concentrate (measured at 100×: mean 37 vs target 16, max
    * 357 — SCALE_NOTES round-12); a flagged corpus wants a hot-bucket cap
    * on the audit tier or a plane-count bump before the full run. All
    * outputs are exact integers (counts, integer division, shifts) — the
    * SQL oracle replays every number including the flag.
    *
    * Scale shape: one banding pass (map-only projections) + one
    * (tbl, bucket) count shuffle + one scalar rollup — never builds the
    * candidate pairs it prices.
    */
  def srpOccupancyAudit(df: DataFrame, nTables: Int = 6, dim: Int = 64,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        targetOccupancy: Long = 8L,
                        skewFactor: Long = 8L): DataFrame = {
    val n = df.count()
    val planes = autoPlanes(n, targetOccupancy)
    val bands = bandStrided(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      planes, nTables, dim)
    bands.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_occupancy"),
        // c·(c−1) is even — the shift is the exact integer halving
        sum(shiftright(col("c") * (col("c") - lit(1)), 1))
          .as("cand_pairs_bound"))
      .select(lit(n).as("n_vecs"), lit(planes.toLong).as("planes"),
        col("n_buckets"), col("max_occupancy"),
        expr(s"CAST(${1000000L * n * nTables} DIV n_buckets AS BIGINT)")
          .as("mean_occ_micro"),
        col("cand_pairs_bound"),
        (col("max_occupancy") > lit(skewFactor * targetOccupancy))
          .as("skewed"))
  }

  /** Symmetric int8 quantization of an embedding column — the compression
    * step before shipping vectors to an ANN index (4× smaller, dot products
    * in integer SIMD on real hardware). Per vector: `scale = 127 / max|v|`,
    * `q_i = floor(v_i · scale)` (floor, not round-half-even: floor is
    * identical across engines, so the quantized values are oracle-exact).
    * Zero vectors quantize to all zeros. Emits per-vector audit columns
    * (mx, q_sum, q_l1) rather than the raw array so downstream compares
    * stay scalar; [[dequantizeError]]-style checks live in the tests.
    *
    * Map-only: per-row HOF transforms, no shuffle — scan-speed at any
    * corpus size.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(0.0))
    df.select(col(idCol), vd.as("v"), mx.as("mx"))
      .withColumn("q", transform(col("v"), x => floor(x * scale).cast("int")))
      .select(col(idCol), col("mx"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"))
  }

  /** Fully distributed IVF (inverted-file) ANN: a KMeans coarse quantizer
    * assigns every corpus vector to a cell; each query probes its `nProbe`
    * nearest centroids and exact-reranks only those cells' members. The
    * inverted file NEVER touches the driver — only the fitted centroids (a model, nCells·dim doubles) are broadcast. Cell
    * membership stays a DataFrame keyed by `cell`; each query explodes to
    * its `nProbe` nearest cells and the probe ⋈ member join shuffles on the
    * cell key, followed by a codegen'd cosine rerank and a partitioned
    * top-k. This is the shape that holds past 10^6 vectors: the index is a
    * (bucketed) table, the probe join replaces the broadcast map, and
    * scoring work is n · nProbe/nCells of the corpus per query.
    */
  def ivfTopKDistributed(df: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4,
                         seed: Long = 4667979835606274383L,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         scope: CacheScope = CacheScope.default): DataFrame = {
    import df.sparkSession.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = scope.register(df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("fv", array_to_vector(col("v").cast("array<double>"))))
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(20)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val model = km.fit(vecs)
    val centers = model.clusterCenters.map(_.toArray)
    val members = model.transform(vecs)
      .select(col("cell"), col("id").as("neighbor_id"), col("v").as("cv"))
    val bcCenters = df.sparkSession.sparkContext.broadcast(centers)
    // (query_id, cell) probe list: nProbe nearest centroids per query —
    // centroid distances are model-sized work, computed executor-side
    val probes = vecs.select(col("id"), col("v")).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cents = bcCenters.value
        rows.flatMap { case (qid, qv) =>
          val dists = cents.zipWithIndex.map { case (c, ci) =>
            var s = 0.0; var j = 0
            while (j < qv.length) { val d = qv(j) - c(j); s += d * d; j += 1 }
            (s, ci)
          }
          dists.sortBy(_._1).take(nProbe).iterator.map { case (_, ci) => (qid, ci) }
        }
      }.toDF("query_id", "cell")
    val q = vecs.select(col("id").as("query_id"), col("v").as("qv"))
    val scored = probes.join(q, Seq("query_id"))
      .join(members, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineF(col("qv"), col("cv")).as("cos"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn").as("rank"))
  }

  /** BUILD the persisted IVF index behind [[ivfTopKPersisted]]: fit the
    * KMeans coarse quantizer once, then materialize
    *
    *   - `<prefix>_cells` (cell, neighbor_id, cv), BUCKETED by `cell` — the
    *     inverted file as a table; every later probe joins on exactly the
    *     bucket column, so the corpus side is scanned with ZERO exchange
    *     (asserted in PlanSpec), and
    *   - `<prefix>_centroids` (cell, center) — the model, nCells rows.
    *
    * This is the index-once / probe-many lifecycle: ingests and query
    * batches pay probe-side work only; the corpus never re-shuffles.
    * Also written: `<prefix>_meta` (params + corpus tag + fmt, LAST — a
    * torn build fails [[ensureIvfIndex]]'s stamp check) and an empty
    * `<prefix>_deleted` tombstone table ([[deleteFromIvfIndex]] /
    * [[compactIvfIndex]] / [[maintainIvfIndexFromDiff]]).
    */
  def writeIvfIndex(df: DataFrame, tablePrefix: String, nCells: Int = 16,
                    seed: Long = 4667979835606274383L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    buckets: Int = 8, corpusTag: String = "",
                    scope: CacheScope = CacheScope.default): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = scope.register(df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("fv", array_to_vector(col("v").cast("array<double>"))))
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(20)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val model = km.fit(vecs)
    val members = model.transform(vecs)
      .select(col("cell"), col("id").as("neighbor_id"), col("v").as("cv"))
    graft.sources.Bucketing.writeBucketed(members, s"${tablePrefix}_cells",
      Seq("cell"), buckets)
    graft.sources.Bucketing.saveTable(
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray) }.toSeq
        .toDF("cell", "center"),
      s"${tablePrefix}_centroids")
    graft.sources.Bucketing.saveTable(
      Seq.empty[Long].toDF("id"), s"${tablePrefix}_deleted")
    graft.sources.Bucketing.saveTable(
      Seq((nCells, seed, buckets, corpusTag, ivfIndexFormatVersion))
        .toDF("n_cells", "seed", "buckets", "corpus_tag", "fmt"),
      s"${tablePrefix}_meta")
  }

  /** CORPUS-WIDE semantic near-dup pairs served FROM the persisted IVF
    * index — the embedding twin of
    * [[graft.ops.DedupOps.corpusPairsFromIndex]]: `_cells` self-joins on
    * its own bucket column (zero exchange — both sides the same bucketed
    * table), in-cell pairs verify with the exact shared cosine, done. The
    * blocking is the index's own cell assignment, so the recall contract
    * is IVF's: pairs split across cells are missed, exactly the trade the
    * quantizer already made for probes — [[ivfDriftReport]] is the signal
    * to retrain when that trade degrades.
    */
  /** The LIVE (non-tombstoned) members of a persisted index's cells
    * table: the bucketed scan anti-joined against the broadcast
    * churn-sized `_deleted` set. The bucket layout — and with it every
    * exchange-free probe plan — survives a broadcast anti-join, so
    * logical deletes cost batch-scaled work on every read path until
    * [[compactIvfIndex]] amortizes them away physically. */
  private[graft] def liveCells(spark: org.apache.spark.sql.SparkSession,
                               tablePrefix: String, memberId: String): DataFrame =
    graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_cells").join(
      broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
        .withColumnRenamed("id", memberId)),
      Seq(memberId), "left_anti")

  def semanticPairsFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                                tablePrefix: String,
                                minCos: Double = 0.9): DataFrame = {
    import graft.functions.VectorExpressions.dotF
    val cells = liveCells(spark, tablePrefix, "neighbor_id")
    // norms once per ROW before the join (bruteForceTopK's lemma: the
    // same expression evaluated once is bit-identical and drops the
    // per-pair work to one dot + one divide)
    val l = cells.select(col("cell"), col("neighbor_id").as("a"),
      col("cv").as("av"), sqrt(dotF(col("cv"), col("cv"))).as("an"))
    val r = cells.select(col("cell"), col("neighbor_id").as("b"),
      col("cv").as("bv"), sqrt(dotF(col("cv"), col("cv"))).as("bn"))
    l.join(r, Seq("cell")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dotF(col("av"), col("bv")) / (col("an") * col("bn"))).as("cos"))
      .filter(col("cos") >= lit(minCos))
  }

  /** Semantic near-dup CLUSTERS from the persisted IVF index: connected
    * components over [[semanticPairsFromIvfIndex]]'s edges with the
    * index's member ids as vertices — the full semantic-dedup pass of a
    * growing embedding store without re-clustering or re-shuffling it.
    */
  def semanticClustersFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                                   tablePrefix: String,
                                   minCos: Double = 0.9,
                                   idCol: String = "vec_id"): DataFrame = {
    val vertices = liveCells(spark, tablePrefix, "neighbor_id")
      .select(col("neighbor_id").as(idCol))
    GraphOps.connectedComponents(
      semanticPairsFromIvfIndex(spark, tablePrefix, minCos), vertices, idCol)
  }

  /** Stamped into the IVF meta row, re-checked by [[ensureIvfIndex]]: bump
    * when the quantizer/layout conventions change so stale-code indexes
    * rebuild instead of silently serving (see
    * [[graft.ops.DedupOps.bandedIndexFormatVersion]]).
    * v2: added the `buckets` meta column.
    * v3: added the `_deleted` tombstone table (delete lifecycle).
    */
  val ivfIndexFormatVersion: Int = 3

  /** Build the IVF index ONLY IF the persisted one is stale — the ANN twin
    * of [[graft.ops.DedupOps.ensureBandedIndex]]: a no-op when the three
    * tables exist and the meta row matches `corpusTag` (the caller's
    * statement of corpus identity) and the quantizer parameters; otherwise
    * a full rebuild, which the session-idempotent writes make safe over any
    * leftover warehouse state.
    */
  def ensureIvfIndex(df: DataFrame, tablePrefix: String, corpusTag: String,
                     nCells: Int = 16, seed: Long = 4667979835606274383L,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     buckets: Int = 8,
                     scope: CacheScope = CacheScope.default): Unit = {
    val spark = df.sparkSession
    val upToDate = try {
      Seq("cells", "centroids", "meta", "deleted")
        .forall(s => spark.catalog.tableExists(s"${tablePrefix}_$s")) && {
        val m = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
        m.schema.fieldNames.contains("fmt") &&
          m.getAs[Int]("fmt") == ivfIndexFormatVersion &&
          m.getAs[String]("corpus_tag") == corpusTag &&
          m.getAs[Int]("n_cells") == nCells && m.getAs[Long]("seed") == seed &&
          m.getAs[Int]("buckets") == buckets
      }
    } catch { case _: Exception => false }
    if (!upToDate)
      writeIvfIndex(df, tablePrefix, nCells, seed, idCol, vecCol, buckets,
        corpusTag, scope)
  }

  /** APPEND a batch of vectors into the persisted IVF index — the ANN twin
    * of [[graft.ops.DedupOps.appendToBandedIndex]]: new vectors are
    * assigned to their nearest EXISTING centroid (the quantizer stays
    * frozen — nCells rows read driver-side, broadcast, compiled
    * distance loop per batch row) and `insertInto` the bucketed cells
    * table, so the corpus files never rewrite and later probes scan old and
    * new members of a cell together, still exchange-free. Tombstoned ids
    * and ids already in the index skip ([[ivfAdmitted]]), so a replayed
    * batch is a no-op; that check adds one pruned scan of the `_cells` id
    * column, semi-joined against the broadcast batch ids.
    *
    * Honest limit: a frozen quantizer degrades as the ingested distribution
    * drifts from the one the centroids were fit on — cells imbalance and
    * partial-probe recall drops. Appends exchange and write only
    * |batch|-sized data (plus the id-column scan above);
    * schedule a rebuild ([[writeIvfIndex]] / [[ensureIvfIndex]] with a new
    * tag) when drift matters, exactly like a FAISS IVF retrain.
    */
  def appendToIvfIndex(batch: DataFrame, tablePrefix: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centers: Array[Array[Double]] = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_centroids")
      .orderBy(col("cell"))
      .collect().map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
    val bcCenters = spark.sparkContext.broadcast(centers)
    val admitted = ivfAdmitted(batch, tablePrefix, "neighbor_id", idCol, vecCol)
    val assigned = admitted
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<float>").as("cv"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cents = bcCenters.value
        rows.map { case (id, v) =>
          var best = 0; var bestD = Double.MaxValue; var ci = 0
          while (ci < cents.length) {
            val c = cents(ci)
            var s = 0.0; var j = 0
            while (j < v.length) { val d = v(j) - c(j); s += d * d; j += 1 }
            if (s < bestD) { bestD = s; best = ci }
            ci += 1
          }
          (best, id, v)
        }
      }.toDF("cell", "neighbor_id", "cv")
    try assigned.write.insertInto(s"${tablePrefix}_cells")
    finally CacheScope.freeCheckpoint(admitted)
  }

  /** The rows of `batch` an IVF or IVF-PQ append may insert, as
    * (`idCol`, `vecCol`):
    *   - an id with a standing tombstone skips until a [[compactIvfIndex]]:
    *     its stale `_cells` rows would resurface the moment the tombstone
    *     lifted (the banded-index append contract);
    *   - an id already in `_cells` skips, so a replayed batch inserts
    *     nothing twice. The `_cells` member-id column (`memberId`) is
    *     semi-joined against the broadcast batch ids, so only the
    *     batch-sized set of present ids is anti-joined: one pruned scan and
    *     no shuffle exchange, whatever the corpus size.
    * `batch` is evaluated ONCE: its tombstone-filtered (`idCol`, `vecCol`)
    * projection is checkpointed, and both the broadcast ids and the
    * admitted rows read that checkpoint. The result is an EAGER local
    * checkpoint too (the banded append's rule): the plan reads `_cells`,
    * which the caller's insert mutates. The caller frees it with
    * [[CacheScope.freeCheckpoint]] once the insert is done.
    */
  private def ivfAdmitted(batch: DataFrame, tablePrefix: String, memberId: String,
                          idCol: String, vecCol: String): DataFrame = {
    val spark = batch.sparkSession
    val dels = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
      .select(col("id").as("skip_id"))
    val live = batch.join(broadcast(dels), col(idCol).cast("long") === col("skip_id"),
        "left_anti")
      .select(col(idCol), col(vecCol))
      .localCheckpoint(eager = true)
    try {
      val present = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_cells")
        .select(col(memberId).as("skip_id"))
        .join(broadcast(live.select(col(idCol).cast("long").as("batch_id"))),
          col("skip_id") === col("batch_id"), "left_semi")
      live.join(broadcast(present), col(idCol).cast("long") === col("skip_id"), "left_anti")
        .localCheckpoint(eager = true)
    } finally CacheScope.freeCheckpoint(live)
  }

  /** LOGICAL delete from a persisted IVF or IVF-PQ index — the embedding
    * twin of [[graft.ops.DedupOps.deleteFromBandedIndex]] (both index
    * kinds share the `_deleted` (id) tombstone-table shape, so one entry
    * point serves both): ids merge into the churn-sized tombstone table;
    * every probe, report and corpus self-join anti-joins members against
    * its broadcast — batch-scaled work, the corpus files never rewrite —
    * and the appends skip tombstoned ids until a compact (their stale
    * cells rows would resurface the moment the tombstone lifted).
    * Physical removal is [[compactIvfIndex]]'s amortized job. Idempotent:
    * re-deleting an id is a no-op. A crash mid-replace loses tombstones —
    * the delete feed must be replayable (re-run the delta), the banded
    * index's contract.
    *
    * Without this, a crawl delta that REMOVES documents leaves their
    * embeddings serving: [[semanticPairsFromIvfIndex]] and every probe
    * would keep matching deleted content.
    */
  def deleteFromIvfIndex(ids: DataFrame, tablePrefix: String,
                         idCol: String = "vec_id"): Unit = {
    val spark = ids.sparkSession
    val merged = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
      .unionByName(ids.select(col(idCol).cast("long").as("id")))
      .distinct()
      .localCheckpoint(true)
    try graft.sources.Bucketing.saveTable(merged, s"${tablePrefix}_deleted")
    finally CacheScope.freeCheckpoint(merged)
  }

  /** COMPACT a persisted IVF or IVF-PQ index: physically rewrite `_cells`
    * minus every tombstoned id in the SAME bucketed-by-cell layout
    * (exchange-free probes survive — BucketingSpec asserts) and empty
    * `_deleted` — the amortized corpus-sized rewrite that keeps probe-side
    * anti-joins small and makes tombstoned ids APPENDABLE again. Handles
    * both cells schemas (IVF's `neighbor_id` vector rows, IVF-PQ's
    * `vec_id` code rows). Crash order: `_cells` rewrites FIRST and
    * `_deleted` clears LAST, so a crash BETWEEN the two leaves tombstones
    * in force over already-removed rows (an anti-join that removes
    * nothing) — probes stay correct across that window. The rewrite
    * itself is NOT crash-atomic: [[graft.sources.Bucketing.writeBucketed]]
    * is destructive-first (drop, then write — see its docstring for why a
    * rename swap isn't available to bucketed catalog tables), so a crash
    * mid-rewrite leaves no `_cells` table and the index must be rebuilt
    * from the corpus via the ensure path. An operation that cannot afford
    * that window compacts under a FRESH prefix and repoints consumers —
    * the corpus of record, not the index, is the durable store either way.
    */
  def compactIvfIndex(tablePrefix: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val buckets = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
      .getAs[Int]("buckets")
    val deleted = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
    if (!deleted.isEmpty) {
      val cells = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_cells")
      val memberId =
        if (cells.columns.contains("neighbor_id")) "neighbor_id" else "vec_id"
      // canonical column order preserved: anti-join keeps the left side's
      // columns, and later appends insertInto POSITIONALLY
      val keep = cells
        .join(broadcast(deleted.withColumnRenamed("id", memberId)),
          Seq(memberId), "left_anti")
        .select(cells.columns.map(col): _*)
        .localCheckpoint(true)
      try graft.sources.Bucketing.writeBucketed(keep, s"${tablePrefix}_cells",
        Seq("cell"), buckets)
      finally CacheScope.freeCheckpoint(keep)
      graft.sources.Bucketing.saveTable(
        Seq.empty[Long].toDF("id"), s"${tablePrefix}_deleted")
    }
  }

  /** Restamp a meta row's corpus tag in place (every other field and the
    * format stamp carry over) — the maintenance paths' way of recording
    * "this index now reflects snapshot X" without a rebuild.
    * SCHEMA-GENERIC (works for the IVF and IVF-PQ meta shapes alike): the
    * row is rewritten column-for-column with only `corpus_tag` replaced,
    * materialized (localCheckpoint) before [[graft.sources.Bucketing.saveTable]]
    * drops the table it was read from.
    */
  private def restampIvfTag(spark: org.apache.spark.sql.SparkSession,
                            tablePrefix: String, tag: String): Unit = {
    val updated = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta")
      .withColumn("corpus_tag", lit(tag))
      .localCheckpoint(true)
    try graft.sources.Bucketing.saveTable(updated, s"${tablePrefix}_meta")
    finally CacheScope.freeCheckpoint(updated)
  }

  /** The shared tombstone → conditional-compact → append → restamp
    * composition behind [[maintainIvfIndexFromDiff]] and
    * [[maintainIvfPqIndexFromDiff]] — ONE body, so a lifecycle change
    * (the compact trigger, a crash-order fix) cannot silently drift
    * between the full-vector and compressed tiers; only the append step
    * differs and is passed in.
    *
    * CRASH WINDOW, stated here because this body owns the ordering: a
    * crash between [[compactIvfIndex]] (which clears the tombstone table)
    * and `append(fresh)` leaves changed/re-added vectors physically
    * absent with NO tombstone recording them — the index is then a clean
    * but STALE snapshot (pre-delta for those ids), indistinguishable
    * from never having started the maintenance. Recovery rule: RE-RUN
    * THE SAME DELTA. Every step is idempotent against a partially
    * applied state (tombstoning absent ids is a no-op, the compact of an
    * empty tombstone table is a no-op, the append's anti-join skips ids
    * already present), and the restamp runs LAST — so the corpus tag
    * only ever advertises a fully folded delta, and an un-restamped
    * index tells the operator which delta to replay.
    */
  private def maintainIvfTierFromDiff(newSnapshot: DataFrame, diff: DataFrame,
                                      tablePrefix: String, idCol: String,
                                      append: DataFrame => Unit,
                                      newCorpusTag: String): Unit = {
    val spark = newSnapshot.sparkSession
    val gone = diff.filter(col("status").isin("removed", "changed"))
      .select(col(idCol))
    if (!gone.isEmpty) deleteFromIvfIndex(gone, tablePrefix, idCol)
    // materialized once: the tombstone check, the emptiness check and the
    // append's admission step each read it
    val fresh = newSnapshot.join(
      diff.filter(col("status").isin("added", "changed")).select(col(idCol)),
      Seq(idCol), "left_semi")
      .localCheckpoint(eager = true)
    try {
      // a fresh id with a STANDING tombstone (changed now, or re-added after
      // a removals-only cycle) forces the compact — the append's anti-join
      // would otherwise silently drop it
      val appendingTombstoned = fresh.select(col(idCol).cast("long").as("id"))
        .join(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted"), Seq("id"), "left_semi")
      if (!appendingTombstoned.isEmpty) compactIvfIndex(tablePrefix)
      if (!fresh.isEmpty) append(fresh)
    } finally CacheScope.freeCheckpoint(fresh)
    if (newCorpusTag.nonEmpty) restampIvfTag(spark, tablePrefix, newCorpusTag)
  }

  /** Fold a [[graft.ops.RelationalOps.snapshotDiff]] delta into a
    * persisted IVF index — the embedding mirror of
    * [[graft.ops.DedupOps.maintainBandedIndexFromDiff]], closing the
    * incremental-crawl loop for the ANN tier: `removed` and `changed` ids
    * tombstone out; the index COMPACTS whenever an id about to append is
    * tombstoned (`changed` ids from this delta, but also ids re-ADDED
    * after an earlier removals-only cycle left their tombstone standing —
    * without the compact the append's anti-join would silently drop them);
    * then `added` + `changed` vectors append under the FROZEN quantizer.
    * With exhaustive probes (nProbe = nCells) the maintained index answers
    * exactly as one rebuilt from the new snapshot — results are then
    * centroid-independent — and at partial probe it matches a frozen-
    * quantizer rebuild (BucketingSpec asserts the composed maintenance
    * against a fresh build). Crash mid-maintenance: replay the same
    * delta — see the crash-window note on [[maintainIvfTierFromDiff]].
    */
  def maintainIvfIndexFromDiff(newSnapshot: DataFrame, diff: DataFrame,
                               tablePrefix: String,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               newCorpusTag: String = ""): Unit =
    maintainIvfTierFromDiff(newSnapshot, diff, tablePrefix, idCol,
      fresh => appendToIvfIndex(fresh, tablePrefix, idCol, vecCol),
      newCorpusTag)

  /** Per-cell DRIFT report for a persisted IVF index — the visibility half
    * of the frozen-quantizer caveat on [[appendToIvfIndex]]: appends assign
    * new vectors to centroids fit on an older distribution, so drift shows
    * up as (a) cell-size skew — drifted vectors funnel into whichever cells
    * happen to be nearest — and (b) rising cosine residual (1 - cos of a
    * member against its own centroid). One row per cell: `cell`,
    * `n_members`, `mean_residual`, `share` (fraction of all members).
    *
    * Scale shape: the cells table is scanned through its bucketed layout,
    * the centroids table (nCells rows) broadcast-joins on, and the per-cell
    * aggregation runs on the bucket key — no corpus exchange, nothing
    * driver-side.
    */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession,
                     tablePrefix: String): DataFrame = {
    val cells = liveCells(spark, tablePrefix, "neighbor_id")
    val cents = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_centroids")
      .select(col("cell"), col("center").cast("array<float>").as("ctr"))
    val total = cells.agg(count(lit(1)).cast("double").as("n_total"))
    cells.join(broadcast(cents), Seq("cell"))
      .select(col("cell"), (lit(1.0) - cosineF(col("cv"), col("ctr"))).as("res"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), avg(col("res")).as("mean_residual"))
      .crossJoin(broadcast(total))
      .select(col("cell"), col("n_members"), col("mean_residual"),
        (col("n_members") / col("n_total")).as("share"))
  }

  /** One-row retrain recommendation from [[ivfDriftReport]]: flags when the
    * largest cell holds more than `maxShareFactor` times its fair share
    * (1/nCells) of the corpus, or when the member-weighted mean residual
    * exceeds `maxMeanResidual`. Both thresholds are documented knobs, not
    * learned — the report exists so an operator can schedule
    * [[ensureIvfIndex]] with a new tag (a retrain) on evidence instead of
    * on a timer, closing the FAISS-style lifecycle loop.
    */
  def ivfDriftSummary(spark: org.apache.spark.sql.SparkSession,
                      tablePrefix: String,
                      maxShareFactor: Double = 4.0,
                      maxMeanResidual: Double = 0.5): DataFrame = {
    val nCells = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head().getAs[Int]("n_cells")
    ivfDriftReport(spark, tablePrefix)
      .agg(count(lit(1)).as("n_live_cells"),
        sum(col("n_members")).as("n_vectors"),
        max(col("share")).as("max_cell_share"),
        (sum(col("mean_residual") * col("n_members")) / sum(col("n_members")))
          .as("mean_residual"))
      .select(col("n_live_cells"), col("n_vectors"), col("max_cell_share"),
        col("mean_residual"),
        (col("max_cell_share") * lit(nCells) > lit(maxShareFactor) ||
          col("mean_residual") > lit(maxMeanResidual))
          .as("retrain_recommended"))
  }

  /** ANN top-k for a `queries` frame against the PERSISTED IVF index
    * [[writeIvfIndex]] built: centroids load driver-side (a model — nCells
    * rows), each query probes its `nProbe` nearest cells, and the probe ⋈
    * members join runs on the bucket key with ZERO corpus-side exchange.
    * Same probe semantics and rerank as [[ivfTopKDistributed]]; queries
    * need not be corpus members (self-matches are excluded by id by
    * default; pass `excludeSelf = false` when an id-match IS the answer —
    * the ingest dedup probe wants a replayed vector to find its own first
    * copy).
    */
  def ivfTopKPersisted(queries: DataFrame, tablePrefix: String, k: Int,
                       nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centers: Array[Array[Double]] = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_centroids")
      .orderBy(col("cell"))
      .collect().map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
    val members = liveCells(spark, tablePrefix, "neighbor_id")
    val bcCenters = spark.sparkContext.broadcast(centers)
    val probes = queries
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cents = bcCenters.value
        rows.flatMap { case (qid, qv) =>
          val dists = cents.zipWithIndex.map { case (c, ci) =>
            var s = 0.0; var j = 0
            while (j < qv.length) { val d = qv(j) - c(j); s += d * d; j += 1 }
            (s, ci)
          }
          dists.sortBy(_._1).take(nProbe).iterator.map { case (_, ci) => (qid, ci) }
        }
      }.toDF("query_id", "cell")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<float>").as("qv"))
    val joined = probes.join(q, Seq("query_id"))
      .join(members, Seq("cell"))
    val scored = (if (excludeSelf)
        joined.filter(col("query_id") =!= col("neighbor_id"))
      else joined)
      .select(col("query_id"), col("neighbor_id"),
        cosineF(col("qv"), col("cv")).as("cos"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn").as("rank"))
  }

  /** SemDeDup (Abbas et al. 2023) — cluster-blocked SEMANTIC dedup over
    * embeddings: vectors route to deterministic integer-lattice KMeans
    * cells ([[pqTrainCodebook]] with one subspace — the X111 coarse
    * quantizer, so training and assignment are exact integers the oracle
    * replays), and near-duplicate comparisons happen ONLY within a cell.
    * A vector is dropped when some same-cell neighbor exceeds `minCos`
    * exact cosine and outranks it under the paper's keeper rule — keep
    * the member FARTHEST from its centroid (lowest centroid similarity =
    * most informative); the rank key is the exact integer L2 to the own
    * cell centroid with an id tiebreak, so the survivor set is a total-
    * order fact, not a traversal artifact. Output per vector: (idCol,
    * cell, l2_centroid, kept 0/1).
    *
    * [[srpNearDupPairs]] buckets by random hyperplanes (recall traded per
    * band); SemDeDup's cells are the trained data partition itself — the
    * form that scales by RAISING nCells (cells ~ √corpus keeps cell
    * populations, and thus the within-cell quadratic term, flat).
    *
    * Scale shape: training/assignment are the PQ lifecycle's shapes
    * (model-sized collects, map-only routing vs broadcast literals); the
    * only corpus-scale exchange is the (cell) self-join, quadratic ONLY
    * within cells by construction. The exists-better-neighbor semi-join
    * collapses to a distinct victim set before the output join.
    */
  def semDedup(df: DataFrame, nCells: Int = 8, minCos: Double = 0.95,
               iters: Int = 2, idCol: String = "vec_id",
               vecCol: String = "embedding",
               scope: CacheScope = CacheScope.default): DataFrame = {
    val (scale, cb) = pqTrainCodebook(df, 1, nCells, iters, idCol, vecCol, scope)
    val qvE = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("int"))
    // the assignment minimum IS the distance to the own centroid (the q119
    // lemma): one distance array against the codebook literals gives cell
    // (first-minimum position — lowest cell on ties, pqCode's rule) AND
    // the keeper key, with no per-cell CASE re-deriving the assignment
    val base = scope.register(
      df.select(col(idCol).as("id"), col(vecCol).as("v"), qvE.as("qvv"))
        .withColumn("ds", array(cb(0).indices.map(c =>
          pqDist(col("qvv"), cb(0)(c), 0).cast("long")): _*))
        .select(col("id"), col("v"),
          (array_position(col("ds"), array_min(col("ds"))).cast("int") - 1)
            .as("cell"),
          array_min(col("ds")).as("l2c")))
    val lhs = base.select(col("cell"), col("id").as("a"),
      col("v").as("va"), col("l2c").as("la"))
    val rhs = base.select(col("cell"), col("id").as("b"),
      col("v").as("vb"), col("l2c").as("lb"))
    val victims = lhs.join(rhs, Seq("cell"))
      .filter(col("a") =!= col("b"))
      .filter(cosineF(col("va"), col("vb")) >= lit(minCos))
      .filter((col("lb") > col("la")) ||
        (col("lb") === col("la") && col("b") < col("a")))
      .select(col("a").as("id")).distinct()
    base.join(victims.withColumn("victim", lit(1L)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell").cast("long").as("cell"),
        col("l2c").as("l2_centroid"),
        when(col("victim").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** CLUSTER-BALANCED budget sampling (the DataComp-style cluster-pruning
    * recipe): route every embedding to its deterministic integer-lattice
    * KMeans cell (the [[semDedup]] router — [[pqTrainCodebook]] with one
    * subspace, so training and assignment are exact integers the oracle
    * replays), rank each cell's documents by quality (desc, id asc — a
    * total order), and keep the top ceil(budget/nCells) per cell. Equal
    * per-cell quotas are the point: a quality-only top-`budget` drains
    * the sample from whichever embedding region scores best and collapses
    * topical coverage; the cell quota forces the sample to span the
    * corpus's own semantic partition. Output: the kept rows (doc_id,
    * cell, quality, rank), rank 1-based within cell.
    *
    * Scale shape: training/assignment inherit the PQ lifecycle's shapes
    * (model-sized collects, map-only routing vs broadcast codebook
    * literals); quality attaches with one id-keyed join of two narrow
    * projections; the per-cell ranking is a cell-partitioned
    * row_number whose `rank <= quota` filter pushes into per-partition
    * heaps (WindowGroupLimit) — with nCells ~ √corpus, per-cell work
    * stays flat as the corpus grows.
    */
  def clusterBalancedSample(embeddings: DataFrame, documents: DataFrame,
                            budget: Long, nCells: Int = 8, iters: Int = 2,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            docIdCol: String = "doc_id",
                            scope: CacheScope = CacheScope.default): DataFrame = {
    require(budget >= 1 && nCells >= 1, "need a positive budget and cell count")
    val (scale, cb) = pqTrainCodebook(embeddings, 1, nCells, iters, idCol,
      vecCol, scope)
    val qvE = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("int"))
    val routed = embeddings
      .select(col(idCol).as("id"), qvE.as("qvv"))
      .withColumn("ds", array(cb(0).indices.map(c =>
        pqDist(col("qvv"), cb(0)(c), 0).cast("long")): _*))
      .select(col("id"),
        (array_position(col("ds"), array_min(col("ds"))).cast("int") - 1)
          .as("cell"))
    val q = TextOps.withQualityScore(documents)
      .select(col(docIdCol).as("id"), col("quality"))
    val perCell = (budget + nCells - 1) / nCells
    RelationalOps.topKPerGroup(routed.join(q, Seq("id")), Seq("cell"),
        Seq(col("quality").desc, col("id").asc), perCell.toInt)
      .select(col("id").as(docIdCol), col("cell").cast("long").as("cell"),
        col("quality"), col("rn").cast("long").as("rank"))
      .orderBy(col("cell"), col("rank"))
  }

  // ---- Product Quantization (PQ) — FAISS-style compressed ANN ----

  /** PQ codebook training on the INTEGER lattice: vectors quantize to a
    * shared int8 grid (`floor(x · 127/max_abs)` — the q84 scale, corpus-wide
    * so codes are comparable), split into `numSub` subspaces, and each
    * subspace runs `iters` Lloyd rounds with md5-ordered seeding, strict-<
    * argmin (lowest cell wins ties) and centroids ROUNDED BACK to the
    * integer lattice each round (`floor(sum/n + 0.5)`). Integer-lattice
    * Lloyd trades a little codebook quality for something classic k-means
    * cannot offer: every distance is an exact integer, so training,
    * encoding and search are bit-reproducible on any engine, partitioning
    * or cluster size — and the DuckDB oracle replays ALL of it (the q97
    * replayable-training pattern, applied to vector compression).
    *
    * Scale shape: per round, assignment is a map-only argmin against the
    * broadcast codebook (numSub·numCentroids literals — model params), and
    * the centroid update is ONE explode+groupBy whose partial aggregation
    * collapses to ≤ numSub·numCentroids·subDim rows per task before a
    * model-sized collect (a per-round driver transfer the size of the
    * model, like KMeans centroids). Returns (scale, codebook
    * [sub][cell][dim]).
    */
  def pqTrainCodebook(
      df: DataFrame, numSub: Int, numCentroids: Int, iters: Int,
      idCol: String, vecCol: String,
      scope: CacheScope = CacheScope.default): (Double, Array[Array[Array[Int]]]) = {
    val (scale, qv, subDim) = pqPrepare(df, numSub, idCol, vecCol, scope)
    (scale, pqLloyd(qv, numSub, numCentroids, iters, subDim, idCol))
  }

  /** Scale fit + cached int-lattice quantization — the frame every later PQ
    * stage (seeding, Lloyd rounds, encoding, query LUTs) reuses: without
    * the scope-registered cache the lifecycle would re-scan the corpus
    * ~(iters+3) times.
    */
  private def pqPrepare(df: DataFrame, numSub: Int, idCol: String,
                        vecCol: String,
                        scope: CacheScope): (Double, DataFrame, Int) = {
    val dim = df.select(size(col(vecCol)).as("d")).head.getInt(0)
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val mx = df.agg(max(array_max(transform(col(vecCol),
      x => abs(x.cast("double")))))).head.getDouble(0)
    val scale = if (mx > 0) 127.0 / mx else 0.0
    val qv = scope.register(df.select(col(idCol),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(scale)).cast("int")).as("qv")))
    (scale, qv, dim / numSub)
  }

  /** Session memo for trained lattice codebooks, keyed by the CANONICALIZED
    * logical plan of the training frame + a DATA fingerprint + every
    * hyperparameter — the CacheManager convention for "same computation".
    * Lattice Lloyd is a PURE function of that key (md5 seeding, integer
    * arithmetic, fixed rounds — no RNG, no partitioning sensitivity), so
    * reuse is bit-identical to retraining, and the five bench queries that
    * share one (corpus, params) model train it ONCE instead of five times.
    * Entries are model-sized (numSub·numCentroids·subDim ints); the
    * retrain story is unchanged — a new corpus (tag/snapshot) is a new
    * plan, hence a new key. The fingerprint (input file paths + length +
    * modification time) closes the in-session rewrite hole: a dataset dir
    * REGENERATED at the same path (ScaleUp) leaves the canonical plan
    * unchanged but changes the file metadata, so a stale codebook is never
    * served. Bounded: past `codebookMemoMax` entries the memo resets —
    * plans pinned by stale keys are then droppable, and a reset only costs
    * a retrain.
    */
  private val codebookMemoMax = 64
  private type CodebookKey =
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String,
      Int, Int, Int, Int, String)
  // access-ordered LRU: filling past the cap evicts the stalest entry
  // only, instead of the old clear-all reset that retrained EVERY live
  // consumer on the next call
  private val codebookMemo =
    new java.util.LinkedHashMap[CodebookKey, Array[Array[Array[Int]]]](
      codebookMemoMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CodebookKey, Array[Array[Array[Int]]]])
          : Boolean = size() > codebookMemoMax
    }

  /** File-metadata fingerprint of a frame's leaf scans: sorted
    * (path, length, modificationTime) triples hashed to one hex string —
    * metadata-only driver work (no data scan). Non-file sources contribute
    * nothing (their identity lives in the canonical plan). Exposed within
    * the library so persisted-store corpusTags can fold the DATA identity
    * in beside the path: a dataset regenerated at the same path (or a
    * stale warehouse from a prior session) then misses the tag and
    * rebuilds instead of serving outdated snapshots. Reads the ANALYZED
    * plan's leaves (`bridge.analyzedInputFiles`) — `Dataset.inputFiles`
    * walks the optimized plan, which turns into an `InMemoryRelation`
    * once an equivalent plan is cached, silently emptying the
    * fingerprint exactly on the cached frames the memo keys.
    */
  private[graft] def dataFingerprint(df: DataFrame): String = {
    val files =
      org.apache.spark.sql.graft.bridge.analyzedInputFiles(df).sorted
    if (files.isEmpty) ""
    else {
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      // ONE listStatus RPC per parent DIRECTORY, not one getFileStatus
      // per file: at millions of part-files the per-file loop serializes
      // the ensure/memo path on driver-side metadata round-trips (a table
      // has few directories, each holding many files). A missing file —
      // or a whole missing directory — contributes the same (-1, -1)
      // sentinel the per-file form recorded, so fingerprints are
      // byte-identical to the previous implementation
      val byParent = files.groupBy(f =>
        new org.apache.hadoop.fs.Path(f).getParent)
      val statusOf = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      byParent.keysIterator.foreach { parent =>
        try {
          parent.getFileSystem(hconf).listStatus(parent).foreach { st =>
            statusOf(st.getPath.toString) =
              (st.getLen, st.getModificationTime)
          }
        } catch { case _: java.io.IOException => () }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { f =>
        val key = new org.apache.hadoop.fs.Path(f).toString
        val (len, mtime) = statusOf.getOrElse(key, (-1L, -1L))
        md.update(s"$f|$len|$mtime\n".getBytes("UTF-8"))
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** The integer-lattice Lloyd rounds over a prepared (id, qv) frame —
    * memoized per session on (canonical plan, data fingerprint, params);
    * see [[codebookMemo]].
    */
  private def pqLloyd(qv: DataFrame, numSub: Int, numCentroids: Int,
                      iters: Int, subDim: Int,
                      idCol: String): Array[Array[Array[Int]]] = {
    val key: CodebookKey =
      (qv.queryExecution.analyzed.canonicalized, dataFingerprint(qv),
        numSub, numCentroids, iters, subDim, idCol)
    val cached = codebookMemo.synchronized(Option(codebookMemo.get(key)))
    // one audit line per lookup (stderr — never the driver's JSON stdout):
    // the q103-class bench regressions are diagnosable as memo misses or
    // not without a rebuild
    System.err.println(s"[graft] codebookMemo ${
      if (cached.isDefined) "hit" else "miss"}: sub=$numSub c=$numCentroids " +
      s"fp=${key._2.take(8)} entries=${codebookMemo.synchronized(codebookMemo.size())}")
    cached.getOrElse {
      // train OUTSIDE the lock: concurrent different keys must not
      // serialize on a process-global monitor (a racy duplicate train of
      // the SAME key is benign — last put wins, results are deterministic)
      val trained = pqLloydTrain(qv, numSub, numCentroids, iters, subDim,
        idCol)
      codebookMemo.synchronized(codebookMemo.put(key, trained))
      trained
    }
  }

  private def pqLloydTrain(qv: DataFrame, numSub: Int, numCentroids: Int,
                           iters: Int, subDim: Int,
                           idCol: String): Array[Array[Array[Int]]] = {
    val seeds = qv
      .withColumn("h", DetHash.md5Hash60(concat(lit("pq|"), col(idCol).cast("string"))))
      .orderBy(col("h"), col(idCol)).limit(numCentroids)
      .select(col("qv")).collect()
    require(seeds.length == numCentroids,
      s"corpus smaller than numCentroids=$numCentroids")
    var codebook: Array[Array[Array[Int]]] =
      Array.tabulate(numSub, numCentroids) { (m, c) =>
        seeds(c).getSeq[Int](0).slice(m * subDim, (m + 1) * subDim).toArray
      }
    for (_ <- 1 to iters) {
      val coded = qv.select(col(idCol) +: col("qv") +:
        (0 until numSub).map(m => pqCode(col("qv"), codebook, m, subDim).as(s"c$m")): _*)
      val subRows = coded.select(explode(array((0 until numSub).map { m =>
        struct(lit(m).as("m"), col(s"c$m").as("cell"),
          slice(col("qv"), m * subDim + 1, subDim).as("sub"))
      }: _*)).as("s")).select(col("s.m"), col("s.cell"), col("s.sub"))
      val sums = subRows
        .select(col("m"), col("cell"), posexplode(col("sub")).as(Seq("d", "x")))
        .groupBy(col("m"), col("cell"), col("d"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect() // ≤ numSub·numCentroids·subDim rows — the model update
      val next = codebook.map(_.map(_.clone()))
      sums.foreach { r =>
        val (m, cell, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(m)(cell)(d) =
          math.floor(r.getLong(3).toDouble / r.getLong(4) + 0.5).toInt
      }
      codebook = next // cells with no members keep their previous centroid
    }
    codebook
  }

  /** Exact integer distance from a bound subvector to one centroid. */
  private def pqDist(qv: Column, cent: Array[Int], off: Int): Column =
    cent.indices.map { d =>
      val diff = element_at(qv, off + d + 1) - lit(cent(d))
      diff * diff
    }.reduce(_ + _)

  /** 0-based nearest-centroid code for subspace `m` (the native
    * [[graft.functions.PqCodes]] loop — the composed
    * transform/array_position form ran numCentroids·subDim interpreted
    * boxed ops per row per subspace; values are bit-identical, and the
    * per-subspace element_at reads share ONE codes evaluation through
    * physical subexpression elimination, which the HOF lambdas defeated).
    */
  private def pqCode(qv: Column, cb: Array[Array[Array[Int]]], m: Int,
                     subDim: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    element_at(bridge.column(
      graft.functions.PqCodes(bridge.expression(qv), cb)), m + 1)
  }

  /** Encode vectors under a FROZEN PQ model — the pure-expression stage of
    * the lifecycle: quantize with the trained scale, assign each subspace
    * to its nearest centroid. Stateless and map-only, so it runs unchanged
    * on STREAMING micro-batches (new shards encode against the frozen
    * codebook exactly like [[graft.ops.TextOps.dsirScoreCol]] scores them;
    * retrain = new codebook, the X93 drift story). Output: (idCol, c0..c{M-1}).
    */
  def pqEncode(df: DataFrame, scale: Double, cb: Array[Array[Array[Int]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val numSub = cb.length
    val subDim = cb(0)(0).length
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("int"))
    // the native pq_codes call binds the quantized array itself, so the
    // old single-element-array HOF guard is gone: all numSub code columns
    // share ONE PqCodes(transform(...)) subtree via physical CSE
    df.select(col(idCol) +: (0 until numSub).map(m =>
      pqCode(qv, cb, m, subDim).as(s"c$m")): _*)
  }

  /** PQ-compressed approximate nearest-neighbour search (ADC — asymmetric
    * distance computation, Jégou et al. 2011): train an integer-lattice
    * codebook ([[pqTrainCodebook]]), encode the corpus to `numSub` one-byte
    * codes, build each query's per-subspace lookup table against the
    * UNCOMPRESSED query subvectors, and rank by the summed table entries.
    * The memory story is the point at scale: 64-dim float vectors (256 B)
    * become `numSub` bytes (+id) — a 100 TB embedding store probes from a
    * ~1.6 TB code table. Output: (query_id, vec_id, adc_dist, rank) — the
    * k best per query, (adc asc, vec_id) total order. A query's own code
    * minimizes every per-subspace LUT entry, so self TIES for the minimal
    * ADC sum (its own quantization error — not zero).
    *
    * Scale shape: one cached quantized frame feeds the whole lifecycle
    * (seeding, Lloyd, encoding, LUTs — never re-scanning the corpus);
    * encoding and the per-query LUTs are map-only against codebook
    * literals; scoring joins the code table to the broadcast query-LUT
    * frame and ranks with [[RelationalOps.topKPerGroup]] (per-group heaps,
    * no global sort). Every distance is an exact integer — hash-gate
    * deterministic end to end. `queryPred` must reference `idCol` only
    * (it filters the quantized frame).
    */
  def pqSearch(df: DataFrame, queryPred: Column, k: Int = 10,
               numSub: Int = 4, numCentroids: Int = 8, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding",
               scope: CacheScope = CacheScope.default): DataFrame = {
    val (_, qv, subDim) = pqPrepare(df, numSub, idCol, vecCol, scope)
    val cb = pqLloyd(qv, numSub, numCentroids, iters, subDim, idCol)
    val codes = qv.select(col(idCol).as("vec_id") +:
      (0 until numSub).map(m => pqCode(col("qv"), cb, m, subDim).as(s"c$m")): _*)
    val luts = qv.filter(queryPred)
      .select(col(idCol).as("query_id") +:
        (0 until numSub).map { m =>
          array(cb(m).indices.map(c =>
            pqDist(col("qv"), cb(m)(c), m * subDim).cast("long")): _*).as(s"lut$m")
        }: _*)
    val adc = codes.crossJoin(broadcast(luts))
      .select(col("query_id"), col("vec_id"),
        (0 until numSub).map(m => element_at(col(s"lut$m"), col(s"c$m") + 1))
          .reduce(_ + _).as("adc_dist"))
    RelationalOps.topKPerGroup(adc, Seq("query_id"),
        Seq(col("adc_dist").asc, col("vec_id").asc), k)
      .select(col("query_id"), col("vec_id"), col("adc_dist"),
        col("rn").cast("int").as("rank"))
  }

  /** PQ RECALL audit: per query, how many of the EXACT top-k (integer L2
    * over the same quantized lattice, (l2, id) total order) the compressed
    * ADC search ([[pqSearch]]) recovers — the measured compression-quality
    * number that decides numSub/numCentroids before committing a corpus to
    * codes, the vector-tier sibling of the LSH tuning sweep (X107). Output:
    * (query_id, n_hits, recall_micro) per query, recall as the exact
    * integer quotient of 10^6·n_hits by k. Both rankings are total orders
    * over exact integers, so the audit itself is bit-deterministic — no
    * "recall is approximately" hedging, the number replays anywhere.
    *
    * Scale shape: the exact side reuses the ONE cached quantized frame and
    * broadcasts the (few) query vectors through the same blocked top-k heap
    * as the search path — one narrow corpus pass, no pair shuffle; the
    * audit's join touches 2·k·|queries| rows.
    */
  /** PQ DISTORTION audit: per subspace, the exact mean integer-L2 error
    * between each vector's quantized subvector and its assigned codebook
    * centroid — the MSE half of the compression-quality pair ([[
    * pqRecallAudit]] measures the ranking half). A subspace whose mean
    * distortion dwarfs the others is under-resolved (raise numCentroids or
    * re-split); distortion exactly 0 means the codebook memorized the
    * corpus (degenerate duplication). Output per subspace: (m, n_vectors,
    * sum_dist, mean_dist_micro) — every number an exact integer (the
    * assignment minimum IS the distortion, so nothing new is approximated).
    *
    * Scale shape: one pass over the cached quantized frame (shared with
    * the whole PQ lifecycle), map-only per-subspace minima, one
    * numSub-group aggregation with map-side partials.
    */
  def pqDistortionAudit(df: DataFrame, numSub: Int = 4,
                        numCentroids: Int = 8, iters: Int = 2,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        scope: CacheScope = CacheScope.default): DataFrame = {
    val (_, qv, subDim) = pqPrepare(df, numSub, idCol, vecCol, scope)
    val cb = pqLloyd(qv, numSub, numCentroids, iters, subDim, idCol)
    // native per-subspace minima: one tight loop per row instead of
    // numSub·numCentroids·subDim interpreted distance terms; values are
    // the same exact integers ([[graft.functions.PqMinDists]])
    val minD = org.apache.spark.sql.graft.bridge.column(
      graft.functions.PqMinDists(
        org.apache.spark.sql.graft.bridge.expression(col("qv")), cb))
    val perSub = qv.select(explode(array((0 until numSub).map { m =>
      struct(lit(m).as("m"), element_at(minD, m + 1).as("d"))
    }: _*)).as("s")).select(col("s.m"), col("s.d"))
    perSub.groupBy(col("m"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("d")).as("sum_dist"))
      // one-product-one-quotient double shape, not a bigint product —
      // 10^6 · sum_dist overflows long at corpus scale (q113's convention)
      .withColumn("mean_dist_micro",
        floor((lit(1e6) * col("sum_dist").cast("double"))
          / col("n_vectors").cast("double")).cast("long"))
      .orderBy(col("m"))
  }

  def pqRecallAudit(df: DataFrame, queryPred: Column, k: Int = 10,
                    numSub: Int = 4, numCentroids: Int = 8, iters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    scope: CacheScope = CacheScope.default): DataFrame = {
    val pq = pqSearch(df, queryPred, k, numSub, numCentroids, iters,
      idCol, vecCol, scope)
    val (_, qv, _) = pqPrepare(df, numSub, idCol, vecCol, scope)
    val queries = qv.filter(queryPred)
      .select(col(idCol).as("query_id"), col("qv").as("qq"))
    // native exact integer L2 (bit-identical fold, see
    // [[graft.functions.SqDistL2]]): the zip_with/aggregate HOF pair ran
    // interpreted over |corpus|·|queries| rows × dim elements — the
    // measured bulk of the recall audit. Deliberately NOT the ADC code
    // path: the truth leg stays an independent computation
    val l2 = qv.select(col(idCol).as("vec_id"), col("qv"))
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        org.apache.spark.sql.graft.bridge.column(graft.functions.SqDistL2(
          org.apache.spark.sql.graft.bridge.expression(col("qv")),
          org.apache.spark.sql.graft.bridge.expression(col("qq")))).as("l2"))
    val exact = RelationalOps.topKPerGroup(l2, Seq("query_id"),
      Seq(col("l2").asc, col("vec_id").asc), k)
    val hits = pq
      .join(exact.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("query_id")).join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(1000000 * coalesce(n_hits, 0)) div $k").as("recall_micro"))
  }

  // ---- Persisted IVF-PQ index (coarse cells × PQ codes — FAISS IVFPQ) ----

  /** Per-query LUT columns `lut0..lut{M-1}` from RAW query vectors under a
    * frozen (scale, codebook): quantize with the trained scale, then each
    * subspace's exact integer distances to all its centroids. The quantized
    * vector is bound ONCE per subspace through a single-element-array
    * lambda (projection collapse would otherwise inline the quantization
    * into every element_at — the HOF no-CSE trap).
    */
  private def pqLuts(queries: DataFrame, scale: Double,
                     cb: Array[Array[Array[Int]]], idCol: String,
                     vecCol: String): DataFrame = {
    val qvE = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("int"))
    queries.select(col(idCol).cast("long").as("query_id") +:
      lutCols(qvE, cb): _*)
  }

  /** LUT columns `lut0..lut{M-1}` from any int-array column expression —
    * each subspace binds the array ONCE through the single-element-array
    * lambda (the HOF no-CSE guard pqLuts/pqEncode use).
    */
  private def lutCols(vecArr: Column,
                      cb: Array[Array[Array[Int]]]): Seq[Column] = {
    val subDim = cb(0)(0).length
    cb.indices.map { m =>
      element_at(transform(array(vecArr), v =>
        array(cb(m).indices.map(c =>
          pqDist(v, cb(m)(c), m * subDim).cast("long")): _*)), 1).as(s"lut$m")
    }
  }

  /** True when a persisted IVF-PQ index stores RESIDUAL codes. */
  private def ivfPqIsResidual(spark: org.apache.spark.sql.SparkSession,
                              tablePrefix: String): Boolean = {
    val m = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    m.schema.fieldNames.contains("encode") &&
      m.getAs[String]("encode") == "residual"
  }

  /** (cell, cq) integer centroids of a persisted lattice-coarse index. */
  private def ivfPqCentsQ(spark: org.apache.spark.sql.SparkSession,
                          tablePrefix: String): DataFrame =
    graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_centroids")
      .select(col("cell"), col("center_q").as("cq"))

  /** Summed-LUT ADC distance over code columns `c0..c{M-1}` joined with
    * LUT columns `lut0..lut{M-1}`.
    */
  private def adcSum(numSub: Int): Column =
    (0 until numSub).map(m => element_at(col(s"lut$m"), col(s"c$m") + 1))
      .reduce(_ + _)

  /** ADC top-k of `queries` (raw vectors) against a code table under a
    * frozen PQ model — the scoring tail shared by the persisted-index probe
    * and its tests. `codes`: (vec_id, c0..c{M-1}).
    */
  private[graft] def pqAdcTopKFromModel(codes: DataFrame, queries: DataFrame,
                                        scale: Double,
                                        cb: Array[Array[Array[Int]]], k: Int,
                                        idCol: String = "vec_id",
                                        vecCol: String = "embedding"): DataFrame = {
    val adc = codes.crossJoin(broadcast(pqLuts(queries, scale, cb, idCol, vecCol)))
      .select(col("query_id"), col("vec_id"), adcSum(cb.length).as("adc_dist"))
    RelationalOps.topKPerGroup(adc, Seq("query_id"),
        Seq(col("adc_dist").asc, col("vec_id").asc), k)
      .select(col("query_id"), col("vec_id"), col("adc_dist"),
        col("rn").cast("int").as("rank"))
  }

  /** Stamped into the IVF-PQ meta row, re-checked by [[ensureIvfPqIndex]]
    * (see [[ivfIndexFormatVersion]] for the convention).
    * v2: added the `coarse` meta column and the centroids table's
    * `center_q` integer-lattice column.
    * v3: added the `encode` meta column (raw vs residual codes).
    * v4: added the `_deleted` tombstone table (delete lifecycle).
    */
  val ivfPqIndexFormatVersion: Int = 4

  /** Build the persisted IVF-PQ index — FAISS's production architecture,
    * composed from this file's two verified halves: a coarse KMeans
    * quantizer routes each vector to a cell (X81's layout: cells table
    * bucketed by `cell`, probes join exchange-free) and the integer-lattice
    * PQ model ([[pqTrainCodebook]]) compresses each member to `numSub`
    * one-byte codes — the cells table stores CODES, not vectors, so a
    * 100 TB embedding store probes from a ~1.6 TB bucketed table. Four
    * tables: `_cells` (cell, vec_id, c0..c{M-1}), `_centroids`,
    * `_codebook` (m, cell, cvec), `_meta` (params + trained scale +
    * corpus tag + fmt). Meta is written LAST, so a torn build fails
    * [[ensureIvfPqIndex]]'s stamp check and rebuilds (the crash-safe
    * ordering of the banded index, X84).
    *
    * The coarse assignment only routes — ADC distances depend on the PQ
    * model alone — so an exhaustive probe (nProbe = nCells) reproduces
    * [[pqSearch]]'s ranking bit-for-bit, which is what lets the SQL oracle
    * verify the whole persisted lifecycle (the q90 exhaustive-probe
    * pattern, with q103's replayed-training oracle).
    *
    * `coarse` picks the routing quantizer: `"kmeans"` (spark.ml float
    * KMeans — better cells, routing not oracle-replayable) or `"lattice"`
    * (integer-lattice Lloyd over the FULL quantized vector — [[pqLloyd]]
    * with one subspace, sharing the PQ grid's scale). Lattice routing
    * makes even PARTIAL-probe search bit-deterministic and SQL-replayable
    * end to end — cell training, assignment, probe selection and ADC all
    * exact integers (q109's gate) — the trade being float KMeans' slightly
    * better cell balance.
    *
    * `encode` picks what the PQ codes compress: `"raw"` (the quantized
    * vector itself — q103/q108's mode, where an exhaustive probe equals
    * [[pqSearch]]) or `"residual"` (vector MINUS its coarse cell's
    * centroid — FAISS's IVFADC: residuals are centred near zero, so the
    * same `numCentroids` budget spends its resolution on the within-cell
    * detail the coarse quantizer already removed). Residual mode requires
    * `coarse = "lattice"`: centroid and vector share the integer grid, so
    * residuals — and with them training, encoding, per-(query, cell) LUTs
    * and ADC — stay exact integers, keeping even partial-probe search
    * SQL-replayable (q111's gate). ADC in residual mode is exact in the
    * same sense as raw mode: ‖q − (c + pq(r))‖² = ‖(q − c) − pq(r)‖², the
    * per-probed-cell LUT, with no correction term.
    */
  def writeIvfPqIndex(df: DataFrame, tablePrefix: String, nCells: Int = 16,
                      seed: Long = 4667979835606274383L, numSub: Int = 4,
                      numCentroids: Int = 8, iters: Int = 2,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      buckets: Int = 8, corpusTag: String = "",
                      coarse: String = "kmeans", encode: String = "raw",
                      scope: CacheScope = CacheScope.default): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(coarse == "kmeans" || coarse == "lattice",
      s"coarse must be 'kmeans' or 'lattice', got '$coarse'")
    require(encode == "raw" || encode == "residual",
      s"encode must be 'raw' or 'residual', got '$encode'")
    require(encode == "raw" || coarse == "lattice",
      "residual encoding requires the integer-lattice coarse quantizer")
    val spark = df.sparkSession
    import spark.implicits._
    val (scale, qv, subDim) = pqPrepare(df, numSub, idCol, vecCol, scope)
    val dim = subDim * numSub
    val (assigned, centroids) = if (coarse == "lattice") {
      val ccb: Array[Array[Int]] = pqLloyd(qv, 1, nCells, iters, dim, idCol)(0)
      val asg = qv.select(col(idCol).cast("long").as("id"),
        pqCode(col("qv"), Array(ccb), 0, dim).as("cell"))
      (asg, ccb.zipWithIndex
        .map { case (c, i) => (i, c.map(_.toDouble).toSeq, Some(c.toSeq)) }.toSeq
        .toDF("cell", "center", "center_q"))
    } else {
      val vecs = scope.register(df.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("v"))
        .withColumn("fv", array_to_vector(col("v").cast("array<double>"))))
      val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(20)
        .setFeaturesCol("fv").setPredictionCol("cell")
      val model = km.fit(vecs)
      (model.transform(vecs).select(col("cell"), col("id")),
        model.clusterCenters.zipWithIndex
          .map { case (c, i) => (i, c.toArray.toSeq, None: Option[Seq[Int]]) }.toSeq
          .toDF("cell", "center", "center_q"))
    }
    val (cb, codes) = if (encode == "residual") {
      // residual frame: qv − assigned cell's integer centroid — exact ints
      // on the shared grid; cached because Lloyd + encode rescan it
      val centsQ = centroids.select(col("cell"), col("center_q").as("cq"))
      val rframe = scope.register(qv
        .join(assigned.withColumnRenamed("id", "rid"),
          col(idCol).cast("long") === col("rid"))
        .join(broadcast(centsQ), Seq("cell"))
        .select(col(idCol),
          zip_with(col("qv"), col("cq"), (a, b) => a - b).as("qv")))
      val rcb = pqLloyd(rframe, numSub, numCentroids, iters, subDim, idCol)
      (rcb, rframe.select(col(idCol).cast("long").as("nid") +:
        (0 until numSub).map(m =>
          pqCode(col("qv"), rcb, m, subDim).as(s"c$m")): _*))
    } else {
      val rcb = pqLloyd(qv, numSub, numCentroids, iters, subDim, idCol)
      (rcb, pqEncode(df, scale, rcb, idCol, vecCol)
        .select(col(idCol).cast("long").as("nid") +:
          (0 until numSub).map(m => col(s"c$m")): _*))
    }
    val members = assigned
      .join(codes, col("id") === col("nid"))
      .select(col("cell") +: col("nid").as("vec_id") +:
        (0 until numSub).map(m => col(s"c$m")): _*)
    graft.sources.Bucketing.writeBucketed(members, s"${tablePrefix}_cells",
      Seq("cell"), buckets)
    graft.sources.Bucketing.saveTable(centroids, s"${tablePrefix}_centroids")
    graft.sources.Bucketing.saveTable(
      (for { m <- cb.indices; c <- cb(m).indices }
        yield (m, c, cb(m)(c).toSeq)).toDF("m", "cell", "cvec"),
      s"${tablePrefix}_codebook")
    graft.sources.Bucketing.saveTable(
      Seq.empty[Long].toDF("id"), s"${tablePrefix}_deleted")
    graft.sources.Bucketing.saveTable(
      Seq((nCells, seed, buckets, numSub, numCentroids, iters, scale,
        corpusTag, coarse, encode, ivfPqIndexFormatVersion))
        .toDF("n_cells", "seed", "buckets", "num_sub", "num_centroids",
          "iters", "scale", "corpus_tag", "coarse", "encode", "fmt"),
      s"${tablePrefix}_meta")
  }

  /** Build the IVF-PQ index ONLY IF the persisted one is stale — every
    * build parameter is stamped in the meta row and compared (the trained
    * `scale` is data-derived, stored for probes but not compared).
    */
  def ensureIvfPqIndex(df: DataFrame, tablePrefix: String, corpusTag: String,
                       nCells: Int = 16,
                       seed: Long = 4667979835606274383L, numSub: Int = 4,
                       numCentroids: Int = 8, iters: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       buckets: Int = 8, coarse: String = "kmeans",
                       encode: String = "raw",
                       scope: CacheScope = CacheScope.default): Unit = {
    val spark = df.sparkSession
    val upToDate = try {
      Seq("cells", "centroids", "codebook", "meta", "deleted")
        .forall(s => spark.catalog.tableExists(s"${tablePrefix}_$s")) && {
        val m = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
        m.schema.fieldNames.contains("fmt") &&
          m.getAs[Int]("fmt") == ivfPqIndexFormatVersion &&
          m.getAs[String]("corpus_tag") == corpusTag &&
          m.getAs[Int]("n_cells") == nCells && m.getAs[Long]("seed") == seed &&
          m.getAs[Int]("buckets") == buckets &&
          m.getAs[Int]("num_sub") == numSub &&
          m.getAs[Int]("num_centroids") == numCentroids &&
          m.getAs[Int]("iters") == iters &&
          m.getAs[String]("coarse") == coarse &&
          m.getAs[String]("encode") == encode
      }
    } catch { case _: Exception => false }
    if (!upToDate)
      writeIvfPqIndex(df, tablePrefix, nCells, seed, numSub, numCentroids,
        iters, idCol, vecCol, buckets, corpusTag, coarse, encode, scope)
  }

  /** The frozen PQ model of a persisted IVF-PQ index, read back from its
    * tables (a model-sized collect: numSub·numCentroids codebook rows). */
  private[graft] def readPqModel(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): (Double, Array[Array[Array[Int]]]) = {
    val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val (numSub, nc) = (meta.getAs[Int]("num_sub"), meta.getAs[Int]("num_centroids"))
    val cb: Array[Array[Array[Int]]] = Array.ofDim(numSub, nc)
    graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_codebook").collect().foreach { r =>
      cb(r.getAs[Int]("m"))(r.getAs[Int]("cell")) =
        r.getAs[scala.collection.Seq[Int]]("cvec").toArray
    }
    (meta.getAs[Double]("scale"), cb)
  }

  /** APPEND a batch into the persisted IVF-PQ index: assign to the FROZEN
    * coarse centroids (broadcast, compiled loop — [[appendToIvfIndex]]'s
    * shape), encode under the FROZEN PQ model ([[pqEncode]] — X106's
    * stateless stage), `insertInto` the bucketed cells; tombstoned and
    * already-indexed ids skip ([[ivfAdmitted]], one pruned scan of the
    * `_cells` id column). Exchanged and written data is |batch|-sized;
    * both quantizers drift as the distribution moves —
    * retrain = [[ensureIvfPqIndex]] with a new tag, and [[ivfDriftReport]]
    * on a full-vector twin measures when.
    */
  def appendToIvfPqIndex(batch: DataFrame, tablePrefix: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    val admitted = ivfAdmitted(batch, tablePrefix, "vec_id", idCol, vecCol)
    try ivfPqAssignCodes(admitted, tablePrefix, idCol, vecCol)
      .write.insertInto(s"${tablePrefix}_cells")
    finally CacheScope.freeCheckpoint(admitted)
  }

  /** [[maintainIvfIndexFromDiff]] for the IVF-PQ tier: identical
    * tombstone → conditional-compact → append composition, with codes
    * assigned under the FROZEN coarse quantizer AND frozen PQ codebook.
    * Maintained-index probes match a frozen-model rebuild exactly
    * (BucketingSpec); a fresh [[writeIvfPqIndex]] rebuild retrains both
    * models, so schedule one on [[ivfDriftSummary]] evidence as usual.
    * Crash mid-maintenance: replay the same delta — see the crash-window
    * note on [[maintainIvfTierFromDiff]].
    */
  def maintainIvfPqIndexFromDiff(newSnapshot: DataFrame, diff: DataFrame,
                                 tablePrefix: String,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding",
                                 newCorpusTag: String = ""): Unit =
    maintainIvfTierFromDiff(newSnapshot, diff, tablePrefix, idCol,
      fresh => appendToIvfPqIndex(fresh, tablePrefix, idCol, vecCol),
      newCorpusTag)

  /** A batch routed and encoded under a persisted IVF-PQ index's FROZEN
    * models — the cells-table row shape (cell, vec_id, c0..c{M-1}); the
    * shared map-only stage of [[appendToIvfPqIndex]] and the streaming
    * ingest's code-collision gate.
    */
  private[graft] def ivfPqAssignCodes(batch: DataFrame, tablePrefix: String,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    val (scale, cb) = readPqModel(spark, tablePrefix)
    val assigned = ivfPqRoute(batch, tablePrefix, idCol, vecCol)
    if (ivfPqIsResidual(spark, tablePrefix)) {
      // residual codes: quantize, subtract the FROZEN assigned centroid,
      // encode under the frozen residual codebook — still map-only vs
      // broadcast models (the residual binds once per subspace)
      val subDim = cb(0)(0).length
      val qvb = batch.select(col(idCol).cast("long").as("nid"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(scale)).cast("int")).as("qvv"))
      val rqv = zip_with(col("qvv"), col("cq"), (a, b) => a - b)
      assigned.join(qvb, col("id") === col("nid"))
        .join(broadcast(ivfPqCentsQ(spark, tablePrefix)), Seq("cell"))
        .select(col("cell") +: col("id").as("vec_id") +:
          (0 until cb.length).map(m =>
            pqCode(rqv, cb, m, subDim).as(s"c$m")): _*)
    } else {
      val codes = pqEncode(batch, scale, cb, idCol, vecCol)
        .select(col(idCol).cast("long").as("nid") +:
          (0 until cb.length).map(m => col(s"c$m")): _*)
      assigned.join(codes, col("id") === col("nid"))
        .select(col("cell") +: col("id").as("vec_id") +:
          (0 until cb.length).map(m => col(s"c$m")): _*)
    }
  }

  /** (id, cell) routing of raw vectors through a persisted IVF-PQ index's
    * FROZEN coarse quantizer — float KMeans centers or the integer lattice,
    * per the meta row; `nearest` > 1 yields each vector's `nearest` closest
    * cells (the probe set). Ties break to the LOWEST cell in both modes,
    * matching the build-time assignment expression, so append-time routing
    * is bit-identical to build-time routing.
    */
  private def ivfPqRoute(vectors: DataFrame, tablePrefix: String,
                         idCol: String, vecCol: String,
                         nearest: Int = 1): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val lattice = meta.getAs[String]("coarse") == "lattice"
    val scale = meta.getAs[Double]("scale")
    val cents = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_centroids").orderBy(col("cell"))
    val typed = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v")).as[(Long, Array[Float])]
    if (lattice) {
      val centers: Array[Array[Int]] = cents.collect()
        .map(_.getAs[scala.collection.Seq[Int]]("center_q").toArray)
      val bc = spark.sparkContext.broadcast(centers)
      typed.mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (id, v) =>
          val q = v.map(x => math.floor(x.toDouble * scale).toInt)
          val dists = cs.zipWithIndex.map { case (c, ci) =>
            var s = 0L; var j = 0
            while (j < q.length) { val d = (q(j) - c(j)).toLong; s += d * d; j += 1 }
            (s, ci)
          }
          dists.sortBy(identity).take(nearest).iterator
            .map { case (_, ci) => (id, ci) }
        }
      }.toDF("id", "cell")
    } else {
      val centers: Array[Array[Double]] = cents.collect()
        .map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
      val bc = spark.sparkContext.broadcast(centers)
      typed.mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (id, v) =>
          val dists = cs.zipWithIndex.map { case (c, ci) =>
            var s = 0.0; var j = 0
            while (j < v.length) { val d = v(j) - c(j); s += d * d; j += 1 }
            (s, ci)
          }
          dists.sortBy(identity).take(nearest).iterator
            .map { case (_, ci) => (id, ci) }
        }
      }.toDF("id", "cell")
    }
  }

  /** ADC top-k against the PERSISTED IVF-PQ index: each query probes its
    * `nProbe` nearest coarse cells (centroids driver-side — a model), the
    * bucketed cells table serves only the probed cells' code rows, and the
    * broadcast per-query LUTs rank by summed exact-integer ADC distance —
    * (adc asc, vec_id) total order, self included (it ties for the minimal
    * sum, [[pqSearch]]'s lemma). With nProbe = nCells the result equals
    * [[pqSearch]] bit-for-bit; partial probes trade recall exactly like
    * [[ivfTopKPersisted]]. Output: (query_id, vec_id, adc_dist, rank).
    */
  def ivfPqTopKPersisted(queries: DataFrame, tablePrefix: String, k: Int,
                         nProbe: Int = 4, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val (scale, cb) = readPqModel(spark, tablePrefix)
    val probes = ivfPqRoute(queries, tablePrefix, idCol, vecCol, nProbe)
      .withColumnRenamed("id", "query_id")
    val scored = if (ivfPqIsResidual(spark, tablePrefix)) {
      // residual ADC: the LUT is per (query, PROBED CELL) — distances of
      // the query's residual AGAINST THAT CELL to the residual codebook
      // (‖q − (c + pq(r))‖² = ‖(q − c) − pq(r)‖²). Still a broadcast: the
      // LUT frame holds |queries|·nProbe rows
      val qvq = queries.select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(scale)).cast("int")).as("qvv"))
      val qres = zip_with(col("qvv"), col("cq"), (a, b) => a - b)
      val luts = probes
        .join(qvq, Seq("query_id"))
        .join(broadcast(ivfPqCentsQ(spark, tablePrefix)), Seq("cell"))
        .select(col("query_id") +: col("cell") +: lutCols(qres, cb): _*)
      liveCells(spark, tablePrefix, "vec_id")
        .join(broadcast(luts), Seq("cell"))
        .select(col("query_id"), col("vec_id"), adcSum(cb.length).as("adc_dist"))
    } else {
      liveCells(spark, tablePrefix, "vec_id")
        .join(broadcast(probes), Seq("cell"))
        .join(broadcast(pqLuts(queries, scale, cb, idCol, vecCol)), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), adcSum(cb.length).as("adc_dist"))
    }
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("adc_dist").asc, col("vec_id").asc), k)
      .select(col("query_id"), col("vec_id"), col("adc_dist"),
        col("rn").cast("int").as("rank"))
  }

  /** Source CENTROID distance matrix — the BETWEEN-source companion of
    * [[sourceDiversity]]'s within-source audit: per unordered source pair,
    * the L2 distance between the sources' mean embeddings on the shared
    * int8 lattice. Near-zero centroid distance between two nominally
    * distinct sources says they serve the same content distribution
    * (mirrors, scrapes — corroborating [[graft.ops.DedupOps.dupLeakageMatrix]]
    * at embedding level, without any document pairing); a mixture planner
    * treating them as independent double-counts that distribution.
    *
    * Determinism: per-dim sums are exact BIGINTs; each mean component
    * quantizes to micro (one product-then-quotient double floor), so the
    * pairwise squared distance is an exact integer sum (|diff| ≤ 254·10⁶,
    * 64 terms — order-free in BIGINT) and dist_micro = floor(sqrt) is one
    * IEEE op both engines evaluate identically. NULL-source vectors (no
    * document row) form a real group, NULL-first in the pair order.
    *
    * Scale shape: identical to [[sourceDiversity]] — one map pass, one
    * (source) aggregation to ≤ nSources rows; everything pairwise runs on
    * that model-sized frame with a broadcast self-join.
    */
  def sourceCentroidMatrix(embeddings: DataFrame, documents: DataFrame,
                           dim: Int = 64, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           docIdCol: String = "doc_id",
                           srcCol: String = "source"): DataFrame = {
    val mx = embeddings.agg(max(array_max(transform(col(vecCol),
      x => abs(x.cast("double")))))).head.getDouble(0)
    val scale = if (mx > 0) 127.0 / mx else 0.0
    val qv = embeddings.select(col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(scale)).cast("long")).as("qv"))
    val src = documents.select(col(docIdCol).as("id"), col(srcCol).as("source"))
    val j = qv.join(src, Seq("id"), "left")
    val aggs = count(lit(1)).as("n") +:
      (1 to dim).map(d => sum(element_at(col("qv"), d)).as(s"s$d"))
    val per = j.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    val means = per.select(col("source"), col("n"),
      array((1 to dim).map(d =>
        floor(lit(1e6) * col(s"s$d").cast("double") / col("n").cast("double"))
          .cast("long")): _*).as("m"))
    val xs = means.select(col("source").as("source_x"), col("n").as("n_x"),
      col("m").as("mx_"))
    val ys = means.select(col("source").as("source_y"), col("n").as("n_y"),
      col("m").as("my_"))
    xs.join(broadcast(ys),
        (col("source_x").isNull && col("source_y").isNotNull) ||
          (col("source_x") < col("source_y")))
      .withColumn("l2_micro2",
        aggregate(zip_with(col("mx_"), col("my_"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      .select(col("source_x"), col("source_y"), col("n_x"), col("n_y"),
        col("l2_micro2"),
        floor(sqrt(col("l2_micro2").cast("double"))).cast("long").as("dist_micro"))
      .orderBy(col("source_x").asc_nulls_first, col("source_y"))
  }

  /** Per-SOURCE embedding DIVERSITY audit: the EXACT mean pairwise dot
    * product of each source's vectors WITHOUT enumerating a single pair,
    * via the sum identity  Σ_{i≠j} vᵢ·vⱼ = ‖Σᵢvᵢ‖² − Σᵢ‖vᵢ‖²  on the
    * corpus-wide int8 lattice (the PQ grid, so every per-dim sum and every
    * self-dot is an exact integer). A source whose mean pair dot
    * approaches its mean self dot is serving near-identical embeddings
    * (template pages, mirrored content — the semantic collapse SemDeDup
    * prunes); a diverse source's pair dot sits near zero. Output per
    * source: (n_vecs, sum_self_dot, mean_pair_dot_micro,
    * mean_self_dot_micro, diversity_micro = self − pair), single-vector
    * sources report NULL pair/diversity (no pairs exist).
    *
    * Determinism: per-dim sums and self-dot sums are exact BIGINTs;
    * ‖S‖² sums the 64 squared dim-sums in ascending-dim order as doubles —
    * each square is an exact integer < 2^53 at any plausible per-source
    * scale (|s_d| ≤ n·127; exactness holds to n ≈ 7·10^5 per source —
    * beyond that the squares round but identically on both engines),
    * so the final micro ratios are one-product-one-quotient double shapes.
    *
    * Scale shape: ONE map pass quantizes (the cheapest possible audit on
    * a 100 TB embedding store), ONE (source) aggregation with full
    * map-side partials carrying 64 longs + 2 counters per group — no
    * pair join, no window, no collect; the source attachment is an
    * id-keyed join on a 2-column projection.
    */
  def sourceDiversity(embeddings: DataFrame, documents: DataFrame,
                      dim: Int = 64, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      docIdCol: String = "doc_id",
                      srcCol: String = "source"): DataFrame = {
    val mx = embeddings.agg(max(array_max(transform(col(vecCol),
      x => abs(x.cast("double")))))).head.getDouble(0)
    val scale = if (mx > 0) 127.0 / mx else 0.0
    val qv = embeddings.select(col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(scale)).cast("long")).as("qv"))
    val src = documents.select(col(docIdCol).as("id"), col(srcCol).as("source"))
    val j = qv.join(src, Seq("id"), "left")
    val aggs = count(lit(1)).as("n_vecs") +:
      sum(aggregate(col("qv"), lit(0L), (a, x) => a + x * x)).as("sum_self_dot") +:
      (1 to dim).map(d => sum(element_at(col("qv"), d)).as(s"s$d"))
    val per = j.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    val s2 = (1 to dim).map(d =>
      col(s"s$d").cast("double") * col(s"s$d").cast("double")).reduce(_ + _)
    per
      .select(col("source"), col("n_vecs"), col("sum_self_dot"),
        when(col("n_vecs") > 1,
          floor(lit(1e6) * (s2 - col("sum_self_dot").cast("double"))
            / (col("n_vecs") * (col("n_vecs") - 1)).cast("double"))
            .cast("long")).as("mean_pair_dot_micro"),
        floor(lit(1e6) * col("sum_self_dot").cast("double")
          / col("n_vecs").cast("double")).cast("long").as("mean_self_dot_micro"))
      .withColumn("diversity_micro",
        col("mean_self_dot_micro") - col("mean_pair_dot_micro"))
      .orderBy(col("source").asc_nulls_last)
  }
}
