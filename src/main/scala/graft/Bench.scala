package graft
import java.nio.file.{Files, Paths}
object Bench {

  /** Per-query min over SUCCESSFUL passes; err only if both passes threw —
    * a query that failed once but ran once still gets a real measurement,
    * while a consistently-broken query can never surface as a timing. A key
    * missing from the second pass (a partial pass that died mid-run) keeps
    * its first-pass result instead of throwing away the whole artifact.
    */
  private[graft] def mergePasses(
      p1: Map[String, Either[String, Double]],
      p2: Map[String, Either[String, Double]]): Map[String, Either[String, Double]] =
    p1.map { case (k, v1) =>
      k -> ((v1, p2.getOrElse(k, v1)) match {
        case (Right(a), Right(b)) => Right(math.min(a, b))
        case (Right(a), Left(_)) => Right(a)
        case (Left(_), Right(b)) => Right(b)
        case (Left(e), Left(_)) => Left(e)
      })
    }

  /** Render the bench JSON line: successful queries (and their sum) in
    * `queries`/`value`, failed ones in `errors` — a thrown query appears
    * ONLY as an error, never as a number the driver could mistake for a
    * fast run — failed setup steps (step → message, in step order) in
    * `setup_errors`, and the variance pass's floors in `retimed` beside
    * the sweep numbers, so the artifact separates spread from signal
    * itself. A variance-pass run that threw lands in `retime_errors`
    * (query → message); its floor covers the successful runs only.
    */
  private[graft] def renderJson(merged: Map[String, Either[String, Double]],
                                sfDir: String,
                                retimed: Map[String, Double] = Map.empty,
                                setupErrors: Seq[(String, String)] = Seq.empty,
                                retimeErrors: Seq[(String, String)] = Seq.empty)
      : String = {
    val ok = merged.collect { case (k, Right(v)) => k -> v }
    val errs = merged.collect { case (k, Left(e)) => k -> e }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rt = retimed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""errors":${stringMap(errs.toSeq)},""" +
      s""""setup_errors":${stringMap(setupErrors)},""" +
      s""""retimed":$rt,"retime_errors":${stringMap(retimeErrors)},""" +
      s""""methodology":"min-of-two-passes; """ +
      s"""errored queries excluded from queries/total; persisted indexes """ +
      s"""prebuilt; retimed = min-of-5 floors of the worst movers vs the """ +
      s"""previous artifact","sf":"$sfDir"}"""
  }

  /** COMPACT final line for the driver's stdout-tail capture: the full
    * per-query line grew past the driver's ~2000-char tail window at 210
    * queries, truncating mid-line — `parsed` came back null for BOTH r14
    * and r15 artifacts and the whole PERF comparison was lost (VERDICT
    * r15 item 1). This line carries the totals, `n_queries`, `queries`
    * holding only the slowest successes that fit in [[compactQueriesChars]]
    * (ties by name), the error count with the first 3 errors by name
    * (errors must stay loud, but a sweep where every query fails must not
    * push the line past the window), the setup-error count with the first
    * 3 failed steps in step order, the number of queries whose variance
    * pass threw, and the PATH of the full artifact holding every query,
    * or null when no file was written.
    */
  private[graft] def renderCompactJson(
      merged: Map[String, Either[String, Double]], sfDir: String,
      retimed: Map[String, Double], fullPath: Option[String],
      setupErrors: Seq[(String, String)] = Seq.empty,
      retimeErrors: Seq[(String, String)] = Seq.empty): String = {
    val ok = merged.collect { case (k, Right(v)) => k -> v }
    val errs = merged.collect { case (k, Left(e)) => k -> e }.toSeq.sortBy(_._1)
    val slowest = ok.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => s"\"" + k + "\":" + v }
    // "{}" plus each entry and its comma
    val fit = slowest.scanLeft(2)(_ + _.length + 1).tail
      .count(_ <= compactQueriesChars)
    val qs = slowest.take(fit).mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val file = fullPath.fold("null")(p => "\"" + p + "\"")
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${ok.size},"queries":$qs,""" +
      s""""n_errors":${errs.size},"errors":${stringMap(errs.take(3))},""" +
      s""""n_setup_errors":${setupErrors.size},""" +
      s""""setup_errors":${stringMap(setupErrors.take(3))},""" +
      s""""retimed":${retimed.size},"n_retime_errors":${retimeErrors.size},""" +
      s""""queries_file":$file,"sf":"$sfDir"}"""
  }

  private[graft] val compactQueriesChars = 1500

  /** A JSON object of string values, control characters, quotes and
    * backslashes in the values blanked so the line stays one parseable line. */
  private def stringMap(entries: Seq[(String, String)]): String =
    entries.map { case (k, e) =>
      s"\"" + k + "\":\"" + e.replaceAll("[\\p{Cntrl}\"\\\\]", " ") + "\""
    }.mkString("{", ",", "}")

  /** An exception as a short error entry: class name and the first 160
    * characters of its message. */
  private def errorText(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(160)

  /** Previous artifact's per-query seconds, parsed leniently (query keys
    * are `q<digits>_<snake>`; error values are quoted strings so the
    * numeric match skips them). A `retimed` floor in the artifact
    * overrides its sweep number (it appears later in the line), so
    * comparisons always run against the best-known floor. Empty when the
    * file is absent — first run, or a driver sweeping a fresh checkout.
    */
  private[graft] def refTimes(path: String): Map[String, Double] =
    try {
      val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      "\"(q[0-9]+_[a-z0-9_]+)\":([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** The queries whose sweep time moved worst against the reference —
    * ratio above `minRatio` AND at least `minAbs` seconds slower (tiny
    * queries ratio-jump on noise alone) — worst ratio first, at most `n`.
    * These get a min-of-5 floor pass: the documented ±13% session spread
    * keeps re-litigating as regressions otherwise (round-13's four
    * "movers" all re-timed back to their floors).
    */
  private[graft] def worstMovers(ok: Map[String, Double],
                                 ref: Map[String, Double], n: Int,
                                 minRatio: Double = 1.3,
                                 minAbs: Double = 0.3): Seq[String] =
    ok.flatMap { case (k, v) =>
      ref.get(k).collect {
        case r if r > 0 && v / r > minRatio && v - r > minAbs => k -> v / r
      }
    }.toSeq.sortBy(-_._2).take(math.max(0, n)).map(_._1)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // optional comma-separated query-name subset, for timing a few queries
    // at a large SF without paying the full two-pass sweep (SCALE_NOTES
    // exponent runs); absent → all queries, the driver's path
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a typo'd name must fail loudly, not time zero queries and report an
    // empty-but-valid-looking JSON
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val spark = GraftSession.local(cpus)
    // warm up the JVM/codegen/scan paths once so per-query numbers measure
    // the queries, not first-query JIT; run in deterministic name order
    // Timing action: write to the noop datasource, not count(). count() lets
    // Catalyst prune projection-only queries down to a parquet row count (the
    // projected expressions never execute); noop materializes every output
    // column while writing nothing.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // every setup step records its failure under its name instead of
    // swallowing it: both JSON lines carry `setup_errors`, and a failed
    // persisted-index prebuild (which would make its query time a BUILD
    // while the artifact claims probe-only) fails the run after printing
    val setupErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var prebuildFailed = false
    def setup(step: String, prebuild: Boolean = true)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        setupErrors(step) = errorText(e)
        if (prebuild) prebuildFailed = true
      }
    setup("warmup", prebuild = false) {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      run(SparkEntry.entry(spark))
      // warm whole-stage-codegen + JIT for every query shape against the
      // tiny sf0.001 tables: generated code is identical across scale
      // factors (Janino cache hit), while NO data is shared with the timed
      // runs — the timed numbers then measure execution, not first-call
      // compilation. Operator caches built on sf0.001 are dropped before
      // timing starts. A query failing here is left to the timed passes,
      // which record it.
      SparkEntry.queries.values.foreach(fn =>
        try run(fn(spark, "/root/testdata/sf0.001"))
        catch { case _: Throwable => () })
      graft.ops.CacheScope.default.release()
    }
    // pre-materialize the dedup tier's SHARED caches at the timed SF (the
    // persisted token-hash/shingle-set tables a real pipeline maintains):
    // otherwise whichever dedup query runs first absorbs the build and
    // per-query numbers swing ±2-3 s run-to-run with no code change.
    // Each setup step has its OWN guard: one failing step must not skip the
    // others
    setup("dedup_cache", prebuild = false) {
      run(graft.ops.DedupOps.shingleHashSets(
        graft.sources.Tables(spark, sfDir, "documents")))
    }
    // pre-build the PERSISTED indexes at the timed SF (tagged with the
    // source dir, so the queries' ensure step becomes a no-op): q89/q90
    // then time what they claim to — the probe of an existing index, not
    // an index build, which a real pipeline pays once per corpus
    // tags include the DATA fingerprint (SparkEntry.corpusTagOf) so the
    // queries' ensure stays a no-op during timing AND a regenerated
    // dataset can never serve a stale prebuilt index
    val docsTag = graft.SparkEntry.corpusTagOf(
      graft.sources.Tables(spark, sfDir, "documents"), sfDir)
    val embTag = graft.SparkEntry.corpusTagOf(
      graft.sources.Tables(spark, sfDir, "embeddings"), sfDir)
    setup("graft_q89_corpus") {
      graft.ops.DedupOps.ensureBandedIndex(
        graft.sources.Tables(spark, sfDir, "documents")
          .filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
        "graft_q89_corpus", corpusTag = docsTag)
    }
    setup("graft_q208_split") {
      graft.ops.DedupOps.ensureBandedIndexSplit(
        graft.sources.Tables(spark, sfDir, "documents")
          .filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
        "graft_q208_split", corpusTag = docsTag, splitOccupancy = 2)
    }
    // q209's appended state (ensure base + append batch happen inside the
    // query's meta-tag guard): the first call pays the lifecycle, timed
    // calls then measure the drift AUDIT — the row's claim — not a build
    setup("q209_split_layout_drift") {
      run(graft.SparkEntry.queries("q209_split_layout_drift")(spark, sfDir))
    }
    // q210's refrozen state (ensure + append + refreeze happen inside the
    // query's guard): timed calls then measure the drift audit over the
    // refrozen index — the row's claim — not the lifecycle build
    setup("q210_split_refreeze") {
      run(graft.SparkEntry.queries("q210_split_refreeze")(spark, sfDir))
    }
    setup("graft_q90_ivf") {
      graft.ops.SimilarityOps.ensureIvfIndex(
        graft.sources.Tables(spark, sfDir, "embeddings"),
        "graft_q90_ivf", corpusTag = embTag, nCells = 8)
    }
    setup("graft_q108_ivfpq") {
      graft.ops.SimilarityOps.ensureIvfPqIndex(
        graft.sources.Tables(spark, sfDir, "embeddings"),
        "graft_q108_ivfpq", corpusTag = embTag, nCells = 8)
    }
    setup("graft_q109_divfpq") {
      graft.ops.SimilarityOps.ensureIvfPqIndex(
        graft.sources.Tables(spark, sfDir, "embeddings"),
        "graft_q109_divfpq", corpusTag = embTag, nCells = 8, coarse = "lattice")
    }
    setup("graft_q111_ivfadc") {
      graft.ops.SimilarityOps.ensureIvfPqIndex(
        graft.sources.Tables(spark, sfDir, "embeddings"),
        "graft_q111_ivfadc", corpusTag = embTag, nCells = 8, coarse = "lattice",
        encode = "residual")
    }
    // the shared (0.2, kTop 4) kNN index q184/q189/q197 serve from: the
    // ensure here makes the graph tier's rows price probes + consumers,
    // not per-query SRP rebuilds (a real pipeline maintains this index
    // across ingests — the build is paid once per corpus)
    setup("served_knn_edges") {
      run(graft.SparkEntry.servedKnnEdges(spark, sfDir))
    }
    // TWO timed passes, per-query MIN: a single sample records GC pauses /
    // run-position artifacts as if they were the query's cost (a recorded
    // 4.97 s once reran at 1.24 s with zero code change). Min-of-two is
    // cheap — the operator caches are pre-materialized above, so the second
    // pass measures steady-state execution like the first. A query that
    // THROWS records an error, never a timing: time-to-exception is not a
    // measurement, and a broken query must not look green-and-fast.
    def timedPass(): Map[String, Either[String, Double]] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val r = try { run(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Left(errorText(e)) }
        name -> r
      }.toMap
    val pass1 = timedPass()
    // reset to pass-1 starting conditions: drop the query-built operator
    // caches (else pass 2 reads pass 1's materializations and times faster
    // than any isolated run could), keep only the shared pre-materialized
    // dedup cache by rebuilding it (the persisted index tables survive on
    // disk untouched — both passes probe the same prebuilt index)
    graft.ops.CacheScope.default.release()
    setup("dedup_cache_pass2", prebuild = false) {
      run(graft.ops.DedupOps.shingleHashSets(
        graft.sources.Tables(spark, sfDir, "documents")))
    }
    val pass2 = timedPass()
    val merged = mergePasses(pass1, pass2)
    graft.ops.CacheScope.default.release()
    // VARIANCE PASS: re-time the worst movers vs the previous artifact
    // (read BEFORE this run overwrites it) three more times each — with
    // the two sweep passes that's a min-of-5 floor, the protocol that
    // pinned every round-13 drift flag back to its floor. Runs by
    // default against BENCH_last.json; SPARK_GRAFT_RETIME_N=0 disables,
    // SPARK_GRAFT_RETIME_REF re-points the reference.
    val retimeN = sys.env.get("SPARK_GRAFT_RETIME_N").map(_.toInt)
      .getOrElse(8)
    val ref = refTimes(sys.env.getOrElse("SPARK_GRAFT_RETIME_REF",
      "BENCH_last.json"))
    val okNow = merged.collect { case (k, Right(v)) => k -> v }
    val retimeErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val retimed = worstMovers(okNow, ref, retimeN).map { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to 3).flatMap { _ =>
        graft.ops.CacheScope.default.release()
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => retimeErrors(name) = errorText(e); None }
      }
      name -> (okNow(name) +: runs).min
    }.toMap
    graft.ops.CacheScope.default.release()
    val json = renderJson(merged, sfDir, retimed, setupErrors.toSeq,
      retimeErrors.toSeq)
    // persist the FULL line to files so the driver's parse never depends
    // on scraping the sbt log tail. A SUBSET run (SPARK_GRAFT_ONLY) never
    // defaults onto BENCH_last.json — that file is the full-suite record
    // the driver reads, and a 2-query total silently replacing it would
    // misreport the engine; subset runs must name their output explicitly.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH_last.json") else None)
    val outWritten = out.filter { o =>
      try { Files.writeString(Paths.get(o), json + "\n"); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    // ROUND-STAMPED full artifact: the driver's BENCH_r{N}.json keeps only
    // a 2000-char stdout tail — too short for the full per-query map — so
    // a full sweep also writes BENCH_full_r{N}.json (N = 1 + the highest
    // committed round artifact) with the complete line: the round-stamped
    // record then parses standalone, per-query times and retimed floors
    // included, without cross-referencing the worktree BENCH_last.json.
    val fullPath = if (only.isEmpty) {
      try {
        val rn = 1 + Files.list(Paths.get(".")).toArray.toSeq
          .map(_.toString)
          .flatMap("BENCH_r([0-9]+)\\.json$".r.findFirstMatchIn(_))
          .map(_.group(1).toInt)
          .foldLeft(0)(math.max)
        val p = f"BENCH_full_r$rn%02d.json"
        Files.writeString(Paths.get(p), json + "\n")
        Some(p)
      } catch { case scala.util.control.NonFatal(_) => outWritten }
    } else outWritten
    // print the full line FIRST (complete record in the log for a human),
    // then the COMPACT line LAST so the driver's ~2000-char stdout tail
    // always contains one complete parseable JSON line (the full line
    // alone exceeded the tail window at 210 queries and truncated
    // mid-line — the r14/r15 lost-PERF root cause)
    println(json)
    println(renderCompactJson(merged, sfDir, retimed, fullPath,
      setupErrors.toSeq, retimeErrors.toSeq))
    spark.stop()
    if (prebuildFailed) sys.exit(1)
  }
}
