package graft

import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}

/** Co-located joins via bucketed tables: writing both sides bucketed by the
  * join key removes the shuffle from every subsequent equi-join on it —
  * asserted on the physical plan, with results identical to the plain join.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed orders ⋈ lineitem joins with NO shuffle exchange, same results") {
    val orders = Tables(spark, SparkTestBase.sf001, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lineitem = Tables(spark, SparkTestBase.sf001, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))

    Bucketing.writeBucketed(orders, "orders_b", "o_orderkey", 4)
    Bucketing.writeBucketed(lineitem, "lineitem_b", "o_orderkey", 4)
    try {
      val joined = Bucketing.readTable(spark, "orders_b")
        .join(Bucketing.readTable(spark, "lineitem_b"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n${plan.take(800)}")

      // same answer as the shuffled join of the raw tables
      val bucketedAgg = joined.agg(count(lit(1)), sum("l_quantity")).head()
      val plainAgg = orders.join(lineitem, Seq("o_orderkey"))
        .agg(count(lit(1)), sum("l_quantity")).head()
      assert(bucketedAgg === plainAgg)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("persisted banded dedup index: probe == recompute path, corpus never re-shuffles") {
    import graft.ops.DedupOps
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    DedupOps.writeBandedIndex(corpus, "t_banded_idx", buckets = 4)
    try {
      val fromIndex = DedupOps.probeBandedIndex(batch, "t_banded_idx")
        .orderBy("doc_id").collect().toSeq
      val recomputed = DedupOps.incrementalDedupReport(batch, corpus)
        .orderBy("doc_id").collect().toSeq
      assert(fromIndex === recomputed)
      assert(fromIndex.nonEmpty)
      assertCorpusExchangeFree(
        DedupOps.probeBandedIndex(batch, "t_banded_idx"), "t_banded_idx")
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_banded_idx_$s"))
  }

  test("persisted lexical index: BM25 probe == in-session, postings never re-shuffle, NULL coverage") {
    import graft.ops.TextOps
    import spark.implicits._
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val queries = docs.filter(col("doc_id") % 29 === 0)
    TextOps.writeLexicalIndex(corpus, "t_lex_idx", ngram = 2, buckets = 4)
    try {
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))
      val persisted = TextOps.bm25TopKFromIndex(queries, "t_lex_idx", k = 5)
        .collect().map(key).toSet
      val inSession = TextOps.bm25TopK(corpus, queries, k = 5, ngram = 2)
        .collect().map(key).toSet
      assert(persisted === inSession)
      assert(persisted.nonEmpty)
      assertCorpusExchangeFree(
        TextOps.bm25TopKFromIndex(queries, "t_lex_idx", k = 5), "t_lex_idx")
      // NULL-coverage contract: a query sharing no bigram with the corpus
      // surfaces as a NULL best row, flagged false — never a dropped row
      val rep = TextOps.lexicalContaminationReport(
          queries.limit(2).select(col("doc_id"),
            when(col("doc_id") === 0, lit("zz qq vv ww")).otherwise(col("text"))
              .as("text")),
          "t_lex_idx", thresholdMicro = 1L)
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(rep(0L).isNullAt(1) && !rep(0L).getBoolean(4))
      assert(rep.size === 2)
    } finally TextOps.lexicalIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_lex_idx_$s"))
  }

  test("persisted IVF index: probe == in-session distributed IVF, cells never re-shuffle") {
    import graft.ops.SimilarityOps
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0 until 24).map { i =>
      val c = i % 3
      val base = Array.tabulate(4)(j => if (j == c) 10.0f else 0.0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.1f))
    }
    val df = data.toDF("vec_id", "embedding")
    SimilarityOps.writeIvfIndex(df, "t_ivf_idx", nCells = 3, buckets = 4)
    try {
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getInt(3))
      // same quantizer (same seed/data) ⇒ identical output to the
      // in-session distributed form
      val persisted = SimilarityOps.ivfTopKPersisted(df, "t_ivf_idx", k = 3, nProbe = 2)
        .collect().map(key).toSet
      val inSession = SimilarityOps.ivfTopKDistributed(df, k = 3, nCells = 3, nProbe = 2)
        .collect().map(key).toSet
      assert(persisted === inSession)
      assert(persisted.nonEmpty)
      assertCorpusExchangeFree(
        SimilarityOps.ivfTopKPersisted(df, "t_ivf_idx", k = 3, nProbe = 2),
        "t_ivf_idx")
    } finally Seq("cells", "centroids", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_idx_$s"))
  }

  test("index writes are session-idempotent: rebuild succeeds over an orphaned warehouse dir") {
    import org.apache.spark.sql.graft.bridge
    val table = "t_orphan_b"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val fs = new org.apache.hadoop.fs.Path(bridge.defaultTablePath(spark, table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the driver's failure mode: a FRESH session (catalog has no
    // entry) over a warehouse where a previous JVM left the directory —
    // saveAsTable alone fails LOCATION_ALREADY_EXISTS on this
    fs.mkdirs(new org.apache.hadoop.fs.Path(bridge.defaultTablePath(spark, table)))
    try {
      val df = spark.range(10).toDF("id").withColumn("v", col("id") * 2)
      Bucketing.writeBucketed(df, table, "id", 2)
      assert(spark.table(table).count() === 10)
      // a repeat write (catalog entry now exists) also succeeds
      Bucketing.writeBucketed(df.limit(5), table, "id", 2)
      assert(spark.table(table).count() === 5)
      // same contract for the unbucketed companion-table writer
      val meta = "t_orphan_meta"
      spark.sql(s"DROP TABLE IF EXISTS $meta")
      fs.mkdirs(new org.apache.hadoop.fs.Path(bridge.defaultTablePath(spark, meta)))
      try {
        Bucketing.saveTable(spark.range(3).toDF("id"), meta)
        assert(spark.table(meta).count() === 3)
      } finally Bucketing.dropTableAndLocation(spark, meta)
    } finally Bucketing.dropTableAndLocation(spark, table)
  }

  /** Parquet part-file names carry a per-job UUID, so an unchanged listing
    * proves the table was NOT rewritten.
    */
  private def tableFiles(table: String): Set[String] = {
    import org.apache.spark.sql.graft.bridge
    val loc = new org.apache.hadoop.fs.Path(bridge.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).map(_.getPath.getName).toSet
  }

  test("ensureBandedIndex / ensureIvfIndex: matching tag is a no-op, changed tag rebuilds") {
    import graft.ops.{DedupOps, SimilarityOps}
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    try {
      DedupOps.ensureBandedIndex(corpus, "t_ens_idx", corpusTag = "tagA", buckets = 4)
      val l1 = tableFiles("t_ens_idx_bands")
      DedupOps.ensureBandedIndex(corpus, "t_ens_idx", corpusTag = "tagA", buckets = 4)
      assert(tableFiles("t_ens_idx_bands") === l1, "same tag must not rebuild")
      DedupOps.ensureBandedIndex(corpus, "t_ens_idx", corpusTag = "tagB", buckets = 4)
      assert(tableFiles("t_ens_idx_bands") !== l1, "changed tag must rebuild")
      // changed build parameter also rebuilds
      val l2 = tableFiles("t_ens_idx_bands")
      DedupOps.ensureBandedIndex(corpus, "t_ens_idx", corpusTag = "tagB",
        shingleK = 4, buckets = 4)
      assert(tableFiles("t_ens_idx_bands") !== l2, "changed params must rebuild")
      // a changed BUCKET COUNT rebuilds too — silently reusing the old
      // layout would break the exchange-free bucketed-join contract the
      // caller asked for
      val l3 = tableFiles("t_ens_idx_bands")
      DedupOps.ensureBandedIndex(corpus, "t_ens_idx", corpusTag = "tagB",
        shingleK = 4, buckets = 8)
      assert(tableFiles("t_ens_idx_bands") !== l3, "changed bucket count must rebuild")
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_ens_idx_$s"))

    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    try {
      SimilarityOps.ensureIvfIndex(emb, "t_ens_ivf", corpusTag = "tagA",
        nCells = 4, buckets = 4)
      val l1 = tableFiles("t_ens_ivf_cells")
      SimilarityOps.ensureIvfIndex(emb, "t_ens_ivf", corpusTag = "tagA",
        nCells = 4, buckets = 4)
      assert(tableFiles("t_ens_ivf_cells") === l1, "same tag must not rebuild")
      SimilarityOps.ensureIvfIndex(emb, "t_ens_ivf", corpusTag = "tagB",
        nCells = 4, buckets = 4)
      assert(tableFiles("t_ens_ivf_cells") !== l1, "changed tag must rebuild")
    } finally Seq("cells", "centroids", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_ens_ivf_$s"))
  }

  test("appendToBandedIndex: probe after append == recompute over corpus ∪ batch") {
    import graft.ops.DedupOps
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val corpus0 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 =!= 0)
    val increment = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    DedupOps.writeBandedIndex(corpus0, "t_app_idx", buckets = 4, corpusTag = "base")
    try {
      DedupOps.appendToBandedIndex(increment, "t_app_idx",
        newCorpusTag = "base+inc1")
      val fromIndex = DedupOps.probeBandedIndex(batch, "t_app_idx")
        .orderBy("doc_id").collect().toSeq
      val recomputed = DedupOps.incrementalDedupReport(
          batch, corpus0.unionByName(increment))
        .orderBy("doc_id").collect().toSeq
      assert(fromIndex === recomputed)
      assert(fromIndex.nonEmpty)
      // the appended rows landed IN the bucketed layout: probes stay
      // corpus-exchange-free over old + new files alike
      assertCorpusExchangeFree(
        DedupOps.probeBandedIndex(batch, "t_app_idx"), "t_app_idx")
      // meta restamped so ensure with the old tag knows the index moved on
      assert(spark.table("t_app_idx_meta").head()
        .getAs[String]("corpus_tag") === "base+inc1")
      // the append's existing-count is PRUNED to the batch's touched keys:
      // the corpus _bands scan feeds a LEFT SEMI against the broadcast
      // batch key set (append I/O scales with the batch, not the corpus)
      // and is never re-shuffled before its aggregation
      val old = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val appendPlan = DedupOps.plannedBandedAppend(
            DedupOps.shingleHashSets(batch, "text", "doc_id", 3),
            "t_app_idx", k = 32, bands = 16, maxBucket = 10000)
          .queryExecution.executedPlan
        val ps = appendPlan.toString
        assert(ps.contains("LeftSemi"),
          s"existing-count must be semi-join pruned to touched keys:\n${ps.take(1000)}")
        assert(ps.contains("LeftAnti"), "tombstoned buckets must be anti-joined out")
        def isBandsScan(p: SparkPlan) = p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("t_app_idx_bands"))
          case _ => false
        }
        def reachesScanWithoutJoin(p: SparkPlan): Boolean = p match {
          case f if isBandsScan(f) => true
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case other => other.children.exists(reachesScanWithoutJoin)
        }
        appendPlan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
          assert(!reachesScanWithoutJoin(e.child),
            s"corpus bands re-shuffled in append:\n${e.treeString.take(600)}")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", old)
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_app_idx_$s"))
  }

  test("maintainKnnIndex: corpus part-files untouched — epoch appends are batch-sized I/O") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val prefix = "t_knn_app"
    try {
      SimilarityOps.ensureKnnIndex(base, prefix, corpusTag = "a#base",
        minCos = 0.2, kTop = 4, buckets = 4)
      val v0 = tableFiles(s"${prefix}_vecs")
      val b0 = tableFiles(s"${prefix}_bands")
      val k0 = tableFiles(s"${prefix}_kept")
      SimilarityOps.maintainKnnIndex(batch, prefix)
      val v1 = tableFiles(s"${prefix}_vecs")
      val b1 = tableFiles(s"${prefix}_bands")
      val k1 = tableFiles(s"${prefix}_kept")
      assert(v0.subsetOf(v1) && b0.subsetOf(b1),
        "maintain must never rewrite committed corpus part-files")
      assert(k0.subsetOf(k1),
        "the kept state must take a touched-sized DELTA append — the " +
          "full O(n*kTop) snapshot rewrite is the 100 TB write bill " +
          "this layout removes")
      assert((v1 !== v0) && (b1 !== b0) && (k1 !== k0),
        "the batch's rows must land as new part-files")
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("refreezeBandedIndexSplit: cold part-files untouched — the skew tail appends, nothing corpus-sized rewrites") {
    import graft.ops.DedupOps
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val prefix = "t_refreeze_io"
    // name + size + mtime per part-file: byte-identity for files that
    // were never rewritten (an in-place rewrite moves size or mtime)
    def fileStats(table: String): Set[(String, Long, Long)] = {
      import org.apache.spark.sql.graft.bridge
      val loc = new org.apache.hadoop.fs.Path(
        bridge.defaultTablePath(spark, table))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
    }
    try {
      DedupOps.ensureBandedIndexSplit(base, prefix, corpusTag = "b",
        splitOccupancy = 2, buckets = 4)
      DedupOps.appendToBandedIndexSplit(batch, prefix, newCorpusTag = "bb")
      assert(DedupOps.bandedSplitLayoutDrift(spark, prefix)
          .agg(sum(col("n_outgrown"))).head().getLong(0) > 0,
        "fixture must drift before the refreeze")
      val b0 = fileStats(s"${prefix}_bands")
      val s0 = fileStats(s"${prefix}_sets")
      DedupOps.refreezeBandedIndexSplit(spark, prefix)
      val b1 = fileStats(s"${prefix}_bands")
      assert(b0.subsetOf(b1),
        "refreeze must never rewrite committed band part-files — the " +
          "re-keyed skew tail lands as NEW files and the stale rows " +
          "hide under the layout-version rule")
      assert(b1 !== b0, "the re-keyed rows must land as new part-files")
      assert(fileStats(s"${prefix}_sets") === s0,
        "_sets is not the refreeze's business")
      // a drift-free refreeze writes NOTHING (file-level no-op)
      val b2 = fileStats(s"${prefix}_bands")
      DedupOps.refreezeBandedIndexSplit(spark, prefix)
      assert(fileStats(s"${prefix}_bands") === b2,
        "an idempotent refreeze re-run must not touch the table")
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("freshTable: a replace by ANOTHER session is observed; the raw read is the stale-listing class it guards") {
    // the X220 regression locked as a spec: spark.newSession() gives two
    // SessionCatalogs in one JVM — session A resolves (and caches the
    // file listing of) a table, session B drops + recreates it, and A's
    // next RAW read runs against the pre-replace listing (stale rows or
    // FAILED_READ_FILE on the deleted part-files, both observed live).
    // freshTable must observe the replacement from A regardless
    import spark.implicits._
    val sA = spark
    val sB = spark.newSession()
    val t = "t_x220_spec"
    try {
      Bucketing.saveTable(Seq((1L, "one")).toDF("id", "v"), t)
      assert(Bucketing.freshTable(sA, t).collect().map(_.getString(1))
        .toSeq === Seq("one"))
      // B replaces (drop + recreate — new part-files, same name)
      locally {
        import sB.implicits._
        Bucketing.saveTable(
          Seq((1L, "two"), (2L, "two")).toDF("id", "v"), s"$t")
      }
      val raw = scala.util.Try(sA.table(t).collect().map(_.getString(1)))
      val rawSawReplace = raw.toOption.exists(_.toSeq.sorted ==
        Seq("two", "two"))
      assert(!rawSawReplace,
        "the raw spark.table read observed a cross-session replace — " +
          "the stale-listing class no longer reproduces; re-evaluate " +
          "whether freshTable is still needed")
      assert(Bucketing.freshTable(sA, t).collect().map(_.getString(1))
        .toSeq.sorted === Seq("two", "two"),
        "freshTable must observe the cross-session replacement")
    } finally Bucketing.dropTableAndLocation(spark, t)
  }

  test("knnIndexEdges: a repeated serve against an unchanged store re-lists nothing corpus-sized") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val pfx = "t_knn_gate"
    try {
      SimilarityOps.ensureKnnIndex(emb, pfx, corpusTag = "g#1",
        minCos = 0.2, kTop = 4, buckets = 4)
      val e0 = SimilarityOps.knnIndexEdges(spark, pfx).count()
      def listings() = Bucketing.refreshCount(s"${pfx}_kept")
      val c1 = listings()
      // repeated serves: the store is unchanged, so the version-gated
      // read must NOT re-list the n·kTop kept table again (at 100 TB an
      // ungated refresh re-listed millions of part-files per probe)
      assert(SimilarityOps.knnIndexEdges(spark, pfx).count() === e0)
      assert(SimilarityOps.knnIndexEdges(spark, pfx).count() === e0)
      assert(listings() === c1,
        "a repeated serve re-listed the kept table despite no commit")
      // a commit moves the token: exactly the next serve re-lists
      import spark.implicits._
      SimilarityOps.deleteFromKnnIndex(
        emb.limit(1).select(col("vec_id")), pfx)
      val e1 = SimilarityOps.knnIndexEdges(spark, pfx).count()
      assert(listings() > c1,
        "a committed mutation must make the next serve re-list")
      val c2 = listings()
      assert(SimilarityOps.knnIndexEdges(spark, pfx).count() === e1)
      assert(listings() === c2, "and the serve after it must not")
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(pfx)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("build-dropped buckets stay closed: an append cannot reopen a pathological bucket") {
    import graft.ops.DedupOps
    import spark.implicits._
    val text = (0 until 20).map(i => s"w$i").mkString(" ")
    // 3 identical corpus docs with cap 2: every band bucket is over cap at
    // BUILD time, dropped entirely, and tombstoned
    val corpus = (0L until 3L).map((_, text)).toDF("doc_id", "text")
    DedupOps.writeBandedIndex(corpus, "t_tomb_idx", maxBucket = 2, buckets = 4,
      corpusTag = "tomb")
    try {
      assert(spark.table("t_tomb_idx_bands").count() === 0)
      assert(spark.table("t_tomb_idx_dropped").count() > 0,
        "over-cap buckets must leave tombstones")
      // batch rows landing in a dropped bucket must NOT be admitted: the
      // existing-count sees 0 there (the corpus members are absent), so
      // without the tombstone they'd re-enter a bucket the build deemed
      // pathological and probe only against each other
      val batch = (10L until 12L).map((_, text)).toDF("doc_id", "text")
      DedupOps.appendToBandedIndex(batch, "t_tomb_idx")
      assert(spark.table("t_tomb_idx_bands").count() === 0,
        "append reopened a build-dropped bucket")
      // their shingle sets still land — orphan sets rows are harmless
      assert(spark.table("t_tomb_idx_sets").filter(col("id") >= 10L).count() === 2)
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_tomb_idx_$s"))
  }

  test("delete/compact: tombstoned ids stop matching; compact == rebuild-minus-ids") {
    import graft.ops.DedupOps
    import spark.implicits._
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    DedupOps.writeBandedIndex(corpus, "t_del_idx", buckets = 4, corpusTag = "del")
    try {
      val before = DedupOps.probeBandedIndex(batch, "t_del_idx")
        .orderBy("doc_id").collect().toSeq
      // tombstone the corpus ids that matched anything — every batch doc
      // that had matches must now report fewer (here: via removing ALL of
      // a known match's sources we can't know ids directly, so delete a
      // deterministic corpus slice and compare against the recompute)
      val victims = corpus.filter(col("doc_id") % 7 === 1).select(col("doc_id"))
      DedupOps.deleteFromBandedIndex(victims, "t_del_idx")
      val logical = DedupOps.probeBandedIndex(batch, "t_del_idx")
        .orderBy("doc_id").collect().toSeq
      val expect = DedupOps.incrementalDedupReport(
          batch, corpus.join(victims, Seq("doc_id"), "left_anti"))
        .orderBy("doc_id").collect().toSeq
      assert(logical === expect,
        "logical delete must be probe-equivalent to the shrunken corpus")
      assert(logical !== before, "the deleted slice must have affected matches")
      // idempotent re-delete
      DedupOps.deleteFromBandedIndex(victims, "t_del_idx")
      assert(spark.table("t_del_idx_deleted").count() === victims.count())
      // the operational one-row report sees the logical state: live docs
      // exclude tombstones, the tombstone count drives the compact call
      val st = DedupOps.bandedIndexStats(spark, "t_del_idx").head()
      assert(st.getAs[Long]("n_tombstones") === victims.count())
      assert(st.getAs[Long]("n_docs") ===
        corpus.count() - victims.count())
      assert(st.getAs[Long]("max_bucket_seen") <=
        st.getAs[Int]("max_bucket").toLong)
      assert(st.getAs[String]("corpus_tag") === "del")
      // compact: physical removal, empty tombstones, same probe answers
      DedupOps.compactBandedIndex("t_del_idx")
      assert(spark.table("t_del_idx_deleted").count() === 0)
      assert(spark.table("t_del_idx_sets")
        .join(victims.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
        .count() === 0, "compact must drop tombstoned set rows")
      val compacted = DedupOps.probeBandedIndex(batch, "t_del_idx")
        .orderBy("doc_id").collect().toSeq
      assert(compacted === expect)
      val st2 = DedupOps.bandedIndexStats(spark, "t_del_idx").head()
      assert(st2.getAs[Long]("n_tombstones") === 0L)
      assert(st2.getAs[Long]("n_docs") === corpus.count() - victims.count())
      // probes stay corpus-exchange-free after the compaction rewrite
      assertCorpusExchangeFree(
        DedupOps.probeBandedIndex(batch, "t_del_idx"), "t_del_idx")
      // ensure invariant still holds (bands ⊆ sets after the rewrite)
      DedupOps.ensureBandedIndex(corpus.join(victims, Seq("doc_id"), "left_anti"),
        "t_del_idx", corpusTag = "del", buckets = 4)
      assert(spark.table("t_del_idx_meta").head().getAs[String]("corpus_tag") === "del")
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_del_idx_$s"))
  }

  test("maintainBandedIndexFromDiff: delta-maintained index == fresh index of the new snapshot") {
    import graft.ops.{DedupOps, RelationalOps}
    import spark.implicits._
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    // old snapshot: ids with md5 bucket != 0; new snapshot: bucket != 1,
    // bucket-2 texts revised — q140's construction, so the diff has all
    // four statuses
    val b = pmod(graft.ops.DetHash.md5Hash60(
      concat(lit("snap|"), col("doc_id").cast("string"))), lit(10L))
    val oldSnap = docs.withColumn("b", b).filter(col("b") =!= 0).drop("b")
    val newSnap = docs.withColumn("b", b).filter(col("b") =!= 1)
      .withColumn("text", when(col("b") === 2,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .drop("b")
    val diff = RelationalOps.snapshotDiff(oldSnap, newSnap)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id") + 100000L as "doc_id", col("text"))
    DedupOps.writeBandedIndex(oldSnap, "t_mnt_idx", buckets = 4, corpusTag = "v1")
    DedupOps.writeBandedIndex(newSnap, "t_ref_idx", buckets = 4, corpusTag = "v2")
    try {
      DedupOps.maintainBandedIndexFromDiff(newSnap, diff, "t_mnt_idx",
        newCorpusTag = "v2")
      val maintained = DedupOps.probeBandedIndex(batch, "t_mnt_idx")
        .orderBy("doc_id").collect().toSeq
      val fresh = DedupOps.probeBandedIndex(batch, "t_ref_idx")
        .orderBy("doc_id").collect().toSeq
      assert(maintained === fresh,
        "delta maintenance must be probe-equivalent to a fresh build")
      assert(maintained.nonEmpty)
      assert(spark.table("t_mnt_idx_meta").head()
        .getAs[String]("corpus_tag") === "v2")
      // changed docs forced a compact, so no tombstones linger
      assert(spark.table("t_mnt_idx_deleted").count() === 0)
      // REMOVALS-ONLY cycle then RE-ADD: v3 drops a slice (tombstones only,
      // no compact needed), v4 re-adds it — the maintenance must detect the
      // tombstoned-and-appending ids and compact first, or the re-added
      // docs would silently vanish in the append's anti-join
      val snap3 = newSnap.filter(col("doc_id") % 9 =!= 3)
      DedupOps.maintainBandedIndexFromDiff(snap3,
        RelationalOps.snapshotDiff(newSnap, snap3), "t_mnt_idx",
        newCorpusTag = "v3")
      assert(spark.table("t_mnt_idx_deleted").count() > 0,
        "a removals-only delta stays a cheap logical delete")
      DedupOps.maintainBandedIndexFromDiff(newSnap,
        RelationalOps.snapshotDiff(snap3, newSnap), "t_mnt_idx",
        newCorpusTag = "v4")
      val reAdded = DedupOps.probeBandedIndex(batch, "t_mnt_idx")
        .orderBy("doc_id").collect().toSeq
      assert(reAdded === fresh,
        "re-added docs after a removals-only cycle must re-enter the index")
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s => {
      spark.sql(s"DROP TABLE IF EXISTS t_mnt_idx_$s")
      spark.sql(s"DROP TABLE IF EXISTS t_ref_idx_$s")
    })
  }

  test("corpusPairsFromIndex/clusters: == in-session pipeline, bands self-join exchange-free") {
    import graft.ops.DedupOps
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    DedupOps.writeBandedIndex(docs, "t_cp_idx", buckets = 4, corpusTag = "cp")
    try {
      val fromIndex = DedupOps.corpusPairsFromIndex(spark, "t_cp_idx")
        .orderBy("a", "b").collect().toSeq
      val recomputed = DedupOps.minHashVerifiedPairs(docs)
        .orderBy("a", "b").collect().toSeq
      assert(fromIndex === recomputed)
      assert(fromIndex.nonEmpty)
      val clIdx = DedupOps.clustersFromBandedIndex(spark, "t_cp_idx")
        .orderBy("doc_id").collect().toSeq
      val clLive = DedupOps.nearDupClusters(docs)
        .orderBy("doc_id").collect().toSeq
      assert(clIdx === clLive)
      // the bands self-join must not exchange either side (same bucketed,
      // sorted table on both sides of the bucket-column equi-join)
      val old = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val plan = DedupOps.corpusPairsFromIndex(spark, "t_cp_idx")
          .queryExecution.executedPlan
        val bandScans = plan.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("t_cp_idx_bands")) => f
        }
        assert(bandScans.size === 2 && bandScans.forall(_.bucketedScan))
        def under(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("t_cp_idx_bands"))
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case o => o.children.exists(under)
        }
        plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
          assert(!under(e.child), "bands self-join side was re-shuffled")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", old)
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_cp_idx_$s"))
  }

  test("semanticPairsFromIvfIndex: == brute pairs within cells, self-join exchange-free") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    SimilarityOps.writeIvfIndex(emb, "t_sp_idx", nCells = 8, buckets = 4,
      corpusTag = "sp")
    try {
      val minCos = 0.4
      val fromIndex = SimilarityOps.semanticPairsFromIvfIndex(
          spark, "t_sp_idx", minCos)
        .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // expected = exact cosine pairs RESTRICTED to the index's own cells
      // (the IVF recall contract: cross-cell pairs are out of scope)
      val cells = spark.table("t_sp_idx_cells")
        .select(col("cell"), col("neighbor_id"))
      val sameCell = cells.select(col("cell"), col("neighbor_id").as("a"))
        .join(cells.select(col("cell"), col("neighbor_id").as("b")), Seq("cell"))
        .filter(col("a") < col("b")).select(col("a"), col("b"))
      val expected = SimilarityOps.cosinePairsBlocked(emb, minCos)
        .select(col("a"), col("b"))
        .join(sameCell, Seq("a", "b"), "left_semi")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fromIndex === expected)
      assert(fromIndex.nonEmpty)
      // clusters run and cover every live id exactly once
      val cl = SimilarityOps.semanticClustersFromIvfIndex(spark, "t_sp_idx", minCos)
      assert(cl.count() === emb.count())
      assert(cl.select(col("vec_id")).distinct().count() === emb.count())
      // the cells self-join must not exchange either side. Disable the
      // broadcast fallback: at test scale Spark would broadcast one side
      // (and rightly skip the bucketed scan); the 100 TB shape under
      // assertion is the sort-merge join over the shared bucketed layout
      val old = spark.conf.get("spark.sql.adaptive.enabled")
      val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val plan = SimilarityOps.semanticPairsFromIvfIndex(spark, "t_sp_idx", minCos)
          .queryExecution.executedPlan
        val scans = plan.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("t_sp_idx_cells")) => f
        }
        assert(scans.size === 2 && scans.forall(_.bucketedScan))
        assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          "in-cell pair generation must be exchange-free end to end")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", old)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      }
    } finally Seq("cells", "centroids", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_sp_idx_$s"))
  }

  test("ensureBandedIndex: torn bands rows (id without a sets row) force a rebuild") {
    import graft.ops.DedupOps
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    try {
      DedupOps.ensureBandedIndex(corpus, "t_torn_idx", corpusTag = "tagA", buckets = 4)
      val l1 = tableFiles("t_torn_idx_bands")
      // simulate a torn append: a band row whose id has no shingle-set row —
      // its rerank lookup would silently drop the candidate
      spark.sql("INSERT INTO t_torn_idx_bands " +
        "SELECT band_idx, band_sig, 999999999 FROM t_torn_idx_bands LIMIT 1")
      DedupOps.ensureBandedIndex(corpus, "t_torn_idx", corpusTag = "tagA", buckets = 4)
      assert(tableFiles("t_torn_idx_bands") !== l1,
        "an index violating bands ⊆ sets must rebuild even under a matching tag")
      assert(spark.table("t_torn_idx_bands").select("id")
        .join(spark.table("t_torn_idx_sets").select("id"), Seq("id"), "left_anti")
        .isEmpty, "rebuild must restore the invariant")
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_torn_idx_$s"))
  }

  test("appendToIvfIndex: probe after append == brute force over corpus ∪ batch, still exchange-free") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val corpus = emb.filter(col("vec_id") < 150)
    val batch = emb.filter(col("vec_id") >= 150)
    SimilarityOps.writeIvfIndex(corpus, "t_ivf_app", nCells = 4, buckets = 4)
    try {
      SimilarityOps.appendToIvfIndex(batch, "t_ivf_app")
      val queries = emb.filter(col("vec_id") < 5)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getInt(3))
      // exhaustive probe ⇒ the frozen quantizer cannot matter: appended
      // members must be fully retrievable, exactly
      val persisted = SimilarityOps.ivfTopKPersisted(queries, "t_ivf_app",
        k = 5, nProbe = 4).collect().map(key).toSet
      val exact = SimilarityOps.bruteForceTopK(emb, queries, 5)
        .collect().map(key).toSet
      assert(persisted === exact)
      // some appended vector actually participates in the results
      assert(spark.table("t_ivf_app_cells")
        .filter(col("neighbor_id") >= 150).count() === batch.count())
      assertCorpusExchangeFree(
        SimilarityOps.ivfTopKPersisted(queries, "t_ivf_app", k = 5, nProbe = 4),
        "t_ivf_app")
    } finally Seq("cells", "centroids", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_app_$s"))
  }

  test("IVF and IVF-PQ appends skip ids already indexed: a replayed batch changes nothing") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val corpus = emb.filter(col("vec_id") < 150)
    val batch = emb.filter(col("vec_id") >= 150 && col("vec_id") < 220)
    val queries = emb.filter(col("vec_id") < 5)
    val scope = graft.ops.CacheScope()
    SimilarityOps.writeIvfIndex(corpus, "t_ivf_rep", nCells = 4, buckets = 4)
    SimilarityOps.ensureIvfPqIndex(corpus, "t_ivfpq_rep", corpusTag = "c150",
      nCells = 4, buckets = 4, scope = scope)
    try {
      val families = Seq[(String, org.apache.spark.sql.DataFrame => Unit,
          () => org.apache.spark.sql.DataFrame)](
        ("t_ivf_rep", SimilarityOps.appendToIvfIndex(_, "t_ivf_rep"),
          () => SimilarityOps.ivfTopKPersisted(queries, "t_ivf_rep", k = 5, nProbe = 4)),
        ("t_ivfpq_rep", SimilarityOps.appendToIvfPqIndex(_, "t_ivfpq_rep"),
          () => SimilarityOps.ivfPqTopKPersisted(queries, "t_ivfpq_rep", k = 5, nProbe = 4)))
      for ((prefix, append, probe) <- families) {
        def state = (spark.table(s"${prefix}_cells").count(), probe().collect().toSet)
        append(batch)
        val once = state
        assert(once._1 === corpus.count() + batch.count(), prefix)
        append(batch)
        assert(state === once, s"$prefix: a replayed append must insert nothing")
      }
    } finally {
      Seq("cells", "centroids", "meta", "deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_ivf_rep_$s"))
      Seq("cells", "centroids", "codebook", "meta", "deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_ivfpq_rep_$s"))
      scope.release()
    }
  }

  test("appendToIvfIndex evaluates its batch once") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val corpus = emb.filter(col("vec_id") < 150)
    SimilarityOps.writeIvfIndex(corpus, "t_ivf_once", nCells = 4, buckets = 4)
    try {
      val rows = emb.filter(col("vec_id") >= 150 && col("vec_id") < 220)
      val n = rows.count()
      // every evaluation of the batch's plan passes its rows through the map
      val reads = spark.sparkContext.longAccumulator("batch rows read")
      val batch = spark.createDataFrame(
        rows.rdd.map { r => reads.add(1L); r }, rows.schema)
      SimilarityOps.appendToIvfIndex(batch, "t_ivf_once")
      assert(reads.value === n, "the admission step must read the batch once")
      assert(spark.table("t_ivf_once_cells").count() === corpus.count() + n)
    } finally Seq("cells", "centroids", "meta", "deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_once_$s"))
  }

  test("index lifecycle writes free the checkpoints they materialize") {
    import graft.ops.{DedupOps, SimilarityOps}
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val ivfCorpus = emb.filter(col("vec_id") < 150)
    DedupOps.writeBandedIndex(docs.filter(col("doc_id") % 5 =!= 0), "t_lc_bd",
      buckets = 4, corpusTag = "lc")
    SimilarityOps.writeIvfIndex(ivfCorpus, "t_lc_iv", nCells = 4, buckets = 4)
    SimilarityOps.ensureKnnIndex(ivfCorpus, "t_lc_kn", corpusTag = "lc",
      minCos = 0.2, kTop = 4, buckets = 4)
    try {
      val noDiff = Seq.empty[(Long, String)].toDF("vec_id", "status")
      // each step's own caches go with its scope; what remains is checkpoints
      val steps: Seq[(String, graft.ops.CacheScope => Unit)] = Seq(
        "banded append" -> (s => DedupOps.appendToBandedIndex(
          docs.filter(col("doc_id") % 5 === 0), "t_lc_bd", scope = s)),
        "banded delete" -> (_ => DedupOps.deleteFromBandedIndex(
          docs.filter(col("doc_id") % 7 === 1).select(col("doc_id")), "t_lc_bd")),
        "banded compact" -> (_ => DedupOps.compactBandedIndex("t_lc_bd")),
        "ivf append" -> (_ => SimilarityOps.appendToIvfIndex(
          emb.filter(col("vec_id") >= 150 && col("vec_id") < 200), "t_lc_iv")),
        "ivf delete" -> (_ => SimilarityOps.deleteFromIvfIndex(
          emb.filter(col("vec_id") % 7 === 1).select(col("vec_id")), "t_lc_iv")),
        "ivf compact" -> (_ => SimilarityOps.compactIvfIndex("t_lc_iv")),
        "ivf restamp" -> (_ => SimilarityOps.maintainIvfIndexFromDiff(
          ivfCorpus, noDiff, "t_lc_iv", newCorpusTag = "lc2")),
        "knn maintain" -> (_ => SimilarityOps.maintainKnnIndex(
          emb.filter(col("vec_id") >= 150 && col("vec_id") < 200), "t_lc_kn")),
        "split build" -> (s => DedupOps.writeBandedIndexSplit(
          docs.filter(col("doc_id") % 5 =!= 0), "t_lc_sp", buckets = 4,
          corpusTag = "lc", splitOccupancy = 2, scope = s)),
        "split append" -> (s => DedupOps.appendToBandedIndexSplit(
          docs.filter(col("doc_id") % 5 === 0), "t_lc_sp", scope = s)),
        "split refreeze" -> (_ => DedupOps.refreezeBandedIndexSplit(spark, "t_lc_sp")))
      for ((name, step) <- steps) {
        val before = sc.getPersistentRDDs.keySet.toSet
        val scope = graft.ops.CacheScope()
        step(scope)
        scope.release()
        assert(sc.getPersistentRDDs.keySet.toSet -- before === Set.empty[Int], name)
      }
      assert(spark.table("t_lc_iv_meta").head().getAs[String]("corpus_tag") === "lc2")
      assert(spark.table("t_lc_kn_meta").count() === 2, "the kNN batch committed")
      assert(spark.table("t_lc_sp_meta").head().getAs[Long]("layout_ver") === 2L,
        "the refreeze had outgrown cells to freeze")
    } finally {
      DedupOps.bandedIndexTables.foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_lc_bd_$s"))
      Seq("cells", "centroids", "meta", "deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_lc_iv_$s"))
      spark.catalog.listTables().collect().map(_.name)
        .filter(t => t.startsWith("t_lc_kn_") || t.startsWith("t_lc_sp_"))
        .foreach(t => graft.sources.Bucketing.dropTableAndLocation(spark, t))
    }
  }

  test("persisted IVF-PQ index: exhaustive probe == pqSearch; append stays frozen-model-consistent") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val scope = graft.ops.CacheScope()
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    SimilarityOps.ensureIvfPqIndex(corpus, "t_ivfpq", corpusTag = "c400",
      nCells = 4, buckets = 4, scope = scope)
    try {
      val queries = emb.filter(col("vec_id") < 3)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      // exhaustive probe: the coarse quantizer only routes, so the ranking
      // must equal the in-session PQ search over the same corpus bit-for-bit
      val probe = SimilarityOps.ivfPqTopKPersisted(queries, "t_ivfpq",
        k = 5, nProbe = 4).collect().map(key).toSet
      val direct = SimilarityOps.pqSearch(corpus, col("vec_id") < 3, k = 5,
        scope = scope).collect().map(key).toSet
      assert(probe === direct)
      // append under the FROZEN model: a later probe must equal ADC from
      // the stored (scale, codebook) over the encoded corpus ∪ batch
      SimilarityOps.appendToIvfPqIndex(batch, "t_ivfpq")
      val (scale, cb) = SimilarityOps.readPqModel(spark, "t_ivfpq")
      val expect = SimilarityOps.pqAdcTopKFromModel(
        SimilarityOps.pqEncode(emb, scale, cb), queries, scale, cb, 5)
        .collect().map(key).toSet
      val probe2 = SimilarityOps.ivfPqTopKPersisted(queries, "t_ivfpq",
        k = 5, nProbe = 4).collect().map(key).toSet
      assert(probe2 === expect)
      assert(spark.table("t_ivfpq_cells")
        .filter(col("vec_id") >= 400).count() === batch.count())
      assertCorpusExchangeFree(
        SimilarityOps.ivfPqTopKPersisted(queries, "t_ivfpq", k = 5, nProbe = 4),
        "t_ivfpq")
      // same-tag ensure is a no-op — the appended rows survive
      SimilarityOps.ensureIvfPqIndex(corpus, "t_ivfpq", corpusTag = "c400",
        nCells = 4, buckets = 4, scope = scope)
      assert(spark.table("t_ivfpq_cells").count() === emb.count())
    } finally {
      Seq("cells", "centroids", "codebook", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_ivfpq_$s"))
      scope.release()
    }
  }

  test("lattice-coarse IVF-PQ: exhaustive == pqSearch, partial ⊆ exhaustive, append routes like build") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val scope = graft.ops.CacheScope()
    val corpus = emb.filter(col("vec_id") < 400)
    SimilarityOps.ensureIvfPqIndex(corpus, "t_divfpq", corpusTag = "c400",
      nCells = 4, buckets = 4, coarse = "lattice", scope = scope)
    try {
      val queries = emb.filter(col("vec_id") < 3)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      // routing-independence lemma holds for the lattice quantizer too
      val exhaustive = SimilarityOps.ivfPqTopKPersisted(queries, "t_divfpq",
        k = 5, nProbe = 4).collect().map(key).toSet
      val direct = SimilarityOps.pqSearch(corpus, col("vec_id") < 3, k = 5,
        scope = scope).collect().map(key).toSet
      assert(exhaustive === direct)
      // a partial probe shrinks COVERAGE, never corrupts scores: every
      // (query, vec, adc) it returns appears with the identical ADC in the
      // full exhaustive ranking (top-k of a subset can include vectors the
      // full top-k beats, so subset-of-top-k would be the wrong assertion)
      val partial = SimilarityOps.ivfPqTopKPersisted(queries, "t_divfpq",
          k = 5, nProbe = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(partial.nonEmpty)
      val fullRanking = SimilarityOps.ivfPqTopKPersisted(queries, "t_divfpq",
          k = 400, nProbe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(partial.subsetOf(fullRanking))
      // append-time routing (Scala integer loop) lands each vector in the
      // SAME cell build-time assignment (the pqCode expression) would:
      // re-appending a build vector under a new id must co-locate with it
      val twin = corpus.filter(col("vec_id") === 7L)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      SimilarityOps.appendToIvfPqIndex(twin, "t_divfpq")
      val cells = spark.table("t_divfpq_cells")
        .filter(col("vec_id").isin(7L, 100007L))
        .select(col("cell")).collect().map(_.getInt(0)).toSet
      assert(cells.size === 1, s"twin must route to the original's cell: $cells")
    } finally {
      Seq("cells", "centroids", "codebook", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_divfpq_$s"))
      scope.release()
    }
  }

  test("residual IVFADC: partial scores uncorrupted, twin code-collides, encode change rebuilds") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val scope = graft.ops.CacheScope()
    val corpus = emb.filter(col("vec_id") < 400)
    SimilarityOps.ensureIvfPqIndex(corpus, "t_rivfpq", corpusTag = "c400",
      nCells = 4, buckets = 4, coarse = "lattice", encode = "residual",
      scope = scope)
    try {
      val queries = emb.filter(col("vec_id") < 3)
      // per-probed-cell LUTs never corrupt a score: every (query, vec, adc)
      // a partial probe returns appears with the identical ADC in the full
      // exhaustive ranking (the q109 coverage-not-scores lemma)
      val partial = SimilarityOps.ivfPqTopKPersisted(queries, "t_rivfpq",
          k = 5, nProbe = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(partial.nonEmpty)
      val fullRanking = SimilarityOps.ivfPqTopKPersisted(queries, "t_rivfpq",
          k = 400, nProbe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(partial.subsetOf(fullRanking))
      // a corpus member's own residual quantization error is near-minimal:
      // every query retrieves itself under an exhaustive probe
      val self = SimilarityOps.ivfPqTopKPersisted(queries, "t_rivfpq",
          k = 5, nProbe = 4).collect()
        .filter(r => r.getLong(0) === r.getLong(1)).map(_.getLong(0)).toSet
      assert(self === Set(0L, 1L, 2L))
      // marker scoped to _cells: the residual LUT join legitimately scans
      // the tiny _centroids model table (nCells rows, broadcast side)
      assertCorpusExchangeFree(
        SimilarityOps.ivfPqTopKPersisted(queries, "t_rivfpq", k = 5, nProbe = 4),
        "t_rivfpq_cells")
      // append under the frozen models: a re-appended build vector lands in
      // the SAME cell with IDENTICAL residual codes (full code collision —
      // same residual, same codebook)
      val twin = corpus.filter(col("vec_id") === 7L)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      SimilarityOps.appendToIvfPqIndex(twin, "t_rivfpq")
      val rows = spark.table("t_rivfpq_cells")
        .filter(col("vec_id").isin(7L, 100007L)).collect()
        .map(r => (r.getInt(0), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      assert(rows.length === 2 && rows.toSet.size === 1,
        s"twin must collide at codebook resolution: ${rows.toSeq}")
      // switching encode on the same tag is a REAL meta change → rebuild
      // (appended rows gone, corpus-only cells back)
      SimilarityOps.ensureIvfPqIndex(corpus, "t_rivfpq", corpusTag = "c400",
        nCells = 4, buckets = 4, coarse = "lattice", encode = "raw",
        scope = scope)
      assert(spark.table("t_rivfpq_cells").count() === corpus.count())
    } finally {
      Seq("cells", "centroids", "codebook", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_rivfpq_$s"))
      scope.release()
    }
  }

  test("appendToBandedIndex cap: batch rows fill remaining slots, only overflow drops") {
    import graft.ops.DedupOps
    import spark.implicits._
    val text = (0 until 20).map(i => s"w$i").mkString(" ")
    // 3 identical corpus docs (every band bucket holds 3), cap = 5
    val corpus = (0L until 3L).map((_, text)).toDF("doc_id", "text")
    DedupOps.writeBandedIndex(corpus, "t_cap_idx", maxBucket = 5, buckets = 4,
      corpusTag = "cap")
    try {
      // 4 identical batch docs: 2 fit (3+2 = 5), 2 overflow — the previous
      // all-or-nothing filter would have dropped all 4
      val batch = (10L until 14L).map((_, text)).toDF("doc_id", "text")
      DedupOps.appendToBandedIndex(batch, "t_cap_idx")
      val perBucket = spark.table("t_cap_idx_bands")
        .groupBy("band_idx", "band_sig").count()
        .select("count").collect().map(_.getLong(0))
      assert(perBucket.nonEmpty)
      assert(perBucket.forall(_ === 5L),
        s"every bucket must fill to exactly the cap: ${perBucket.toSeq}")
      // deterministic admission: the LOWEST batch ids won the slots
      val admitted = spark.table("t_cap_idx_bands")
        .filter(col("id") >= 10L).select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(admitted === Set(10L, 11L))
    } finally graft.ops.DedupOps.bandedIndexTables.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_cap_idx_$s"))
  }

  test("ivfDriftReport/Summary: balanced build is healthy, drifted appends flip the retrain flag") {
    import graft.ops.SimilarityOps
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 3 tight clusters on axes 0/1/2 of R^4, 30 vectors each → balanced
    val base = (0 until 90).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(4)(j =>
        (if (j == c) 10f else 0f) + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    SimilarityOps.writeIvfIndex(base, "t_drift", nCells = 3, buckets = 4)
    try {
      val healthy = SimilarityOps.ivfDriftSummary(spark, "t_drift").head()
      assert(!healthy.getAs[Boolean]("retrain_recommended"),
        s"balanced fresh index must not recommend retrain: $healthy")
      assert(healthy.getAs[Double]("mean_residual") < 0.05)
      // drifted ingest: 200 vectors along a direction NO centroid covers
      // (axis 3) — wherever the frozen quantizer puts them (they are near-
      // equidistant to every centroid, so noise decides), their residual is
      // near-total: exactly the degradation the report exists to surface
      val drift = (1000 until 1200).map { i =>
        (i.toLong, Array.tabulate(4)(j =>
          (if (j == 3) 10f else 0f) + rnd.nextFloat() * 0.1f))
      }.toDF("vec_id", "embedding")
      SimilarityOps.appendToIvfIndex(drift, "t_drift")
      val drifted = SimilarityOps.ivfDriftSummary(spark, "t_drift").head()
      assert(drifted.getAs[Boolean]("retrain_recommended"),
        s"drifted index must recommend retrain: $drifted")
      assert(drifted.getAs[Double]("mean_residual") > 0.5,
        s"200 of 290 members sit ~orthogonal to their centroid: $drifted")
      assert(drifted.getAs[Long]("n_vectors") === 290L)
      // the per-cell report localizes the damage: every over-grown cell's
      // residual is dominated by appended members
      val worst = SimilarityOps.ivfDriftReport(spark, "t_drift")
        .orderBy(desc("n_members")).head()
      assert(worst.getAs[Long]("n_members") > 30L &&
        worst.getAs[Double]("mean_residual") > 0.5,
        s"the biggest cell must show the drift: $worst")
    } finally Seq("cells", "centroids", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_drift_$s"))
  }

  test("persisted IVF with nProbe = nCells returns the EXACT top-k (q90's oracle lemma)") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    SimilarityOps.ensureIvfIndex(emb, "t_ivf_ex", corpusTag = "sf001",
      nCells = 4, buckets = 4)
    try {
      val queries = emb.filter(col("vec_id") < 5)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getInt(3))
      // probing every cell makes the learned partition irrelevant: the
      // result must equal exact brute force, bit for bit on the rank keys
      val persisted = SimilarityOps.ivfTopKPersisted(queries, "t_ivf_ex",
        k = 5, nProbe = 4).collect().map(key).toSet
      val exact = SimilarityOps.bruteForceTopK(emb, queries, 5)
        .collect().map(key).toSet
      assert(persisted === exact)
      assert(persisted.nonEmpty)
    } finally Seq("cells", "centroids", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_ex_$s"))
  }

  test("partitioned sink: partition-key filter prunes directories at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val events = Tables(spark, SparkTestBase.sf001, "events")
    Bucketing.writePartitioned(events, dir, Seq("event_type"))

    val back = spark.read.parquet(dir).filter(col("event_type") === "error")
    val scan = back.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    // the filter must land in PartitionFilters (directory pruning), not
    // remain a post-scan data filter over every file
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"expected event_type in PartitionFilters, got: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount === 1,
      s"only the error partition may be read, got ${scan.selectedPartitions.partitionCount}")
    // and the data still round-trips
    assert(back.count() ===
      events.filter(col("event_type") === "error").count())
  }

  test("JSONL source: gzip round-trip preserves rows; malformed lines quarantine, never drop") {
    import graft.sources.JsonlSource
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    JsonlSource.write(docs, s"$dir/shards", compression = "gzip")
    assert(new java.io.File(s"$dir/shards").listFiles()
      .exists(_.getName.endsWith(".json.gz")), "shards must actually be gzip'd")
    val (good, bad) = JsonlSource.readDocuments(spark, s"$dir/shards")
    assert(bad.count() === 0)
    assert(good.count() === docs.count())
    // full value round-trip, not just counts
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = good.select(docs.columns.map(col): _*).orderBy("doc_id").collect().toSeq
    assert(a === b)

    // a crawl shard with garbage lines: good rows parse, bad lines are
    // COUNTED and retained verbatim — not dropped, not fatal
    val mixed = s"$dir/mixed.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(mixed), java.util.Arrays.asList(
      """{"doc_id": 1, "text": "fine", "lang": "en", "source": "web", "n_chars": 4}""",
      """not json at all {{{""",
      """{"doc_id": 2, "text": "also fine", "lang": "de", "source": "web", "n_chars": 9}"""))
    val (g2, b2) = JsonlSource.readDocuments(spark, mixed)
    assert(g2.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(b2.collect().map(_.getString(0)).toSeq === Seq("not json at all {{{"))
  }

  test("zValue: bit interleaving, clamping, curve-locality monotonicity") {
    import graft.sources.ZOrder
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L),
      (-7L, 2000L)).toDF("a", "b")
    val z = df.select(ZOrder.zValue(col("a"), col("b"), 10).as("z"))
      .collect().map(_.getLong(0))
    assert(z(0) === 0L) // (0,0) -> 0
    assert(z(1) === 1L) // a occupies even bit positions
    assert(z(2) === 2L) // b occupies odd bit positions
    // (3,5) = a bits 1,1 -> z bits 0,2; b bits 1,0,1 -> z bits 1,5
    assert(z(3) === (1L | 2L | 4L | 32L))
    assert(z(4) === (1L << 20) - 1) // max corner
    // (-7, 2000) clamps to (0, 1023): all ten odd bit positions set
    assert(z(5) === (0 until 10).map(i => 1L << (2 * i + 1)).sum)
  }

  test("writeZOrdered: every file's span is tight on BOTH dimensions") {
    import graft.sources.ZOrder
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // both dimensions must fill the 10-bit domain for interleaving to tile
    // meaningfully (user_id has only ~15 distinct values at sf0.001)
    val events = Tables(spark, SparkTestBase.sf001, "events")
      .select(pmod(col("event_id"), lit(1024L)).as("u"),
        least(greatest(floor(col("value") * 3).cast("long"), lit(0L)), lit(1023L)).as("vb"))
    ZOrder.writeZOrdered(events, "u", "vb", s"$dir/z", nFiles = 8)
    // contrast layout: single-dimension sort (tight on u, loose on vb)
    events.repartitionByRange(8, col("u")).sortWithinPartitions(col("u"))
      .write.mode("overwrite").parquet(s"$dir/lin")

    def spans(path: String): Array[(Double, Double)] =
      spark.read.parquet(path)
        .groupBy(input_file_name()).agg(
          (max(col("u")) - min(col("u"))).cast("double").as("su"),
          (max(col("vb")) - min(col("vb"))).cast("double").as("sv"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2)))

    val zs = spans(s"$dir/z")
    val ls = spans(s"$dir/lin")
    assert(zs.length === 8 && ls.length === 8)
    def avg(xs: Array[Double]) = xs.sum / xs.length
    val (zu, zv) = (avg(zs.map(_._1)), avg(zs.map(_._2)))
    val (lu, lv) = (avg(ls.map(_._1)), avg(ls.map(_._2)))
    // z-order: BOTH dims' average per-file span well under the full domain;
    // linear sort: u tight but vb spans ~everything
    val (uDom, vDom) = {
      val r = events.agg(max(col("u")) - min(col("u")),
        max(col("vb")) - min(col("vb"))).head()
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    assert(zu < uDom * 0.6, s"z-order u span $zu vs domain $uDom")
    assert(zv < vDom * 0.6, s"z-order vb span $zv vs domain $vDom")
    assert(lv > zv * 1.5 && lv > vDom * 0.6,
      s"linear layout should be much looser on vb: linear $lv vs z-order $zv (domain $vDom)")
    // and the z-layout round-trips the data
    assert(spark.read.parquet(s"$dir/z").count() === events.count())
  }

  test("IVF delete/compact: tombstoned ids stop matching, compact == logical, frozen re-append restores") {
    import graft.ops.SimilarityOps
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 3)
    SimilarityOps.writeIvfIndex(emb, "t_ivf_del", nCells = 4, buckets = 4,
      corpusTag = "v1")
    try {
      // exhaustive probes (nProbe = nCells) — results depend only on the
      // LIVE member set, not the centroids, so they compare across indexes
      def probe(prefix: String) =
        SimilarityOps.ivfTopKPersisted(queries, prefix, k = 5, nProbe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
      val before = probe("t_ivf_del")
      assert(before.nonEmpty)
      val victims = emb.filter(col("vec_id") % 7 === 1).select(col("vec_id"))
      val victimIds = victims.collect().map(_.getLong(0)).toSet
      SimilarityOps.deleteFromIvfIndex(victims, "t_ivf_del")
      val logical = probe("t_ivf_del")
      assert(logical !== before, "the deleted slice must have affected matches")
      assert(logical.forall(r => !victimIds.contains(r._2)),
        "tombstoned ids must not appear as neighbors")
      // logical delete == fresh index built on the survivors
      SimilarityOps.writeIvfIndex(
        emb.join(victims, Seq("vec_id"), "left_anti"), "t_ivf_dref",
        nCells = 4, buckets = 4)
      assert(logical === probe("t_ivf_dref"),
        "logical delete must be probe-equivalent to the shrunken corpus")
      // idempotent re-delete; tombstoned ids skip appends until a compact
      SimilarityOps.deleteFromIvfIndex(victims, "t_ivf_del")
      assert(spark.table("t_ivf_del_deleted").count() === victims.count())
      val cellsBefore = spark.table("t_ivf_del_cells").count()
      SimilarityOps.appendToIvfIndex(emb.join(victims, Seq("vec_id"),
        "left_semi"), "t_ivf_del")
      assert(spark.table("t_ivf_del_cells").count() === cellsBefore,
        "tombstoned ids must not re-append before a compact")
      // compact: physical removal, empty tombstones, same answers,
      // probes still exchange-free over the rewritten bucketed layout
      SimilarityOps.compactIvfIndex("t_ivf_del")
      assert(spark.table("t_ivf_del_deleted").count() === 0)
      assert(spark.table("t_ivf_del_cells")
        .filter(col("neighbor_id").isin(victimIds.toSeq: _*)).count() === 0)
      assert(probe("t_ivf_del") === logical)
      assertCorpusExchangeFree(
        SimilarityOps.ivfTopKPersisted(queries, "t_ivf_del", k = 5, nProbe = 4),
        "t_ivf_del")
      // after the compact the ids are admissible again; the FROZEN
      // quantizer assigns them back to their original cells, so the
      // restored index answers exactly as before the delete
      SimilarityOps.appendToIvfIndex(emb.join(victims, Seq("vec_id"),
        "left_semi"), "t_ivf_del")
      assert(probe("t_ivf_del") === before)
    } finally Seq("cells", "centroids", "meta", "deleted").foreach(s => {
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_del_$s")
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_dref_$s")
    })
  }

  test("maintainIvfIndexFromDiff: delta-maintained == fresh build at exhaustive probe; re-add compacts") {
    import graft.ops.{RelationalOps, SimilarityOps}
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 7)
    // old snapshot: md5 bucket != 0; new: bucket != 1, bucket-2 vectors
    // revised (negated) — the diff carries all four statuses
    val b = pmod(graft.ops.DetHash.md5Hash60(
      concat(lit("esnap|"), col("vec_id").cast("string"))), lit(10L))
    val oldSnap = emb.withColumn("b", b).filter(col("b") =!= 0).drop("b")
    val newSnap = emb.withColumn("b", b).filter(col("b") =!= 1)
      .withColumn("embedding", when(col("b") === 2,
        transform(col("embedding"), x => -x)).otherwise(col("embedding")))
      .drop("b")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("sig", col("embedding").cast("string"))
    SimilarityOps.writeIvfIndex(oldSnap, "t_ivf_mnt", nCells = 4, buckets = 4,
      corpusTag = "v1")
    SimilarityOps.writeIvfIndex(newSnap, "t_ivf_mref", nCells = 4, buckets = 4,
      corpusTag = "v2")
    try {
      def probe(prefix: String) =
        SimilarityOps.ivfTopKPersisted(queries, prefix, k = 5, nProbe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
      SimilarityOps.maintainIvfIndexFromDiff(newSnap,
        RelationalOps.snapshotDiff(sig(oldSnap), sig(newSnap), "vec_id", "sig"),
        "t_ivf_mnt", newCorpusTag = "v2")
      assert(probe("t_ivf_mnt") === probe("t_ivf_mref"),
        "delta maintenance must be probe-equivalent to a fresh build")
      assert(spark.table("t_ivf_mnt_meta").head()
        .getAs[String]("corpus_tag") === "v2")
      // changed vectors forced a compact, so no tombstones linger
      assert(spark.table("t_ivf_mnt_deleted").count() === 0)
      // REMOVALS-ONLY cycle then RE-ADD (the banded index's v3/v4 drill):
      // pure removals stay a cheap logical delete; the re-add must detect
      // the standing tombstones and compact, or the returning vectors
      // would vanish in the append's anti-join
      val snap3 = newSnap.filter(col("vec_id") % 9 =!= 3)
      SimilarityOps.maintainIvfIndexFromDiff(snap3,
        RelationalOps.snapshotDiff(sig(newSnap), sig(snap3), "vec_id", "sig"),
        "t_ivf_mnt", newCorpusTag = "v3")
      assert(spark.table("t_ivf_mnt_deleted").count() > 0,
        "a removals-only delta stays a logical delete")
      SimilarityOps.maintainIvfIndexFromDiff(newSnap,
        RelationalOps.snapshotDiff(sig(snap3), sig(newSnap), "vec_id", "sig"),
        "t_ivf_mnt", newCorpusTag = "v4")
      assert(spark.table("t_ivf_mnt_deleted").count() === 0,
        "the re-add must have compacted the standing tombstones")
      assert(probe("t_ivf_mnt") === probe("t_ivf_mref"),
        "the v3/v4 round trip must restore the v2 answers")
    } finally Seq("cells", "centroids", "meta", "deleted").foreach(s => {
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_mnt_$s")
      spark.sql(s"DROP TABLE IF EXISTS t_ivf_mref_$s")
    })
  }

  test("maintainIvfPqIndexFromDiff: delta-maintained == frozen-model rebuild at exhaustive probe; re-add compacts") {
    import graft.ops.{RelationalOps, SimilarityOps}
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 7)
    // old snapshot: md5 bucket != 0; new: bucket != 1, bucket-2 vectors
    // revised (negated) — the diff carries removed, changed and added ids
    val b = pmod(graft.ops.DetHash.md5Hash60(
      concat(lit("esnap|"), col("vec_id").cast("string"))), lit(10L))
    val oldSnap = emb.withColumn("b", b).filter(col("b") =!= 0).drop("b")
    val newSnap = emb.withColumn("b", b).filter(col("b") =!= 1)
      .withColumn("embedding", when(col("b") === 2,
        transform(col("embedding"), x => -x)).otherwise(col("embedding")))
      .drop("b")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("sig", col("embedding").cast("string"))
    def maintain(from: org.apache.spark.sql.DataFrame,
                 to: org.apache.spark.sql.DataFrame, tag: String): Unit =
      SimilarityOps.maintainIvfPqIndexFromDiff(to,
        RelationalOps.snapshotDiff(sig(from), sig(to), "vec_id", "sig"),
        "t_pq_mnt", newCorpusTag = tag)
    // both indexes train their coarse quantizer and codebook on the same
    // base, so both hold the same frozen models
    Seq("t_pq_mnt", "t_pq_mref").foreach(prefix =>
      SimilarityOps.ensureIvfPqIndex(oldSnap, prefix, corpusTag = "v1",
        nCells = 4, buckets = 4))
    try {
      // exhaustive probes (nProbe = nCells): results depend only on the
      // live codes, so the two indexes compare row for row
      def probe(prefix: String) =
        SimilarityOps.ivfPqTopKPersisted(queries, prefix, k = 5, nProbe = 4)
          .collect().map(_.toString).sorted.toSeq
      // reference: every base id tombstoned and compacted away, then the
      // new snapshot appended under the frozen models
      SimilarityOps.deleteFromIvfIndex(oldSnap.select(col("vec_id")), "t_pq_mref")
      SimilarityOps.compactIvfIndex("t_pq_mref")
      SimilarityOps.appendToIvfPqIndex(newSnap, "t_pq_mref")
      maintain(oldSnap, newSnap, "v2")
      val rebuilt = probe("t_pq_mref")
      assert(rebuilt.nonEmpty)
      assert(probe("t_pq_mnt") === rebuilt,
        "delta maintenance must be probe-equivalent to a frozen-model rebuild")
      assert(spark.table("t_pq_mnt_meta").head()
        .getAs[String]("corpus_tag") === "v2")
      // changed vectors forced a compact, so no tombstones linger
      assert(spark.table("t_pq_mnt_deleted").count() === 0)
      // REMOVALS-ONLY cycle then RE-ADD: pure removals stay a logical
      // delete; the re-add must compact the standing tombstones, or the
      // returning vectors would vanish in the append's anti-join
      val snap3 = newSnap.filter(col("vec_id") % 9 =!= 3)
      maintain(newSnap, snap3, "v3")
      assert(spark.table("t_pq_mnt_deleted").count() > 0,
        "a removals-only delta stays a logical delete")
      maintain(snap3, newSnap, "v4")
      assert(spark.table("t_pq_mnt_deleted").count() === 0,
        "the re-add must have compacted the standing tombstones")
      assert(probe("t_pq_mnt") === rebuilt,
        "the v3/v4 round trip must restore the v2 answers")
    } finally Seq("cells", "centroids", "codebook", "meta", "deleted").foreach(s => {
      spark.sql(s"DROP TABLE IF EXISTS t_pq_mnt_$s")
      spark.sql(s"DROP TABLE IF EXISTS t_pq_mref_$s")
    })
  }

  test("IVF-PQ delete/compact: tombstoned codes vanish, compact == logical, frozen re-append restores") {
    import graft.ops.SimilarityOps
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 11)
    SimilarityOps.writeIvfPqIndex(emb, "t_pq_del", nCells = 4, buckets = 4,
      corpusTag = "v1")
    try {
      def probe() =
        SimilarityOps.ivfPqTopKPersisted(queries, "t_pq_del", k = 5, nProbe = 4)
          .collect().map(_.toString).sorted.toSeq
      val before = probe()
      assert(before.nonEmpty)
      val victims = emb.filter(col("vec_id") % 7 === 2).select(col("vec_id"))
      val victimIds = victims.collect().map(_.getLong(0)).toSet
      SimilarityOps.deleteFromIvfIndex(victims, "t_pq_del")
      val logical = probe()
      assert(logical !== before)
      assert(SimilarityOps.ivfPqTopKPersisted(queries, "t_pq_del", k = 5,
          nProbe = 4).filter(col("vec_id").isin(victimIds.toSeq: _*))
        .count() === 0, "tombstoned codes must not match")
      SimilarityOps.compactIvfIndex("t_pq_del")
      assert(spark.table("t_pq_del_deleted").count() === 0)
      assert(spark.table("t_pq_del_cells")
        .filter(col("vec_id").isin(victimIds.toSeq: _*)).count() === 0)
      assert(probe() === logical, "compact must not change answers")
      assertCorpusExchangeFree(
        SimilarityOps.ivfPqTopKPersisted(queries, "t_pq_del", k = 5,
          nProbe = 4), "t_pq_del")
      // frozen coarse + frozen codebook re-encode the victims to their
      // original rows, so the restored index answers as before the delete
      SimilarityOps.appendToIvfPqIndex(emb.join(victims, Seq("vec_id"),
        "left_semi"), "t_pq_del")
      assert(probe() === before)
    } finally Seq("cells", "centroids", "codebook", "meta", "deleted")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS t_pq_del_$s"))
  }

  test("knnDensityOutliersFromCandidates off the persisted IVF index: no quadratic stage, full coverage") {
    import graft.ops.SimilarityOps
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    SimilarityOps.writeIvfIndex(emb, "t_cd_idx", nCells = 4, buckets = 4)
    try {
      val cand = SimilarityOps.ivfTopKPersisted(emb, "t_cd_idx", k = 12,
        nProbe = 4).select(col("query_id"), col("neighbor_id"))
      val rep = SimilarityOps.knnDensityOutliersFromCandidates(
        emb, cand, k = 5, bottomPct = 10)
      // the promised composition has NO corpus-quadratic stage: every join
      // is id- or cell-keyed (the only nested-loop joins are the one-row
      // threshold/total broadcasts)
      val plan = rep.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "candidate-fed density must not plan a cartesian product")
      val out = rep.collect()
      assert(out.length === emb.count().toInt,
        "every vector must appear in the audit")
      // exhaustive probes make the ANN candidate set ⊇ the true top-12,
      // so the k=5 scores match the brute kernel exactly
      val brute = SimilarityOps.knnDensityOutliers(emb, k = 5, bottomPct = 10)
        .collect().map(_.toString).sorted.toSeq
      assert(out.map(_.toString).sorted.toSeq === brute)
    } finally Seq("cells", "centroids", "meta", "deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS t_cd_idx_$s"))
  }
}
