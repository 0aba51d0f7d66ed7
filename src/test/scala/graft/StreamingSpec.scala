package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.EventOps
import graft.streaming.StreamingEvents

/** Runs the Structured Streaming wrappers for real (micro-batches over a
  * MemoryStream + file source) and asserts stream/batch consistency: the
  * same windowed aggregation expressions produce the same finalized windows
  * in both modes (the design contract in [[graft.streaming.StreamingEvents]]).
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

case class Doc(doc_id: Long, ts: Timestamp, text: String)

case class Vec(vec_id: Long, embedding: Array[Float])

class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")

  private val hour10 = Seq(
    Ev(1L, ts(10, 5), 1L, "click", 10.0),
    Ev(2L, ts(10, 20), 1L, "click", 5.0),
    Ev(3L, ts(10, 40), 2L, "error", 2.5),
    Ev(4L, ts(10, 55), 2L, "click", 1.0))

  // far enough ahead that the 2h watermark closes every hour-10 window
  private val hour14 = Seq(Ev(5L, ts(14, 1), 3L, "click", 7.0))

  /** Persisted RDD ids now, to compare against after a stream's batches:
    * a sink frees what each micro-batch persisted before the batch ends. */
  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertNoneLeft(before: Set[Int]): Unit = {
    val left = persistedIds() -- before
    assert(left.isEmpty, s"micro-batches left persisted RDDs $left behind")
  }

  test("packingIngest: streamed full blocks == batch packSequences over the same order") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables(spark, SparkTestBase.sf001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val query = StreamingEvents.packingIngest(
        mem.toDF().toDF("doc_id", "text"), capacity = 512, nShards = 1)
      .writeStream.format("memory").queryName("pack_out").outputMode("append")
      .start()
    try {
      // two micro-batches in id order: state must carry the partial block
      val (b1, b2) = (docs.take(docs.length / 2).toSeq,
        docs.drop(docs.length / 2).toSeq)
      mem.addData(b1: _*)
      query.processAllAvailable()
      val afterB1 = spark.table("pack_out").count()
      mem.addData(b2: _*)
      query.processAllAvailable()
      val streamed = spark.table("pack_out")
        .orderBy(col("block")).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      assert(afterB1 > 0 && streamed.length > afterB1,
        "both batches must close blocks")
      // batch layout over the same id order: full blocks only
      val batch = graft.ops.TextOps.packSequences(
          graft.sources.Tables(spark, SparkTestBase.sf001, "documents"),
          capacity = 512)
        .orderBy(col("block")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .filter(_._5 == 512L)
      assert(streamed.toSeq === batch.toSeq,
        "streamed full blocks must equal the batch concat-and-chunk layout")
    } finally query.stop()
  }

  test("weightedReservoirIngest: reservoir after any prefix == batch sample of rows seen") {
    implicit val sqlCtx = spark.sqlContext
    // real corpus rows PLUS a NULL-source stratum: the reservoir must keep
    // NULL as its own stratum exactly like the batch window partition does
    val docs = (graft.sources.Tables(spark, SparkTestBase.sf001, "documents")
      .select(col("source"), col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      ++ Seq((null.asInstanceOf[String], 90001L, 100L),
        (null.asInstanceOf[String], 90002L, 900L)))
      .sortBy(_._2)
    val batchDf = docs.toSeq
      .toDF("source", "doc_id", "n_chars")
    val mem = MemoryStream[(String, Long, Long)]
    val query = StreamingEvents.weightedReservoirIngest(
        mem.toDF().toDF("source", "doc_id", "n_chars"), k = 10)
      .writeStream.format("memory").queryName("res_out").outputMode("update")
      .start()
    try {
      val (b1, b2) = (docs.take(docs.length / 2).toSeq,
        docs.drop(docs.length / 2).toSeq)
      mem.addData(b1: _*)
      query.processAllAvailable()
      mem.addData(b2: _*)
      query.processAllAvailable()
      // live sample = max-version rows per stratum
      val latest = spark.table("res_out")
        .withColumn("maxv", max(col("version"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("stratum"))))
        .filter(col("version") === col("maxv"))
        .select(col("stratum"), col("doc_id"), col("weight"), col("key_nano"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val batch = graft.ops.RelationalOps.stratifiedWeightedSample(
          batchDf, "source", col("n_chars"), k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(latest === batch,
        "streamed reservoir must equal the batch stratified sample")
      assert(latest.nonEmpty)
      assert(latest.exists(_._1 == null), "NULL stratum sampled as its own group")
    } finally query.stop()
  }

  test("weightedReservoirIngest: replay with corrected weight keeps one slot per id") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val query = StreamingEvents.weightedReservoirIngest(
        mem.toDF().toDF("source", "doc_id", "n_chars"), k = 5)
      .writeStream.format("memory").queryName("res_replay_out")
      .outputMode("update")
      .start()
    try {
      // 4 docs (< k, so all live in the reservoir), then an at-least-once
      // replay re-delivers doc 2 with a CORRECTED weight — its ES key
      // changes, and a tuple-level dedup would let both versions hold two
      // of the k slots under one id
      val first = Seq(("a", 1L, 100L), ("a", 2L, 200L), ("a", 3L, 300L),
        ("a", 4L, 400L))
      mem.addData(first: _*)
      query.processAllAvailable()
      mem.addData(("a", 2L, 900L))
      query.processAllAvailable()
      val latest = spark.table("res_replay_out")
        .withColumn("maxv", max(col("version"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("stratum"))))
        .filter(col("version") === col("maxv"))
        .collect().map(r => (r.getLong(2), r.getDouble(3)))
      assert(latest.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L),
        s"each id must hold exactly one reservoir slot, got ${latest.toSeq}")
      // the kept entry per id is the MIN-key one — deterministic across
      // replay orders, so the reservoir remains an auditable fact
      val kept2 = latest.find(_._1 == 2L).get._2
      assert(kept2 == 200.0 || kept2 == 900.0)
    } finally query.stop()
  }

  test("streaming tumbling agg over MemoryStream: finalized windows match batch EventOps") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamingEvents.tumbling(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_out").outputMode("append")
      .start()
    try {
      mem.addData(hour10: _*)
      query.processAllAvailable()
      mem.addData(hour14: _*)
      query.processAllAvailable()

      val streamed = spark.table("tumbling_out")
        .filter(col("window_start") < ts(11, 0))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      val batch = EventOps.tumbling(hour10.toDF())
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      assert(streamed === batch)
      assert(streamed((ts(10, 0), "click")) === ((3L, 16.0)))
      assert(streamed((ts(10, 0), "error")) === ((1L, 2.5)))
    } finally query.stop()
  }

  test("streaming gap sessionization via session_window matches batch session count") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamingEvents.sessionized(mem.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions_out").outputMode("append")
      .start()
    try {
      mem.addData(hour10: _*)
      mem.addData(hour14: _*)
      query.processAllAvailable()
      val streamed = spark.table("sessions_out")
        .filter(col("session_start") < ts(11, 0))
        .collect().map(r => (r.getLong(0), r.getLong(3)))
      // batch equivalent on the same closed interval
      val batch = EventOps.sessionize(hour10.toDF(), gapMinutes = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(streamed.sorted === batch.sorted)
      // user 1: events at :05/:20 → two sessions; user 2: :40/:55 → two sessions
      assert(streamed.length === 4)
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization: matches batch, handles out-of-order + timeout close") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamingEvents.sessionizedCustomState(mem.toDF(), gapMinutes = 10)
      .toDF()
      .writeStream.format("memory").queryName("custom_sessions_out").outputMode("append")
      .start()
    try {
      // out-of-order delivery: user 1's :20 event arrives a micro-batch
      // BEFORE its :05 event (still inside the 2h watermark) — the interval
      // merge must fuse them into the same single-gap structure batch sees
      mem.addData(hour10.filter(_.event_id != 1L): _*)
      query.processAllAvailable()
      mem.addData(hour10.filter(_.event_id == 1L): _*)
      query.processAllAvailable()
      // watermark jump: closes every hour-10 session purely via the
      // event-time TIMEOUT path (no further traffic from users 1/2)
      mem.addData(hour14: _*)
      query.processAllAvailable()

      val streamed = spark.table("custom_sessions_out")
        .filter(col("session_start") < ts(11, 0))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2.getTime))
      val batch = EventOps.sessionize(hour10.toDF(), gapMinutes = 10)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2.getTime))
      assert(streamed === batch)
      // and agrees with the session_window wrapper's session COUNT semantics
      assert(streamed.length === 4) // 2 users × 2 sessions (15 min > 10 min gap)
    } finally query.stop()
  }

  test("streaming dedup within watermark: duplicates across micro-batches collapse") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamingEvents.dedupedWithinWatermark(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .start()
    try {
      mem.addData(hour10: _*)
      query.processAllAvailable()
      // re-send two of the same events in a later micro-batch, inside the
      // watermark — dropDuplicatesWithinWatermark must suppress them
      mem.addData(hour10.take(2): _*)
      query.processAllAvailable()
      mem.addData(hour14: _*)
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids === Array(1L, 2L, 3L, 4L, 5L), s"got ${ids.mkString(",")}")
    } finally query.stop()
  }

  test("stream-stream interval join: errors enrich with preceding clicks, matches batch join") {
    implicit val sqlCtx = spark.sqlContext
    val errs = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = StreamingEvents.intervalJoined(
      errs.toDF(), clicks.toDF(), lookbackMinutes = 30)
    val query = joined.writeStream.format("memory").queryName("joined_out")
      .outputMode("append").start()
    try {
      // user 2: click :40 precedes errors :50/:55 within 30 min; click
      // :05 (user 1) is out of user scope; a click AFTER the error must
      // not match
      val clickRows = Seq(Ev(1L, ts(10, 5), 1L, "click", 0.0),
        Ev(2L, ts(10, 40), 2L, "click", 0.0),
        Ev(3L, ts(10, 58), 2L, "click", 0.0))
      val errRows = Seq(Ev(10L, ts(10, 50), 2L, "error", 0.0),
        Ev(11L, ts(10, 55), 2L, "error", 0.0),
        Ev(12L, ts(10, 57), 1L, "error", 0.0)) // click :05 is 52 min back → no match
      clicks.addData(clickRows: _*)
      errs.addData(errRows: _*)
      query.processAllAvailable()
      val streamed = spark.table("joined_out")
        .collect().map(r => (r.getLong(0), r.getLong(3))).sorted
      assert(streamed === Array((10L, 2L), (11L, 2L)))
      // identical pair set from the equivalent batch join
      val batch = StreamingEvents.intervalJoined(
        errRows.toDF(), clickRows.toDF(), lookbackMinutes = 30)
      assert(batch.collect().map(r => (r.getLong(0), r.getLong(3))).sorted
        === streamed)
    } finally query.stop()
  }

  test("upsertSink: micro-batched CDC applies as versioned snapshots, latest value wins") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toString
    val mem = MemoryStream[(Long, String, Long)]
    val query = StreamingEvents.upsertSink(
      mem.toDF().toDF("k", "v", "ts"), base, "k", Seq("v"), "ts", ckpt).start()
    try {
      // batch 1: two inserts, one key updated twice inside the batch
      mem.addData((1L, "a", 1L), (2L, "b", 2L), (2L, "b1", 3L))
      query.processAllAvailable()
      val s1 = StreamingEvents.latestSnapshot(spark, base).get
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s1 === Map(1L -> "a", 2L -> "b1"))
      // batch 2: update + new key; prior keys survive, latest wins
      mem.addData((2L, "b2", 10L), (3L, "c", 1L))
      query.processAllAvailable()
      val s2 = StreamingEvents.latestSnapshot(spark, base).get
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s2 === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
      // batch 3: a LATE event older than the stored version must lose —
      // ordering holds across batches because the snapshot retains ts
      mem.addData((2L, "stale", 5L))
      query.processAllAvailable()
      val s3 = StreamingEvents.latestSnapshot(spark, base).get
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s3 === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
      // snapshots are versioned: earlier views remain readable
      val dirs = new java.io.File(base).listFiles().filter(_.getName.startsWith("v"))
      assert(dirs.length === 3)
    } finally query.stop()
  }

  test("streaming near-dedup: cross-micro-batch NEAR-dups collapse; stream == ordered replay") {
    implicit val sqlCtx = spark.sqlContext
    val d1 = "the quick brown fox jumps over the lazy dog while rain falls on the quiet village roofs tonight"
    val d2 = "entirely different subject matter discussing shuffle partitions and catalyst optimizer internals in great depth today"
    val d3 = d1.replace("rain", "snow") // near-dup of d1 (one token changed)
    val d4 = "a third unrelated document about medieval castle construction techniques and ancient stone masonry traditions"
    val batch1 = Seq(Doc(1L, ts(10, 5), d1), Doc(2L, ts(10, 7), d2))
    val batch2 = Seq(Doc(3L, ts(10, 20), d3), Doc(4L, ts(10, 25), d4))
    val mem = MemoryStream[Doc]
    val query = StreamingEvents.nearDedupedWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("neardedup_out").outputMode("append")
      .start()
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      // far-future doc advances the watermark past the hour-10 windows
      mem.addData(Doc(99L, ts(14, 0),
        "watermark advancing filler document with enough distinct tokens to shingle properly"))
      query.processAllAvailable()
      val out = spark.table("neardedup_out")
        .filter(col("w_start") < ts(11, 0))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap

      // ordered-replay oracle: same fingerprint column, claims simulated in
      // arrival order (batch1 before batch2; no intra-batch collisions by
      // construction) — docs claiming zero buckets are absent from output
      val fps = (batch1 ++ batch2).toDF()
        .select(col("doc_id"), graft.ops.DedupOps.simHashCol(col("text")).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def bands(f: Long): Seq[(Int, Long)] =
        (0 until 6).map(b => (b, (f >> (b * 10)) & ((1L << 10) - 1)))
      val claimed = scala.collection.mutable.Set.empty[(Int, Long)]
      val expected = (batch1 ++ batch2).map { d =>
        val mine = bands(fps(d.doc_id))
        val newly = mine.filterNot(claimed.contains)
        claimed ++= mine
        d.doc_id -> ((newly.size.toLong, newly.size == 6))
      }.filter(_._2._1 > 0).toMap
      assert(out === expected)
      // semantics spot-checks: originals and the unrelated doc pass as
      // novel; the near-dup of doc 1 is suppressed
      assert(out(1L)._2 === true)
      assert(out(2L)._2 === true)
      assert(out(4L)._2 === true)
      assert(!out.get(3L).exists(_._2), s"near-dup doc 3 must not be novel: $out")
    } finally query.stop()
  }

  test("streaming near-dedup: sentinel buckets stay disjoint from real bands for ANY id sign") {
    implicit val sqlCtx = spark.sqlContext
    val d1 = "the quick brown fox jumps over the lazy dog while rain falls on the quiet village roofs tonight"
    // adversarial id: a negated-id sentinel IN THE BITS SLOT (the old
    // scheme) would equal doc 1's band-0 value for this negative id and
    // falsely cost the short doc a bucket; the band_idx-negating sentinel
    // cannot collide with any real band row whatever the id's sign
    val v0 = Seq((1L, d1)).toDF("doc_id", "text")
      .select(graft.ops.DedupOps.simHashCol(col("text")).as("fp"))
      .head().getLong(0) & ((1L << 10) - 1)
    val shortId = -(v0 + 1)
    val mem = MemoryStream[Doc]
    val query = StreamingEvents.nearDedupedWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("neardedup_neg")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1L, ts(10, 5), d1))
      query.processAllAvailable()
      mem.addData(Doc(shortId, ts(10, 20), "too short"))
      query.processAllAvailable()
      mem.addData(Doc(99L, ts(14, 0),
        "watermark advancing filler document with enough distinct tokens to shingle properly"))
      query.processAllAvailable()
      val out = spark.table("neardedup_neg").filter(col("w_start") < ts(11, 0))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
      assert(out(1L) === ((6L, true)))
      assert(out(shortId) === ((6L, true)),
        s"short doc with adversarial negative id must keep all its sentinel buckets: $out")
    } finally query.stop()
  }

  test("bandedIndexIngest: stream probes the persisted index, appends only novel docs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    def words(seed: String, n: Int): String =
      (0 until n).map(i => s"$seed$i").mkString(" ")
    val c1 = words("alpha", 40)
    val c2 = words("beta", 40)
    val l11 = words("gamma", 40)
    val l13 = words("delta", 40)
    val corpus = Seq((1L, c1), (2L, c2)).toDF("doc_id", "text")
    DedupOps.writeBandedIndex(corpus, "t_stream_idx", buckets = 4,
      corpusTag = "base")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val mem = MemoryStream[Doc]
    val before = persistedIds()
    val query = StreamingEvents.bandedIndexIngest(mem.toDF(), "t_stream_idx",
      checkpointDir = ckpt).start()
    try {
      // epoch 0: an exact dup of corpus doc 1 (rejected) + a novel doc
      mem.addData(Doc(10L, ts(10, 0), c1), Doc(11L, ts(10, 1), l11))
      query.processAllAvailable()
      // epoch 1: a near-dup of the doc epoch 0 JUST appended (rejected —
      // proof the append is visible to later batches) + another novel doc
      mem.addData(Doc(12L, ts(10, 10), l11.replace("gamma7", "changed")),
        Doc(13L, ts(10, 11), l13))
      query.processAllAvailable()
      assertNoneLeft(before)
      val indexed = spark.table("t_stream_idx_sets")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(indexed === Set(1L, 2L, 11L, 13L),
        s"only novel docs may be appended: $indexed")
      assert(spark.table("t_stream_idx_meta").head()
        .getAs[String]("corpus_tag") === "stream-epoch-1")
      // and the grown index now rejects a fresh probe of an accepted doc
      val reprobe = DedupOps.probeBandedIndex(
        Seq((99L, l13)).toDF("doc_id", "text"), "t_stream_idx")
      assert(reprobe.head().getAs[Boolean]("novel") === false)
    } finally {
      query.stop()
      graft.ops.DedupOps.bandedIndexTables.foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_stream_idx_$s"))
    }
  }

  test("decontaminationGateIngest: eval-colliding docs quarantined with hit counts, clean docs pass") {
    implicit val sqlCtx = spark.sqlContext
    def words(seed: String, n: Int): String =
      (0 until n).map(i => s"$seed$i").mkString(" ")
    val bench = Seq((1L, words("ev", 20))).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-decon-out").toString
    val quar = java.nio.file.Files.createTempDirectory("graft-decon-q").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-decon-ck").toString
    val mem = MemoryStream[Doc]
    val query = StreamingEvents.decontaminationGateIngest(mem.toDF(), bench,
      out, quar, n = 8, checkpointDir = ckpt).start()
    try {
      // epoch 0: doc 10 embeds a verbatim 12-token benchmark run
      // (12-8+1 = 5 colliding 8-grams); doc 11 is clean
      val leaky = words("pre", 5) + " " +
        (0 until 12).map(i => s"ev$i").mkString(" ") + " " + words("post", 5)
      mem.addData(Doc(10L, ts(10, 0), leaky),
        Doc(11L, ts(10, 1), words("clean", 30)))
      query.processAllAvailable()
      // epoch 1: the gate stays frozen — another clean doc passes
      mem.addData(Doc(12L, ts(10, 2), words("fresh", 25)))
      query.processAllAvailable()
      val clean = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(clean === Set(11L, 12L), s"clean docs pass the gate: $clean")
      val q = spark.read.parquet(quar).collect()
      assert(q.map(_.getAs[Long]("doc_id")).toSet === Set(10L))
      assert(q.head.getAs[Long]("n_hits") === 5L,
        "exactly the 5 benchmark 8-grams of the embedded run collide")
    } finally query.stop()
  }

  test("cmsCounterIngest: streamed grid bit-equals the batch grid; estimates match exact counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    val base = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cms-ck").toString
    val mem = MemoryStream[Doc]
    val query = StreamingEvents.cmsCounterIngest(mem.toDF(), base,
      d = 3, w = 64, checkpointDir = ckpt).start()
    val d1 = Doc(1L, ts(10, 0), "a a a b b c")
    val d2 = Doc(2L, ts(10, 1), "a b d d d d")
    try {
      mem.addData(d1)
      query.processAllAvailable()
      mem.addData(d2)
      query.processAllAvailable()
    } finally query.stop()
    val snap = StreamingEvents.latestSnapshot(spark, base).get
    val batchGrid = TextOps.cmsGrid(Seq((1L, d1.text), (2L, d2.text))
      .toDF("doc_id", "text"), d = 3, w = 64)
    assert(snap.collect().map(_.toString).sorted.toSeq ===
      batchGrid.collect().map(_.toString).sorted.toSeq,
      "merged stream grid == one-shot batch grid, cell for cell")
    val est = TextOps.cmsEstimates(snap,
        Seq("a", "d", "zzz").toDF("term"), d = 3, w = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") === 4L && est("d") === 4L,
      "cross-batch totals survive the merge")
    assert(est("zzz") === 0L, "never-seen terms estimate zero")
  }

  test("lineDfIngest: streamed df table equals batch counts; index-served rewrite == one-shot dedupLines") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    val base = java.nio.file.Files.createTempDirectory("graft-linedf").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-linedf-ck").toString
    val mem = MemoryStream[Doc]
    val query = StreamingEvents.lineDfIngest(mem.toDF(), base,
      checkpointDir = ckpt).start()
    val d1 = Doc(1L, ts(10, 0), "a b\nDUP\nc d")
    val d2 = Doc(2L, ts(10, 1), "DUP\nx y")
    val d3 = Doc(3L, ts(10, 2), "solo line")
    try {
      mem.addData(d1, d2) // DUP crosses DOCS within the epoch
      query.processAllAvailable()
      mem.addData(d3)     // and the count survives the epoch merge
      query.processAllAvailable()
    } finally query.stop()
    val corpus = Seq((1L, d1.text), (2L, d2.text), (3L, d3.text))
      .toDF("doc_id", "text")
    val snap = StreamingEvents.latestSnapshot(spark, base).get
    // streamed table == one-shot batch line counts, hash for hash
    val batchDf = corpus
      .select(explode(split(col("text"), "\n")).as("line"))
      .select(graft.ops.DetHash.md5Hash60(col("line")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    assert(snap.collect().map(_.toString).sorted.toSeq ===
      batchDf.collect().map(_.toString).sorted.toSeq)
    // rewriting the corpus against the streamed table == dedupLines
    val viaIndex = DedupOps.dedupLinesFromIndex(corpus, snap)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = DedupOps.dedupLines(corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(viaIndex === oneShot)
    // the production asymmetry: a LATER delta rewritten against corpus
    // counts strikes boilerplate the delta alone could never see
    val delta = Seq((9L, "DUP\nfresh stuff")).toDF("doc_id", "text")
    val cleaned = DedupOps.dedupLinesFromIndex(delta, snap).collect().head
    assert(cleaned.getString(1) === "fresh stuff" &&
      cleaned.getLong(3) === 1L,
      "corpus-level df strikes the boilerplate line from a 1-doc delta")
  }

  test("transitionStream: cross-epoch pairs captured, singleton silent, folded counts == batch matrix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.EventOps
    val mem = MemoryStream[(Long, Timestamp, String, Long)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type", "event_id")
    val query = StreamingEvents.transitionStream(events)
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      // epoch 1 — u1: a,b (within-epoch pair); u3: singleton
      mem.addData((1L, ts(10, 0), "a", 1L), (1L, ts(10, 2), "b", 2L),
        (3L, ts(10, 5), "c", 9L))
      query.processAllAvailable()
      // epoch 2 — u1 continues with a: the b->a pair STRADDLES epochs;
      // u2 starts fresh (no transition from nothing)
      mem.addData((1L, ts(10, 6), "a", 3L), (2L, ts(10, 7), "x", 4L))
      query.processAllAvailable()
      // epoch 3 — u2's second event: another cross-epoch pair; plus an
      // at-least-once REDELIVERY of u1's already-recorded last event
      // (identical ts AND id) — must be absorbed as an idempotent no-op,
      // not throw and not emit a phantom a->a transition
      mem.addData((2L, ts(10, 9), "y", 5L), (1L, ts(10, 6), "a", 3L))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("trans_out")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val all = Seq((1L, ts(10, 0), "a", 1L), (1L, ts(10, 2), "b", 2L),
      (3L, ts(10, 5), "c", 9L), (1L, ts(10, 6), "a", 3L),
      (2L, ts(10, 7), "x", 4L), (2L, ts(10, 9), "y", 5L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val batch = EventOps.transitionMatrix(all).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed === Map(("a", "b") -> 1L, ("b", "a") -> 1L,
      ("x", "y") -> 1L))
  }

  test("clusterIngest: streamed edge batches fold to the global CC labeling; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.GraphOps
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ci-ck").toString
    // empty base: every vertex enters through a batch
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    GraphOps.ensureClusterAssignments(empty,
      Seq.empty[Long].toDF("id"), "graft_test_ci", corpusTag = "ci#0")
    val mem = MemoryStream[(Long, Long)]
    val edges = mem.toDF().toDF("a", "b")
    val before = persistedIds()
    val query = StreamingEvents.clusterIngest(edges, "graft_test_ci", ckpt).start()
    val epochs = Seq(
      Seq((1L, 2L), (3L, 4L)),          // two pairs
      Seq((5L, 6L)),                    // a third
      Seq((2L, 3L), (1L, 2L))           // MERGE {1,2}+{3,4}, plus a replayed edge
    )
    try epochs.foreach { e => mem.addData(e: _*); query.processAllAvailable() }
    finally query.stop()
    assertNoneLeft(before)
    val served = GraphOps.clusterAssignments(spark, "graft_test_ci")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = epochs.flatten.toDF("a", "b")
    val verts = (1L to 6L).toDF("id")
    val global = GraphOps.connectedComponents(all, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === global,
      "streamed incremental labeling must equal global CC over all edges")
    assert(served(4L) === 1L && served(6L) === 5L,
      "cross-epoch merge landed; untouched cluster kept its label")
  }

  test("knnGraphIngest: streamed vector batches serve the batch knnGraph at the frozen point; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    val ckpt = java.nio.file.Files.createTempDirectory("graft-knn-ck").toString
    val emb = graft.sources.Tables(spark, SparkTestBase.sf001, "embeddings")
      .localCheckpoint()
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    SimilarityOps.ensureKnnIndex(base, "graft_test_sknn",
      corpusTag = "sk#base", minCos = 0.2, kTop = 4)
    val rest = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (ep1, ep2) = rest.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Array[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val query = StreamingEvents.knnGraphIngest(vecs, "graft_test_sknn", ckpt)
      .start()
    // epoch 3 replays epoch 1's vectors — must fold to a no-op
    val epochs = Seq(ep1, ep2, ep1.take(2))
    try epochs.foreach { e => mem.addData(e: _*); query.processAllAvailable() }
    finally query.stop()
    val served = SimilarityOps.knnIndexEdges(spark, "graft_test_sknn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val global = SimilarityOps.knnGraphFrozen(emb, base, 0.2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === global,
      "streamed kNN maintenance must serve the batch recompute exactly")
    assert(served.nonEmpty)
  }

  test("knnGraphRetract: streamed id deletions serve the live recompute at every commit; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    val ckpt = java.nio.file.Files.createTempDirectory("graft-knnr-ck").toString
    val emb = graft.sources.Tables(spark, SparkTestBase.sf001, "embeddings")
      .localCheckpoint()
    SimilarityOps.ensureKnnIndex(emb, "graft_test_rknn",
      corpusTag = "rk#full", minCos = 0.2, kTop = 4)
    val dels = emb.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id")).as[Long].collect().toSeq
    val (ep1, ep2) = dels.partition(_ % 2 == 0)
    val mem = MemoryStream[Long]
    val query = StreamingEvents.knnGraphRetract(
      mem.toDF().toDF("vec_id"), "graft_test_rknn", ckpt).start()
    // epoch 3 replays epoch 1's ids — must fold to a no-op
    val epochs = Seq(ep1, ep2, ep1.take(3))
    try epochs.foreach { e => mem.addData(e: _*); query.processAllAvailable() }
    finally query.stop()
    val served = SimilarityOps.knnIndexEdges(spark, "graft_test_rknn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val global = SimilarityOps.knnGraphFrozen(
      emb.filter(col("vec_id") % 7 =!= 3), emb, 0.2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === global,
      "streamed retractions must serve the live-corpus recompute exactly")
    assert(served.nonEmpty)
  }

  test("scd2Ingest: streamed history == batch builder incl. a late splice; no-ops compact only past the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.EventOps
    val base = java.nio.file.Files.createTempDirectory("graft-scd2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2-ck").toString
    val mem = MemoryStream[(Long, Timestamp, String, Long)]
    val changes = mem.toDF()
      .toDF("user_id", "ts", "event_type", "event_id")
    // lateness horizon: 10 minutes of disorder tolerated
    val query = StreamingEvents.scd2Ingest(changes, base, ckpt,
      latenessUs = 10L * 60 * 1000000).start()
    val rows = Seq(
      // epoch 1 — u1: a, a (no-op), b; u2: x
      Seq((1L, ts(10, 0), "a", 1L), (1L, ts(10, 2), "a", 2L),
        (1L, ts(10, 4), "b", 3L), (2L, ts(10, 0), "x", 4L)),
      // epoch 2 — u1 restates b (no-op); u2 moves to y
      Seq((1L, ts(10, 6), "b", 5L), (2L, ts(10, 8), "y", 6L)),
      // epoch 3 — LATE: u1 'c' at 10:03 splices between a and b
      // (inside the horizon), renumbering downstream versions
      Seq((1L, ts(10, 3), "c", 7L)),
      // epoch 4 — far future: pushes the horizon past the early no-ops
      Seq((2L, ts(11, 0), "z", 8L))
    )
    try rows.foreach { epoch =>
      mem.addData(epoch: _*); query.processAllAvailable()
    } finally query.stop()
    // streamed history == the batch builder over ALL raw changes
    val all = rows.flatten.toDF("user_id", "ts", "event_type", "event_id")
    val streamed = StreamingEvents.scd2HistoryFromIngest(spark, base)
      .collect().map(_.toString).sorted.toSeq
    val batch = EventOps.scd2FromChangesWithId(all)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    // the late 'c' really spliced: u1's versions read a, c, b
    val u1 = EventOps.scd2FromChangesWithId(all)
      .filter(col("user_id") === 1L).orderBy(col("version"))
      .collect().map(_.getString(2)).toSeq
    assert(u1 === Seq("a", "c", "b"))
    // compaction happened: the epoch-1 no-op (id 2) is gone from the log
    // now that the horizon passed it, while in-horizon rows all survive
    val log = StreamingEvents.latestSnapshot(spark, base).get
      .collect().map(_.getLong(2)).toSet
    assert(!log.contains(2L), "past-horizon no-op must compact away")
    assert(log.contains(7L) && log.contains(8L))
  }

  test("ivfIndexIngest: stream rejects semantic dups against the index, appends only novel vectors") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    def axis(d: Int, scale: Float = 10f): Array[Float] =
      Array.tabulate(4)(j => if (j == d) scale else 0.1f * (j + 1))
    val corpus = (0 until 12).map(i => (i.toLong, axis(i % 3))).toDF("vec_id", "embedding")
    SimilarityOps.writeIvfIndex(corpus, "t_stream_ivf", nCells = 3, buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ingest").toString
    val mem = MemoryStream[Vec]
    // nProbe = nCells: recall is exact in-test, so accept/reject is
    // deterministic
    val before = persistedIds()
    val query = StreamingEvents.ivfIndexIngest(mem.toDF(), "t_stream_ivf",
      minCos = 0.95, nProbe = 3, checkpointDir = ckpt).start()
    try {
      // epoch 0: a copy of a corpus direction (dup) + a brand-new direction
      mem.addData(Vec(100L, axis(0)), Vec(101L, axis(3)))
      query.processAllAvailable()
      // epoch 1: a near-copy of the vector epoch 0 just accepted → rejected
      mem.addData(Vec(102L, axis(3, 9.5f)))
      query.processAllAvailable()
      // epoch 2 = a REPLAY of the accepted vector (same id, same data):
      // with self-exclusion the probe would discard its own first copy and
      // re-append forever; the ingest probe must find it and reject
      mem.addData(Vec(101L, axis(3)))
      query.processAllAvailable()
      assertNoneLeft(before)
      val indexed = spark.table("t_stream_ivf_cells")
        .select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(indexed.sorted === ((0L until 12L) :+ 101L).sorted,
        s"only the novel direction may be appended, exactly once: $indexed")
    } finally {
      query.stop()
      Seq("cells", "centroids", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_stream_ivf_$s"))
    }
  }

  test("ivfIndexIngest: an out-of-band delete+compact BETWEEN micro-batches is picked up, not served stale") {
    // the lifecycle contract this locks in: compactIvfIndex
    // drops-and-rewrites _cells and replaces _deleted mid-stream, and the
    // NEXT micro-batch must see the compacted state — re-ingesting the
    // deleted vector, not crashing, not matching removed content. (The
    // per-batch refreshIndexTables guards the cached-file-listing case;
    // a single-session test cannot force that cache state
    // deterministically, so this asserts the end-to-end behavior.)
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    def axis(d: Int, scale: Float = 10f): Array[Float] =
      Array.tabulate(4)(j => if (j == d) scale else 0.1f * (j + 1))
    val corpus = (0 until 12).map(i => (i.toLong, axis(i % 3))).toDF("vec_id", "embedding")
    SimilarityOps.writeIvfIndex(corpus, "t_stream_ivfc", nCells = 3, buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfc-ingest").toString
    val mem = MemoryStream[Vec]
    val query = StreamingEvents.ivfIndexIngest(mem.toDF(), "t_stream_ivfc",
      minCos = 0.95, nProbe = 3, checkpointDir = ckpt).start()
    try {
      // epoch 0: a brand-new direction is accepted into the index
      mem.addData(Vec(101L, axis(3)))
      query.processAllAvailable()
      // OUT-OF-BAND maintenance between micro-batches: tombstone the
      // just-ingested vector, then physically compact (the _cells table
      // is dropped and rewritten at a new file listing, _deleted replaced)
      SimilarityOps.deleteFromIvfIndex(
        Seq(101L).toDF("vec_id"), "t_stream_ivfc")
      SimilarityOps.compactIvfIndex("t_stream_ivfc")
      // epoch 1: re-send the deleted vector — the batch must read the
      // COMPACTED index (no crash on the old listing, no stale rows
      // claiming 101 still exists), so the re-send is novel and re-ingests
      mem.addData(Vec(101L, axis(3)))
      query.processAllAvailable()
      val indexed = spark.table("t_stream_ivfc_cells")
        .select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(indexed.sorted === ((0L until 12L) :+ 101L).sorted,
        s"post-compact batch must re-ingest the deleted vector exactly once: $indexed")
      assert(spark.table("t_stream_ivfc_deleted").count() === 0L,
        "the compact cleared the tombstones the stream must also re-read")
    } finally {
      query.stop()
      Seq("cells", "centroids", "meta", "deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_stream_ivfc_$s"))
    }
  }

  test("annRecallMonitorIngest: per-epoch recall rows; off-distribution epoch sags; matches batch audit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    // three well-separated clusters of four IDENTICAL copies each; a/b are
    // mirror-symmetric so the boundary query below ties them in exact FP
    val a = Array(10f, 1f, 0f, 0f)
    val b = Array(1f, 10f, 0f, 0f)
    val c = Array(0f, 0f, 10f, 1f)
    val ids = Map(0L -> a, 3L -> a, 4L -> a, 7L -> a,
      1L -> b, 2L -> b, 5L -> b, 6L -> b,
      8L -> c, 9L -> c, 10L -> c, 11L -> c)
    val corpus = ids.toSeq.map { case (i, v) => (i, v) }.toDF("vec_id", "embedding")
    SimilarityOps.writeIvfIndex(corpus, "t_recall_mon", nCells = 3, buckets = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-recmon").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-recmon-ck").toString
    val mem = MemoryStream[Vec]
    // sampleMod=1: audit every query; k=4 true neighbors, nProbe=1 cell
    val query = StreamingEvents.annRecallMonitorIngest(mem.toDF(),
      "t_recall_mon", out, k = 4, nProbe = 1, sampleMod = 1,
      checkpointDir = ckpt).start()
    val mid = Array(1f, 1f, 0f, 0f)
    try {
      // epoch 0 — IN-distribution: exact copies of cluster members. The
      // probed cell contains all four true top-4 (the identical copies),
      // so recall is exactly 1 whatever the trained cell layout is.
      mem.addData(Vec(100L, a.clone()), Vec(101L, b.clone()))
      query.processAllAvailable()
      // epoch 1 — OFF-distribution: the a/b boundary query. All eight a/b
      // members tie in exact FP (mirror symmetry), so the true top-4 under
      // (cos desc, id asc) is {0,1,2,3} — two from each cluster — while
      // nProbe=1 reaches only one cluster's cell: recall sags to exactly 1/2.
      mem.addData(Vec(200L, mid.clone()))
      query.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select(col("epoch").cast("long"), col("query_id"), col("n_hits"),
          col("recall_micro"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(rows.keySet === Set((0L, 100L), (0L, 101L), (1L, 200L)),
        s"one recall row per sampled query per epoch: ${rows.keySet}")
      assert(rows((0L, 100L)) === ((4L, 1000000L)))
      assert(rows((0L, 101L)) === ((4L, 1000000L)))
      assert(rows((1L, 200L)) === ((2L, 500000L)),
        "the off-distribution epoch must show the partial-probe recall sag")
      // the streamed row IS the batch audit on the same rows + index state
      val batchAudit = SimilarityOps.ivfRecallAuditPersisted(
          Seq((200L, mid)).toDF("vec_id", "embedding"), "t_recall_mon",
          k = 4, nProbe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(batchAudit.toSeq === Seq((200L, 2L, 500000L)))
    } finally {
      query.stop()
      Seq("cells", "centroids", "meta", "deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_recall_mon_$s"))
    }
  }

  test("ivfPqIndexIngest: code-collision gate rejects replicas, appends novel, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    def axis(d: Int, scale: Float = 10f): Array[Float] =
      Array.tabulate(4)(j => if (j == d) scale else 0.1f * (j + 1))
    val corpus = (0 until 12).map(i => (i.toLong, axis(i % 3))).toDF("vec_id", "embedding")
    SimilarityOps.writeIvfPqIndex(corpus, "t_stream_ivfpq", nCells = 3,
      numSub = 2, numCentroids = 4, buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfpq-ingest").toString
    val mem = MemoryStream[Vec]
    val before = persistedIds()
    val query = StreamingEvents.ivfPqIndexIngest(mem.toDF(), "t_stream_ivfpq",
      checkpointDir = ckpt).start()
    try {
      // epoch 0: an exact replica of a corpus vector under a NEW id
      // collides at codebook resolution (same cell, same codes) and is
      // rejected; a brand-new direction encodes to an unseen code tuple
      mem.addData(Vec(100L, axis(0)), Vec(101L, axis(3)))
      query.processAllAvailable()
      // epoch 1: a replica of the vector epoch 0 just accepted → rejected
      mem.addData(Vec(102L, axis(3)))
      query.processAllAvailable()
      // epoch 2: a REPLAY of the accepted vector (same id, same data) must
      // collide with its own indexed copy, never re-append
      mem.addData(Vec(101L, axis(3)))
      query.processAllAvailable()
      assertNoneLeft(before)
      val indexed = spark.table("t_stream_ivfpq_cells")
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(indexed.sorted === ((0L until 12L) :+ 101L).sorted,
        s"only the novel direction may be appended, exactly once: $indexed")
      // epoch 3: DELETE the accepted vector, then ingest identical content
      // under a NEW id — tombstoned codes must not block re-ingest (the
      // collision gate reads live members only); the tombstoned id 101
      // stays physically present but is dead to probes
      import spark.implicits._
      SimilarityOps.deleteFromIvfIndex(
        Seq(101L).toDF("vec_id"), "t_stream_ivfpq")
      mem.addData(Vec(103L, axis(3)))
      query.processAllAvailable()
      // the STREAM's clone did the inserting — re-resolve the cells table
      // in this session before reading (standard cross-session semantics
      // for file-based tables)
      spark.catalog.refreshTable("t_stream_ivfpq_cells")
      val after = spark.table("t_stream_ivfpq_cells")
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(after.sorted === ((0L until 12L) ++ Seq(101L, 103L)).sorted,
        s"deleted content must not block re-ingest of an identical vector: $after")
    } finally {
      query.stop()
      Seq("cells", "centroids", "codebook", "meta", "deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_stream_ivfpq_$s"))
    }
  }

  test("ivfPqIndexIngest on a RESIDUAL index: the collision gate works at residual resolution") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    def axis(d: Int, scale: Float = 10f): Array[Float] =
      Array.tabulate(4)(j => if (j == d) scale else 0.1f * (j + 1))
    val corpus = (0 until 12).map(i => (i.toLong, axis(i % 3))).toDF("vec_id", "embedding")
    SimilarityOps.writeIvfPqIndex(corpus, "t_stream_rivfpq", nCells = 3,
      numSub = 2, numCentroids = 4, buckets = 4, coarse = "lattice",
      encode = "residual")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rivfpq-ingest").toString
    val mem = MemoryStream[Vec]
    val query = StreamingEvents.ivfPqIndexIngest(mem.toDF(), "t_stream_rivfpq",
      checkpointDir = ckpt).start()
    try {
      // a replica routes to the same cell and its RESIDUAL encodes to the
      // same codes → rejected; a new direction appends exactly once
      mem.addData(Vec(100L, axis(0)), Vec(101L, axis(3)))
      query.processAllAvailable()
      mem.addData(Vec(102L, axis(3)))
      query.processAllAvailable()
      val indexed = spark.table("t_stream_rivfpq_cells")
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(indexed.sorted === ((0L until 12L) :+ 101L).sorted,
        s"residual gate must reject replicas, append the novel once: $indexed")
    } finally {
      query.stop()
      Seq("cells", "centroids", "codebook", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS t_stream_rivfpq_$s"))
    }
  }

  test("latestSnapshot: fresh start is None; IO-failure shapes throw, never truncate") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString
    // genuinely absent dir = fresh start
    assert(StreamingEvents.latestSnapshot(spark, s"$base/never-written").isEmpty)
    // non-local URI: java.io listing would silently return null → must throw
    intercept[IllegalArgumentException] {
      StreamingEvents.latestSnapshot(spark, "hdfs://nn/upserts")
    }
    // exists-but-not-a-directory: also a throw, not an empty store
    val f = java.nio.file.Files.createFile(
      java.nio.file.Paths.get(base, "afile"))
    intercept[IllegalArgumentException] {
      StreamingEvents.latestSnapshot(spark, f.toString)
    }
  }

  test("stateless text ops (chunkDocs, masking, langId) run unchanged on streams") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // the SAME operator calls as the batch queries — map-only ops need no
    // watermarks, no output-mode constraints, no state
    val chunked = TextOps.chunkDocs(docs, chunkTokens = 4, overlap = 1)
    val masked = TextOps.maskText(docs, Seq("secret"))
      .withColumn("lang_guess", TextOps.langId(col("masked")))
    val q1 = chunked.writeStream.format("memory").queryName("chunks_out")
      .outputMode("append").start()
    val q2 = masked.writeStream.format("memory").queryName("masked_out")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, "a b c d e f g h"), (2L, "the secret of the and is"))
      mem.addData(rows: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      // stream output == batch output, row for row
      val batchChunks = TextOps.chunkDocs(rows.toDF("doc_id", "text"), 4, 1)
        .collect().map(_.toSeq).toSet
      assert(spark.table("chunks_out").collect().map(_.toSeq).toSet === batchChunks)
      val m = spark.table("masked_out").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
      assert(m(2L)._1 === "the [MASK] of the and is" && m(2L)._2 === 1)
    } finally { q1.stop(); q2.stop() }
  }

  test("ingest gate stack: piiRedact → scriptMix → mixed filter runs map-only on a stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // the SAME composition a batch curation pass runs: redact, audit the
    // script mix of the REDACTED text, drop mixed-script spam — three
    // map-only stages, one lineage, no watermark or state anywhere
    def gate(df: org.apache.spark.sql.DataFrame) =
      TextOps.scriptMix(TextOps.piiRedact(df))
        .filter(col("mixed_script") === 0L)
    val q = gate(docs).writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "contact bob@example.com for the clean latin document"),
        (2L, "hello мир hello мир spam spam"),     // mixed script → dropped
        (3L, "обычный русский текст без примесей"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("gate_out").collect()
      assert(got.map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L),
        "mixed-script doc gated out, clean docs of any script pass")
      import spark.implicits._
      val batch = gate(rows.toDF("doc_id", "text")).collect()
      assert(got.map(_.toSeq).toSet === batch.map(_.toSeq).toSet,
        "stream gate output must bit-equal the batch composition")
    } finally { q.stop() }
  }

  test("frozen DSIR model gates a document stream: target-like pass, off-target drop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    // train the bucket model ONCE on a static corpus (alpha/beta = target)
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta", "en"),
      (2L, "gamma delta gamma delta gamma delta", "de"),
      (3L, "alpha beta gamma delta alpha beta", "de")).toDF("doc_id", "text", "lang")
    val lr = TextOps.dsirModel(corpus, corpus.filter(col("lang") === "en"),
      buckets = 64)
    // calibrate the gate from batch scores (add-1 smoothing centres tiny-
    // corpus scores below zero, so an absolute 0 threshold is meaningless):
    // the midpoint separates target-like from off-target
    val cal = Seq((0L, "alpha beta alpha beta"), (1L, "gamma delta gamma delta"))
      .toDF("doc_id", "text")
      .select(TextOps.dsirScoreCol(col("text"), lr)).collect().map(_.getLong(0))
    assert(cal(0) > cal(1), "target-like text must outscore off-target")
    val threshold = (cal(0) + cal(1)) / 2
    // the frozen model is literals → the scoring gate is a stateless
    // map-only transform that runs unchanged under writeStream
    val mem = MemoryStream[(Long, String)]
    val gated = mem.toDF().toDF("doc_id", "text")
      .withColumn("score_micro", TextOps.dsirScoreCol(col("text"), lr))
      .filter(col("score_micro") > threshold)
    val q = gated.writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      mem.addData((10L, "alpha beta alpha beta"), (11L, "gamma delta gamma delta"))
      q.processAllAvailable()
      val kept = spark.table("dsir_gate").collect().map(_.getLong(0)).toSet
      assert(kept === Set(10L), s"gate must pass target-like only, kept $kept")
      // stream score == batch score for the SAME model (bit-equal integers)
      val batchScore = Seq((10L, "alpha beta alpha beta")).toDF("doc_id", "text")
        .select(TextOps.dsirScoreCol(col("text"), lr)).head.getLong(0)
      assert(spark.table("dsir_gate").head.getLong(2) === batchScore)
    } finally q.stop()
  }

  test("frozen PQ codebook encodes a vector stream bit-identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.SimilarityOps
    val emb = graft.sources.Tables(spark, SparkTestBase.sf001, "embeddings")
    val (scale, cb) = SimilarityOps.pqTrainCodebook(emb, numSub = 4,
      numCentroids = 8, iters = 2, "vec_id", "embedding")
    // new shards arrive as a stream; encoding is a stateless expression
    // against the frozen codebook — no state store, no retrain
    val rows = emb.filter(col("vec_id") < 20)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val enc = SimilarityOps.pqEncode(
      mem.toDF().toDF("vec_id", "embedding"), scale, cb)
    val q = enc.writeStream.format("memory").queryName("pq_codes")
      .outputMode("append").start()
    try {
      mem.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("pq_codes").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = SimilarityOps.pqEncode(emb.filter(col("vec_id") < 20), scale, cb)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
    graft.ops.CacheScope.default.release()
  }

  test("file-based readEventStream processes a landing directory incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-out").toString
    (hour10 ++ hour14).toDF().write.mode("overwrite").parquet(dir)
    val stream = StreamingEvents.readEventStream(spark, dir)
    assert(stream.isStreaming)
    val query = StreamingEvents.writeParquet(
      StreamingEvents.tumbling(stream), out, ckpt).start()
    try query.processAllAvailable() finally query.stop()
    // append mode: only watermark-closed windows land in the sink
    val written = spark.read.parquet(out)
    assert(written.count() >= 2)
    assert(written.columns === Array("window_start", "event_type", "n", "sum_value"))
  }
}
