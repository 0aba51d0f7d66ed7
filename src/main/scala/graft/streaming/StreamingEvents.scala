package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.ops.RelationalOps

/** One finalized session emitted by [[StreamingEvents.sessionizedCustomState]]. */
case class Session(user_id: Long, session_start: java.sql.Timestamp,
                   session_end: java.sql.Timestamp, n_events: Long)

/** Per-user state for the custom sessionizer: the sessions still open under
  * the watermark, as (startUs, endUs, nEvents) micros intervals.
  */
case class OpenSessions(sessions: Seq[(Long, Long, Long)])

/** Current reservoir content for one stratum, as of `version` (the number
  * of micro-batches that touched the stratum) — emitted whole by
  * [[StreamingEvents.weightedReservoirIngest]] so a consumer takes the
  * max-version rows per stratum as the live sample.
  */
case class ReservoirRow(stratum: String, version: Long, doc_id: Long,
                        weight: Double, key_nano: Long)

/** Per-stratum reservoir state: the k best (key, id, weight) so far. */
case class ReservoirState(version: Long, rows: Seq[(Long, Long, Double)])

/** One FULL training block emitted by [[StreamingEvents.packingIngest]]. */
case class PackedBlock(shard: Int, block: Long, n_docs: Long,
                       first_doc: Long, last_doc: Long, n_tokens: Long)

/** Per-shard packer state: the partially-filled current block. */
case class PackState(block: Long, filled: Long, nDocs: Long,
                     firstDoc: Long, lastDoc: Long)

/** One observed transition emitted by [[StreamingEvents.transitionStream]]. */
case class Transition(user_id: Long, from_type: String, to_type: String)

/** Per-user transition state: the (ts-micros, event_id, event_type) of the
  * LAST event seen — one row per user, whatever the stream length.
  */
case class LastEvent(tsUs: Long, id: Long, tpe: String)

/** Structured Streaming wrappers for the event analytics in
  * [[graft.ops.EventOps]]: the same windowed aggregation expressions run
  * over a `readStream` source with watermark-bounded state.
  *
  * Design (SURVEY.md §2.11): the reference is pure batch, so this is
  * extension-tier. Batch (`EventOps`) and streaming share the aggregation
  * shape — `window()` bucketing + hash aggregation keyed on
  * (window, event_type) — so results are consistent between a backfill
  * (batch over parquet) and the live stream. The watermark bounds state:
  * windows older than (max event time − watermark) are finalized and
  * evicted, so state size is O(active windows × key cardinality), not
  * O(stream length) — the property that matters at 100 TB/day.
  */
object StreamingEvents {

  /** Re-resolve every REPLACE-on-write table of a persisted index before a
    * micro-batch reads it: out-of-band maintenance replaces whole tables
    * (deletes rewrite `_deleted`; compaction drops-and-rewrites
    * `_sets`/`_bands`/`_cells`), and the streaming session clone caches
    * file listings per relation — without the refresh a mid-stream compact
    * either serves deleted rows no tombstone masks any more or kills the
    * stream with a FileNotFound on the dropped location. Refreshing a
    * suffix the index type doesn't have is a harmless no-op (ignored).
    */
  private def refreshIndexTables(spark: SparkSession, tablePrefix: String,
                                 suffixes: Seq[String]): Unit =
    suffixes.foreach { s =>
      // NonFatal only: the intended miss is AnalysisException (an index
      // tier without this suffix); OOM/interrupt must still propagate
      try spark.catalog.refreshTable(tablePrefix + s)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Schema of the events stream (`ts` already micros-typed). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-based stream over a directory of event files (the standard
    * landing-zone pattern: new files appear, Spark picks them up
    * incrementally with exactly-once tracking in the checkpoint).
    */
  def readEventStream(spark: SparkSession, dir: String,
                      format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventSchema).format(format).load(dir)

  /** Tumbling-window count+sum with watermark-bounded state. Append mode
    * emits each window exactly once, after the watermark passes its end.
    */
  def tumbling(events: DataFrame, width: String = "1 hour",
               watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), RelationalOps.decSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding-window variant — each event lands in width/slide windows. */
  def sliding(events: DataFrame, width: String = "1 hour",
              slide: String = "30 minutes",
              watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), RelationalOps.decSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Gap-based streaming sessionization via `session_window` — the
    * streaming-native equivalent of [[graft.ops.EventOps.sessionize]]'s
    * batch lag/running-sum construction. State is one open session per
    * (user, gap-window), closed and emitted once the watermark passes.
    */
  def sessionized(events: DataFrame, gap: String = "10 minutes",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Gap-based sessionization with CUSTOM state — the
    * `flatMapGroupsWithState` form of [[sessionized]], for session logic
    * `session_window` can't express (the merge rule here reproduces the gap
    * semantics exactly, so the two agree; swap the fold to change policy —
    * e.g. max-duration caps, per-session value aggregates, inactivity
    * emitted early).
    *
    * State per user = only the sessions a not-yet-arrived event could still
    * extend (interval merge of open sessions + new events, close when the
    * watermark passes end+gap): O(open sessions per user), never O(stream
    * length). An event-time timeout re-invokes the function when the
    * watermark alone (no new events for the user) closes a session, so
    * every session is emitted exactly once, in append mode, without
    * requiring further traffic from that user.
    */
  def sessionizedCustomState(events: DataFrame, gapMinutes: Int = 10,
                             watermark: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def step(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
             state: GroupState[OpenSessions]): Iterator[Session] = {
      val newEvents = rows.map { case (_, t) =>
        val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
        (us, us, 1L)
      }.toSeq
      val existing = if (state.exists) state.get.sessions else Seq.empty
      // interval merge: any two intervals within `gap` of each other fuse —
      // identical semantics to the batch lag/running-sum construction
      val merged = (existing ++ newEvents).sortBy(i => (i._1, i._2))
        .foldLeft(List.empty[(Long, Long, Long)]) {
          case ((ps, pe, pn) :: tail, (s, e, n)) if s - pe <= gapUs =>
            (ps, math.max(pe, e), pn + n) :: tail
          case (acc, iv) => iv :: acc
        }.reverse
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (closed, open) = merged.partition(_._2 + gapUs < wmUs)
      if (open.isEmpty) state.remove()
      else {
        state.update(OpenSessions(open))
        // wake this group when the watermark passes the earliest possible
        // close point, so sessions finalize without new per-user traffic
        state.setTimeoutTimestamp(open.map(_._2).min / 1000L + gapUs / 1000L + 1L)
      }
      closed.iterator.map { case (s, e, n) =>
        Session(user, new java.sql.Timestamp(s / 1000L),
          new java.sql.Timestamp(e / 1000L), n)
      }
    }

    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(step)
  }

  /** STREAMING sequence packing — the live counterpart of
    * [[graft.ops.TextOps.packSequences]]: documents arriving on a stream
    * are laid head-to-tail into fixed-`capacity` token blocks per SHARD
    * (`idCol` hashed into `nShards` independent streams — the parallelism
    * axis), and every block that FILLS is emitted exactly once with its
    * doc span. A doc crossing a block boundary counts in every block it
    * touches, matching the batch layout rule. The trailing partial block
    * stays in state and is NEVER emitted (append mode emits only finalized
    * facts, and there is no timeout to force it out) — by design: the
    * partial block keeps absorbing docs as they arrive, and a consumer
    * that must account for every ingested doc at shutdown reads the tail
    * from the state store checkpoint or pads it with a final sentinel
    * batch of `capacity` filler tokens per shard.
    *
    * State per shard is ONE partially-filled block (five longs) — O(1)
    * regardless of stream length, the property that lets this run forever.
    * Within a micro-batch each shard's docs pack in id order (the iterator
    * is sorted), so replaying the same batches yields byte-identical
    * blocks; cross-batch order is the stream's arrival order, as with any
    * streaming fold.
    */
  def packingIngest(docs: DataFrame, capacity: Long, nShards: Int = 4,
                    textCol: String = "text",
                    idCol: String = "doc_id"): Dataset[PackedBlock] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(capacity > 0 && nShards > 0, "need capacity > 0, nShards > 0")

    def step(shard: Int, rows: Iterator[(Int, Long, Long)],
             state: GroupState[PackState]): Iterator[PackedBlock] = {
      var st = if (state.exists) state.get else PackState(0L, 0L, 0L, -1L, -1L)
      val out = Seq.newBuilder[PackedBlock]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, nt) =>
        var rem = nt
        if (rem > 0) {
          val first = if (st.nDocs == 0) id else st.firstDoc
          st = st.copy(nDocs = st.nDocs + 1, firstDoc = first, lastDoc = id)
          while (st.filled + rem >= capacity) {
            out += PackedBlock(shard, st.block, st.nDocs, st.firstDoc,
              st.lastDoc, capacity)
            rem -= capacity - st.filled
            // the doc spills into the next block only if tokens remain
            st =
              if (rem > 0) PackState(st.block + 1, 0L, 1L, id, id)
              else PackState(st.block + 1, 0L, 0L, -1L, -1L)
          }
          st = st.copy(filled = st.filled + rem)
        }
      }
      state.update(st)
      out.result().iterator
    }

    docs
      .select(pmod(col(idCol).cast("long"), lit(nShards)).cast("int").as("shard"),
        col(idCol).cast("long").as("id"),
        size(graft.ops.TextOps.tokens(col(textCol))).cast("long").as("nt"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(step)
  }

  /** STREAMING weighted reservoir sampling — the live counterpart of
    * [[graft.ops.RelationalOps.stratifiedWeightedSample]], and the reason
    * the Efraimidis–Spirakis race was chosen there: its keys make weighted
    * sampling-without-replacement a pure MIN-K fold, so a stream needs only
    * "keep the k smallest keys seen" per stratum — O(k) state, one pass,
    * no replacement bookkeeping. Keys come from the identical seeded hash
    * stream, so after any prefix of the stream the reservoir equals the
    * batch sample of exactly the rows seen so far (asserted in
    * StreamingSpec) — a resumable, auditable sample no `rand()` reservoir
    * can give. Each micro-batch that touches a stratum re-emits that
    * stratum's full current sample under a bumped `version`; consumers
    * keep the max-version rows.
    */
  def weightedReservoirIngest(docs: DataFrame, k: Int,
                              stratumCol: String = "source",
                              weightCol: String = "n_chars",
                              seed: String = "wsamp",
                              idCol: String = "doc_id"): Dataset[ReservoirRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.DetHash
    require(k > 0, s"k must be positive, got $k")
    val h = pmod(DetHash.md5Hash60(
      concat(lit(s"$seed|"), col(idCol).cast("string"))), lit(DetHash.P))
    val u = (h + 1L).cast("double") / lit((DetHash.P + 1L).toDouble)
    val keyed = docs.filter(col(weightCol) > 0)
      .select(col(stratumCol).cast("string").as("stratum"),
        col(idCol).cast("long").as("id"),
        col(weightCol).cast("double").as("w"),
        floor(-log(u) / col(weightCol).cast("double") * 1e9).cast("long")
          .as("key"))
      .as[(String, Long, Double, Long)]

    def step(groupKey: String, rows: Iterator[(String, Long, Double, Long)],
             state: GroupState[ReservoirState]): Iterator[ReservoirRow] = {
      val seq = rows.toSeq
      val st = state.getOption.getOrElse(ReservoirState(0L, Seq.empty))
      // dedup by ID, not by (key, id, weight) tuple: an at-least-once
      // replay that re-delivers a doc with a CORRECTED weight changes its
      // ES key, and tuple-distinct would let both versions occupy two of
      // the k slots under one id. Keep the min-key entry per id (weight
      // breaks exact key ties) so the reservoir stays one-row-per-doc.
      val merged = (st.rows ++ seq.map(r => (r._4, r._2, r._3)))
        .groupBy(_._2).valuesIterator.map(_.minBy(t => (t._1, t._3))).toSeq
        .sortBy(t => (t._1, t._2)).take(k)
      val v = st.version + 1
      state.update(ReservoirState(v, merged))
      // the ORIGINAL stratum value (NULL stays NULL — the batch operator
      // partitions NULL as its own stratum, so must we); the group key is
      // a collision-free encoding, never emitted
      val stratum = seq.head._1
      merged.iterator.map { case (key, id, w) =>
        ReservoirRow(stratum, v, id, w, key)
      }
    }

    // prefix real values so a NULL stratum can never collide with a
    // genuine empty-string (or "null") stratum
    keyed.groupByKey(t => if (t._1 == null) "\u0000" else "v" + t._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(step)
  }

  /** Streaming exact dedup with bounded state: keeps one row per key,
    * holding each key's state only while a duplicate could still arrive
    * under the watermark (`dropDuplicatesWithinWatermark`), so state is
    * O(keys per watermark window), not O(stream length). The streaming
    * counterpart of [[graft.ops.DedupOps.exactDedup]] — dedup a live
    * document/event feed by content digest before it lands. The caller
    * picks the key columns (e.g. a content md5 for documents, event_id
    * for events).
    */
  def dedupedWithinWatermark(events: DataFrame, keyCols: Seq[String],
                             watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dedup with bounded state: collapses cross-micro-batch
    * near-duplicates (SimHash Hamming distance ≤ `maxDist`), not just exact
    * copies. Map-only fingerprinting
    * ([[graft.ops.DedupOps.simHashCol]] — a pure projection, so it runs on
    * a stream) → the maxDist+1 pigeonhole bands become rows →
    * `dropDuplicatesWithinWatermark` claims each (band_idx, band_bits)
    * bucket for its FIRST document → a windowed per-document count of
    * claimed buckets. A document is `novel` iff it claimed ALL its bands:
    * by pigeonhole, any near-duplicate of an earlier in-watermark document
    * collides on at least one band, so every true near-dup is suppressed
    * (novel=false, or absent entirely when every band was already claimed
    * — the exact-copy case). An unrelated band collision can occasionally
    * mark a novel doc duplicate — the usual LSH-without-rerank precision
    * tradeoff (the batch path exact-reranks; a stream cannot re-read
    * earlier documents without a state table).
    *
    * Docs with fewer than `shingleK` tokens have no fingerprint; they get
    * per-document sentinel bucket keys — the band INDEX goes negative
    * (real rows' band_idx is 0..nBands-1) and the bits slot carries the
    * doc id, so sentinel buckets are unique per (doc, band) and disjoint
    * from every real bucket for ANY id sign (a negated-id sentinel in the
    * bits slot would re-enter the real band-bits domain for negative ids)
    * — and report novel. State is one row per claimed bucket within the
    * watermark — O(docs · nBands per watermark window), the same bound
    * class as [[dedupedWithinWatermark]]. Rows finalize when the watermark
    * passes their window's end. `tsCol` must be the event-time column the
    * stream's watermark tracks.
    */
  def nearDedupedWithinWatermark(docs: DataFrame, textCol: String = "text",
                                 idCol: String = "doc_id",
                                 maxDist: Int = 5, shingleK: Int = 3,
                                 watermark: String = "2 hours",
                                 windowDur: String = "10 minutes",
                                 tsCol: String = "ts"): DataFrame = {
    import graft.ops.DedupOps
    val nBands = maxDist + 1
    val banded = docs
      .select(col(idCol), col(tsCol).as("ts"),
        DedupOps.simHashCol(col(textCol), shingleK).as("simhash"))
      .select(col(idCol), col("ts"),
        posexplode(array(DedupOps.simHashBandCols(col("simhash"), maxDist, 60): _*))
          .as(Seq("band_idx", "band_bits")))
      .withColumn("band_idx",
        when(col("band_bits").isNull, -col("band_idx") - 1)
          .otherwise(col("band_idx")))
      .withColumn("band_bits",
        coalesce(col("band_bits"), col(idCol).cast("long")))
    banded
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("band_idx", "band_bits"))
      .groupBy(window(col("ts"), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_claimed"))
      .select(col(idCol), col("window.start").as("w_start"),
        col("n_claimed"), (col("n_claimed") === nBands).as("novel"))
  }

  /** Stream-stream interval join: every left event matched to right-stream
    * events of the SAME user whose timestamp falls in
    * [left.ts − lookback, left.ts] — the streaming enrichment pattern
    * (e.g. errors joined to the clicks that preceded them). Both sides
    * carry watermarks AND the join condition is time-bounded, which is
    * what lets Spark expire join state: each side buffers only
    * watermark+lookback of history per user, never the whole stream. Inner
    * join ⇒ rows emit as soon as both sides arrive; results are final once
    * the watermark passes.
    */
  def intervalJoined(left: DataFrame, right: DataFrame,
                     lookbackMinutes: Int = 30,
                     watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookbackMinutes MINUTES") &&
        col("r_ts") <= col("l_ts"))
      .select(col("l_id"), col("user_id"), col("l_ts"), col("r_id"), col("r_ts"))
  }

  /** Standard sink wiring: append-mode parquet with a checkpoint. */
  def writeParquet(df: DataFrame, outDir: String,
                   checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)

  /** CDC-apply sink: `foreachBatch` upserts each micro-batch into a
    * versioned parquet snapshot (copy-on-write) — the streaming face of
    * [[graft.ops.MergeOps.latestPerKey]]. Each batch merges with the newest
    * EARLIER-epoch snapshot as latest-per-key over (snapshot ∪ batch) — the
    * snapshot retains `tsCol`, so a late-arriving event older than the
    * stored version loses even across micro-batches — and writes
    * `v<epoch>/`; [[latestSnapshot]] resolves the newest committed version.
    * Versioned dirs (never overwrite-in-place) keep readers of the previous
    * snapshot consistent and make replayed batches idempotent — re-running
    * epoch k rebuilds v<k> from v<k-1> and the replayed data, never from
    * its own partial output.
    *
    * Scale contract: state lives in the TABLE, not executor memory — no
    * mapGroupsWithState, so key cardinality is unbounded; each epoch costs
    * one key-equi anti-join (AQE broadcasts the batch side) + a rewrite of
    * the snapshot, which is exactly Delta/Hudi-style copy-on-write. Pair
    * with partitioned snapshots to rewrite only touched partitions.
    */
  def upsertSink(updates: DataFrame, baseDir: String, key: String,
                 valueCols: Seq[String], tsCol: String = "ts",
                 checkpointDir: String): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val latest = graft.ops.MergeOps.latestPerKey(batch, key, valueCols, tsCol)
        // base = newest snapshot from an EARLIER epoch: a replayed epoch
        // must merge against its predecessor, not against its own partial
        // output (reading v<epoch> while overwriting it would throw, and
        // would break the idempotent-replay contract)
        val merged = latestSnapshot(spark, baseDir, beforeEpoch = Some(epoch)) match {
          // the snapshot KEEPS tsCol, so ordering holds ACROSS batches: a
          // late event older than the stored version must lose — latest-
          // per-key over (snapshot ∪ batch) realizes exactly that
          case Some(cur) => graft.ops.MergeOps.latestPerKey(
            cur.unionByName(latest), key, valueCols, tsCol)
          case None => latest
        }
        merged.write.mode("overwrite").parquet(s"$baseDir/v$epoch")
      }

  /** STREAMING maintenance of the persisted banded dedup index — the ingest
    * loop of the index-once / probe-many lifecycle as a sink: each
    * micro-batch PROBES the index ([[graft.ops.DedupOps.probeBandedIndex]]
    * — corpus side exchange-free), keeps only the docs with no near-dup in
    * the corpus, and APPENDS those into the index
    * ([[graft.ops.DedupOps.appendToBandedIndex]] — `insertInto`, existing
    * files untouched), so later batches dedup against everything accepted
    * so far. The index must exist ([[graft.ops.DedupOps.writeBandedIndex]]
    * / `ensureBandedIndex`) before the stream starts; the meta row is
    * restamped `stream-epoch-<n>` on each appending batch.
    *
    * Semantics and their limits, stated honestly:
    *   - At-least-once: a replayed epoch may re-append its novel docs.
    *     Probe RESULTS stay correct — candidate pairs are `distinct`ed, so
    *     duplicate index rows change storage, never reports — and the
    *     replayed docs re-probe as duplicates of their first copy, so they
    *     are not re-appended a third time.
    *   - Docs are judged against the CORPUS, not against siblings in the
    *     same micro-batch (the corpus-probe contract q65/q89 share). Two
    *     near-dups arriving in one batch both land; the next batch's
    *     near-dups of them are caught. Pre-collapse intra-batch dups with
    *     [[graft.ops.DedupOps.nearDedupSummary]] on the batch if that gap
    *     matters.
    *   - Per-batch work is |batch| + bucket scans; the corpus never
    *     re-shuffles. Batch-local caches live in a batch-scoped
    *     [[graft.ops.CacheScope]], released before the epoch commits.
    */
  def bandedIndexIngest(docs: DataFrame, tablePrefix: String,
                        textCol: String = "text", idCol: String = "doc_id",
                        minJaccard: Double = 0.8,
                        checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val scope = graft.ops.CacheScope()
        val cps = new graft.ops.CacheScope.Checkpoints
        try {
          // one pass over the batch feeds both the probe and the append
          val b = scope.register(batch)
          if (!b.isEmpty) {
            // re-resolve every replace-on-write table per batch: deletes
            // rewrite _deleted, an out-of-band compact rewrites _sets/_bands
            refreshIndexTables(batch.sparkSession, tablePrefix,
              Seq("_deleted", "_sets", "_bands"))
            val report = graft.ops.DedupOps.probeBandedIndex(
              b, tablePrefix, textCol, idCol, minJaccard, scope)
            // localCheckpoint (eager) TRUNCATES the lineage before the
            // append mutates the very tables the probe read: a cache loss
            // mid-append would otherwise re-evaluate `novel` against the
            // half-mutated index (every doc would match its own just-
            // inserted bands → novel collapses to empty → the _sets insert
            // writes nothing and the index is permanently inconsistent)
            val novel = cps(b.join(
              report.filter(col("novel")).select(col(idCol)), Seq(idCol), "left_semi"))
            graft.ops.DedupOps.appendToBandedIndex(novel, tablePrefix,
              textCol, idCol, newCorpusTag = s"stream-epoch-$epoch", scope = scope)
          }
        } finally {
          scope.release()
          cps.freeAll()
        }
      }

  /** STREAMING maintenance of the persisted IVF ANN index — the embedding
    * twin of [[bandedIndexIngest]]: each micro-batch of vectors probes the
    * index ([[graft.ops.SimilarityOps.ivfTopKPersisted]], k=1 — "what is my
    * nearest accepted vector"), vectors whose best cosine clears `minCos`
    * are rejected as semantic duplicates, and the rest are APPENDED to the
    * frozen-quantizer index ([[graft.ops.SimilarityOps.appendToIvfIndex]])
    * so later batches dedup against them.
    *
    * Honest limits: partial-probe recall applies (a near-dup hiding in an
    * unprobed cell slips through — raise `nProbe` to trade cost for
    * recall); batch siblings are not compared to each other (corpus-probe
    * semantics, as in [[bandedIndexIngest]]); and the frozen quantizer
    * drifts — schedule an `ensureIvfIndex` retrain with a new tag when it
    * matters. Replays re-probe as duplicates of their first copy — the
    * probe runs with `excludeSelf = false`, so a replayed vector FINDS its
    * own indexed copy (same id, cos 1.0) and is rejected; with the default
    * self-exclusion the first copy would be filtered out and every replay
    * would re-append (tested).
    */
  def ivfIndexIngest(vectors: DataFrame, tablePrefix: String,
                     minCos: Double = 0.95, nProbe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     checkpointDir: String): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // the tombstone table is REPLACED (not appended) by out-of-band
          // deletes, and a compact drops-and-rewrites _cells; the streaming
          // session clone caches both relations, so re-resolve per batch or
          // a mid-stream delete/compact serves stale files
          refreshIndexTables(batch.sparkSession, tablePrefix,
            Seq("_deleted", "_cells"))
          val dup = graft.ops.SimilarityOps
            .ivfTopKPersisted(batch, tablePrefix, k = 1, nProbe, idCol, vecCol,
              excludeSelf = false)
            .filter(col("cos") >= minCos)
            .select(col("query_id"))
          // eager lineage truncation before mutating the probed table —
          // same recompute hazard as bandedIndexIngest
          val cps = new graft.ops.CacheScope.Checkpoints
          try graft.ops.SimilarityOps.appendToIvfIndex(cps(batch.join(dup,
              batch(idCol).cast("long") === dup("query_id"), "left_anti")),
            tablePrefix, idCol, vecCol)
          finally cps.freeAll()
        }
      }

  /** STREAMING maintenance of the persisted IVF-PQ index — [[ivfIndexIngest]]
    * for the COMPRESSED tier, with a parameter-free gate: a batch vector is
    * a duplicate when it collides at CODEBOOK RESOLUTION — same frozen
    * coarse cell AND all `numSub` PQ codes equal to an indexed member's.
    * Everything is deterministic integer arithmetic, so a replayed vector
    * always collides with its own first copy (replay-safe without any
    * threshold knob — the code tuple IS the semantic identity the index
    * stores). Novel vectors append ([[graft.ops.SimilarityOps.appendToIvfPqIndex]])
    * so later batches dedup against them.
    *
    * Honest limits: resolution is the codebook's — vectors the PQ model
    * cannot distinguish collide (that is the point: dedup at the
    * granularity the index can actually retrieve), distinct-but-near
    * vectors in DIFFERENT cells never collide; batch siblings are not
    * compared to each other (corpus-probe semantics, as in
    * [[bandedIndexIngest]]); frozen models drift — retrain via
    * `ensureIvfPqIndex` with a new tag.
    *
    * Scale shape: per batch, routing+encoding is map-only against
    * broadcast models; the collision check joins the BROADCAST batch codes
    * against the bucketed cells scan — the corpus is read, never
    * exchanged, and ingest work is |batch|-sized plus two cells scans
    * (the collision check's, and the append's pruned id-column scan that
    * skips ids already indexed).
    */
  def ivfPqIndexIngest(vectors: DataFrame, tablePrefix: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       checkpointDir: String): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ivfPqIngestBatch(batch, tablePrefix, idCol, vecCol)
      }

  /** One [[ivfPqIndexIngest]] micro-batch — package-private so the spec can
    * drive a batch directly against a mutated index. */
  private[graft] def ivfPqIngestBatch(batch: DataFrame, tablePrefix: String,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding"): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      // re-resolve the replace-on-write tables per batch (see
      // ivfIndexIngest): _deleted for deletes, _cells for compacts
      refreshIndexTables(spark, tablePrefix, Seq("_deleted", "_cells"))
      val bc = graft.ops.SimilarityOps
        .ivfPqAssignCodes(batch, tablePrefix, idCol, vecCol)
      val codeCols = bc.columns.filter(_.matches("c\\d+")).toSeq
      val keys = "cell" +: codeCols
      // collision check against LIVE members only: a tombstoned
      // vector's codes linger in _cells until compact, and deleted
      // content must not block re-ingest of an identical vector
      val dup = graft.ops.SimilarityOps
        .liveCells(spark, tablePrefix, "vec_id")
        .join(broadcast(bc.select(keys.map(col) :+
          col("vec_id").as("bid"): _*)), keys.toSeq)
        .select(col("bid")).distinct()
      // truncate lineage before mutating the probed table
      val cps = new graft.ops.CacheScope.Checkpoints
      try graft.ops.SimilarityOps.appendToIvfPqIndex(cps(batch.join(dup,
          batch(idCol).cast("long") === dup("bid"), "left_anti")),
        tablePrefix, idCol, vecCol)
      finally cps.freeAll()
    }

  /** STREAMING ANN-RECALL monitor — the operational "is the index
    * degrading as the corpus drifts" signal, closing the loop the ingest
    * sinks and [[graft.ops.SimilarityOps.ivfDriftSummary]]'s distance
    * heuristic leave open: per micro-batch, a DETERMINISTIC hash sample
    * of the batch (xxhash64(id) mod `sampleMod` == 0 — replayable, no
    * RNG) is audited against the persisted IVF index with
    * [[graft.ops.SimilarityOps.ivfRecallAuditPersisted]] (partial-probe
    * top-k vs exact cosine over the live members), and the per-query
    * recall rows land in `outDir/epoch=<n>/` — the dashboard table an
    * operator reads next to [[graft.ops.DedupOps.bandedIndexStats]].
    * An epoch whose queries are off-distribution for the frozen coarse
    * quantizer shows its recall sag in that epoch's rows: the signal to
    * retrain (`ensureIvfIndex` with a new tag) BEFORE more corpus commits
    * to a degraded index.
    *
    * READ-ONLY against the index — safe to run beside [[ivfIndexIngest]]
    * on its own checkpoint; each epoch's rows reflect the index state at
    * probe time (index tables re-resolved per batch). Empty-sample epochs
    * write an empty directory: "no evidence this epoch" stays
    * distinguishable from "recall 0". Per-epoch `overwrite` keeps replays
    * idempotent ([[decontaminationGateIngest]]'s rule); readers see the
    * union via partition discovery on `epoch`, and per-epoch aggregates
    * (mean/min recall) are one groupBy("epoch") away.
    *
    * Scale shape: per epoch = |sample| probes down the index's
    * exchange-free path + ONE live-members scan for the truth side
    * (that scan is the audit's honest price — size `sampleMod` so it is
    * paid on a sliver of the stream, and the work stays
    * |sample|·|corpus| dots in one pass).
    */
  def annRecallMonitorIngest(vectors: DataFrame, tablePrefix: String,
                             outDir: String, k: Int = 10, nProbe: Int = 4,
                             sampleMod: Int = 10,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             checkpointDir: String): DataStreamWriter[Row] = {
    require(sampleMod >= 1, "sampleMod >= 1")
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          refreshIndexTables(batch.sparkSession, tablePrefix,
            Seq("_deleted", "_cells", "_centroids"))
          val sample = batch.filter(
            pmod(xxhash64(col(idCol).cast("long")), lit(sampleMod)) === 0)
          graft.ops.SimilarityOps
            .ivfRecallAuditPersisted(sample, tablePrefix, k, nProbe,
              idCol, vecCol)
            .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
        }
      }
  }

  /** STREAMING eval-holdout DECONTAMINATION gate: each micro-batch of
    * documents is checked for exact n-gram collisions against the frozen
    * benchmark (the eval set a training corpus must never contain —
    * [[graft.ops.DedupOps.ngramSpanContamination]]'s collision rule on the
    * ingest path). The benchmark's distinct n-gram hash frame is computed
    * ONCE and cached — a STATIC frame joined against every micro-batch
    * (stream-static joins are stateless: no state store, no watermark, the
    * X103 frozen-model pattern realized as a table instead of literals, so
    * the holdout can be far larger than a broadcast literal would allow).
    * Clean docs land in `outDir/epoch=<n>/`, contaminated docs in
    * `quarantineDir/epoch=<n>/` WITH their hit counts — an audit trail,
    * never a silent drop. Per-epoch `overwrite` makes replays idempotent:
    * a re-run epoch rebuilds its own directories bit-for-bit (the
    * upsertSink versioned-dir rule), and readers see the union via
    * parquet partition discovery on `epoch`.
    *
    * Scale shape: per batch = one map-only gram explode over the BATCH,
    * a hash-keyed semi-join against the cached benchmark frame (AQE
    * broadcasts the smaller side), one |batch|-bounded aggregation.
    * The benchmark is never re-derived and the corpus never joins itself.
    * Retrain = restart with a new benchmark frame (the X93 drift story).
    */
  def decontaminationGateIngest(docs: DataFrame, benchmark: DataFrame,
                                outDir: String, quarantineDir: String,
                                n: Int = 8, textCol: String = "text",
                                idCol: String = "doc_id",
                                checkpointDir: String): DataStreamWriter[Row] = {
    val bench = graft.ops.DedupOps
      .positionedNgramHashes(benchmark, textCol, idCol, n)
      .select(col("h")).distinct().cache()
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val scope = graft.ops.CacheScope()
        try {
          val b = scope.register(batch)
          if (!b.isEmpty) {
            val hits = graft.ops.DedupOps
              .positionedNgramHashes(b, textCol, idCol, n)
              .join(bench, Seq("h"), "left_semi")
              .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
              .withColumnRenamed("id", idCol)
            val flagged = scope.register(b.join(hits, Seq(idCol), "left"))
            flagged.filter(col("n_hits").isNull).drop("n_hits")
              .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
            flagged.filter(col("n_hits").isNotNull)
              .write.mode("overwrite").parquet(s"$quarantineDir/epoch=$epoch")
          }
        } finally scope.release()
      }
  }

  /** STREAMING Count-Min counter: maintains the d×w CMS grid
    * ([[graft.ops.TextOps.cmsGrid]]) across micro-batches as versioned
    * parquet snapshots — the sketch's defining property (cell-wise sums
    * of slice grids ARE the whole-corpus grid) makes the merge one
    * union + (r, c) re-aggregation of two ≤ d·w frames, so per-epoch
    * cost is |batch| tokenization plus model-sized merge work, with
    * counter memory FIXED at d·w cells regardless of vocabulary or
    * corpus size (the q67 Misra-Gries tracker is exact but per-key; this
    * is the unbounded-vocabulary form). Snapshots follow the
    * [[upsertSink]] versioned-dir rule: each epoch merges the newest
    * EARLIER snapshot and writes `v<epoch>/`, so replays rebuild
    * bit-identically and [[latestSnapshot]] resolves the current grid —
    * query it with [[graft.ops.TextOps.cmsEstimates]], size it with
    * [[graft.ops.TextOps.cmsHeavyHitterAudit]] batch-side.
    */
  def cmsCounterIngest(docs: DataFrame, baseDir: String, d: Int = 4,
                       w: Int = 256, textCol: String = "text",
                       checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val bg = graft.ops.TextOps.cmsGrid(batch, d, w, textCol)
          val merged = latestSnapshot(spark, baseDir,
              beforeEpoch = Some(epoch)) match {
            case Some(cur) => cur.unionByName(bg)
              .groupBy(col("r"), col("c")).agg(sum(col("n")).as("n"))
            case None => bg
          }
          merged.write.mode("overwrite").parquet(s"$baseDir/v$epoch")
        }
      }

  /** STREAMING line-frequency counter: maintains the corpus-wide
    * (line-hash, df) table behind the C4/RefinedWeb line-dedup rule
    * ([[graft.ops.DedupOps.dedupLines]]) across micro-batches as
    * versioned parquet snapshots. Counts are EXACT and additive, so the
    * merge is one union + (h) re-aggregation of the previous snapshot
    * with the batch's per-line counts — the [[cmsCounterIngest]] shape,
    * except the state is the exact hash table: it grows with DISTINCT
    * lines (16 bytes each), lives in parquet (never executor memory),
    * and each epoch's merge shuffles snapshot+batch rows once on the
    * 8-byte hash. When the distinct-line population itself is the
    * problem, the CMS counter is the bounded-memory fallback — but the
    * dedup rule wants exact dfs (a CMS overcount would strike innocent
    * lines), which is why this counter exists. Rewrite any batch or
    * slice against the current snapshot with
    * [[graft.ops.DedupOps.dedupLinesFromIndex]]; snapshots follow the
    * [[upsertSink]] versioned-dir rule ([[latestSnapshot]] resolves,
    * replays rebuild bit-identically).
    *
    * COST, stated plainly: copy-on-write means every epoch rewrites the
    * whole (h, df) table — O(distinct lines) write per micro-batch — and
    * superseded `v<epoch>/` dirs otherwise accumulate without bound on a
    * long-running stream. `keepSnapshots` bounds storage: after each
    * committed write, committed snapshots beyond the newest N are
    * deleted ([[pruneSnapshots]]). N ≥ 2 preserves the replay contract
    * (a replayed epoch merges its PREDECESSOR, which is among the newest
    * 2 by construction); the retain-all default trades disk for full
    * history. When per-epoch rewrite cost itself is the problem, the
    * CMS counter's fixed-size grid is the fallback.
    */
  def lineDfIngest(docs: DataFrame, baseDir: String,
                   textCol: String = "text", delim: String = "\n",
                   keepSnapshots: Int = Int.MaxValue,
                   checkpointDir: String): DataStreamWriter[Row] = {
    require(keepSnapshots >= 2,
      "keepSnapshots >= 2 (a replayed epoch merges its predecessor)")
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val bg = batch.select(explode(split(col(textCol),
              java.util.regex.Pattern.quote(delim))).as("line"))
            .select(graft.ops.DetHash.md5Hash60(col("line")).as("h"))
            .groupBy(col("h")).agg(count(lit(1)).as("df"))
          val merged = latestSnapshot(spark, baseDir,
              beforeEpoch = Some(epoch)) match {
            case Some(cur) => cur.unionByName(bg)
              .groupBy(col("h")).agg(sum(col("df")).as("df"))
            case None => bg
          }
          merged.write.mode("overwrite").parquet(s"$baseDir/v$epoch")
          pruneSnapshots(baseDir, keepSnapshots)
        }
      }
  }

  /** STREAMING first-order transitions — the streaming half of
    * [[graft.ops.EventOps.transitionMatrix]]: one `Transition` row per
    * consecutive event pair under the (ts, id) per-user order, INCLUDING
    * pairs that straddle micro-batch boundaries (the rows a per-batch
    * window would silently drop) — per user the state is just the last
    * event seen. Downstream, counts are additive, so any sink can fold
    * the rows into the (from, to) matrix incrementally.
    *
    * Contract: per-user arrival must respect (ts, id) ACROSS batches
    * (within a batch any order works — rows are sorted per user before
    * chaining); an event older than the user's recorded last event throws
    * rather than emitting a transition that never happened (the CC
    * maxIter rule: loud beats silently-wrong). State = ONE row per user,
    * bounded by user cardinality, no timeout needed.
    */
  def transitionStream(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    def step(user: Long,
             rows: Iterator[(Long, Long, Long, String)],
             state: GroupState[LastEvent]): Iterator[Transition] = {
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      var last = if (state.exists) Some(state.get) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
      sorted.foreach { case (_, ts, id, tpe) =>
        // an exact (ts, id, type) match with the recorded last event is an
        // at-least-once REDELIVERY — an idempotent no-op (skip, emit
        // nothing), matching scd2Ingest's distinct-absorbs-redelivery
        // semantics. The equality check includes the TYPE: a same-(ts, id)
        // event carrying a DIFFERENT type is corrupt input, not a replay,
        // and must fail loudly below rather than be silently swallowed.
        // Lookback is ONE event deep (state = the last event only), so a
        // replayed span of 2+ earlier events still throws — see require.
        if (!last.exists(l => ts == l.tsUs && id == l.id && tpe == l.tpe)) {
          last.foreach { l =>
            require(ts > l.tsUs || (ts == l.tsUs && id > l.id),
              s"out-of-order event for user $user: ($ts,$id) after " +
                s"(${l.tsUs},${l.id}) — transitions would be wrong; " +
                "deliver per-user in (ts, id) order (redelivery absorption " +
                "is one event deep: only an exact replay of the most recent " +
                "(ts, id, type) is absorbed; replayed earlier spans and " +
                "same-(ts,id) type mismatches both land here)")
            out += Transition(user, l.tpe, tpe)
          }
          last = Some(LastEvent(ts, id, tpe))
        }
      }
      last.foreach(state.update)
      out.iterator
    }
    events.select(col("user_id").cast("long"),
        unix_micros(col("ts")), col("event_id").cast("long"),
        col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(step)
  }

  /** STREAMING SCD2 maintenance — the history half of the CDC family's
    * streaming tier ([[upsertSink]] keeps only the latest state; this
    * keeps every validity interval). State = the COMPACTED CHANGE LOG
    * (key, ts_us, id, attr) as versioned parquet snapshots: per epoch the
    * batch unions into the log (full-row distinct absorbs at-least-once
    * redelivery), and no-op changes are suppressed ONLY once they fall
    * behind the lateness horizon `max(ts) − latenessUs` — a suppressed
    * no-op is information a LATE out-of-order change could still need
    * (it re-asserts the attr between two transitions), so compaction
    * waits for the horizon exactly like a watermark finalizes a window.
    * Within the lateness contract the log is lossless: replaying it
    * through [[graft.ops.EventOps.scd2FromChangesWithId]]
    * ([[scd2HistoryFromIngest]]) equals the batch history over ALL raw
    * changes, late arrivals spliced and downstream versions renumbered.
    * Disorder beyond `latenessUs` degrades exactly like any watermark
    * violation (the row still lands; only a no-op already compacted away
    * in its gap is unrecoverable).
    *
    * Lifecycle/cost: the [[lineDfIngest]] copy-on-write shape — per epoch
    * one union + one per-key lag window over log+batch, state bounded by
    * history rows + within-horizon no-ops, snapshots pruned to
    * `keepSnapshots` ([[pruneSnapshots]]; N ≥ 2 for the replay contract).
    */
  def scd2Ingest(changes: DataFrame, baseDir: String, checkpointDir: String,
                 latenessUs: Long = 0L,
                 keepSnapshots: Int = Int.MaxValue,
                 keyCol: String = "user_id", tsCol: String = "ts",
                 attrCol: String = "event_type",
                 idCol: String = "event_id"): DataStreamWriter[Row] = {
    require(keepSnapshots >= 2,
      "keepSnapshots >= 2 (a replayed epoch merges its predecessor)")
    require(latenessUs >= 0L, "latenessUs must be >= 0")
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val b = batch.select(col(keyCol).cast("long").as("k"),
            unix_micros(col(tsCol)).as("ts_us"),
            col(idCol).cast("long").as("id"),
            col(attrCol).cast("string").as("attr"))
          val merged = (latestSnapshot(spark, baseDir,
              beforeEpoch = Some(epoch)) match {
            case Some(cur) => cur.unionByName(b)
            case None => b
          }).distinct()
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("ts_us"), col("id"))
          val compacted = merged
            .withColumn("__prev", lag(col("attr"), 1).over(w))
            .crossJoin(broadcast(merged.agg(
              (max(col("ts_us")) - latenessUs).as("__hz"))))
            .filter(col("ts_us") >= col("__hz") ||
              col("__prev").isNull || col("attr") =!= col("__prev"))
            .select(col("k"), col("ts_us"), col("id"), col("attr"))
          compacted.write.mode("overwrite").parquet(s"$baseDir/v$epoch")
          pruneSnapshots(baseDir, keepSnapshots)
        }
      }
  }

  /** The SCD2 history served from an [[scd2Ingest]] store: the latest
    * committed log snapshot replayed through the batch builder — columns
    * and conventions exactly [[graft.ops.EventOps.scd2FromChangesWithId]]
    * (version numbering, half-open intervals, change_id). Empty history
    * (no committed snapshot yet) is an error: serving "no versions" for
    * "store not initialized" would let a mis-pathed reader silently see
    * an empty dimension.
    */
  def scd2HistoryFromIngest(spark: SparkSession, baseDir: String,
                            keyCol: String = "user_id",
                            tsCol: String = "ts",
                            attrCol: String = "event_type",
                            idCol: String = "event_id"): DataFrame = {
    val log = latestSnapshot(spark, baseDir).getOrElse(
      throw new IllegalStateException(
        s"no committed scd2Ingest snapshot under '$baseDir'"))
    graft.ops.EventOps.scd2FromChangesWithId(
      log.select(col("k").as(keyCol),
        timestamp_micros(col("ts_us")).as(tsCol),
        col("id").as(idCol), col("attr").as(attrCol)),
      keyCol, tsCol, attrCol, idCol)
  }

  /** Delete committed `v<epoch>/` snapshot dirs beyond the newest
    * `keepLast` — the retention hook for the copy-on-write sinks
    * ([[upsertSink]], [[cmsCounterIngest]], [[lineDfIngest]]). Only
    * `_SUCCESS`-committed dirs count toward (or are removed by) the
    * quota: a partial dir is a crash leftover that [[latestSnapshot]]
    * never reads, and deleting one could race its in-flight writer —
    * left alone deliberately. Safe against concurrent readers only in
    * the single-writer, read-latest lifecycle these sinks document (a
    * reader pinned to an old snapshot for longer than `keepLast` epochs
    * needs a larger quota).
    */
  def pruneSnapshots(baseDir: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "keepLast >= 1")
    val dir = new java.io.File(baseDir)
    if (!dir.exists()) return
    val committed = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v")
        && f.getName.drop(1).nonEmpty && f.getName.drop(1).forall(_.isDigit)
        && new java.io.File(f, "_SUCCESS").exists())
      .sortBy(-_.getName.drop(1).toLong)
    committed.drop(keepLast).foreach { d =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(d)
    }
  }

  /** STREAMING incremental clustering — the persisted assignment
    * lifecycle ([[graft.ops.GraphOps.ensureClusterAssignments]]) driven by
    * a stream of near-dup EDGES: per micro-batch the quotient step folds
    * the batch into the assignment table
    * ([[graft.ops.GraphOps.maintainClusterAssignments]]) — compute
    * O(batch + touched components) per epoch, never a global re-cluster.
    * The caller ensures the base table exists first (an EMPTY base is
    * fine: every vertex then enters through a batch).
    *
    * At-least-once REPLAY is a semantic no-op: a replayed edge maps
    * through the (already-merged) labels to a self-loop and drops, and a
    * replayed new vertex is already assigned, so the anti-join skips it —
    * the labeling is a fixpoint of its own batches. Crash safety: the
    * assignment store keeps versioned snapshot tables and commits the new
    * version by a meta-pointer update AFTER the snapshot is fully written
    * (the [[upsertSink]] rule applied to tables — see
    * [[graft.ops.GraphOps.maintainClusterAssignments]]), so a crash or
    * task retry mid-epoch leaves the previous labeling servable and the
    * foreachBatch retry re-folds the batch against it.
    */
  def clusterIngest(edges: DataFrame, tablePrefix: String,
                    checkpointDir: String,
                    aCol: String = "a",
                    bCol: String = "b"): DataStreamWriter[Row] =
    edges.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val cps = new graft.ops.CacheScope.Checkpoints
          val e = cps(batch.select(col(aCol).cast("long").as("a"),
            col(bCol).cast("long").as("b")))
          val v = e.select(col("a").as("id"))
            .unionByName(e.select(col("b").as("id"))).distinct()
          try graft.ops.GraphOps.maintainClusterAssignments(e, v, tablePrefix,
            newCorpusTag = s"stream-epoch-$epoch", idCol = "id")
          finally cps.freeAll()
        }
      }

  /** STREAMING mutual-kNN graph maintenance — [[clusterIngest]]'s sibling
    * for the degree-bounded graph tier: a stream of VECTORS folds into
    * the persisted kNN index
    * ([[graft.ops.SimilarityOps.ensureKnnIndex]] builds the base) with
    * batch-sized compute per epoch — band the batch at the FROZEN
    * operating point, probe the stored bands, re-rank only touched
    * vertices' kept lists ([[graft.ops.SimilarityOps.maintainKnnIndex]]).
    * The served edge set ([[graft.ops.SimilarityOps.knnIndexEdges]]) is
    * at every commit exactly the batch [[graft.ops.SimilarityOps.knnGraph]]
    * over all vectors ingested so far (the top-k merge property —
    * StreamingSpec asserts it across epochs).
    *
    * At-least-once replay is a structural no-op (already-stored ids
    * anti-join away; an all-replayed batch doesn't even write), and crash
    * safety rides the versioned-snapshot + meta-pointer-commit contract:
    * a crash or retry mid-epoch keeps serving the previous graph.
    * Composes with [[clusterIngest]]: feed the edge DELTAS downstream or
    * re-derive clusters from the served edges per epoch.
    */
  def knnGraphIngest(vectors: DataFrame, tablePrefix: String,
                     checkpointDir: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.SimilarityOps.maintainKnnIndex(batch, tablePrefix,
            idCol, vecCol)
      }

  /** The DELETE feed of the kNN lifecycle — [[knnGraphIngest]]'s
    * retraction sibling: a stream of vector IDS (takedowns, crawl
    * removals, [[graft.ops.RelationalOps.snapshotDiff]]'s `removed` side)
    * tombstones out of the persisted graph with the touched-vertex
    * repair ([[graft.ops.SimilarityOps.deleteFromKnnIndex]]), so the
    * served edges stay equal to the recompute over the live corpus at
    * every commit. Replayed ids are structural no-ops; the serve-time
    * endpoint filter covers the tombstone-to-commit crash window.
    */
  def knnGraphRetract(ids: DataFrame, tablePrefix: String,
                      checkpointDir: String,
                      idCol: String = "vec_id"): DataStreamWriter[Row] =
    ids.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.SimilarityOps.deleteFromKnnIndex(batch, tablePrefix,
            idCol)
      }

  /** The newest COMMITTED `v<epoch>/` snapshot written by [[upsertSink]]:
    * only directories with a `_SUCCESS` marker count (a crash mid-write
    * leaves a partial directory that must never serve as a base), and
    * `beforeEpoch` restricts to strictly earlier versions (the replay
    * path).
    */
  def latestSnapshot(spark: SparkSession, baseDir: String,
                     beforeEpoch: Option[Long] = None): Option[DataFrame] = {
    val dir = new java.io.File(baseDir)
    // `None` must mean FRESH START, never "listing failed": listFiles()
    // returns null both for a missing dir and for an unreadable one (or a
    // non-local URI like hdfs://), and merging against an empty base on an
    // IO failure would silently truncate the store at the next commit —
    // so only a genuinely absent dir maps to None; everything else throws.
    require(!baseDir.contains("://"),
      s"upsertSink snapshots use local-file listing; got non-local URI " +
        s"'$baseDir' (port latestSnapshot to the Hadoop FileSystem API for " +
        s"hdfs/s3 stores)")
    if (!dir.exists()) return None
    require(dir.isDirectory, s"snapshot base '$baseDir' exists but is not a directory")
    val listed = dir.listFiles()
    require(listed != null, s"snapshot base '$baseDir' exists but cannot be listed " +
      "(permissions?) — refusing to treat an IO failure as an empty store")
    Option(listed)
      .map(_.toSeq.filter(f => f.isDirectory && f.getName.startsWith("v")
        && f.getName.drop(1).forall(_.isDigit)
        && beforeEpoch.forall(f.getName.drop(1).toLong < _)
        && new java.io.File(f, "_SUCCESS").exists()))
      .filter(_.nonEmpty)
      .map(_.maxBy(_.getName.drop(1).toLong))
      .map(f => spark.read.parquet(f.getAbsolutePath))
  }
}
