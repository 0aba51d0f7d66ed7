package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (`event_id, ts, user_id,
  * event_type, value, props`), written so the same expressions run in batch
  * (DuckDB-checkable) and under Structured Streaming (see
  * [[graft.streaming.StreamingEvents]] for the readStream/watermark
  * wrappers).
  *
  * Windowed aggregations use Spark's `window()` — a per-row expression that
  * assigns bucket(s) then hash-aggregates on (window, keys): one shuffle,
  * partial aggregation on the map side, no sorting. Sessionization uses a
  * per-user window — partitioned by user_id, so it scales with user
  * cardinality, never funneling through one partition.
  */
object EventOps {

  /** Tumbling-window aggregation: count + exact sum(value) per (window,
    * event_type). `value` carries 2 decimals → decimal sum is exact and
    * order-independent (see RelationalOps.decSum).
    */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), RelationalOps.decSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding-window aggregation (width/slide): each event lands in
    * width/slide buckets; Spark's window() emits them as a generator —
    * still one shuffle on (window, keys).
    */
  def sliding(events: DataFrame, width: String = "1 hour",
              slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), RelationalOps.decSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Gap-based sessionization: a new session starts when a user is idle
    * longer than `gap`. Batch implementation: per-user ordered window, lag →
    * session-start flags → running sum = session index. (The streaming
    * equivalent is `session_window`/flatMapGroupsWithState — same
    * semantics.) Deterministic ordering via (ts, event_id) tiebreak.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 10): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val isNew = when(prevTs.isNull ||
      unix_micros(col("ts")) - unix_micros(prevTs) > gapMinutes * 60L * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("session_idx", sum(isNew).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** BEHAVIORAL SEQUENCES: each (user, session) rendered as its ordered
    * action string — `click>view>purchase…` — plus event count and exact
    * integer duration, the training-example prep for sequence models over
    * user behavior (session2vec / next-action LMs): the event log becomes
    * a corpus of token sequences the text tier (tokenize, dedup, pack,
    * split) consumes unchanged. Event order inside a session is the
    * deterministic (ts, event_id) total order.
    *
    * Scale shape: ONE user-keyed window pass assigns sessions (q29's
    * shape), then one (user, session) aggregation collects each session's
    * events — sessions are gap-bounded so the per-group array is session-
    * sized, never stream-sized.
    */
  def sessionSequences(events: DataFrame, gapMinutes: Int = 10): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val isNew = when(prevTs.isNull ||
      unix_micros(col("ts")) - unix_micros(prevTs) > gapMinutes * 60L * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("session_idx", sum(isNew).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          / lit(1000000L)).cast("long").as("duration_s"),
        array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          e => e.getField("event_type")), ">").as("action_seq"))
  }

  /** Per-user session summary: session count + mean events/session (exact
    * integer arithmetic → deterministic double division).
    */
  def sessionSummary(events: DataFrame, gapMinutes: Int = 10): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_session_events"))

  /** Inter-event gaps via `lag`: per-user time (microseconds) between
    * consecutive events, ordered (ts, event_id) for determinism under
    * same-timestamp ties. Partitioned window — scales with user
    * cardinality. Each user's first event has no predecessor (null gap,
    * excluded from the summary counts).
    */
  def interEventGaps(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
  }

  /** Per-user gap summary: count/sum/min/max of inter-event gaps, plus the
    * mean as an exact-integer-sum ÷ count double (identical IEEE division
    * in the SQL oracle).
    */
  def gapSummary(events: DataFrame): DataFrame =
    interEventGaps(events)
      .groupBy(col("user_id"))
      .agg(count(col("gap_us")).as("n_gaps"),
        sum(col("gap_us")).as("sum_gap_us"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        (sum(col("gap_us")).cast("double") / count(col("gap_us"))).as("avg_gap_us"))

  /** Sessionized funnel conversion: per user, how many gap-sessions contain
    * a `fromType` event followed (at or after its timestamp) by a `toType`
    * event — the click→purchase product-analytics shape. Reuses
    * [[sessionize]]'s per-user window cumsum to tag events with a session
    * index, then two conditional aggs per session; one user-keyed shuffle
    * total, no joins.
    */
  def funnelSummary(events: DataFrame, fromType: String = "click",
                    toType: String = "purchase",
                    gapMinutes: Int = 10): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val isNew = when(prevTs.isNull ||
      unix_micros(col("ts")) - unix_micros(prevTs) > gapMinutes * 60L * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("session_idx", sum(isNew).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(when(col("event_type") === fromType, col("ts"))).as("first_from"),
        max(when(col("event_type") === toType, col("ts"))).as("last_to"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("first_from").isNotNull && col("last_to").isNotNull &&
          col("first_from") <= col("last_to"), 1L).otherwise(0L)).as("n_converted"))
  }

  /** Rolling-window anomaly detection: per (event_type, hour) counts
    * compared against the trailing `lookbackHours` hours of the same type
    * (ROWS window, so gaps in the hour sequence shorten the baseline
    * rather than crashing it). The spike test `n · n_prev > factor ·
    * sum_prev` is the integer cross-multiplied form of
    * `n > factor · mean(prev)` — all-integer, so the oracle compare is
    * exact, and rows with an empty baseline are never flagged.
    *
    * Scale shape: one (type, hour) hash agg over the raw events, then a
    * window partitioned by event_type over the HOURLY table — thousands of
    * rows per type-year, not events; the heavy cardinality never enters
    * the window.
    */
  def hourlyAnomalies(events: DataFrame, lookbackHours: Int = 24,
                      factor: Long = 2L): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-lookbackHours, -1)
    hourly
      .withColumn("n_prev", count(col("n")).over(w))
      .withColumn("sum_prev", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("spike",
        (col("n_prev") > 0 && col("n") * col("n_prev") > lit(factor) * col("sum_prev"))
          .cast("int"))
  }

  /** Time-series RESAMPLING with zero-fill: the complete hourly grid per
    * event type over the table's [min, max] hour range, absent (hour, type)
    * cells filled with n = 0 / sum_value = 0.0 — the gap-filling step every
    * downstream window/anomaly computation needs (a missing hour is a ZERO
    * observation, not an absent row; [[hourlyAnomalies]]' trailing windows
    * would silently skip gaps otherwise).
    *
    * Scale shape: events reduce to the HOURLY table first; the generated
    * hour spine is time-range-bounded (one `sequence` explode off a 1-row
    * min/max aggregate), the type list is distinct-small, and the spine ⋈
    * hourly left join is broadcast-size. Raw event cardinality never enters
    * the spine build.
    */
  def hourlyGapFill(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.RelationalOps.decSum(col("value")).as("sum_value"))
    val spine = hourly.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    // types from the HOURLY frame, not the raw table: every event lands in
    // some hourly group, and this reuses the aggregation exchange instead
    // of a second full scan of events
    val types = hourly.select(col("event_type")).distinct()
    spine.crossJoin(types)
      .join(hourly, Seq("h", "event_type"), "left")
      .na.fill(Map("n" -> 0L, "sum_value" -> 0.0))
  }

  /** As-of join within one event stream: for every `leftType` event, the
    * most recent `rightType` event of the SAME user at or before its
    * timestamp. Implemented as union-then-scan — both sides interleave in
    * one per-user ordered window and `last(_, ignoreNulls)` carries the
    * latest right-side row forward — NOT as a range join: an inequality
    * join would expand to O(left × right) per user before filtering, while
    * this is one shuffle on user_id and a linear scan per partition. The
    * same-timestamp tie goes to the right side (a click at exactly the
    * error's timestamp counts as "prior"), and `event_id` breaks remaining
    * ties, so the result is deterministic.
    *
    * Output: (event_id, user_id, ts, prior_id, gap_us); left rows with no
    * prior right event get prior_id = -1, gap_us = -1.
    *
    * Scale: partitioned by user — a single pathologically hot user funnels
    * through one task; salt by time range if that ever binds.
    */
  /** SLOWLY-CHANGING DIMENSION type 2 from a change stream: per key the
    * attribute's version history — (key, version, attr, effective_from_us,
    * effective_to_us, is_current), versions numbered in (ts, id) order,
    * `effective_to_us` the NEXT version's start (NULL while current, the
    * half-open [from, to) convention), CONSECUTIVE NO-OP CHANGES
    * SUPPRESSED (a change row restating the current attribute value opens
    * no new version — the SCD2 build rule; state transitions are exactly
    * where consecutive raw rows differ, so one `lag` compare suffices).
    * The BACKFILL half of the SCD2 family:
    * [[graft.ops.MergeOps.scd2Merge]] applies one keyed batch to an
    * existing versioned dimension (the continuous path); this builds the
    * whole history from a change stream in one pass (the initial load /
    * rebuild), and [[scd2AsofJoin]] is what both exist for — facts joining
    * the state AS OF their own timestamp instead of today's.
    *
    * Scale shape: one shuffle on the key; both windows (lag-suppress,
    * version/lead) run per key, bounded by per-key change counts — never
    * a corpus window. Deterministic: (ts, id) is a total order per key.
    */
  def scd2FromChanges(changes: DataFrame, keyCol: String = "user_id",
                      tsCol: String = "ts", attrCol: String = "event_type",
                      idCol: String = "event_id"): DataFrame =
    scd2FromChangesWithId(changes, keyCol, tsCol, attrCol, idCol)
      .drop("change_id")

  /** [[scd2FromChanges]] additionally carrying `change_id` — the id of the
    * change row that OPENED each version. The id makes the history a
    * lossless compacted change log: replaying (key, effective_from_us,
    * change_id, attr) through this builder reproduces the history exactly,
    * which is what lets [[graft.streaming.StreamingEvents.scd2Ingest]]
    * merge each micro-batch by re-running the builder over
    * history-as-changes ∪ batch (and thereby splice LATE changes in
    * exactly, renumbering downstream versions).
    */
  def scd2FromChangesWithId(changes: DataFrame, keyCol: String = "user_id",
                            tsCol: String = "ts",
                            attrCol: String = "event_type",
                            idCol: String = "event_id"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val survivors = changes
      .select(col(keyCol), col(tsCol), col(idCol), col(attrCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(byKey))
      .filter(col("__prev").isNull || col(attrCol) =!= col("__prev"))
    val byKey2 = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    survivors
      .withColumn("version", row_number().over(byKey2).cast("int"))
      .withColumn("effective_to_us",
        lead(unix_micros(col(tsCol)), 1).over(byKey2))
      .select(col(keyCol), col("version"), col(attrCol).as("attr"),
        unix_micros(col(tsCol)).as("effective_from_us"),
        col("effective_to_us"),
        col("effective_to_us").isNull.as("is_current"),
        col(idCol).as("change_id"))
  }

  /** AS-OF dimension join against an SCD2 history ([[scd2FromChanges]]'s
    * output): every fact picks the dimension version whose validity
    * interval contains the fact's timestamp. Union-then-scan, NOT a range
    * join (the [[asofJoin]] lemma: an inequality join expands to
    * O(facts × versions) per key before filtering; this is one shuffle on
    * the key and a linear per-key scan): version rows enter the stream at
    * their effective_from, `last(_, ignoreNulls)` carries (version, attr)
    * forward, fact rows read it. A version starting at EXACTLY the fact's
    * timestamp applies (dim sorts before fact at ties — asofJoin's
    * same-timestamp convention). Facts before their key's first version
    * surface with NULL version/attr — the coverage contract.
    *
    * Output: the fact's (idCol, keyCol, ts_us) + (version, attr).
    */
  def scd2AsofJoin(facts: DataFrame, dim: DataFrame,
                   keyCol: String = "user_id", tsCol: String = "ts",
                   idCol: String = "event_id"): DataFrame = {
    val f = facts.select(col(keyCol).as("k"),
      unix_micros(col(tsCol)).as("t"), lit(1).as("m"),
      col(idCol).as("fact_id"), lit(null).cast("int").as("d_version"),
      lit(null).cast("string").as("d_attr"))
    val d = dim.select(col(keyCol).as("k"),
      col("effective_from_us").as("t"), lit(0).as("m"),
      lit(null).cast(f.schema("fact_id").dataType).as("fact_id"),
      col("version").as("d_version"), col("attr").as("d_attr"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("m"), col("d_version"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f.unionByName(d)
      .withColumn("version", last(col("d_version"), ignoreNulls = true).over(w))
      .withColumn("attr", last(col("d_attr"), ignoreNulls = true).over(w))
      .filter(col("m") === 1)
      .select(col("fact_id").as(idCol), col("k").as(keyCol),
        col("t").as("ts_us"), col("version"), col("attr"))
  }

  def asofJoin(events: DataFrame, leftType: String = "error",
               rightType: String = "click"): DataFrame = {
    val u = events.filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(col("event_type") === rightType, col("event_id")).as("r_id"),
        when(col("event_type") === rightType, col("ts")).as("r_ts"),
        when(col("event_type") === rightType, lit(0)).otherwise(lit(1)).as("m"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("m"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("prior_id_raw", last(col("r_id"), ignoreNulls = true).over(w))
      .withColumn("prior_ts_raw", last(col("r_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("prior_id_raw"), lit(-1L)).as("prior_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("prior_ts_raw")),
          lit(-1L)).as("gap_us"))
  }

  /** COHORT-RETENTION matrix — the classic product-analytics table: users
    * are cohorted by the week of their FIRST event (week = epoch-micros
    * floor-divided by `weekUs` — a fixed UTC grid, no calendar arithmetic
    * to disagree on across engines), and each (cohort_week, week_offset)
    * cell counts the distinct cohort members active that many weeks later,
    * with the fraction of the cohort as a micro-quantized integer. Offset
    * 0 always reads 1.0 (the cohort is active in its own first week by
    * definition — a cheap oracle invariant).
    *
    * Scale shape: one distinct on (user, week) — map-side combinable, the
    * only corpus-sized shuffle; the per-user min is user-keyed; cohort
    * sizes and cells are (cohort[, offset])-keyed aggregations; the join
    * back to sizes is on cohort_week (≤ weeks rows — broadcast). No
    * window anywhere.
    */
  /** First-order MARKOV transition matrix over per-user event sequences:
    * consecutive events (ordered by (ts, id) within user — the repo's
    * deterministic event total order) contribute one (from_type, to_type)
    * transition; output counts plus the row-normalized probability as a
    * micro-quantized integer. The behavioral-modeling primitive behind
    * next-event prediction baselines and anomaly scoring (a transition
    * with tiny p_micro observed often in a window = behavior shift).
    *
    * Scale shape: one user-partitioned lead window (state = one row,
    * bounded by per-user event counts), a (from, to)-keyed count, and a
    * from-keyed rollup (≤ |types|² rows from the first agg on). No global
    * window, no join back to the corpus.
    */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type", tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("from_type"), col(tsCol),
        col(idCol))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val cnt = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    cnt.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("(1000000 * n) div n_from").as("p_micro"))
  }

  def cohortRetention(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts",
                      weekUs: Long = 7L * 86400L * 1000000L): DataFrame = {
    val active = events.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) div ${weekUs}L").as("week"))
      .distinct()
    val cohort = active.groupBy(col("u"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    val cells = active.join(cohort, Seq("u"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        expr("(1000000 * n_active) div n_cohort").as("retention_micro"))
  }
}
