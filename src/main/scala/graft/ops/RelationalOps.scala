package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's relational operator inventory (SURVEY.md §2.1-2.8),
  * re-expressed as reusable Spark-native operators over arbitrary DataFrames.
  *
  * Scale notes baked into every operator:
  *   - all aggregations are plain `groupBy`/`agg`, so Spark plans
  *     partial (map-side) + final hash aggregation automatically;
  *   - no UDFs anywhere — every expression is a Catalyst built-in and stays
  *     inside whole-stage codegen;
  *   - joins are declared logically; Catalyst + AQE pick broadcast vs
  *     sort-merge. Small dimension sides should be wrapped in `broadcast()`
  *     by the caller when known small.
  *
  * Cross-engine determinism: double summation is order-dependent, and Spark's
  * partial-aggregation order differs from any single-threaded oracle. Money
  * columns in the testdata carry exactly 2 decimals, so [[decSum]] casts to
  * `DECIMAL` before summing — decimal addition is exact and associative, so
  * the result is bit-identical regardless of partitioning (this matters at
  * 100 TB just as much as in tests: it makes aggregates reproducible across
  * reruns and cluster sizes).
  */
object RelationalOps {

  /** Order-independent exact sum of a fixed-point-valued double column.
    * Returns double (cast back after the exact decimal sum).
    */
  def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(27, scale))).cast("double")

  /** Order-independent mean: exact decimal sum / count, divided as doubles. */
  def decAvg(c: Column, scale: Int = 2): Column =
    decSum(c, scale) / count(c)

  /** Order-independent sample stddev, deterministic to the LAST BIT across
    * engines: every step before the final division is EXACT integer
    * arithmetic — values scale to integer "cents" (k = x·10^scale), and
    * variance·(n(n−1))·10^2s = n·Σk² − (Σk)² is computed in decimals wide
    * enough to never round. Only then do exactly three IEEE ops run
    * (divide, sqrt, rescale), each correctly rounded and identical
    * everywhere. The earlier sqrt((s2 − s1²/n)/(n−1)) double form left the
    * two engines room to differ in the last ulp (FMA/rounding order) once
    * sums grew past ~1e10. Bounds for exactness: |k| < 1e9, n < 1e10,
    * Σk² < 1e28 — holds at any Verify scale and to ~10^9-row groups.
    */
  private def decStddev(c: Column, scale: Int = 2): Column = {
    val pow = math.pow(10, scale).toLong
    val k = (c.cast(DecimalType(18, scale)) * lit(pow)).cast(DecimalType(9, 0))
    val s1 = sum(k).cast(DecimalType(19, 0))
    val s2 = sum((k * k).cast(DecimalType(18, 0))).cast(DecimalType(28, 0))
    val n = count(c).cast(DecimalType(10, 0))
    val num = (n * s2 - s1 * s1).cast("double")
    val den = (count(c) * (count(c) - lit(1L))).cast("double")
    sqrt(num / den) / lit(pow.toDouble)
  }

  /** Pricing-summary-style flagship aggregation (reference's groupBy-count /
    * multi-agg shape, `README.md:296-297,1152-1158`): filter → groupBy →
    * multi-aggregate → sort. One shuffle on the grouping keys; the date
    * filter reaches the parquet scan as a pushed predicate.
    */
  def pricingSummary(lineitem: DataFrame, cutoffDate: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit(cutoffDate).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("sum_disc_price"),
        (decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        decAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Inner equi-join (the reference's only join shape — `README.md:1711-1713`,
    * 11 call sites). USING-style single key column. At scale: sort-merge with
    * AQE; callers broadcast known-small right sides.
    */
  def scoreJoin(left: DataFrame, right: DataFrame, key: String): DataFrame =
    left.join(right, Seq(key), "inner")

  /** Contingency table, reference `df.crosstab(a, b)` (`README.md:347-348`).
    * Expressed as groupBy-pivot-count with zero fill; `values` pins the pivot
    * column set so the plan needs no extra distinct-collect job (and so the
    * output schema is stable — required for the oracle compare and good
    * practice at scale).
    */
  def crosstab(df: DataFrame, a: String, b: String, values: Seq[String]): DataFrame =
    df.groupBy(col(a)).pivot(b, values).count().na.fill(0L).orderBy(col(a))

  /** Dynamic-values crosstab — the reference's exact `df.crosstab` shape
    * (string key column named `a_b`, discovered pivot columns). Costs one
    * extra distinct-collect job to find the pivot values; prefer [[crosstab]]
    * with pinned values when the category set is known (stable schema, one
    * job fewer — the right default at scale).
    */
  def crosstabDynamic(df: DataFrame, a: String, b: String): DataFrame =
    df.stat.crosstab(a, b)

  /** describe()-equivalent numeric profile (reference `README.md:576,684`),
    * long format: one row per column. Single pass over the data (all
    * aggregates in one job), order-independent stats via decimal sums.
    * Fully lazy: the wide 1-row aggregate is unpivoted with `stack`
    * (a generator — no collect, no job at plan-build time).
    */
  def describeAggs(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__count"),
        decAvg(col(c)).as(s"${c}__mean"),
        decStddev(col(c)).as(s"${c}__std"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.flatMap { c =>
      Seq(lit(c), col(s"${c}__count"), col(s"${c}__mean"),
        col(s"${c}__std"), col(s"${c}__min"), col(s"${c}__max"))
    }
    wide.select(stack((lit(cols.size) +: stackArgs): _*)
        .as(Seq("column", "count", "mean", "stddev", "min", "max")))
      .orderBy("column")
  }

  /** Data-quality COLUMN PROFILE, long format: one row per column with
    * row/null/distinct counts and min/max (rendered as strings so mixed
    * column types unpivot into one frame). The ingest-time audit every
    * pipeline runs before trusting a new shard.
    *
    * Scale shape: one UNION leg per column, each a single-`countDistinct`
    * aggregate — Catalyst plans that as partial groupBy-value dedup
    * map-side (no row expansion), and the legs' scans run as parallel
    * stages sharing the parquet read. The tempting one-agg-with-k-distincts
    * form plans through Expand (k+1× row multiplication into ONE shuffle)
    * and measured 10× slower at sf0.1; the union shape is also what keeps
    * this linear at 100 TB — each leg shuffles only its own column's
    * per-partition distinct values. For very wide profiles swap
    * `countDistinct` for `approx_count_distinct` and the legs collapse
    * into one 1-row aggregate.
    *
    * The shared-read claim holds for SOURCE tables (k legs share one
    * parquet scan); a DERIVED/expensive input re-executes its upstream
    * subtree once per leg — cache/persist such inputs first (e.g. register
    * them in a [[CacheScope]]) or the 10× win becomes a k× loss.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.map { c =>
      df.agg(count(lit(1)).as("n_rows"), count(col(c)).as("__nn"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_s"),
          max(col(c)).cast("string").as("max_s"))
        .select(lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col("__nn")).as("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionByName _).orderBy("col_name")
  }

  /** Value replacement, reference `df.na.replace` (`README.md:676-677`). */
  def naReplace(df: DataFrame, colName: String, repl: Map[String, String]): DataFrame =
    df.na.replace(colName, repl)

  /** Threshold predicate → 0/1 double (reference `getPrediction`,
    * `README.md:1450-1451`). Pure codegen expression.
    */
  def threshold(c: Column, e: Double): Column =
    when(c >= lit(e), 1.0).otherwise(0.0)

  /** OR-voting over 0/1 int columns (reference `bitwiseOR` voting,
    * `README.md:3141-3144`).
    */
  def bitwiseVote(cols: Seq[Column]): Column =
    cols.map(_.cast("int")).reduce(_ bitwiseOR _)

  /** Weighted linear combination of columns (reference `README.md:3266-3270`). */
  def linearCombo(weighted: Seq[(Column, Double)]): Column = {
    val total = weighted.map(_._2).sum
    weighted.map { case (c, w) => c * lit(w) }.reduce(_ + _) / lit(total)
  }

  /** Union-accumulator (reference `getProbabilities` seed-and-union loop,
    * `README.md:1667-1687`): union by name over the branches, no empty seed
    * needed. unionByName is resilient to column order drift.
    */
  def unionAccumulate(branches: Seq[DataFrame]): DataFrame =
    branches.reduce(_ unionByName _)

  /** Z-score standardization (reference's custom standardizer,
    * `README.md:1323-1340`). Global stats are computed in one aggregate job
    * and joined back via a broadcast cross join (1 stats row), so the data
    * pass stays a narrow map — no window-over-everything single-partition
    * funnel, safe at any scale.
    */
  def zscore(df: DataFrame, cols: Seq[String], outSuffix: String = "_z"): DataFrame = {
    val statAggs = cols.flatMap { c =>
      Seq(decAvg(col(c)).as(s"${c}__mean"),
        decStddev(col(c)).as(s"${c}__std"))
    }
    val stats = df.agg(statAggs.head, statAggs.tail: _*)
    val withStats = df.crossJoin(broadcast(stats))
    val projected = cols.foldLeft(withStats) { (d, c) =>
      d.withColumn(s"$c$outSuffix",
        (col(c) - col(s"${c}__mean")) / col(s"${c}__std"))
    }
    projected.drop(cols.flatMap(c => Seq(s"${c}__mean", s"${c}__std")): _*)
  }

  /** Attribute Ratio for numeric features (reference `README.md:1143-1158`):
    * AR(c) = max over label classes of avg_class(c) / avg_global(c).
    * Two aggregate jobs (grouped + global), one tiny broadcast join —
    * identical shape at 100 TB.
    */
  def attributeRatioNumeric(df: DataFrame, labelCol: String, cols: Seq[String]): DataFrame = {
    val grouped = df.groupBy(col(labelCol))
      .agg(cols.map(c => decAvg(col(c)).as(c)).head,
        cols.tail.map(c => decAvg(col(c)).as(c)): _*)
    val globalAggs = cols.map(c => decAvg(col(c)).as(s"${c}__g"))
    val global = df.agg(globalAggs.head, globalAggs.tail: _*)
    val ratios = grouped.crossJoin(broadcast(global))
    val maxAggs = cols.map(c => max(col(c) / col(s"${c}__g")).as(c))
    ratios.agg(maxAggs.head, maxAggs.tail: _*)
  }

  /** Attribute Ratio for binary features (reference `README.md:1161-1167`):
    * per class freq(1)/freq(0) = sum/(count-sum), sentinel 1000.0 on zero
    * denominator, then max over classes.
    */
  def attributeRatioBinary(df: DataFrame, labelCol: String, cols: Seq[String],
                           sentinel: Double = 1000.0): DataFrame = {
    val ratioAggs = cols.map { c =>
      val s = sum(col(c))
      val n = count(col(c))
      when(n - s === 0, lit(sentinel)).otherwise(s / (n - s)).as(c)
    }
    val grouped = df.groupBy(col(labelCol)).agg(ratioAggs.head, ratioAggs.tail: _*)
    val maxAggs = cols.map(c => max(col(c)).as(c))
    grouped.agg(maxAggs.head, maxAggs.tail: _*)
  }

  /** Deterministic train/val/test split: each row gets a `split` index
    * (0..weights.size-1) from the md5 of its salted id, bucketed into
    * 10,000 basis points and cut at the cumulative weight thresholds.
    * Unlike `randomSplit`, assignment is a pure per-row function of
    * (salt, id): stable across runs, engines (the DuckDB oracle recomputes
    * it), cluster sizes, and — critically for training pipelines —
    * re-ingestions: a document keeps its split when the corpus around it
    * changes, so eval sets never silently leak into train after a refresh.
    * Zero shuffle: the split column fuses into whatever scan reads the
    * table.
    */
  def hashSplit(df: DataFrame, idCol: String, weights: Seq[Double],
                salt: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    val total = weights.sum
    val cumBp = weights.scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c / total * 10000).toInt)
    // fail fast on weights below the 1-bp granularity: colliding thresholds
    // would make a split silently unreachable (always empty)
    require((0 +: cumBp).zip(cumBp).forall { case (a, b) => a < b },
      s"weights $weights collapse below the 1e-4 split granularity " +
        s"(cumulative basis points: ${cumBp.mkString(",")})")
    val bucket = pmod(
      DetHash.md5Hash60(concat(lit(salt + "|"), col(idCol).cast("string"))),
      lit(10000L))
    val split = cumBp.init.zipWithIndex
      .foldRight(lit(cumBp.size - 1): org.apache.spark.sql.Column) {
        case ((t, i), acc) => when(bucket < t, lit(i)).otherwise(acc)
      }
    df.withColumn("split", split)
  }

  /** CLUSTER-SAFE train/eval split — [[hashSplit]] with the leakage
    * guarantee built in: every near-dup CLUSTER (connected component of
    * `pairs`, singletons included) lands wholly in one split, because the
    * md5 bucket is computed on the component id, not the document id. This
    * is the CONSTRUCTIVE half of the split-leakage pair: the X137 audit
    * measures cross-split near-dup pairs after the fact; this makes them
    * impossible by construction (a pair's endpoints share a component,
    * hence a bucket, hence a split). Output: `rows` + (comp, split).
    *
    * Scale shape: [[graft.ops.GraphOps.connectedComponents]]' logarithmic
    * rounds + one id-keyed join back to the rows; the split expression
    * itself fuses into the scan exactly as [[hashSplit]]'s does.
    */
  def clusterSafeSplit(rows: DataFrame, pairs: DataFrame,
                       weights: Seq[Double], idCol: String = "doc_id",
                       salt: String = "split"): DataFrame = {
    val comp = GraphOps.connectedComponents(pairs,
      rows.select(col(idCol).as("id")))
    val assigned = hashSplit(comp, "comp", weights, salt)
      .select(col("id").as(idCol), col("comp"), col("split"))
    rows.join(assigned, Seq(idCol))
  }

  /** Deterministic corpus SHUFFLE with global positions — the seeded
    * permutation a training pipeline applies before sequence packing: every
    * row gets `shuffle_pos` = its rank in the total order
    * (md5(salt|id), id), reproducible across runs, engines and cluster
    * sizes (same [[DetHash.md5Hash60]] convention as [[hashSplit]], so a
    * corpus re-shuffles identically when re-ingested).
    *
    * The rank is computed WITHOUT a global row_number window (which would
    * sort the planet in one partition): the hash's HIGH BITS form a bucket
    * — a prefix of the sort key, so ordering by (bucket, hash, id) IS the
    * total order — within-bucket ranks run as a parallel bucket-partitioned
    * window, bucket offsets come from one tiny (nBuckets-row) aggregate
    * windowed on the driver-sized side and broadcast back.
    *
    * SIZE `bucketBits` to the corpus: each of the 2^bucketBits buckets is
    * one window partition that must sort in an executor, so pick
    * bucketBits ≈ log2(corpus_bytes / 256 MB) — the 10 default fits ~256 GB
    * of key+payload; a 100 TB corpus wants ~18-19 bits (≈ 400 k buckets,
    * still a trivially-broadcast offsets table). The md5 hash is uniform,
    * so buckets stay balanced at any setting.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
                           salt: String = "shuffle",
                           bucketBits: Int = 10): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 30, "bucketBits in [1,30]")
    val h = DetHash.md5Hash60(concat(lit(salt + "|"), col(idCol).cast("string")))
    val hashed = df.withColumn("__h", h)
      .withColumn("__b", shiftright(col("__h"), 60 - bucketBits))
    val perBucket = hashed.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    // offsets: exclusive prefix sum over the ≤2^bucketBits bucket counts —
    // window over the tiny aggregate, never over the data
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__h"), col(idCol))
    hashed.join(broadcast(offsets), Seq("__b"))
      .withColumn("shuffle_pos", col("__off") + row_number().over(wRank) - 1)
      .drop("__h", "__b", "__off")
  }

  /** EXACT grouped median WITHOUT a global sort: reduce each group to its
    * VALUE HISTOGRAM (one hash aggregation with map-side partials), then
    * run the cumulative-count window over histogram rows — cardinality =
    * distinct values per group, not group size. The even-n median is the
    * mean of the two middle values (`median()` semantics in DuckDB /
    * Postgres / pandas).
    *
    * This is the exact counterpart to the GK sketch (q39/q62): use it when
    * the value domain is bounded (quantities, ratings, bucketed sizes,
    * token counts — distinct values ≪ rows, the histogram fits easily);
    * use the sketch when values are continuous and unbounded. A global
    * `orderBy().limit()` median would sort 100 TB; this shuffles only
    * (group, value) pairs.
    */
  def exactMedianByGroup(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col(groupCol), col(valCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col(groupCol))))
    // 1-based middle positions: odd n → both (n+1)/2; even n → n/2, n/2+1
    val p1 = ((col("n") + 1) / 2).cast("long")
    val p2 = ((col("n") + 2) / 2).cast("long")
    // value at position p = min value whose cumulative count reaches p
    val lo = cum.filter(col("cum") >= p1)
      .groupBy(col(groupCol)).agg(min(col("v")).as("v_lo"))
    val hi = cum.filter(col("cum") >= p2)
      .groupBy(col(groupCol)).agg(min(col("v")).as("v_hi"))
    val ns = hist.groupBy(col(groupCol)).agg(sum(col("c")).as("n_rows"))
    ns.join(lo, Seq(groupCol)).join(hi, Seq(groupCol))
      .select(col(groupCol), col("n_rows"),
        ((col("v_lo") + col("v_hi")) / 2).as("median"))
  }

  /** Corpus SNAPSHOT DIFF — the incremental-crawl bookkeeping every
    * recurring ingest needs (what changed between crawl N and crawl N+1,
    * before any re-processing is scheduled): per doc id, `status` ∈
    * added (only in `newDf`) / removed (only in `oldDf`) / changed (both,
    * content digest differs) / unchanged, with both digests carried for
    * audit. Drives delta processing: only added+changed docs re-enter the
    * dedup/quality tiers, and removed ids tombstone out of the persisted
    * indexes.
    *
    * Scale shape: each side reduces to (id, 16-byte digest) in a map pass;
    * ONE id-keyed full-outer join — never the texts. With both snapshots
    * id-bucketed ([[graft.sources.Bucketing]]) the join is exchange-free.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("digest_old"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("digest_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("digest_old").isNull, lit("added"))
          .when(col("digest_new").isNull, lit("removed"))
          .when(col("digest_old") === col("digest_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("digest_old"), col("digest_new"))
  }

  /** Deterministic stratified sampling — the data-mixing primitive: keep a
    * per-stratum fraction of rows (basis points out of 10,000, e.g.
    * upsample head languages, downsample boilerplate sources), selected by
    * the md5 of the salted id exactly like [[hashSplit]]. Same contract:
    * pure per-row function of (salt, id), stable across runs / engines /
    * cluster sizes / corpus refreshes, zero shuffle, and reproducible in
    * the SQL oracle. Strata missing from `ratesBp` fall back to
    * `defaultBp`. Unlike `sampleBy` (M18 — Bernoulli on Spark's RNG, rates
    * honored only in expectation and not portable), the sampled SET is
    * itself deterministic.
    */
  def hashStratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                           ratesBp: Map[String, Int], defaultBp: Int,
                           salt: String = "sample"): DataFrame = {
    require((defaultBp +: ratesBp.values.toSeq).forall(r => r >= 0 && r <= 10000),
      "rates are basis points in [0, 10000]")
    val bucket = pmod(
      DetHash.md5Hash60(concat(lit(salt + "|"), col(idCol).cast("string"))),
      lit(10000L))
    // sorted for a deterministic when-chain (Map iteration order isn't)
    val rate = ratesBp.toSeq.sortBy(_._1)
      .foldRight(lit(defaultBp): Column) { case ((k, bp), acc) =>
        when(col(strataCol) === k, lit(bp)).otherwise(acc)
      }
    df.filter(bucket < rate)
  }

  /** Bloom-filter pre-join pruning — the runtime-filter pattern, built
    * explicitly: fold the dim side's join keys into an `mBits`-bit Bloom
    * filter (k md5-derived bit positions per key, OR-aggregated into
    * 64-bit words), broadcast the filter as ONE map-typed row, and drop
    * fact rows that miss it BEFORE the join's shuffle. False positives
    * survive the bloom but die in the exact join that follows, so the
    * result is IDENTICAL to `fact.join(dim, key)` — the bloom only moves
    * work: at 100 TB a selective dim filter prunes most of the fact scan's
    * output before it pays the exchange, for a sketch whose size is fixed
    * by mBits (2 KB at 2^14 bits) no matter how many keys it summarizes.
    *
    * Everything is lazy and plan-pure (no driver-side collect): the build
    * is a tiny word-keyed aggregation, the probe is a broadcast
    * nested-loop join against the 1-row filter. Bit positions derive from
    * one md5 per key (20-bit slices), the [[DetHash]] determinism
    * contract — so the pruned set is reproducible across engines and
    * partitionings.
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, key: String,
                      mBits: Int = 1 << 14, kHashes: Int = 3): DataFrame =
    bloomFilteredFact(fact, dim, key, mBits, kHashes).join(dim, Seq(key))

  /** The bloom-survivor side alone (no verifying join): fact rows whose key
    * hits the dim-side Bloom filter — true matches plus the sketch's false
    * positives. Exposed so tests can measure the false-positive rate and so
    * callers can reuse the pruned set across several joins.
    */
  def bloomFilteredFact(fact: DataFrame, dim: DataFrame, key: String,
                        mBits: Int = 1 << 14, kHashes: Int = 3): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0 && mBits <= (1 << 20),
      s"mBits must be a power of two in [64, 2^20], got $mBits")
    require(kHashes >= 1 && kHashes <= 3, "kHashes in [1, 3] (20-bit md5 slices)")
    // scratch columns are added-then-dropped: a caller's column with one of
    // these names would be silently overwritten and removed from the output
    Seq("__h", "__bf").foreach(n => require(!fact.columns.contains(n),
      s"fact already has a column named '$n' (reserved scratch name)"))
    def hash(c: Column): Column =
      DetHash.md5Hash60(concat(lit("bloom|"), c.cast("string")))
    def positions(h: Column): Seq[Column] =
      (0 until kHashes).map(i => pmod(shiftright(h, 20 * i), lit(mBits.toLong)))
    val words = dim
      .select(explode(array(positions(hash(col(key))): _*)).as("pos"))
      .select((col("pos") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
    val bloomRow = words
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("__bf"))
    val probeCond = (0 until kHashes).map { i =>
      s"""(coalesce(element_at(__bf, pmod(shiftright(__h, ${20 * i}), $mBits) div 64),
         |  CAST(0 AS BIGINT))
         |  & shiftleft(CAST(1 AS BIGINT),
         |      CAST(pmod(shiftright(__h, ${20 * i}), $mBits) % 64 AS INT))) != 0""".stripMargin
    }.mkString("(", ") AND (", ")")
    fact.withColumn("__h", hash(col(key)))
      .crossJoin(broadcast(bloomRow))
      .filter(expr(probeCond))
      .drop("__h", "__bf")
  }

  // --------------------------------------------------------------------
  // HYPERLOGLOG distinct-count sketch (Flajolet et al., AofA'07) — the
  // MERGEABLE cardinality state a 100 TB pipeline keeps instead of exact
  // distinct counts: per group, 2^p integer registers (max leading-zero
  // rank per register), so per-shard/per-day sketches union by per-register
  // MAX — associative, idempotent, re-aggregable at any rollup level —
  // where exact count_distinct must re-shuffle every distinct value on
  // every re-rollup. Built on [[DetHash.md5Hash60]], so the registers are
  // BIT-REPRODUCIBLE across engines/partitionings (the oracle recomputes
  // them in SQL): register = top p bits of the 60-bit hash, rho = rank of
  // the first 1-bit in the remaining 60-p (via `bin()` string length —
  // identical semantics in Spark and DuckDB; rho = 60-p+1 for a zero
  // remainder). The estimate keeps the repo's no-libm contract: the
  // harmonic denominator Σ 2^(-rho) is scaled by 2^(60-p+1) into an EXACT
  // BIGINT, and only the final alpha·m²/denom expression runs in doubles,
  // one shared shape both engines round identically. Deliberately NO
  // small-range linear-counting branch (it needs `ln`, which differs
  // across libm in the last ulp — the [[graft.ops.TextOps.topTerms]]
  // reasoning); callers pick p so expected cardinalities sit in HLL's
  // raw-estimate range (n ≳ 2.5·2^p) and the audit column shows the error.
  // --------------------------------------------------------------------

  /** Per-group HLL registers: (grp, reg, r) — the mergeable sketch state.
    * ≤ 2^p rows per group, whatever the input size; absent registers mean
    * rho 0 (the estimator counts them as zeros).
    */
  def hllRegisters(df: DataFrame, keyCol: Column, grpCol: Column,
                   p: Int = 8): DataFrame =
    hllRegRho(df, keyCol, grpCol, p)
      .groupBy(col("grp"), col("reg")).agg(max(col("rho")).as("r"))

  /** Pre-aggregation rows of [[hllRegisters]]: one (grp, reg, rho) row per
    * input row. Split out so [[hllCardinalityAudit]] can aggregate rho and
    * the per-register pair count in ONE pass.
    */
  private def hllRegRho(df: DataFrame, keyCol: Column, grpCol: Column,
                        p: Int): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in 4..16")
    val remBits = 60 - p
    val h = DetHash.md5Hash60(concat(lit("hll|"), keyCol.cast("string")))
    df.select(grpCol.as("grp"), shiftright(h, remBits).as("reg"),
        h.bitwiseAND(lit((1L << remBits) - 1)).as("rem"))
      .select(col("grp"), col("reg"),
        when(col("rem") === 0, lit(remBits + 1))
          .otherwise(lit(remBits + 1) - length(bin(col("rem")))).as("rho"))
  }

  /** Merge sketches across groups into ONE sketch (the union-of-sets
    * lemma: max per register) — relabeled `mergedGrp`. What a rollup does
    * to per-shard sketches instead of rescanning the shards.
    */
  def hllMergeRegisters(regs: DataFrame, mergedGrp: String): DataFrame =
    regs.groupBy(col("reg")).agg(max(col("r")).as("r"))
      .select(lit(mergedGrp).as("grp"), col("reg"), col("r"))

  /** Per-group estimate report from a register frame: (grp, occupied,
    * denom_scaled, est_micro). `denom_scaled` = Σ 2^(S−rho) over occupied
    * registers + (m − occupied)·2^S with S = 60−p+1 — the harmonic
    * denominator scaled to an exact BIGINT; `est_micro` the raw HLL
    * estimate alpha_m·m²/denom in micro units (the one double expression,
    * shared shape with the oracle).
    */
  private def hllEstimate(regs: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val s = 60 - p + 1
    val mD = m.toDouble
    // the asymptotic alpha 0.7213/(1+1.079/m) only holds from m=128 up;
    // Flajolet et al. publish fixed constants for the small register
    // counts (m=16/32/64), without which estimates at p=4..6 carry a
    // ~2-7% systematic bias
    val alpha = p match {
      case 4 => lit(0.673)
      case 5 => lit(0.697)
      case 6 => lit(0.709)
      case _ => lit(0.7213) / (lit(1.0) + lit(1.079) / lit(mD))
    }
    val grouped = regs.groupBy(col("grp"))
      .agg(count(lit(1)).as("occupied"),
        sum(expr(s"shiftleft(cast(1 as bigint), cast($s - r as int))"))
          .as("occ_denom"))
      .select(col("grp"), col("occupied"),
        (col("occ_denom") + (lit(m.toLong) - col("occupied")) * lit(1L << s))
          .as("denom_scaled"))
    grouped.select(col("grp"), col("occupied"), col("denom_scaled"),
      floor(((alpha * ((lit(mD) * lit(mD)) * lit(math.pow(2.0, s)))) /
          col("denom_scaled").cast("double")) * lit(1000000.0) + lit(0.5))
        .cast("long").as("est_micro"))
  }

  /** The AUDIT composition: per-group sketch estimates PLUS a merged
    * `__ALL__` row (per-register max across groups — never a rescan),
    * each joined with the exact distinct count and an absolute-error
    * column in ppm. The exact leg is the audit's cost (one distinct
    * shuffle); production keeps only the registers.
    */
  def hllCardinalityAudit(df: DataFrame, keyCol: Column, grpCol: Column,
                          p: Int = 8,
                          scope: CacheScope = CacheScope.default): DataFrame = {
    // NULL keys are invisible to count_distinct (and the oracle's
    // count(distinct)), so they must feed neither the sketch nor the
    // exact legs
    val pairs = df
      .select(grpCol.cast("string").as("grp"), keyCol.as("key"))
      .filter(col("key").isNotNull).distinct()
    // SIZE-AWARE registration: the sweep-shared cache is the (grp, reg)
    // aggregation — ≤ 2^p rows per group — NOT the corpus-key-scale pair
    // list (whose cache competed with execution memory across the whole
    // bench sweep: the measured 4.96 → 5.73 s q174 regression). max(rho)
    // per register is duplicate-insensitive, so registers over distinct
    // pairs equal the r14 per-consumer form; the per-register pair COUNT
    // sums to the group's exact distinct-key count, so the per-group
    // exact leg rides the same tiny cache. Only the global exact leg
    // (distinct keys ACROSS groups — underivable from per-group state)
    // pays a second corpus pass, over the narrower key-only projection.
    val byReg = scope.register(hllRegRho(pairs, col("key"), col("grp"), p)
      .groupBy(col("grp"), col("reg"))
      .agg(max(col("rho")).as("r"), count(lit(1)).as("cnt")))
    val regs = byReg.select(col("grp"), col("reg"), col("r"))
    val all = regs.unionByName(hllMergeRegisters(regs, "__ALL__"))
    val est = hllEstimate(all, p)
    val exact = byReg.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("exact_distinct"))
      .unionByName(pairs.select(col("key")).distinct()
        .agg(count(lit(1)).as("exact_distinct"))
        .select(lit("__ALL__").as("grp"), col("exact_distinct")))
    est.join(exact, est("grp") <=> exact("grp"))
      .select(est("grp"), col("exact_distinct"), col("occupied"),
        col("denom_scaled"), col("est_micro"),
        // ppm directly: est_micro − 1e6·exact is already 1e6·(est−exact),
        // so dividing by exact gives ppm without the extra 1e6 factor the
        // old form multiplied in (which overflowed BIGINT once
        // distinct · relative-error crossed ~9e6); floor-div identity:
        // (1e6·D) div (1e6·E) = D div E, so values are unchanged
        expr("abs(est_micro - 1000000 * exact_distinct)" +
          " div exact_distinct").as("err_abs_ppm"))
  }

  /** Deterministic sampling to per-stratum TARGET COUNTS — the data-mixing
    * primitive when the recipe is "exactly N docs of each language/source",
    * not a rate: rank each stratum's rows by the md5 of the salted id
    * (uniform, engine-independent — same convention as [[hashSplit]]) and
    * keep the first `targets(stratum)` of them. Unlike
    * [[hashStratifiedSample]] the output SIZE is exact, and the selected
    * set is still a pure function of (salt, ids): stable across runs,
    * engines, partitionings, and corpus ORDER — though not across corpus
    * membership changes (ranks shift when rows are added), which is the
    * inherent price of exact counts. Strata absent from `targets` are
    * dropped.
    *
    * Scale shape: one shuffle on the stratum key, then a per-stratum
    * row_number window — rank, not sort-all: at extreme stratum sizes
    * replace the window with the two-pass "sample the ~target/n quantile of
    * h, refine" threshold trick; here the window keeps it exact in one
    * pass, and skew is bounded by the largest stratum.
    */
  def hashRankSample(df: DataFrame, idCol: String, strataCol: String,
                     targets: Map[String, Long],
                     salt: String = "mix"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targets.values.forall(_ >= 0), "targets must be non-negative")
    Seq("__h", "__rk").foreach(n => require(!df.columns.contains(n),
      s"input already has a column named '$n' (reserved scratch name)"))
    val h = DetHash.md5Hash60(concat(lit(salt + "|"), col(idCol).cast("string")))
    // sorted for a deterministic when-chain (Map iteration order isn't)
    val target = targets.toSeq.sortBy(_._1)
      .foldRight(lit(0L): Column) { case ((k, n), acc) =>
        when(col(strataCol) === k, lit(n)).otherwise(acc)
      }
    val w = Window.partitionBy(col(strataCol)).orderBy(col("__h").asc, col(idCol).asc)
    df.withColumn("__h", h)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= target)
      .drop("__h", "__rk")
  }

  /** Join-key SKEW PROFILE — the decision input for AQE skew tuning: one row of exact distribution facts about rows-per-key
    * (n_keys, n_rows, max, p50/p90/p99 of per-key counts, and the hottest
    * key's row share in basis points). Percentiles are percentile_disc
    * (value at position ⌈p·n_keys⌉ in count order), computed over the
    * COUNT HISTOGRAM — the cumulative window runs over distinct count
    * VALUES (bounded, tiny), never over keys or rows, so profiling a
    * 10^9-key join input costs one key-count shuffle plus small-table work
    * (same cardinality argument as [[exactMedianByGroup]]). All-integer →
    * oracle-exact.
    */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
    val hist = counts.groupBy(col("c")).agg(count(lit(1)).as("k"))
    val cum = hist.withColumn("cum", sum(col("k")).over(Window.orderBy(col("c"))))
    val tot = counts.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
      max(col("c")).as("max_c"))
    // all three percentiles in ONE conditional aggregate over the cum
    // frame — separate per-percentile subplans would re-run the window
    // three times and lean on ReuseExchange to dedup
    val pcts = cum.crossJoin(broadcast(tot.select(col("n_keys"))))
      .agg(
        min(when(col("cum") * 100 >= col("n_keys") * 50, col("c"))).as("p50_c"),
        min(when(col("cum") * 100 >= col("n_keys") * 90, col("c"))).as("p90_c"),
        min(when(col("cum") * 100 >= col("n_keys") * 99, col("c"))).as("p99_c"))
    tot.crossJoin(broadcast(pcts))
      .select(col("n_keys"), col("n_rows"), col("max_c"),
        col("p50_c"), col("p90_c"), col("p99_c"),
        expr("(max_c * 10000) div n_rows").as("top1_share_bp"))
  }

  /** Weighted sampling WITHOUT replacement of exactly `k` rows, one pass,
    * no replacement bookkeeping: the Efraimidis–Spirakis reservoir scheme
    * (IPL 2006) with the randomness derandomized through
    * [[DetHash.md5Hash60]]. Each row draws u ∈ (0, 1] from its seeded id
    * hash and competes on the exponential race key e = −ln(u)/w — taking
    * the k SMALLEST keys selects each row with probability proportional to
    * its weight, exactly as the classical u^(1/w) top-k does (monotone
    * transform), but with the numerically tame form. The key is floored to
    * nano units before the comparison (the cross-engine float contract) and
    * ties break on id, so the sample is a total-order fact any engine
    * replays bit-identically — a `rand()`-based sampler can't be audited or
    * resumed; this one is a pure function of (seed, id, weight).
    *
    * Scale shape: the key is map-only; the global smallest-k resolves as
    * TakeOrderedAndProject (a k-heap per partition, k rows per partition to
    * the driver) — no shuffle of the corpus, no global sort. Rows with
    * non-positive weight never qualify (P(select) ∝ w → 0).
    */
  def weightedSample(df: DataFrame, weightCol: Column, k: Int,
                     seed: String = "wsamp",
                     idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = pmod(DetHash.md5Hash60(
      concat(lit(s"$seed|"), col(idCol).cast("string"))), lit(DetHash.P))
    val u = (h + 1L).cast("double") / lit((DetHash.P + 1L).toDouble)
    df.filter(weightCol > 0)
      // weight reported as the DOUBLE the race actually used — a long
      // cast would silently zero fractional importance weights while the
      // key still honored them
      .select(col(idCol), weightCol.cast("double").as("weight"),
        floor(-log(u) / weightCol.cast("double") * 1e9).cast("long")
          .as("key_nano"))
      .orderBy(col("key_nano"), col(idCol))
      .limit(k)
  }

  /** STRATIFIED form of [[weightedSample]]: the same derandomized
    * exponential race run independently per stratum (source, language,
    * shard…), k winners each — per-stratum quotas with within-stratum
    * weight-proportional selection, the two-level sampling a mixture
    * planner actually wants (a global race would let one giant stratum
    * swallow the budget). Identical key stream to the global race, so a
    * row's key is the same number in both — only the competition scope
    * changes.
    *
    * Scale shape: map-only keys + one stratum-partitioned rank window with
    * WindowGroupLimit pushdown (a k-heap per partition before the shuffle)
    * — no global sort, no driver involvement.
    */
  def stratifiedWeightedSample(df: DataFrame, stratumCol: String,
                               weightCol: Column, k: Int,
                               seed: String = "wsamp",
                               idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = pmod(DetHash.md5Hash60(
      concat(lit(s"$seed|"), col(idCol).cast("string"))), lit(DetHash.P))
    val u = (h + 1L).cast("double") / lit((DetHash.P + 1L).toDouble)
    val keyed = df.filter(weightCol > 0)
      .select(col(stratumCol), col(idCol),
        weightCol.cast("double").as("weight"),
        floor(-log(u) / weightCol.cast("double") * 1e9).cast("long")
          .as("key_nano"))
    topKPerGroup(keyed, Seq(stratumCol),
        Seq(col("key_nano").asc, col(idCol).asc), k)
      .select(col(stratumCol), col(idCol), col("weight"), col("key_nano"),
        col("rn").cast("int").as("rank"))
  }

  /** Top-k per group via ranking window (partitioned — never a global
    * single-partition sort). Deterministic given a total tiebreak ordering.
    */
  def topKPerGroup(df: DataFrame, partCols: Seq[String], orderCols: Seq[Column],
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
