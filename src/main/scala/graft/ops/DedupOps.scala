package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash groupBy),
  * MinHash+LSH banding with exact-Jaccard verification, SimHash with banded
  * Hamming retrieval, and n-gram Jaccard — each designed so the only shuffle
  * is on a compact integer key (digest / band signature / shingle hash),
  * never an all-pairs comparison.
  *
  * All near-dup machinery builds on [[DetHash.md5Hash60]], so every
  * signature is bit-reproducible across engines (the DuckDB oracle
  * recomputes identical values) and across cluster sizes.
  *
  * Scale contract: at 100 TB, exact dedup is one shuffle of a 16-byte digest;
  * MinHash shuffles (id, shingle-hash) ints then `bands` (band, sig) keys per
  * document and compares only within-bucket candidates; the exact-Jaccard
  * rerank touches only candidate pairs. Inverted-index Jaccard shuffles
  * (shingle-hash, doc) ints with a document-frequency cap on hot shingles to
  * bound skew.
  */
object DedupOps {

  /** Exact dedup summary: one row per distinct content digest with the
    * representative (minimum) id and the duplicate count.
    */
  def exactDedupSummary(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Exact dedup: keep one row per distinct content (the min-id winner).
    * groupBy on the digest shuffles 16 bytes/row regardless of document
    * size — cheaper than dropDuplicates(text), which shuffles whole
    * documents.
    */
  def exactDedup(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val winners = exactDedupSummary(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(winners, Seq(idCol), "inner")
  }

  /** ASCII canonical form for near-exact dedup: lowercase (applied to
    * [A-Z] only — Java and every SQL engine agree on ASCII case, so the
    * contract deliberately stops short of Unicode case folding, where
    * libraries drift), every char outside [a-z0-9 ] becomes a space (so
    * punctuation separates, never concatenates, tokens), whitespace runs
    * collapse, ends trim. Catches the trivial perturbations exact dedup
    * misses — recased mirrors, double-spaced reflows, punctuation-only
    * edits — without any similarity machinery.
    */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** [[exactDedupSummary]] on the [[canonicalText]] digest: one row per
    * canonical-content group with the min-id representative and the copy
    * count. Same 16-bytes-per-row shuffle shape as the raw digest dedup;
    * the canonicalization fuses into the scan (map-only expressions).
    */
  def canonicalDedupSummary(df: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(canonicalText(col(textCol))).as("canon_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** (id, th): md5 token-hash arrays, CACHED. The cache is load-bearing
    * twice over: (a) every md5 is computed exactly once even though four
    * separate queries (jaccard / minhash / simhash x2) start from this
    * table — Spark's CacheManager dedups by canonicalized plan, so all of
    * them share one entry; (b) it is an optimizer barrier — without it,
    * rules (InferFiltersFromGenerate, ColumnPruning's generate reordering)
    * kept re-inlining the md5 transform below the shingle-window explode,
    * re-hashing every token once per WINDOW (measured 20x). At corpus scale
    * this is the persisted token-hash table you'd materialize anyway.
    */
  private def tokenHashes(df: DataFrame, textCol: String, idCol: String,
                          scope: CacheScope): DataFrame = {
    val th = transform(TextOps.tokens(col(textCol)),
      t => DetHash.md5Hash60(t) % lit(DetHash.P))
    scope.register(df.select(col(idCol).as("id"), th.as("th")))
  }

  /** (id, h): one row per (document, shingle window), h = the shingle's
    * 31-bit integer hash. NOT set-deduplicated (see [[shingleHashSets]]).
    *
    * Shape chosen deliberately: the window index explodes to rows over the
    * cached token-hash array, and the Horner combination is a flat scalar
    * expression inside whole-stage codegen. Array-valued alternatives (HOF
    * windows over a projected array) measured 20x slower: optimizer rules
    * (InferFiltersFromGenerate + PushDownPredicates + generate reordering)
    * re-inline the md5 chain into pushed-down filters or below the explode,
    * re-hashing every token once per WINDOW.
    */
  def shingleHashRows(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", shingleK: Int = 3,
                      scope: CacheScope = CacheScope.default): DataFrame = {
    // windows derive from size(th) — NOT from a re-tokenization — so the
    // generator's inferred size-filter touches only the cached array
    val windows = when(size(col("th")) >= shingleK,
      sequence(lit(0), size(col("th")) - shingleK)).otherwise(array())
    val horner = (1 until shingleK).foldLeft(element_at(col("th"), col("i") + 1)) {
      (acc, j) =>
        (acc * lit(DetHash.A) + element_at(col("th"), col("i") + j + 1)) % lit(DetHash.P)
    }
    tokenHashes(df, textCol, idCol, scope)
      .select(col("id"), col("th"), explode(windows).as("i"))
      .select(col("id"), horner.as("h"))
  }

  /** (id, hs, sz): per document, the distinct shingle-hash SET as an array +
    * its size — the exact-Jaccard rerank format. ONE integer-keyed shuffle:
    * collect_set dedups inside the aggregation (a separate distinct pass
    * would cost a second exchange). CACHED in `scope`: every consumer
    * ([[jaccardPairs]], [[jaccardPairsPrefix]]) reads it 2-3 times (inverted
    * index + both rerank sides), and at corpus scale this is the persisted
    * shingle-set table you'd materialize anyway.
    */
  def shingleHashSets(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", shingleK: Int = 3,
                      scope: CacheScope = CacheScope.default): DataFrame =
    scope.register(
      shingleHashRows(df, textCol, idCol, shingleK, scope)
        .groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
        .select(col("id"), col("hs"), size(col("hs")).cast("long").as("sz")))

  /** 6-bit-per-char packing of the first `chars` characters of the
    * [[canonicalText]] form into one sortable BIGINT — the
    * SORTED-NEIGHBORHOOD blocking key: space/absent → 0, digits → 1..10,
    * letters → 11..36, so integer order == lexicographic order of the
    * canonical prefix (shorter strings sort as space-padded). Pure
    * arithmetic over `ascii(substring(...))`, identical in Spark and SQL.
    */
  def snmKey(c: Column, chars: Int = 8): Column =
    snmKeyFromCanon(canonicalText(c), chars)

  /** [[snmKey]] when the canonical string is ALREADY a materialized
    * column. Callers packing inside an operator must project
    * [[canonicalText]] first and pack from the projected column — the
    * packing reads `chars` characters, and Catalyst does NOT common out
    * the canonicalization regex chain across the per-character
    * extractions (measured: 8 chars recomputed the two-regex chain 8+
    * times per row, dominating the whole SNM stage).
    */
  private def snmKeyFromCanon(canon: Column, chars: Int): Column = {
    require(chars >= 1 && chars <= 10, "chars in [1,10] (6 bits each)")
    (0 until chars).map { i =>
      val a = ascii(substring(canon, i + 1, 1))
      val code = when(a.between(48, 57), a - 47)
        .when(a.between(97, 122), a - 86)
        .otherwise(lit(0))
      code.cast("long") * lit(1L << (6 * (chars - 1 - i)))
    }.reduce(_ + _)
  }

  /** SORTED-NEIGHBORHOOD near-dup pairs (Hernández & Stolfo's SNM — the
    * classic sort-based candidate generator, the third family beside
    * hash banding (MinHash/SimHash) and embedding buckets (SRP/IVF)):
    * sort the corpus by a content key ([[snmKey]] over the canonical
    * prefix), take every pair within `w` positions as a candidate, verify
    * by exact shingle Jaccard. Catches prefix-anchored near-dups (same
    * title/lede, edited tail) that token-hash banding can miss when the
    * edit moves many shingles, and costs exactly |corpus|·w candidates —
    * no collision-distribution assumptions.
    *
    * Scale shape: NO global sort/window — global positions come from the
    * [[graft.ops.RelationalOps.deterministicShuffle]] two-level
    * construction (bucket = the key's top `bucketBits` bits, so bucket
    * order == key order; per-bucket rank + broadcast exclusive-prefix
    * offsets). Candidates are two equi-joins on the position block
    * `pos div w` (each pair within w spans at most two blocks); verify is
    * the id-keyed set join every verified-pair operator here uses. One
    * honesty note vs the md5 shuffle: bucket balance follows the KEY
    * distribution — a corpus whose canonical prefixes all collide funnels
    * into few buckets; raise `chars`/`bucketBits` (more prefix entropy in
    * the top bits) when the key histogram says so.
    */
  def sortedNeighborhoodPairs(df: DataFrame, w: Int = 10,
                              minJaccard: Double = 0.1,
                              textCol: String = "text",
                              idCol: String = "doc_id",
                              chars: Int = 8, bucketBits: Int = 10,
                              shingleK: Int = 3,
                              scope: CacheScope = CacheScope.default): DataFrame = {
    require(w >= 1, "window w >= 1")
    // canonicalize+pack ONCE per row and CACHE: the keyed frame feeds the
    // bucket-count broadcast subquery, the rank window AND both candidate
    // join sides — uncached, Catalyst re-evaluates the regex chain + pack
    // (~1 ms/row measured) once per consumer, quadrupling the stage
    val keyed = scope.register(df
      .select(col(idCol).as("id"), canonicalText(col(textCol)).as("__c"))
      .select(col("id"), snmKeyFromCanon(col("__c"), chars).as("__k"))
      .withColumn("__b", shiftright(col("__k"), 6 * chars - bucketBits)))
    val perBucket = keyed.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__k"), col("id"))
    val positioned = keyed.join(broadcast(offsets), Seq("__b"))
      .withColumn("pos", col("__off") + row_number().over(wRank) - 1)
      .select(col("id"), col("pos"), (col("pos") / w).cast("long").as("blk"))
    val left = positioned
      .select(col("id").as("a"), col("pos").as("pa"),
        explode(array(col("blk"), col("blk") + 1)).as("blk"))
    val cand = left
      .join(positioned.select(col("id").as("b"), col("pos").as("pb"),
        col("blk")), Seq("blk"))
      .filter(col("pb") > col("pa") && col("pb") <= col("pa") + w)
      .select(col("a"), col("b"))
    val hashed = shingleHashSets(df, textCol, idCol, shingleK, scope)
    cand
      .join(hashed.select(col("id").as("a"), col("hs").as("hsa"),
        col("sz").as("sza")), Seq("a"))
      .join(hashed.select(col("id").as("b"), col("hs").as("hsb"),
        col("sz").as("szb")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** k-wide MinHash signatures as k columns `s0..s{k-1}` from (id, h)
    * shingle rows: codegen'd `min` aggregates of k integer permutations
    * `(a_i·h + b_i) mod P`. One shuffle on id with full map-side partial
    * aggregation — the per-row work is k integer ops per shingle, NOT k
    * shingle re-hashes. Duplicate shingle rows don't affect a min, so the
    * input needs no distinct pass.
    */
  def minHashSigs(rows: DataFrame, k: Int = 32): DataFrame = {
    val perms = DetHash.minHashPerms(k)
    val aggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min(DetHash.perm(col("h"), a, b)).as(s"s$i")
    }
    rows.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band_idx, band_sig) rows from signature columns `s0..s{k-1}`:
    * `bands` bands of r = k/bands rows, each band's bucket key packing its
    * r signature values into one long (r=2: s0·P + s1 < 2^62,
    * overflow-free) — the aggregate-form counterpart of
    * [[bandedSigsNative]], kept (with [[minHashSigs]] /
    * [[minHashCandidates]]) as the parity oracle for the native expression.
    */
  private[graft] def bandedSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    require(r <= 2, "band packing supports r <= 2 (values < P = 2^31-1)")
    val bandSig = (b: Int) =>
      if (r == 1) col(s"s${b}")
      else col(s"s${2 * b}") * lit(DetHash.P) + col(s"s${2 * b + 1}")
    sigs.select(col("id"),
      posexplode(array((0 until bands).map(bandSig): _*)).as(Seq("band_idx", "band_sig")))
  }

  /** Banded rows straight from the SET table via the native
    * [[graft.functions.MinHashBands]] expression: all k permutation minima
    * and the band packing happen in ONE codegen'd loop per document, so
    * banding is a map-only projection — the separate signature shuffle of
    * the aggregate form ([[minHashSigs]], kept for parity testing)
    * disappears. posexplode is the array's single consumer (no HOF
    * re-evaluation).
    */
  private[graft] def bandedSigsNative(sets: DataFrame, k: Int, bands: Int): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val sigArr = bridge.column(
      graft.functions.MinHashBands(bridge.expression(col("hs")), k, bands))
    sets.select(col("id"), posexplode(sigArr).as(Seq("band_idx", "band_sig")))
  }

  /** Within-bucket candidate pairs from (id, band_idx, band_sig) rows —
    * the grouped-bucket shape shared by both banding implementations.
    */
  private def candidatesFromBanded(banded: DataFrame,
                                   maxBucket: Int): DataFrame = {
    val buckets = banded
      .groupBy(col("band_idx"), col("band_sig"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairs = buckets.select(explode(flatten(
      transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
    pairs.select(col("p.a").as("a"), col("p.b").as("b")).distinct()
  }

  /** Candidate pairs via LSH banding of aggregate-form signature columns:
    * ONE shuffle on (band_idx, band_sig); buckets capped at `maxBucket` ids
    * to bound pathological collisions; pairs emitted per bucket by an array
    * expression, then distinct. Collision probability follows the standard
    * 1-(1-s^r)^b curve — with k=32, bands=16 (r=2), a pair at Jaccard 0.8
    * is missed with probability (1-0.64)^16 ≈ 8e-8. The production pipeline
    * ([[minHashVerifiedPairs]]) uses the native-banding equivalent; this
    * form stays as its parity oracle and for callers holding signature
    * tables.
    */
  def minHashCandidates(sigs: DataFrame, k: Int = 32, bands: Int = 16,
                        maxBucket: Int = 1000): DataFrame =
    candidatesFromBanded(bandedSigs(sigs, k, bands), maxBucket)

  /** MinHash near-dup pipeline with exact verification: LSH candidates →
    * exact Jaccard over the shingle-hash sets → keep pairs ≥ `minJaccard`.
    * The rerank join touches only candidate pairs (broadcast — candidates
    * are a vanishing fraction of n²), so the output is exactly the
    * high-Jaccard pair set (up to the ~1e-7 banding miss probability), and
    * the DuckDB oracle can verify it against a brute-force inverted-index
    * computation.
    */
  def minHashVerifiedPairs(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", minJaccard: Double = 0.8,
                           k: Int = 32, bands: Int = 16, shingleK: Int = 3,
                           maxBucket: Int = 1000,
                           scope: CacheScope = CacheScope.default): DataFrame = {
    // ONE aggregation feeds everything: the cached set table drives the
    // native banding (map-only) AND both sides of the rerank join — the
    // aggregate form's separate signature shuffle is gone
    val hashed = shingleHashSets(df, textCol, idCol, shingleK, scope)
    val cand = candidatesFromBanded(bandedSigsNative(hashed, k, bands), maxBucket)
    val a = hashed.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val b = hashed.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    // no broadcast hint: AQE broadcasts the candidate side while it is small,
    // and a duplicate-heavy corpus (candidates ~ dup-cluster²) can exceed
    // broadcast limits — the id-keyed shuffle join is the safe default
    cand
      .join(a, Seq("a")).join(b, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** HOT-BUCKET split for the MinHash banded tier — the SRP hot-direction
    * remediation ([[graft.ops.SimilarityOps.srpNearDupPairsSplit]])
    * applied to the (band_idx, band_sig) key space. A duplicate-heavy
    * corpus concentrates whole clusters into single band buckets, and the
    * c·(c−1)/2 self-join inside them is the banded tier's residual
    * super-linearity; the `maxBucket` cap's only remedy today is DROPPING
    * such buckets whole.
    *
    * RULE: a (band_idx, band_sig) cell with occupancy bn > `splitOccupancy`
    * re-keys its members by ONE EXTENSION MINHASH — permutation index
    * `k + band_idx` of the SAME md5-seeded family
    * ([[graft.ops.DetHash.minHashPerms]] draws sequentially, so
    * perms(k + bands) prefix-extends perms(k) the way the strided plane
    * family extends SRP buckets). Per-band extension functions keep band
    * votes INDEPENDENT: one shared extension hash would knock out every
    * hot band of a disagreeing pair at once. Un-split cells are
    * byte-identical; sub = 0 there, a key space disjoint from split cells
    * by (band_idx, band_sig). The `maxBucket` cap applies to the
    * POST-split occupancy (a pre-split over-cap cell whose sub-cells land
    * under it is RESCUED — the SRP split's cap semantics).
    *
    * RECALL: a pair inside a split cell keeps that band's vote iff its
    * extension minima agree — probability = its Jaccard, so a J ≥ 0.8
    * pair keeps ≥ 80% of each split band's vote and an IDENTICAL pair
    * (the mass of every pathological bucket) keeps 100%: identical sets
    * minhash identically at every index, so exact-duplicate clusters are
    * unsplittable by construction and survive via the post-split cap
    * rescue or not at all — exactly the [[srpNearDupPairsSplit]]
    * identical-direction story. Precision stays exact (the shared
    * Jaccard verify).
    *
    * Scale shape: one banding pass + one (band_idx, band_sig) count
    * window (shared with the un-split form), extension minima computed
    * in ONE codegen'd loop per HOT DOCUMENT (an id-keyed join back to
    * the set table; the hot set is the skew tail), one recount window
    * over hot members, the candidate self-join on the split key, and
    * the id-keyed exact-Jaccard rerank.
    */
  def minHashVerifiedPairsSplit(df: DataFrame, textCol: String = "text",
                                idCol: String = "doc_id",
                                minJaccard: Double = 0.8,
                                k: Int = 32, bands: Int = 16,
                                shingleK: Int = 3, maxBucket: Int = 1000,
                                splitOccupancy: Long = 64L,
                                scope: CacheScope = CacheScope.default)
      : DataFrame = {
    require(splitOccupancy >= 1, "splitOccupancy must be >= 1")
    // PARAMETER-ORDERING contract: the post-split cap semantics (maxBucket
    // applied to POST-split sub-cell occupancy, with over-cap cells
    // RESCUED by splitting) hold for splitOccupancy <= maxBucket — the
    // operating regime. With splitOccupancy > maxBucket the split is
    // effectively disabled and the cap degrades to the PRE-split (v3)
    // semantics for cells in (maxBucket, splitOccupancy]: such a cell
    // drops whole via the cold branch, exactly as the un-split form
    // would. That regime is deliberate (splitOccupancy >> any occupancy
    // == "split nothing", asserted equal to minHashVerifiedPairs in
    // OpsSpec), so it is documented rather than refused.
    val hashed = shingleHashSets(df, textCol, idCol, shingleK, scope)
    val banded = bandedSigsNative(hashed, k, bands)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"))
    val counted = banded.withColumn("bn", count(lit(1)).over(w))
    val coldKept = counted.filter(col("bn") <= splitOccupancy)
      .filter(col("bn") <= maxBucket)
      .select(col("band_idx"), col("band_sig"), lit(0L).as("sub"), col("id"))
    // extension minima for hot docs only: the k+bands family at r = 1
    // (each element one permutation's minimum), the row's own band
    // selecting element k + band_idx
    import org.apache.spark.sql.graft.bridge
    val extArr = bridge.column(graft.functions.MinHashBands(
      bridge.expression(col("hs")), k + bands, k + bands))
    val hotDocs = counted.filter(col("bn") > splitOccupancy)
      .select(col("id")).distinct()
      .join(hashed.select(col("id"), col("hs")), Seq("id"))
      .select(col("id"), extArr.as("exts"))
    val hot = counted.filter(col("bn") > splitOccupancy)
      .join(hotDocs, Seq("id"))
      .withColumn("sub", element_at(col("exts"), col("band_idx") + lit(k + 1)))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"), col("sub"))
    val hotKept = hot.withColumn("bn2", count(lit(1)).over(w2))
      .filter(col("bn2") <= maxBucket)
      .select(col("band_idx"), col("band_sig"), col("sub"), col("id"))
    val kept = coldKept.unionByName(hotKept)
    val cand = kept.withColumnRenamed("id", "a")
      .join(kept.withColumnRenamed("id", "b"),
        Seq("band_idx", "band_sig", "sub"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val a = hashed.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val b = hashed.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    cand.join(a, Seq("a")).join(b, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        col("jaccard"))
  }

  /** Band a shingle-set frame at a FROZEN hot-cell split layout: members
    * of cells named by `splitCells` ((band_idx, band_sig) rows — the
    * skew-tail-sized frozen layout, broadcast) re-key by their own band's
    * extension minhash (permutation k + band_idx — see
    * [[minHashVerifiedPairsSplit]] for the family/recall statements);
    * everyone else keeps sub = 0. Build, append, and probe all band
    * through THIS function, so a batch member landing in a frozen hot
    * cell probes at exactly the sub key the corpus rows were written
    * under at any later epoch.
    */
  private[graft] def bandSplitFrozenMinhash(sets: DataFrame,
                                            splitCells: DataFrame,
                                            k: Int, bands: Int): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val banded = bandedSigsNative(sets, k, bands)
    val cold = banded
      .join(broadcast(splitCells), Seq("band_idx", "band_sig"), "left_anti")
      .select(col("band_idx"), col("band_sig"), lit(0L).as("sub"), col("id"))
    val extArr = bridge.column(graft.functions.MinHashBands(
      bridge.expression(col("hs")), k + bands, k + bands))
    val hotRows = banded
      .join(broadcast(splitCells), Seq("band_idx", "band_sig"))
    val hotDocs = hotRows.select(col("id")).distinct()
      .join(sets.select(col("id"), col("hs")), Seq("id"))
      .select(col("id"), extArr.as("exts"))
    val hot = hotRows.join(hotDocs, Seq("id"))
      .select(col("band_idx"), col("band_sig"),
        element_at(col("exts"), col("band_idx") + lit(k + 1)).as("sub"),
        col("id"))
    cold.unionByName(hot)
  }

  /** The SPLIT-LAYOUT persisted banded index — [[writeBandedIndex]] with
    * the [[minHashVerifiedPairsSplit]] hot-bucket remediation FROZEN into
    * the store (format v4, parallel to the v3 layout): a duplicate-heavy
    * corpus's pathological band buckets are split by per-band extension
    * minhashes instead of dropped whole, and the split layout is frozen
    * at build time in a `_split` table so every later append and probe
    * re-keys identically (the kNN lifecycle's `_cells` convention).
    * Tables: `_bands` (band_idx, band_sig, sub, id) bucketed by
    * (band_idx, band_sig) — probes join on all three keys, a superset of
    * the bucket keys, so the corpus side stays exchange-free; `_split`
    * the frozen hot cells; `_dropped` now keys (band_idx, band_sig, sub)
    * — only a sub-cell that is STILL over `maxBucket` after splitting
    * (an identical-doc cluster past the cap) is dropped and closed;
    * `_sets`/`_deleted`/`_meta` as v3 with `split_occupancy` stamped.
    *
    * LAYOUT VERSIONS (format v5): every `_bands` row carries `lver` (the
    * layout version it was written under; build rows stamp 1) and every
    * `_split` cell carries `fver` (the version at which the cell was
    * frozen; build cells stamp 1). A band row SERVES iff its cell is
    * un-frozen OR `lver >= fver` — build and append rows always qualify
    * under the layout they banded at, while a cell frozen LATER by
    * [[refreezeBandedIndexSplit]] hides its pre-freeze sub = 0 rows the
    * moment the re-keyed replacements land. That one rule is what lets
    * the re-freeze rewrite ONLY the outgrown skew tail: cold cells'
    * part-files are never touched, their rows stay visible as written.
    * Cells that become hot only after later appends stay un-split until
    * a [[refreezeBandedIndexSplit]] (incremental, audit-driven) or a
    * re-ensure under a new tag (full re-freeze) — the drift audit
    * ([[bandedSplitLayoutDrift]]) is the signal for either.
    */
  def writeBandedIndexSplit(corpus: DataFrame, tablePrefix: String,
                            textCol: String = "text", idCol: String = "doc_id",
                            k: Int = 32, bands: Int = 16, shingleK: Int = 3,
                            maxBucket: Int = 10000, buckets: Int = 8,
                            corpusTag: String = "",
                            splitOccupancy: Long = 64L,
                            scope: CacheScope = CacheScope.default): Unit = {
    require(splitOccupancy >= 1, "splitOccupancy must be >= 1")
    import graft.sources.Bucketing
    val spark = corpus.sparkSession
    val sets = shingleHashSets(corpus, textCol, idCol, shingleK, scope)
    val banded = scope.register(bandedSigsNative(sets, k, bands))
    val splitCells = banded.groupBy(col("band_idx"), col("band_sig"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > splitOccupancy)
      .select(col("band_idx"), col("band_sig"))
      .localCheckpoint(true)
    val keyed = bandSplitFrozenMinhash(sets, splitCells, k, bands)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"), col("sub"))
    val counted = keyed.withColumn("bn2", count(lit(1)).over(w2))
    try {
      // sets BEFORE bands (the v3 crash order: orphan sets rows are
      // harmless, band rows without sets would break the rerank)
      Bucketing.writeBucketed(sets.select(col("id"), col("hs"), col("sz")),
        s"${tablePrefix}_sets", Seq("id"), buckets)
      Bucketing.writeBucketed(
        counted.filter(col("bn2") <= maxBucket)
          .select(col("band_idx"), col("band_sig"), col("sub"), col("id"),
            lit(1L).as("lver")),
        s"${tablePrefix}_bands", Seq("band_idx", "band_sig"), buckets)
      Bucketing.saveTable(splitCells.withColumn("fver", lit(1L)),
        s"${tablePrefix}_split")
      Bucketing.saveTable(
        counted.filter(col("bn2") > maxBucket)
          .select(col("band_idx"), col("band_sig"), col("sub")).distinct(),
        s"${tablePrefix}_dropped")
    } finally CacheScope.freeCheckpoint(splitCells)
    import spark.implicits._
    Bucketing.saveTable(Seq.empty[Long].toDF("id"), s"${tablePrefix}_deleted")
    Bucketing.saveTable(
      Seq((k, bands, shingleK, maxBucket, buckets, corpusTag,
          splitOccupancy, 1L, bandedSplitIndexFormatVersion))
        .toDF("k", "bands", "shingle_k", "max_bucket", "buckets",
          "corpus_tag", "split_occupancy", "layout_ver", "fmt"),
      s"${tablePrefix}_meta")
  }

  /** The six tables a SPLIT banded index comprises. */
  val bandedSplitIndexTables: Seq[String] =
    Seq("bands", "sets", "split", "dropped", "deleted", "meta")

  /** v5 = the split layout ([[writeBandedIndexSplit]]) with LAYOUT
    * VERSIONS: `sub` + `lver` keys in `_bands`, frozen `_split` cells
    * stamped with their freeze version `fver`, sub-keyed `_dropped`,
    * `layout_ver` in meta — the machinery that makes
    * [[refreezeBandedIndexSplit]] an incremental skew-tail rewrite
    * instead of a corpus-sized re-ensure. (v4 was the same layout
    * without versions; its only re-freeze remedy was the full rebuild.)
    */
  val bandedSplitIndexFormatVersion: Int = 5

  /** The SERVING view of a split index's `_bands`: a row is live iff its
    * cell is un-frozen or the row was written at (or after) the cell's
    * freeze version — the one rule that lets [[refreezeBandedIndexSplit]]
    * hide a newly-frozen cell's stale sub = 0 rows without rewriting any
    * committed part-file. The `_split` side is skew-tail-sized and
    * broadcasts; the corpus side keeps its (band_idx, band_sig)
    * bucketing through the broadcast join.
    */
  private[graft] def liveSplitBands(spark: org.apache.spark.sql.SparkSession,
                                    tablePrefix: String): DataFrame = {
    val split = graft.sources.Bucketing
      .freshTable(spark, s"${tablePrefix}_split")
    graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
      .join(broadcast(split), Seq("band_idx", "band_sig"), "left")
      .filter(col("fver").isNull || col("lver") >= col("fver"))
      .select(col("band_idx"), col("band_sig"), col("sub"), col("id"))
  }

  /** [[ensureBandedIndex]] for the split layout: rebuild only when the
    * tables, the meta row (tag + every build parameter incl.
    * `split_occupancy`), or the bands⊆sets integrity invariant disagree.
    */
  def ensureBandedIndexSplit(corpus: DataFrame, tablePrefix: String,
                             corpusTag: String,
                             textCol: String = "text",
                             idCol: String = "doc_id",
                             k: Int = 32, bands: Int = 16, shingleK: Int = 3,
                             maxBucket: Int = 10000, buckets: Int = 8,
                             splitOccupancy: Long = 64L,
                             scope: CacheScope = CacheScope.default): Unit = {
    val spark = corpus.sparkSession
    val upToDate = try {
      bandedSplitIndexTables
        .forall(s => spark.catalog.tableExists(s"${tablePrefix}_$s")) && {
        val m = graft.sources.Bucketing
          .freshTable(spark, s"${tablePrefix}_meta").head()
        m.schema.fieldNames.contains("split_occupancy") &&
          m.schema.fieldNames.contains("layout_ver") &&
          m.getAs[Int]("fmt") == bandedSplitIndexFormatVersion &&
          m.getAs[String]("corpus_tag") == corpusTag &&
          m.getAs[Int]("k") == k && m.getAs[Int]("bands") == bands &&
          m.getAs[Int]("shingle_k") == shingleK &&
          m.getAs[Int]("max_bucket") == maxBucket &&
          m.getAs[Int]("buckets") == buckets &&
          m.getAs[Long]("split_occupancy") == splitOccupancy
      } && {
        graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
          .select(col("id"))
          .join(graft.sources.Bucketing
              .freshTable(spark, s"${tablePrefix}_sets").select(col("id")),
            Seq("id"), "left_anti")
          .isEmpty
      }
    } catch { case _: Exception => false }
    if (!upToDate)
      writeBandedIndexSplit(corpus, tablePrefix, textCol, idCol, k, bands,
        shingleK, maxBucket, buckets, corpusTag, splitOccupancy, scope)
  }

  /** [[probeBandedIndex]] against the split layout: the batch bands at
    * the FROZEN split cells (so a batch member of a hot cell probes the
    * sub key its corpus counterparts were written under), candidates join
    * on (band_idx, band_sig, sub) — the corpus side co-located on its
    * bucketing — then the shared exact-Jaccard rerank and novelty report.
    */
  def probeBandedIndexSplit(batch: DataFrame, tablePrefix: String,
                            textCol: String = "text", idCol: String = "doc_id",
                            minJaccard: Double = 0.8,
                            scope: CacheScope = CacheScope.default)
      : DataFrame = {
    val spark = batch.sparkSession
    val meta = graft.sources.Bucketing
      .freshTable(spark, s"${tablePrefix}_meta").head()
    val (k, bands, shingleK) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
        meta.getAs[Int]("shingle_k"))
    val splitCells = graft.sources.Bucketing
      .freshTable(spark, s"${tablePrefix}_split")
      .select(col("band_idx"), col("band_sig"))
    val bandC = liveSplitBands(spark, tablePrefix)
    val setsC = graft.sources.Bucketing
      .freshTable(spark, s"${tablePrefix}_sets")
    val setsB = shingleHashSets(batch, textCol, idCol, shingleK, scope)
    val bandB = bandSplitFrozenMinhash(setsB, splitCells, k, bands)
    val cand = bandB
      .select(col("band_idx"), col("band_sig"), col("sub"), col("id").as("a"))
      .join(bandC.select(col("band_idx"), col("band_sig"), col("sub"),
          col("id").as("b")),
        Seq("band_idx", "band_sig", "sub"))
      .select(col("a"), col("b")).distinct()
      .join(broadcast(graft.sources.Bucketing
          .freshTable(spark, s"${tablePrefix}_deleted")
          .select(col("id").as("b"))),
        Seq("b"), "left_anti")
    val sa = setsB.select(col("id").as("a"), col("hs").as("hsa"),
      col("sz").as("sza"))
    val sb = setsC.select(col("id").as("b"), col("hs").as("hsb"),
      col("sz").as("szb"))
    val matches = cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .groupBy(col("a")).agg(count(lit(1)).as("n_matches"))
    batch.select(col(idCol))
      .join(matches.select(col("a").as(idCol), col("n_matches")),
        Seq(idCol), "left")
      .na.fill(0L, Seq("n_matches"))
      .select(col(idCol), col("n_matches"), (col("n_matches") === 0).as("novel"))
  }

  /** [[appendToBandedIndex]] for the split layout: the batch bands at the
    * FROZEN split cells, sub-cells the build dropped stay closed (the
    * `_dropped` tombstones now name (band_idx, band_sig, sub)), and the
    * remaining-slot cap applies per SUB-cell against a corpus count
    * semi-join-pruned to the batch's touched keys. Same crash order as
    * v3: sets insert before bands.
    *
    * At-least-once REPLAY is a structural no-op (the kNN-maintain rule):
    * batch ids already present in `_sets` anti-join away, so a retry of
    * an append that committed its inserts but crashed before the
    * `newCorpusTag` meta restamp inserts nothing and just restamps —
    * without this, the replay would duplicate the batch's `_sets`/`_bands`
    * rows and inflate every occupancy the drift audit reads.
    */
  def appendToBandedIndexSplit(batch: DataFrame, tablePrefix: String,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               newCorpusTag: String = "",
                               scope: CacheScope = CacheScope.default): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Bucketing
    val meta = Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val (k, bands, shingleK, maxBucket) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
        meta.getAs[Int]("shingle_k"), meta.getAs[Int]("max_bucket"))
    val sets = shingleHashSets(batch, textCol, idCol, shingleK, scope)
      .join(broadcast(Bucketing.freshTable(spark, s"${tablePrefix}_deleted")),
        Seq("id"), "left_anti")
      // replayed ids drop structurally — the corpus side reads only the
      // id column of the id-bucketed `_sets` (batch-sized left, pruned
      // corpus scan right)
      .join(Bucketing.freshTable(spark, s"${tablePrefix}_sets")
          .select(col("id")),
        Seq("id"), "left_anti")
    val splitT = Bucketing.freshTable(spark, s"${tablePrefix}_split")
    val splitCells = splitT.select(col("band_idx"), col("band_sig"))
    // the layout version the batch bands AT: meta's stamp, or the newest
    // freeze version if a crashed refreeze restamped `_split` but died
    // before its meta commit — stamping the max keeps these rows visible
    // under the heal's completed layout instead of dying with lver < fver
    val lver = math.max(meta.getAs[Long]("layout_ver"),
      splitT.agg(coalesce(max(col("fver")), lit(1L))).head().getLong(0))
    val keyed = bandSplitFrozenMinhash(sets, splitCells, k, bands)
      .join(Bucketing.freshTable(spark, s"${tablePrefix}_dropped"),
        Seq("band_idx", "band_sig", "sub"), "left_anti")
    val touched = keyed
      .select(col("band_idx"), col("band_sig"), col("sub")).distinct()
    val existing = liveSplitBands(spark, tablePrefix)
      .join(broadcast(touched), Seq("band_idx", "band_sig", "sub"),
        "left_semi")
      .groupBy(col("band_idx"), col("band_sig"), col("sub"))
      .agg(count(lit(1)).as("bn0"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"), col("sub"))
      .orderBy(col("id"))
    val capped = keyed.withColumn("rn", row_number().over(w))
      .join(existing, Seq("band_idx", "band_sig", "sub"), "left")
      .na.fill(0L, Seq("bn0"))
      .filter(col("rn") + col("bn0") <= maxBucket)
      .select(col("band_idx"), col("band_sig"), col("sub"), col("id"),
        lit(lver).as("lver"))
    // materialize before any insert: the plan reads _bands, which the
    // second insert mutates (localCheckpoint is eager — the returned
    // frame serves from checkpoint blocks, never the mutated table)
    val cappedM = capped.localCheckpoint(true)
    try {
      sets.select(col("id"), col("hs"), col("sz"))
        .write.insertInto(s"${tablePrefix}_sets")
      cappedM.write.insertInto(s"${tablePrefix}_bands")
    } finally CacheScope.freeCheckpoint(cappedM)
    if (newCorpusTag.nonEmpty) {
      val buckets = meta.getAs[Int]("buckets")
      val so = meta.getAs[Long]("split_occupancy")
      import spark.implicits._
      Bucketing.saveTable(
        Seq((k, bands, shingleK, maxBucket, buckets, newCorpusTag, so,
            lver, bandedSplitIndexFormatVersion))
          .toDF("k", "bands", "shingle_k", "max_bucket", "buckets",
            "corpus_tag", "split_occupancy", "layout_ver", "fmt"),
        s"${tablePrefix}_meta")
    }
  }

  /** LAYOUT-DRIFT audit for the SPLIT banded index
    * ([[writeBandedIndexSplit]]) — the banded tier's analogue of the kNN
    * lifecycle's occupancy audit + outgrowth guard: the split layout is
    * FROZEN at build time, so cells that become hot only through later
    * appends stay un-split and quietly re-accumulate the c·(c−1)/2
    * candidate blow-up the split exists to remove. This read-only report
    * makes that drift observable, per band:
    *
    *   - `n_cells` / `n_rows` — live (band_sig, sub) sub-cells and band
    *     rows (the index's current footprint for the band);
    *   - `n_frozen` — cells the build froze into the split layout;
    *   - `n_outgrown` — UN-frozen cells whose live occupancy now exceeds
    *     `split_occupancy` (the drift: these pay the quadratic price
    *     un-split until a re-ensure re-freezes the layout);
    *   - `max_outgrown` — the worst such cell's occupancy (how bad the
    *     hottest un-remediated cell has gotten);
    *   - `n_saturated` — FROZEN sub-cells over `split_occupancy`: one
    *     extension minhash cannot subdivide further (identical documents
    *     agree on every permutation), so these are the un-splittable
    *     residue, reported honestly rather than hidden.
    *
    * Sum(n_outgrown) > 0 is the re-ensure signal (re-freezing at the
    * current corpus returns it to zero — every over-threshold cell joins
    * the frozen layout). Scale shape: one aggregation over `_bands` whose
    * grouping keys are a superset of the table's (band_idx, band_sig)
    * bucketing (map-side, exchange-free on the corpus side), a broadcast
    * join against the skew-tail-sized `_split`, and band-count-sized
    * rollups; no collect, no corpus shuffle.
    */
  def bandedSplitLayoutDrift(spark: org.apache.spark.sql.SparkSession,
                             tablePrefix: String): DataFrame = {
    import graft.sources.Bucketing
    val so = Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
      .getAs[Long]("split_occupancy")
    val frozen = Bucketing.freshTable(spark, s"${tablePrefix}_split")
      .select(col("band_idx"), col("band_sig"), lit(true).as("frozen"))
    val subOcc = liveSplitBands(spark, tablePrefix)
      .groupBy(col("band_idx"), col("band_sig"), col("sub"))
      .agg(count(lit(1)).as("occ"))
      .join(broadcast(frozen), Seq("band_idx", "band_sig"), "left")
      .na.fill(false, Seq("frozen"))
    // un-frozen cells carry a single sub = 0 row, so the cell-level
    // occupancy IS the sub row's; summing keeps that true by construction
    val outgrown = subOcc.filter(!col("frozen"))
      .groupBy(col("band_idx"), col("band_sig"))
      .agg(sum(col("occ")).as("cocc"))
      .filter(col("cocc") > so)
      .groupBy(col("band_idx"))
      .agg(count(lit(1)).as("n_outgrown"),
        max(col("cocc")).as("max_outgrown"))
    val perBand = subOcc.groupBy(col("band_idx")).agg(
      count(lit(1)).as("n_cells"),
      sum(col("occ")).as("n_rows"),
      sum(when(col("frozen") && col("occ") > so, 1L).otherwise(0L))
        .as("n_saturated"))
    val frozenPerBand = frozen.groupBy(col("band_idx"))
      .agg(count(lit(1)).as("n_frozen"))
    perBand
      .join(frozenPerBand, Seq("band_idx"), "left")
      .join(outgrown, Seq("band_idx"), "left")
      .na.fill(0L, Seq("n_frozen", "n_outgrown", "max_outgrown"))
      .select(col("band_idx"), col("n_cells"), col("n_rows"),
        col("n_frozen"), col("n_outgrown"), col("max_outgrown"),
        col("n_saturated"))
  }

  /** INCREMENTAL RE-FREEZE of the split banded index — the remedy the
    * drift audit ([[bandedSplitLayoutDrift]]) was missing: split EXACTLY
    * the cells the audit flags as outgrown (un-frozen cells whose live
    * occupancy exceeds `split_occupancy`), rewriting only the skew
    * tail's rows, where the previous remedy was a corpus-sized re-ensure
    * — the precise rewrite the append-only lifecycle exists to avoid.
    *
    * Mechanics (the layout-version rule of [[liveSplitBands]]): outgrown
    * cells join `_split` at freeze version `layout_ver + 1`, their
    * members re-key by the per-band extension minhash (the
    * [[bandSplitFrozenMinhash]] hot path — identical sub keys to what a
    * build at this corpus would derive) and INSERT as new rows stamped
    * `lver = fver`; the cells' stale sub = 0 rows hide under
    * `lver < fver` without any part-file rewrite, so COLD cells' files
    * are untouched (BucketingSpec fingerprints them). Re-keyed sub-cells
    * past `maxBucket` drop whole and close via `_dropped`, the build's
    * cap rule. After a refreeze the audit's `sum(n_outgrown)` returns to
    * 0 by construction — every flagged cell is now frozen — while
    * `n_saturated` keeps reporting the one-extension residue honestly.
    *
    * CRASH contract: `_split` restamps first, then `_dropped`, then the
    * `_bands` insert, then the meta `layout_ver` commit. Between the
    * `_split` restamp and the insert the refrozen cells serve NO rows
    * (bounded recall dip on exactly the skew tail; every other cell
    * serves normally) — a retry heals deterministically: pending cells
    * (`fver > layout_ver`) re-derive the same re-keyed rows, cells whose
    * rows already landed are detected by `lver >= fver` and skipped, and
    * the meta restamp completes the commit. Appends during the window
    * stamp `lver = max(layout_ver, max fver)` so they serve under the
    * healed layout.
    *
    * Scale shape: one aggregation over the live band view (grouping keys
    * a superset of the table's bucketing — corpus side exchange-free), a
    * broadcast join against the skew-tail-sized cell set, extension
    * minhashes for OUTGROWN-CELL MEMBERS ONLY (id-keyed join against the
    * id-bucketed `_sets`), and inserts sized by the skew tail. Nothing
    * corpus-sized is written.
    */
  def refreezeBandedIndexSplit(spark: org.apache.spark.sql.SparkSession,
                               tablePrefix: String): Unit = {
    import graft.sources.Bucketing
    val meta = Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val (k, bands, maxBucket, so, l) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
        meta.getAs[Int]("max_bucket"), meta.getAs[Long]("split_occupancy"),
        meta.getAs[Long]("layout_ver"))
    val cps = new CacheScope.Checkpoints // read only by this pass's writes
    try {
      val splitT = cps(Bucketing.freshTable(spark, s"${tablePrefix}_split"))
      // a crashed refreeze's cells: frozen past the committed layout —
      // their re-key may or may not have landed; this pass completes it
      val pending = splitT.filter(col("fver") > l)
        .select(col("band_idx"), col("band_sig"), col("fver"))
      // the audit's outgrown set: un-frozen cells over the threshold, from
      // the LIVE view (computed before any write below)
      val fver = math.max(l + 1L,
        pending.agg(coalesce(max(col("fver")), lit(0L))).head().getLong(0))
      val outgrown = cps(liveSplitBands(spark, tablePrefix)
        .join(broadcast(splitT.select(col("band_idx"), col("band_sig"))),
          Seq("band_idx", "band_sig"), "left_anti")
        .groupBy(col("band_idx"), col("band_sig"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > so)
        .select(col("band_idx"), col("band_sig"), lit(fver).as("fver")))
      val targets = cps(outgrown.unionByName(pending))
      if (targets.isEmpty) return
      // 1. FREEZE: the new cells join the layout (skew-tail-sized rewrite)
      if (!outgrown.isEmpty)
        Bucketing.saveTable(splitT.unionByName(outgrown),
          s"${tablePrefix}_split")
      // 2. RE-KEY the target cells' pre-freeze rows — minus cells whose
      // re-keyed rows already landed (a crash between insert and commit):
      // the re-key is deterministic, so presence at lver >= fver == done
      val bandsRaw = Bucketing.freshTable(spark, s"${tablePrefix}_bands")
      val done = bandsRaw
        .join(broadcast(targets), Seq("band_idx", "band_sig"))
        .filter(col("lver") >= col("fver"))
        .select(col("band_idx"), col("band_sig")).distinct()
      val todo = cps(targets.join(broadcast(done), Seq("band_idx", "band_sig"),
          "left_anti"))
      if (!todo.isEmpty) {
        val members = bandsRaw
          .join(broadcast(todo), Seq("band_idx", "band_sig"))
          .filter(col("lver") < col("fver"))
          .select(col("band_idx"), col("band_sig"), col("id"), col("fver"))
        import org.apache.spark.sql.graft.bridge
        val extArr = bridge.column(graft.functions.MinHashBands(
          bridge.expression(col("hs")), k + bands, k + bands))
        val exts = members.select(col("id")).distinct()
          .join(Bucketing.freshTable(spark, s"${tablePrefix}_sets")
              .select(col("id"), col("hs")),
            Seq("id"))
          .select(col("id"), extArr.as("exts"))
        val rekeyed = members.join(exts, Seq("id"))
          .select(col("band_idx"), col("band_sig"),
            element_at(col("exts"), col("band_idx") + lit(k + 1)).as("sub"),
            col("id"), col("fver"))
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_sig"), col("sub"))
        val counted = rekeyed.withColumn("bn2", count(lit(1)).over(w2))
        val dropNew = cps(counted.filter(col("bn2") > maxBucket)
          .select(col("band_idx"), col("band_sig"), col("sub")).distinct())
        val keepNew = cps(counted.filter(col("bn2") <= maxBucket)
          .select(col("band_idx"), col("band_sig"), col("sub"), col("id"),
            col("fver").as("lver")))
        if (!dropNew.isEmpty)
          Bucketing.saveTable(
            cps(Bucketing.freshTable(spark, s"${tablePrefix}_dropped")
              .unionByName(dropNew).distinct()),
            s"${tablePrefix}_dropped")
        keepNew.write.insertInto(s"${tablePrefix}_bands")
      }
      // 3. COMMIT: the layout version moves; tag and every build parameter
      // survive (a refreeze never changes corpus membership, so ensure's
      // up-to-date check must keep passing)
      import spark.implicits._
      Bucketing.saveTable(
        Seq((k, bands, meta.getAs[Int]("shingle_k"), maxBucket,
            meta.getAs[Int]("buckets"), meta.getAs[String]("corpus_tag"),
            so, fver, bandedSplitIndexFormatVersion))
          .toDF("k", "bands", "shingle_k", "max_bucket", "buckets",
            "corpus_tag", "split_occupancy", "layout_ver", "fmt"),
        s"${tablePrefix}_meta")
    } finally cps.freeAll()
  }

  /** Theoretical LSH collision probability 1-(1-J^r)^b at the threshold,
    * micro-quantized — computed ONCE driver-side and embedded as a literal
    * in both the Spark plan and the oracle SQL, so the transcendentals never
    * have to reproduce across engines.
    */
  private[graft] def theoRecallMicro(j: Double, r: Int, b: Int): Long =
    math.floor(1e6 * (1.0 - math.pow(1.0 - math.pow(j, r), b)) + 0.5).toLong

  /** LSH TUNING audit: measured banding recall vs the EXACT near-dup pair
    * set, per (k, bands) configuration — the datasheet that answers "how
    * many bands does THIS corpus need?" before committing to a persisted
    * index layout (X80's k/bands are exactly this knob). One row per
    * config: the exact pair count at `minJaccard`, the banded pipeline's
    * verified-pair count under that config, the miss count, measured recall
    * (micro, exact integer quotient) and the theoretical collision
    * probability at the threshold — measured < theoretical flags a corpus
    * whose near-dup pairs sit barely over the threshold (the curve's steep
    * region), measured > theoretical means the duplicates are far above it.
    *
    * [[graft.ops.DetHash.minHashPerms]] draws permutation prefixes from one
    * seeded stream, so config k uses the FIRST k permutations: candidate
    * sets nest across the sweep and measured recall is monotone in `bands`.
    * Found pairs are always a subset of the exact set (banding only
    * generates candidates; verification is exact), so `n_missed >= 0`.
    *
    * Scale shape: ONE banding+verify pass PER r-GROUP (configs sharing
    * r = k/bands), run at the group's largest band count and tracking
    * each verified pair's MINIMUM colliding band index — every config's
    * `n_found` is then the threshold filter `min_band < bands` over that
    * one registered verified-pair list (band j of every same-r config
    * uses the identical permutation chunk, so candidate buckets NEST
    * across the sweep and the maxBucket cap commutes; see the inline
    * equivalence note). All groups share ONE cached shingle-set table
    * (the CacheManager keys by canonicalized plan); each result is a
    * single count row — never a cross join. Counts compare via integer
    * division (`div` / DuckDB `//`) under the hash gate.
    */
  def lshTuningSweep(df: DataFrame,
                     configs: Seq[(Int, Int)] =
                       Seq((2, 1), (4, 2), (8, 4), (16, 8), (32, 16)),
                     textCol: String = "text", idCol: String = "doc_id",
                     minJaccard: Double = 0.8, shingleK: Int = 3,
                     maxBucket: Int = 1000,
                     scope: CacheScope = CacheScope.default): DataFrame = {
    val nExact = jaccardPairsPrefix(df, textCol, idCol, minJaccard, shingleK,
        scope = scope)
      .agg(count(lit(1)).as("n_exact"))
    // ONE banding + verify pass per distinct r, not one per config:
    // [[graft.ops.DetHash.minHashPerms]] draws from one seeded stream, so
    // band j of every same-r config uses the identical permutation chunk
    // [j·r, (j+1)·r) — candidate buckets (and the maxBucket cap, which
    // sees the same bucket contents per band) NEST across the sweep.
    // Banding once at the group's largest band count and tracking each
    // verified pair's MINIMUM colliding band index makes every config's
    // count a threshold filter: n_found(k, b) = |{verified pairs with
    // min_band < b}| — provably equal to that config's own
    // minHashVerifiedPairs count, and the DuckDB oracle still replays
    // each config's banding independently as the cross-check.
    val hashed = shingleHashSets(df, textCol, idCol, shingleK, scope)
    val perConfig = configs.groupBy { case (k, bands) => k / bands }.toSeq
      .sortBy(_._1).map { case (r, grp) =>
        val maxBands = grp.map(_._2).max
        val banded = bandedSigsNative(hashed, r * maxBands, maxBands)
        val buckets = banded
          .groupBy(col("band_idx"), col("band_sig"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")).between(2, maxBucket))
        val cand = buckets.select(col("band_idx"), explode(flatten(
            transform(col("ids"), (a, i) =>
              transform(slice(col("ids"), i + 2, size(col("ids"))),
                b => struct(a.as("a"), b.as("b")))))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(min(col("band_idx")).as("mb"))
        val sa = hashed.select(col("id").as("a"), col("hs").as("hsa"),
          col("sz").as("sza"))
        val sb = hashed.select(col("id").as("b"), col("hs").as("hsb"),
          col("sz").as("szb"))
        // verified once per r-group; registered — each config's count is
        // a trivial filter over this cached pair list
        val verified = scope.register(cand
          .join(sa, Seq("a")).join(sb, Seq("b"))
          .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
          .filter(col("inter").cast("double") /
            (col("sza") + col("szb") - col("inter")) >= lit(minJaccard))
          .select(col("a"), col("b"), col("mb")))
        grp.map { case (k, bands) =>
          verified.filter(col("mb") < lit(bands))
            .agg(count(lit(1)).as("n_found"))
            .select(lit(k).as("k"), lit(bands).as("bands"), col("n_found"),
              lit(theoRecallMicro(minJaccard, k / bands, bands))
                .as("theo_recall_micro"))
        }.reduce(_ unionByName _)
      }.reduce(_ unionByName _)
    perConfig.crossJoin(nExact).select(
      col("k"), col("bands"), col("n_exact"), col("n_found"),
      (col("n_exact") - col("n_found")).as("n_missed"),
      expr("(1000000 * n_found) div n_exact").as("recall_micro"),
      col("theo_recall_micro"))
  }

  /** INCREMENTAL dedup: near-dup-match a new `batch` of documents against an
    * existing `corpus` and report, per batch document, how many corpus
    * near-duplicates it has (`n_matches`, 0 = `novel` — safe to ingest).
    * The shape every growing training corpus needs: candidates come from
    * joining the batch's LSH bands against the CORPUS's bands — never a
    * corpus×corpus self-join — so the work scales with |batch| · collision
    * rate, not |corpus|². Exact-Jaccard verification keeps only true
    * near-dups, exactly as [[minHashVerifiedPairs]].
    *
    * Ids must be disjoint across the two frames. At production scale the
    * corpus-side signatures/bands are a PERSISTED table maintained across
    * ingests (band_idx, band_sig)-bucketed so each new batch join is
    * exchange-free on the corpus side; here they're recomputed from text.
    *
    * Skew guard: a corpus band bucket with more than `maxBucket` members is
    * dropped (same recall caveat as [[simHashNearDupPairs]]); batch docs
    * with fewer than `shingleK` tokens have no shingles and report novel.
    */
  def incrementalDedupReport(batch: DataFrame, corpus: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id",
                             minJaccard: Double = 0.8, k: Int = 32,
                             bands: Int = 16, shingleK: Int = 3,
                             maxBucket: Int = 10000,
                             scope: CacheScope = CacheScope.default): DataFrame = {
    // each side's cached SET table feeds its native banding (map-only) AND
    // its rerank side — one aggregation per side, no signature shuffle
    val setsB = shingleHashSets(batch, textCol, idCol, shingleK, scope)
    val setsC = shingleHashSets(corpus, textCol, idCol, shingleK, scope)
    val bandB = bandedSigsNative(setsB, k, bands)
    val bandC = bandedSigsNative(setsC, k, bands)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"))
    val cappedC = bandC.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket).drop("bn")
    val cand = bandB.select(col("band_idx"), col("band_sig"), col("id").as("a"))
      .join(cappedC.select(col("band_idx"), col("band_sig"), col("id").as("b")),
        Seq("band_idx", "band_sig"))
      .select(col("a"), col("b")).distinct()
    val sa = setsB.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val sb = setsC.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    val matches = cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .groupBy(col("a")).agg(count(lit(1)).as("n_matches"))
    batch.select(col(idCol))
      .join(matches.select(col("a").as(idCol), col("n_matches")), Seq(idCol), "left")
      .na.fill(0L, Seq("n_matches"))
      .select(col(idCol), col("n_matches"), (col("n_matches") === 0).as("novel"))
  }

  /** BUILD the persisted corpus index behind [[probeBandedIndex]] — the
    * index-once / probe-many lifecycle a growing corpus runs at scale,
    * materialized as two bucketed managed tables:
    *
    *   - `<prefix>_bands` (band_idx, band_sig, id), bucketed AND sorted by
    *     (band_idx, band_sig): every batch-bands ⋈ corpus-bands probe joins
    *     on exactly the bucket columns, so the corpus side scans its
    *     buckets with ZERO exchange (asserted in PlanSpec) — only the small
    *     new-batch side shuffles.
    *   - `<prefix>_sets` (id, hs, sz), bucketed by id: the exact-Jaccard
    *     rerank reads corpus shingle sets exchange-free the same way.
    *
    * Pathological band buckets (> `maxBucket` members) are dropped at WRITE
    * time, so probes are pure joins with no runtime capping window. Probes
    * must use the same (k, bands, shingleK) the index was built with —
    * recorded in the companion `<prefix>_meta` table and re-checked by
    * [[probeBandedIndex]].
    */
  def writeBandedIndex(corpus: DataFrame, tablePrefix: String,
                       textCol: String = "text", idCol: String = "doc_id",
                       k: Int = 32, bands: Int = 16, shingleK: Int = 3,
                       maxBucket: Int = 10000, buckets: Int = 8,
                       corpusTag: String = "",
                       scope: CacheScope = CacheScope.default): Unit = {
    import graft.sources.Bucketing
    val sets = shingleHashSets(corpus, textCol, idCol, shingleK, scope)
    val banded = scope.register(bandedSigsNative(sets, k, bands))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"))
    val capped = banded.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket).drop("bn")
      .select(col("band_idx"), col("band_sig"), col("id"))
    // sets BEFORE bands: probes rerank candidates through _sets, so a crash
    // between the two writes must only ever leave orphan SETS rows (never
    // band rows whose candidates would silently vanish from the rerank)
    Bucketing.writeBucketed(sets.select(col("id"), col("hs"), col("sz")),
      s"${tablePrefix}_sets", Seq("id"), buckets)
    Bucketing.writeBucketed(capped, s"${tablePrefix}_bands",
      Seq("band_idx", "band_sig"), buckets)
    // tombstones for the buckets the cap DROPPED: a bucket the build deemed
    // pathological must stay closed — without the tombstone an append sees
    // count 0 and re-admits batch rows that would then probe against each
    // other but never against the (absent) corpus members. Bounded small:
    // one row per >maxBucket bucket
    Bucketing.saveTable(
      banded.groupBy(col("band_idx"), col("band_sig"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
        .select(col("band_idx"), col("band_sig")),
      s"${tablePrefix}_dropped")
    val spark = corpus.sparkSession
    import spark.implicits._
    // empty id-tombstone table: [[deleteFromBandedIndex]] fills it,
    // probes anti-join it, [[compactBandedIndex]] folds it back in
    Bucketing.saveTable(Seq.empty[Long].toDF("id"), s"${tablePrefix}_deleted")
    Bucketing.saveTable(
      Seq((k, bands, shingleK, maxBucket, buckets, corpusTag,
          bandedIndexFormatVersion))
        .toDF("k", "bands", "shingle_k", "max_bucket", "buckets",
          "corpus_tag", "fmt"),
      s"${tablePrefix}_meta")
  }

  /** The five tables a banded index comprises (suffixes of `tablePrefix`). */
  val bandedIndexTables: Seq[String] = Seq("bands", "sets", "dropped", "deleted", "meta")

  /** Stamped into every banded-index meta row and re-checked by
    * [[ensureBandedIndex]]: BUMP whenever the signature conventions change
    * (tokenization, md5 derivation, Horner fold, banding), so an index
    * built by older code can never be silently reused — the tag says which
    * CORPUS the index describes, this says which CODE built it.
    * v2: added the `_dropped` tombstone table and the `buckets` meta column.
    * v3: added the `_deleted` id-tombstone table (incremental-crawl deletes).
    */
  val bandedIndexFormatVersion: Int = 3

  /** Build the banded index ONLY IF the persisted one is stale: a no-op
    * when all three tables exist and the meta row matches both `corpusTag`
    * (the caller's statement of which corpus the index describes — e.g. the
    * source directory) and every build parameter. This is what lets a
    * benchmark or repeated pipeline pay the index build ONCE and measure
    * probes, while a changed corpus/parameter set still forces a rebuild —
    * and, with the session-idempotent writes in [[graft.sources.Bucketing]],
    * the rebuild works in a fresh session over an existing warehouse.
    */
  def ensureBandedIndex(corpus: DataFrame, tablePrefix: String,
                        corpusTag: String,
                        textCol: String = "text", idCol: String = "doc_id",
                        k: Int = 32, bands: Int = 16, shingleK: Int = 3,
                        maxBucket: Int = 10000, buckets: Int = 8,
                        scope: CacheScope = CacheScope.default): Unit = {
    val spark = corpus.sparkSession
    val upToDate = try {
      bandedIndexTables
        .forall(s => spark.catalog.tableExists(s"${tablePrefix}_$s")) && {
        val m = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
        m.schema.fieldNames.contains("corpus_tag") &&
          m.schema.fieldNames.contains("fmt") &&
          m.getAs[Int]("fmt") == bandedIndexFormatVersion &&
          m.getAs[String]("corpus_tag") == corpusTag &&
          m.getAs[Int]("k") == k && m.getAs[Int]("bands") == bands &&
          m.getAs[Int]("shingle_k") == shingleK &&
          m.getAs[Int]("max_bucket") == maxBucket &&
          m.getAs[Int]("buckets") == buckets
      } && {
        // integrity invariant: every band row's id has a shingle-set row.
        // The crash-safe insert order (sets before bands) keeps this true
        // through torn appends, so a violation means a corrupted index —
        // rebuild. One int-column anti-join with a limit-1 early exit,
        // paid once per session per ensure, not per probe.
        graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands").select(col("id"))
          .join(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets").select(col("id")),
            Seq("id"), "left_anti")
          .isEmpty
      }
    } catch { case _: Exception => false }
    if (!upToDate)
      writeBandedIndex(corpus, tablePrefix, textCol, idCol, k, bands,
        shingleK, maxBucket, buckets, corpusTag, scope)
  }

  /** APPEND an ingested batch into the persisted banded index — the
    * maintenance path of the index-once / probe-many lifecycle: a real
    * corpus folds each accepted batch in rather than rebuilding. Bands and
    * shingle sets are computed for the batch only (|batch| work) and
    * `insertInto` the bucketed tables, which re-buckets JUST the new rows —
    * the existing corpus files are untouched and later probes stay
    * exchange-free. The write-time bucket cap is preserved against the
    * COMBINED size per row: batch rows fill a (band_idx, band_sig) bucket's
    * remaining slots in id order and only the overflow is dropped. The
    * existing-count lookup is SEMI-JOIN PRUNED to the batch's touched
    * (band_idx, band_sig) keys before aggregating — the batch's tiny key
    * set broadcasts, so the corpus-side table is filtered at the scan and
    * never re-shuffles, and append I/O scales with the batch rather than
    * the corpus. Buckets the BUILD dropped as pathological stay closed:
    * their tombstones ([[writeBandedIndex]]'s `_dropped` table) anti-join
    * the batch rows out, so batch docs can't pile into a bucket whose
    * corpus members were deliberately left out of the index. Pass
    * `newCorpusTag` to restamp the meta row so a later
    * [[ensureBandedIndex]] with the OLD tag knows the index moved on.
    *
    * Crash safety: `_sets` inserts BEFORE `_bands`. A crash between the two
    * leaves orphan sets rows — harmless, they never produce a candidate —
    * whereas the reverse order could leave band rows whose rerank lookup
    * silently fails. [[ensureBandedIndex]] checks the bands⊆sets invariant
    * as defense in depth.
    */
  def appendToBandedIndex(batch: DataFrame, tablePrefix: String,
                          textCol: String = "text", idCol: String = "doc_id",
                          newCorpusTag: String = "",
                          scope: CacheScope = CacheScope.default): Unit = {
    val spark = batch.sparkSession
    val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val (k, bands, shingleK, maxBucket) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
        meta.getAs[Int]("shingle_k"), meta.getAs[Int]("max_bucket"))
    // a TOMBSTONED id cannot re-append before a compact: the tombstone
    // suppresses its stale rows at probe time, so new rows under the same
    // id would vanish with them (and resurface stale ones after a naive
    // un-tombstone). Skip such rows; [[maintainBandedIndexFromDiff]]
    // compacts first so changed docs never hit this filter.
    // REPLAYED ids drop structurally too (the split-layout append's
    // rule): a retry of an append that committed its inserts but crashed
    // before the meta restamp must not duplicate the batch's rows.
    val sets = shingleHashSets(batch, textCol, idCol, shingleK, scope)
      .join(broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")),
        Seq("id"), "left_anti")
      .join(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets")
          .select(col("id")),
        Seq("id"), "left_anti")
    // materialize BEFORE any insert, as an EAGER LOCAL CHECKPOINT (the
    // split path's rule), never a CacheManager entry: the plan reads
    // _bands (mutated by the second insert) AND — via the replay guard —
    // _sets (mutated by the FIRST insert, whose commit re-caches every
    // CacheManager entry referencing the table; a cache+count here was
    // recomputed against the post-insert _sets and emptied by its own
    // anti-join, silently dropping the whole batch's band rows).
    // Checkpoint blocks are invisible to table re-caching.
    val cappedM = plannedBandedAppend(sets, tablePrefix, k, bands, maxBucket)
      .localCheckpoint(true)
    try {
      sets.select(col("id"), col("hs"), col("sz"))
        .write.insertInto(s"${tablePrefix}_sets")
      cappedM.write.insertInto(s"${tablePrefix}_bands")
    } finally CacheScope.freeCheckpoint(cappedM)
    if (newCorpusTag.nonEmpty) {
      val buckets = meta.getAs[Int]("buckets")
      import spark.implicits._
      graft.sources.Bucketing.saveTable(
        Seq((k, bands, shingleK, maxBucket, buckets, newCorpusTag,
            bandedIndexFormatVersion))
          .toDF("k", "bands", "shingle_k", "max_bucket", "buckets",
            "corpus_tag", "fmt"),
        s"${tablePrefix}_meta")
    }
  }

  /** The append's capped-rows plan, split out so its scale shape is
    * assertable (BucketingSpec): batch band rows minus tombstoned buckets,
    * row-numbered into each bucket's remaining slots against a corpus count
    * that is semi-join pruned to the touched keys.
    */
  private[graft] def plannedBandedAppend(sets: DataFrame, tablePrefix: String,
                                         k: Int, bands: Int,
                                         maxBucket: Int): DataFrame = {
    val spark = sets.sparkSession
    val banded = bandedSigsNative(sets, k, bands)
      .join(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_dropped"),
        Seq("band_idx", "band_sig"), "left_anti")
    val touched = banded.select(col("band_idx"), col("band_sig")).distinct()
    val existing = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
      .join(broadcast(touched), Seq("band_idx", "band_sig"), "left_semi")
      .groupBy(col("band_idx"), col("band_sig")).agg(count(lit(1)).as("bn0"))
    // per-ROW cap, not all-or-nothing: rows fill the bucket's remaining
    // slots in (deterministic) id order; only the overflow drops. An
    // all-rows-or-none filter would reject a whole batch bucket because
    // ONE slot was missing
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig")).orderBy(col("id"))
    banded.withColumn("rn", row_number().over(w))
      .join(existing, Seq("band_idx", "band_sig"), "left")
      .na.fill(0L, Seq("bn0"))
      .filter(col("rn") + col("bn0") <= maxBucket)
      .select(col("band_idx"), col("band_sig"), col("id"))
  }

  /** TOMBSTONE corpus ids out of the persisted banded index — the DELETE
    * of the incremental-crawl lifecycle (docs that vanished from the
    * source, takedowns, [[graft.ops.RelationalOps.snapshotDiff]]'s
    * `removed`/`changed` feed). The index's bucketed tables are immutable
    * files, so deletion is LOGICAL: ids land in the small `_deleted` table
    * and [[probeBandedIndex]] anti-joins candidates against it (batch-
    * scaled work — the tombstone set broadcasts). Physical removal is
    * [[compactBandedIndex]]'s job, amortized over many deletes.
    *
    * The `_deleted` rewrite is read-merge-replace of a CHURN-sized table
    * (never corpus-sized); the merged frame is materialized (eager local
    * checkpoint) before the replace because the new table's plan reads the
    * old one. Idempotent: re-deleting an id is a no-op. A crash mid-replace
    * loses tombstones — the delete feed must be replayable (re-run the
    * delta), the same contract as every destructive-first rebuild here.
    */
  def deleteFromBandedIndex(ids: DataFrame, tablePrefix: String,
                            idCol: String = "doc_id"): Unit = {
    val spark = ids.sparkSession
    val merged = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
      .unionByName(ids.select(col(idCol).cast("long").as("id")))
      .distinct()
      .localCheckpoint(true)
    try graft.sources.Bucketing.saveTable(merged, s"${tablePrefix}_deleted")
    finally CacheScope.freeCheckpoint(merged)
  }

  /** COMPACT the persisted banded index: physically drop every tombstoned
    * id's band and set rows and empty `_deleted` — the amortized rewrite
    * that keeps probe-side anti-joins small and makes tombstoned ids
    * APPENDABLE again (an un-compacted id cannot be re-appended: its stale
    * rows would resurface the moment the tombstone lifted, so
    * [[appendToBandedIndex]] skips such ids until a compact).
    *
    * Corpus-sized I/O by design (each surviving row is rewritten once into
    * the same bucketed layout) — run it when the tombstone set has grown,
    * not per delete. Crash order: `_bands` rewrites BEFORE `_sets` (a crash
    * between the two leaves orphan sets rows — harmless — and trips
    * [[ensureBandedIndex]]'s invariant no further than the bands⊆sets check
    * it already survives), and `_deleted` clears LAST, so a crash at any
    * table BOUNDARY leaves tombstones in force and probes stay correct.
    * Each rewrite itself is NOT crash-atomic:
    * [[graft.sources.Bucketing.writeBucketed]] is destructive-first (drop,
    * then write — see its docstring), so a crash mid-rewrite loses that
    * table and the index is rebuilt from the corpus via
    * [[ensureBandedIndex]]; compacting under a fresh prefix and repointing
    * consumers closes even that window.
    */
  def compactBandedIndex(tablePrefix: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val buckets = meta.getAs[Int]("buckets")
    val deleted = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
    if (!deleted.isEmpty) {
      // re-select the canonical column order: a USING join puts the join
      // key first, and later appends insertInto POSITIONALLY
      val bandsKeep = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
        .join(broadcast(deleted), Seq("id"), "left_anti")
        .select(col("band_idx"), col("band_sig"), col("id"))
        .localCheckpoint(true)
      val setsKeep = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets")
        .join(broadcast(deleted), Seq("id"), "left_anti")
        .select(col("id"), col("hs"), col("sz"))
        .localCheckpoint(true)
      try {
        graft.sources.Bucketing.writeBucketed(bandsKeep,
          s"${tablePrefix}_bands", Seq("band_idx", "band_sig"), buckets)
        graft.sources.Bucketing.writeBucketed(setsKeep,
          s"${tablePrefix}_sets", Seq("id"), buckets)
      } finally {
        CacheScope.freeCheckpoint(bandsKeep)
        CacheScope.freeCheckpoint(setsKeep)
      }
      import spark.implicits._
      graft.sources.Bucketing.saveTable(
        Seq.empty[Long].toDF("id"), s"${tablePrefix}_deleted")
    }
  }

  /** Fold a [[graft.ops.RelationalOps.snapshotDiff]] delta into the
    * persisted banded index — the composed incremental-crawl maintenance
    * path: `removed` and `changed` ids tombstone out; if anything CHANGED,
    * the index compacts (a changed id re-appends under the same id, which
    * needs its stale rows physically gone — pure removals stay logical and
    * cheap); then `added` + `changed` docs append with their new text. The
    * result is probe-equivalent to an index rebuilt from the new snapshot
    * (asserted in BucketingSpec), at delta cost when nothing changed in
    * place and one amortized rewrite when something did.
    */
  def maintainBandedIndexFromDiff(newSnapshot: DataFrame, diff: DataFrame,
                                  tablePrefix: String,
                                  textCol: String = "text",
                                  idCol: String = "doc_id",
                                  newCorpusTag: String = "",
                                  scope: CacheScope = CacheScope.default): Unit = {
    val spark0 = newSnapshot.sparkSession
    val gone = diff.filter(col("status").isin("removed", "changed"))
      .select(col(idCol))
    if (!gone.isEmpty) deleteFromBandedIndex(gone, tablePrefix, idCol)
    val fresh = newSnapshot.join(
      diff.filter(col("status").isin("added", "changed")).select(col(idCol)),
      Seq(idCol), "left_semi")
    // compact whenever an id ABOUT TO APPEND is tombstoned — `changed` ids
    // from this delta, but ALSO ids re-ADDED after a removals-only earlier
    // cycle left their tombstone in place: without the compact the append's
    // anti-join would silently drop them and the index would diverge from
    // the new snapshot
    val appendingTombstoned = fresh.select(col(idCol).as("id"))
      .join(graft.sources.Bucketing.freshTable(spark0, s"${tablePrefix}_deleted"), Seq("id"), "left_semi")
    if (!appendingTombstoned.isEmpty) compactBandedIndex(tablePrefix)
    if (!fresh.isEmpty)
      appendToBandedIndex(fresh, tablePrefix, textCol, idCol,
        newCorpusTag, scope)
    else if (newCorpusTag.nonEmpty) {
      val spark = newSnapshot.sparkSession
      val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
      import spark.implicits._
      graft.sources.Bucketing.saveTable(
        Seq((meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
            meta.getAs[Int]("shingle_k"), meta.getAs[Int]("max_bucket"),
            meta.getAs[Int]("buckets"), newCorpusTag,
            bandedIndexFormatVersion))
          .toDF("k", "bands", "shingle_k", "max_bucket", "buckets",
            "corpus_tag", "fmt"),
        s"${tablePrefix}_meta")
    }
  }

  /** CORPUS-WIDE verified near-dup pairs served FROM the persisted index —
    * the other direction the index pays for itself: [[probeBandedIndex]]
    * answers "is this batch new", this answers "dedup the whole corpus"
    * with NO recompute of signatures. `_bands` self-joins on its own
    * bucket columns (both sides the same bucketed, sorted table — a
    * sort-merge join with ZERO exchange, asserted in BucketingSpec), the
    * candidate pairs rerank through `_sets` exactly like a probe, and
    * tombstoned ids drop out before the rerank. Semantics match
    * [[minHashVerifiedPairs]] under the index's build parameters (the
    * index's `maxBucket` cap replaces the in-session one).
    */
  /** One-row OPERATIONAL stats for a persisted banded index — the
    * dashboard number behind compaction and retune decisions:
    * `n_docs` (live set rows), `n_band_rows`, `n_buckets` (distinct
    * (band_idx, band_sig) cells), `max_bucket` (largest candidate cell —
    * approaching the build's `max_bucket` cap means collisions are about
    * to be dropped: re-band or re-shingle), `n_tombstones` (large → time
    * to [[compactBandedIndex]]), `n_dropped_buckets` (cells the build
    * discarded as over-cap), and the meta stamp. All aggregations run on
    * the tables' own bucketed layouts; the report is one row.
    */
  def bandedIndexStats(spark: org.apache.spark.sql.SparkSession,
                       tablePrefix: String): DataFrame = {
    val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta")
      .select(col("corpus_tag"), col("fmt"), col("k"), col("bands"),
        col("max_bucket"))
    val deleted = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
    val live = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets")
      .join(broadcast(deleted), Seq("id"), "left_anti")
    val bands = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
      .join(broadcast(deleted), Seq("id"), "left_anti")
    val bandAgg = bands.agg(count(lit(1)).as("n_band_rows"),
      count_distinct(col("band_idx"), col("band_sig")).as("n_buckets"))
    val maxBucket = bands.groupBy(col("band_idx"), col("band_sig"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("max_bucket_seen"))
    live.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(bandAgg))
      .crossJoin(broadcast(maxBucket))
      .crossJoin(broadcast(deleted.agg(count(lit(1)).as("n_tombstones"))))
      .crossJoin(broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_dropped")
        .agg(count(lit(1)).as("n_dropped_buckets"))))
      .crossJoin(broadcast(meta))
  }

  def corpusPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                           tablePrefix: String,
                           minJaccard: Double = 0.8): DataFrame = {
    val bands = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
    val deleted = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
    val cand = bands.select(col("band_idx"), col("band_sig"), col("id").as("a"))
      .join(bands.select(col("band_idx"), col("band_sig"), col("id").as("b")),
        Seq("band_idx", "band_sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .join(broadcast(deleted.select(col("id").as("a"))), Seq("a"), "left_anti")
      .join(broadcast(deleted.select(col("id").as("b"))), Seq("b"), "left_anti")
    val sets = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets")
    val sa = sets.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val sb = sets.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** Corpus-wide near-dup CLUSTERS from the persisted index: the
    * [[nearDupClusters]] answer (connected components over verified pair
    * edges, min-label representative) computed entirely from the index
    * tables — signatures are never recomputed, the vertex set is the
    * index's live ids (`_sets` minus tombstones). The full-dedup pass a
    * growing corpus reruns after appends now costs candidate generation
    * on bucketed files plus the CC rounds, not a corpus re-shingle.
    */
  def clustersFromBandedIndex(spark: org.apache.spark.sql.SparkSession,
                              tablePrefix: String,
                              minJaccard: Double = 0.8,
                              idCol: String = "doc_id"): DataFrame = {
    val vertices = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets").select(col("id"))
      .join(broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")),
        Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    GraphOps.connectedComponents(
      corpusPairsFromIndex(spark, tablePrefix, minJaccard), vertices, idCol)
  }

  /** PROBE the persisted banded corpus index with a new `batch`: same
    * semantics and output as [[incrementalDedupReport]] (per batch doc:
    * corpus near-dup count + `novel`), but the corpus side comes from the
    * bucketed tables [[writeBandedIndex]] wrote — batch bands join corpus
    * bands on the bucket key and the rerank joins corpus sets on id, both
    * with ZERO exchange on the corpus side. This is what "the index is a
    * table" means operationally: each ingest pays |batch| work + bucket
    * scans, never a corpus re-shuffle, and never corpus×corpus.
    */
  def probeBandedIndex(batch: DataFrame, tablePrefix: String,
                       textCol: String = "text", idCol: String = "doc_id",
                       minJaccard: Double = 0.8,
                       scope: CacheScope = CacheScope.default): DataFrame = {
    val spark = batch.sparkSession
    val meta = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta").head()
    val (k, bands, shingleK) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("bands"), meta.getAs[Int]("shingle_k"))
    val bandC = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_bands")
    val setsC = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_sets")
    val setsB = shingleHashSets(batch, textCol, idCol, shingleK, scope)
    val bandB = bandedSigsNative(setsB, k, bands)
    val cand = bandB.select(col("band_idx"), col("band_sig"), col("id").as("a"))
      .join(bandC.select(col("band_idx"), col("band_sig"), col("id").as("b")),
        Seq("band_idx", "band_sig"))
      .select(col("a"), col("b")).distinct()
      // logical deletes: tombstoned corpus ids never match (batch-scaled
      // anti-join against the broadcast churn-sized tombstone set)
      .join(broadcast(graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_deleted")
        .select(col("id").as("b"))), Seq("b"), "left_anti")
    val sa = setsB.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val sb = setsC.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    val matches = cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .groupBy(col("a")).agg(count(lit(1)).as("n_matches"))
    batch.select(col(idCol))
      .join(matches.select(col("a").as(idCol), col("n_matches")), Seq(idCol), "left")
      .na.fill(0L, Seq("n_matches"))
      .select(col(idCol), col("n_matches"), (col("n_matches") === 0).as("novel"))
  }

  /** 60-bit SimHash fingerprints (id, simhash) from (id, h) shingle rows:
    * bit i takes a ±1 vote from each DISTINCT shingle hash — the parity of
    * an independent permutation `(a_i·h + b_i) mod P`
    * ([[DetHash.simHashPerms]]) — and the majority (strictly positive vote)
    * sets the bit. ONE shuffle (the collect_set), then the native
    * [[graft.functions.SimHash60]] expression computes the fingerprint in a
    * single codegen'd loop per document — the previous explode + 60
    * conditional-sum aggregates form ([[simHash60Agg]], kept for parity
    * testing) measured ~3x slower from the 60 aggregation buffers alone.
    * Near-dups have small Hamming distance between fingerprints.
    */
  def simHash60(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val fp = bridge.column(
      graft.functions.SimHash60(bridge.expression(col("hs"))))
    rows.groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
      .select(col("id"), fp.as("simhash"))
  }

  /** The composed aggregate form of [[simHash60]] — identical values by
    * construction; retained as the cross-implementation parity oracle.
    */
  private[graft] def simHash60Agg(rows: DataFrame): DataFrame = {
    val bitCnt = DetHash.simHashPerms.zipWithIndex.map { case ((a, b), i) =>
      sum(DetHash.perm(col("h"), a, b).bitwiseAND(lit(1L))).as(s"c$i")
    }
    // dedup via collect_set + re-explode: the explode preserves the id-hash
    // partitioning, so the parity aggregation runs exchange-free on top
    val distinctRows = rows.groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
      .select(col("id"), explode(col("hs")).as("h"))
    val counted = distinctRows.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitCnt: _*)
    val fp = (0 until 60)
      .map(i => when(col(s"c$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    counted.select(col("id"), fp.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  private def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Row-local SimHash fingerprint of a text COLUMN — the same 60-bit value
    * [[simHash60]] produces from shingle rows (asserted in OpsSpec),
    * computed entirely map-side: tokenize → md5 token hashes → Horner
    * shingle windows → distinct → native [[graft.functions.SimHash60]].
    * Because it is a pure projection it runs anywhere — including
    * Structured Streaming, where the batch path's collect_set shuffle is
    * unavailable before a stateful dedup. NULL for docs with fewer than
    * `shingleK` tokens (no shingles — the batch path's domain too).
    *
    * The token-hash array binds ONCE as a lambda variable (single-element-
    * array trick): HOF lambdas don't CSE, so the `shingleK` element_at
    * references per window would otherwise re-run the md5 chain per
    * reference. SimHash voting sums over the distinct set, so the
    * first-occurrence order of array_distinct vs collect_set's arbitrary
    * order cannot change a single bit.
    */
  def simHashCol(text: Column, shingleK: Int = 3): Column = {
    import org.apache.spark.sql.graft.bridge
    val th = transform(TextOps.tokens(text),
      t => DetHash.md5Hash60(t) % lit(DetHash.P))
    val hs = flatten(transform(array(th), th0 => {
      val windows = when(size(th0) >= shingleK,
        sequence(lit(0), size(th0) - shingleK)).otherwise(
        array().cast("array<int>"))
      transform(windows, i =>
        (1 until shingleK).foldLeft(element_at(th0, i + 1)) { (acc, j) =>
          (acc * lit(DetHash.A) + element_at(th0, i + j + 1)) % lit(DetHash.P)
        })
    }))
    val fp = bridge.column(graft.functions.SimHash60(
      bridge.expression(array_distinct(hs))))
    // the NULL-for-no-shingles contract is explicit: SimHash60 of an EMPTY
    // set is 0 (no bit has a strictly-positive vote), and 0 is a valid —
    // if wildly unlikely — real fingerprint, so it cannot double as the
    // "too short" marker. The guard re-tokenizes (one regex split; the
    // md5 chain, the expensive part, still runs once).
    when(size(TextOps.tokens(text)) >= shingleK, fp)
  }

  /** The maxDist+1 pigeonhole band values of a fingerprint column (the last
    * band takes the remainder bits) — shared by the batch banding below and
    * the streaming near-dedup.
    */
  private[graft] def simHashBandCols(simhash: Column, maxDist: Int,
                                     bits: Int): Seq[Column] = {
    val nBands = maxDist + 1
    val width = bits / nBands
    (0 until nBands).map { b =>
      val lo = b * width
      val w = if (b == nBands - 1) bits - lo else width
      shiftright(simhash, lo).bitwiseAND(lit((1L << w) - 1))
    }
  }

  /** SimHash near-dup retrieval: all pairs with Hamming distance ≤ `maxDist`
    * via banded bucketing — the 60-bit fingerprint splits into maxDist+1
    * bands, and by pigeonhole any pair within `maxDist` collides on at least
    * one whole band. Shuffle key = (band_idx, band_bits); exact bit_count
    * check inside buckets; distinct over bands. The brute-force O(n²)
    * equivalent exists only in the oracle.
    *
    * Skew guard: a (band_idx, band_bits) bucket with more than `maxBucket`
    * members is DROPPED before pair expansion (it would emit O(bucket²)
    * pair rows — the classic degenerate case is a corpus of mass-duplicated
    * or near-empty documents all sharing a band value). Recall caveat: recall
    * is exact by pigeonhole for pairs that share at least one non-dropped
    * band; a pair whose every shared band is over the cap is missed. On
    * non-pathological corpora no bucket approaches the cap and the output is
    * the exact pair set.
    */
  def simHashNearDupPairs(fingerprints: DataFrame, maxDist: Int = 5,
                          bits: Int = 60, maxBucket: Int = 10000): DataFrame = {
    val banded = fingerprints.select(col("id"), col("simhash"),
      posexplode(array(simHashBandCols(col("simhash"), maxDist, bits): _*))
        .as(Seq("band_idx", "band_bits")))
    // bucket members collect into one sorted array per (band, bits) — the
    // same grouped-bucket shape as minHashCandidates. ONE consumer of the
    // fingerprint subtree (a self-join computes it once per side — measured
    // as the dominant cost), one shuffle, the size filter IS the bucket
    // cap, and the i<j combination explode emits exactly the within-bucket
    // pairs with a<b for free (members sort by id).
    val buckets = banded.groupBy(col("band_idx"), col("band_bits"))
      .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
    val pairs = buckets.select(explode(flatten(
      transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(x("id").as("a"), y("id").as("b"),
            hamming64(x("simhash"), y("simhash")).as("hamming")))))).as("p"))
    pairs
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Near-duplicate CLUSTERS: (doc_id, comp) for every document, where comp
    * is the minimum doc id reachable through the verified near-dup pair
    * graph at `minJaccard` ([[minHashVerifiedPairs]] edges →
    * [[GraphOps.connectedComponents]]). Transitive closure matters for
    * dedup: A~B and B~C must land in ONE cluster even when A!~C, or the
    * pair-wise keep-min rule would retain both A and C. Singleton documents
    * map to themselves.
    */
  def nearDupClusters(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", minJaccard: Double = 0.8,
                      scope: CacheScope = CacheScope.default): DataFrame = {
    // register the verified pair edges with the scope: a second call over
    // the same corpus (e.g. clusters then the retention summary) plans an
    // identical subtree and the CacheManager serves it from this cache
    // instead of re-running the whole MinHash pipeline
    val pairs = scope.register(
      minHashVerifiedPairs(df, textCol, idCol, minJaccard, scope = scope))
    GraphOps.connectedComponents(pairs, df.select(col(idCol)), idCol)
  }

  /** Near-dedup retention summary: one row per near-dup cluster with the
    * kept representative (the cluster's min doc id) and the member count —
    * the "what survives dedup" report. Join `keep_id` back to the corpus to
    * materialize the deduplicated table itself.
    */
  def nearDedupSummary(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", minJaccard: Double = 0.8,
                       scope: CacheScope = CacheScope.default): DataFrame =
    nearDupClusters(df, textCol, idCol, minJaccard, scope)
      .groupBy(col("comp")).agg(count(lit(1)).as("n_docs"))
      .select(col("comp").as("keep_id"), col("n_docs"))

  /** Quality-aware near-dedup retention: one row per near-dup cluster
    * keeping the member with the HIGHEST [[TextOps.qualityScore]] (ties to
    * the lowest id) instead of [[nearDedupSummary]]'s min-id convention —
    * what production dedup actually wants: when a crawl holds five copies
    * of a page, keep the cleanest one, not the one that happened to get the
    * smallest id. Output (keep_id, n_docs, quality).
    *
    * Scale shape: clusters come from the banded pipeline (no all-pairs),
    * quality is a map-side projection, and the argmax + member count share
    * ONE comp-keyed window shuffle.
    */
  def keepBestDedupSummary(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", minJaccard: Double = 0.8,
                           scope: CacheScope = CacheScope.default): DataFrame = {
    val clusters = nearDupClusters(df, textCol, idCol, minJaccard, scope)
    val scored = TextOps.withQualityScore(
        df.select(col(idCol), col(textCol)), textCol, "quality")
      .select(col(idCol), col("quality"))
    val byComp = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
    clusters.join(scored, Seq(idCol))
      .withColumn("rn", row_number().over(
        byComp.orderBy(col("quality").desc, col(idCol).asc)))
      .withColumn("n_docs", count(lit(1)).over(byComp))
      .filter(col("rn") === 1)
      .select(col(idCol).as("keep_id"), col("n_docs"), col("quality"))
  }

  /** Dedup YIELD waterfall — the what-does-cleaning-cost-in-tokens
    * headline a training-budget owner asks for: document and token counts
    * surviving each dedup tier, composed from the tiers themselves:
    * stage 0 the raw corpus, stage 1 exact dedup (minimum id per content
    * digest survives), stage 2 near-dup keep-best over the stage-1
    * survivors ([[keepBestDedupSummary]] — one highest-quality member per
    * verified-Jaccard cluster). Output (stage, label, n_docs, n_tokens),
    * one row per stage — the numbers that decide whether a source is
    * worth its storage before any mixture planning (X115 takes stage-2
    * token counts, not raw ones).
    *
    * Scale shape: one cached (id, digest, token-count) projection feeds
    * stage 0/1 (the exact tier is ONE 16-byte-digest shuffle with the
    * survivor's token count carried through a struct-min — no join back);
    * stage 2 inherits the banded pipeline's shapes on the smaller
    * survivor corpus; each stage emits ONE aggregate row.
    */
  def dedupYieldWaterfall(df: DataFrame, minJaccard: Double = 0.8,
                          textCol: String = "text", idCol: String = "doc_id",
                          scope: CacheScope = CacheScope.default): DataFrame = {
    val base = scope.register(df.select(col(idCol).as("id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n"),
      md5(col(textCol)).as("dg")))
    val exact = base.groupBy(col("dg"))
      .agg(min(struct(col("id"), col("n"))).as("k"))
      .select(col("k.id").as("id"), col("k.n").as("n"))
    val surv = df.join(exact.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    val kept = keepBestDedupSummary(surv, textCol, idCol, minJaccard, scope)
      .select(col("keep_id").as("id"))
      .join(base.select(col("id"), col("n")), Seq("id"))
    def stageRow(stage: Long, label: String, d: DataFrame) =
      d.agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .select(lit(stage).as("stage"), lit(label).as("label"),
          col("n_docs"), col("n_tokens"))
    stageRow(0L, "raw", base)
      .unionByName(stageRow(1L, "exact", exact))
      .unionByName(stageRow(2L, "neardup_keepbest", kept))
      .orderBy(col("stage"))
  }

  /** Benchmark-decontamination report: for each `corpus` document, how much
    * of its content appears anywhere in `benchmark` — (doc_id, n_shingles,
    * n_seen, contamination) where contamination = the fraction of the
    * document's DISTINCT k-shingles found in the benchmark's shingle
    * universe. The standard pre-training hygiene check (drop or flag
    * training documents that overlap an eval set), run entirely on integer
    * shingle hashes.
    *
    * Scale shape: the benchmark side reduces to a distinct hash SET (tiny
    * vs the corpus — eval sets are small), the corpus explodes to
    * (doc, hash) rows, and a hash-keyed LEFT SEMI join + per-doc count does
    * the rest. No strings shuffle; no corpus self-join. Documents with no
    * k-shingle (< k tokens) are excluded, as everywhere in the dedup tier.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          textCol: String = "text", idCol: String = "doc_id",
                          shingleK: Int = 3,
                          scope: CacheScope = CacheScope.default): DataFrame = {
    val cs = shingleHashSets(corpus, textCol, idCol, shingleK, scope)
    // the benchmark-side token-hash cache has ONE consumer here, but it is
    // still load-bearing: it's the optimizer barrier that keeps the md5
    // transform from being re-inlined below the window explode (quadratic
    // re-hashing — see the tokenHashes doc). Memory cost is bounded by the
    // operator's contract: the benchmark is an eval set, small vs the corpus
    val benchSet = shingleHashRows(benchmark, textCol, idCol, shingleK, scope)
      .select(col("h")).distinct()
    val rows = cs.select(col("id"), explode(col("hs")).as("h"))
    val seen = rows.join(benchSet, Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_seen"))
    cs.select(col("id"), col("sz").as("n_shingles"))
      .join(seen, Seq("id"), "left")
      .na.fill(0L, Seq("n_seen"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_seen"),
        (col("n_seen").cast("double") / col("n_shingles")).as("contamination"))
  }

  /** Positioned n-gram hashes (id, pos, h): the Horner n-gram hash starting
    * at 1-based token position `pos` — the positional twin of
    * [[shingleHashRows]] (same md5 token hashes, same Horner fold, so the
    * SQL oracle recomputes identical values with `pos` = the list index of
    * `DetHash.sqlShingleHashes`). Map-only; docs with < n tokens produce no
    * rows. The token-hash array binds once as a lambda variable (HOF
    * lambdas don't CSE — see [[simHashCol]]).
    */
  private[graft] def positionedNgramHashes(df: DataFrame, textCol: String,
                                           idCol: String, n: Int): DataFrame = {
    require(n >= 2, "n-grams need n >= 2")
    val th = transform(TextOps.tokens(col(textCol)),
      t => DetHash.md5Hash60(t) % lit(DetHash.P))
    val grams = flatten(transform(array(th), th0 => {
      val windows = when(size(th0) >= n, sequence(lit(0), size(th0) - n))
        .otherwise(array().cast("array<int>"))
      transform(windows, i =>
        (1 until n).foldLeft(element_at(th0, i + 1)) { (acc, j) =>
          (acc * lit(DetHash.A) + element_at(th0, i + j + 1)) % lit(DetHash.P)
        })
    }))
    df.select(col(idCol).as("id"), posexplode(grams).as(Seq("p0", "h")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("h"))
  }

  /** Per-doc DUPLICATED-n-GRAM FRACTION vs the corpus (the RefinedWeb-
    * family signal that is NOT [[graft.ops.TextOps.repetitionStats]]:
    * that one measures repetition WITHIN a document, this measures how
    * much of a document exists ELSEWHERE): the share of a doc's n-gram
    * positions whose exact n-gram also occurs in at least one OTHER
    * document — boilerplate-laden and syndicated docs score high even
    * when no single near-dup partner exists, which is exactly the case
    * pairwise dedup misses. Emits exact integers plus
    * `dup_frac_micro = (10^6·n_dup) div n_grams` — overflow-audited: both
    * operands are PER-DOCUMENT gram counts (bounded by one doc's length,
    * ~10^6), so 10^6·n_dup stays ≤ ~10^12 at any corpus scale, unlike the
    * corpus-wide products that forced pmiCollocations to doubles.
    *
    * Scale shape: one (id, h)-distinct pass → one h-keyed document-
    * frequency aggregation → the df frame joins back token-keyed → one
    * id-keyed aggregation. Linear, no pairs anywhere.
    */
  def dupGramFraction(documents: DataFrame, n: Int = 8,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val grams = positionedNgramHashes(documents, textCol, idCol, n)
    val df2 = grams.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val perDoc = grams.join(df2, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    documents.select(col(idCol))
      .join(perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_dup"))
      .withColumn("dup_frac_micro",
        when(col("n_grams") > 0, expr("(1000000 * n_dup) div n_grams"))
          .otherwise(lit(0L)))
  }

  /** Exact n-gram SPAN decontamination — the published LLM eval-holdout
    * standard (n-gram collision against the training corpus, n typically
    * 8-13): for each eval document, the merged token spans
    * `[span_start, span_end]` (1-based, inclusive) covered by at least one
    * exact n-gram also present ANYWHERE in `train`, plus the matching
    * n-gram count per span. [[contaminationReport]] answers "how much of
    * this doc leaks" (a fraction); this answers "WHERE does it leak" — the
    * spans are what a surgical decontaminator cuts out, and adjacent or
    * overlapping hits merge into one span (positions p1, p2 merge when
    * p2 ≤ p1 + n, i.e. their token ranges touch).
    *
    * Scale shape: the train side reduces to one DISTINCT over integer
    * n-gram hashes (never strings); matched eval positions come from a
    * hash-keyed LEFT SEMI join; span merging is the classic gaps-and-islands
    * pass over a per-document window — hash-partitioned by doc, never
    * global. n-gram identity is the md5+Horner hash mod P: collisions are
    * possible in principle and shared bit-for-bit with the SQL oracle, the
    * same compromise as the whole shingle tier.
    */
  def ngramSpanContamination(train: DataFrame, eval: DataFrame, n: Int = 8,
                             textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame = {
    val trainGrams = positionedNgramHashes(train, textCol, idCol, n)
      .select(col("h")).distinct()
    val matched = positionedNgramHashes(eval, textCol, idCol, n)
      .join(trainGrams, Seq("h"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(w)
    matched
      .withColumn("ni", when(prev.isNull || col("pos") > prev + n, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_grams"))
  }

  /** Cross-document BOILERPLATE report: per document, the fraction of its
    * DISTINCT k-shingles that also occur in ANOTHER document —
    * headers, footers, licenses, navigation chrome that repeat across a
    * crawl (the cross-doc complement of [[TextOps.repetitionStats]]'
    * within-doc repetition). (doc_id, n_windows, n_shared, shared_frac);
    * exact-duplicate documents score 1.0 by construction.
    *
    * Scale shape: shingle windows reduce to integer hashes once
    * ([[shingleHashRows]]), the docs-per-shingle count is one hash-keyed
    * aggregation, and the per-doc fraction is a second integer-keyed
    * aggregation — no pair joins anywhere, so cost is linear in corpus
    * tokens no matter how duplicated the corpus is.
    */
  def boilerplateReport(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", shingleK: Int = 3,
                        scope: CacheScope = CacheScope.default): DataFrame = {
    // distinct (id, h): a shingle repeated WITHIN one doc must count that
    // doc once toward n_docs, or a self-repeating doc would mark its own
    // shingles as shared
    val rows = scope.register(
      shingleHashRows(df, textCol, idCol, shingleK, scope).distinct())
    val docFreq = rows.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    rows.join(docFreq, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("id").as(idCol), col("n_windows"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_windows")).as("shared_frac"))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING — the high-threshold path.
    * Each set's tokens sort in a single global order (ascending document
    * frequency, ties by token value — rarest first) and only the first
    * |s| − ⌈J·|s|⌉ + 1 tokens are indexed: by the prefix-filtering lemma,
    * two sets with Jaccard ≥ J must share an indexed token, so recall is
    * EXACT. Candidates then verify with a true intersection over the full
    * sets. At J=0.8 the index holds ~20% of the corpus tokens — and the
    * rarest 20%, so postings lists (and the self-join) shrink on corpora
    * whose hot shingles dominate join output. Measured caveats
    * (SCALE_NOTES.md): on a mass-duplicated corpus the prefixes of
    * duplicates coincide, candidates don't shrink, and this is neutral vs
    * [[jaccardPairs]]; at loose thresholds the lemma keeps ~(1−J) of every
    * set — use [[jaccardPairs]] below J ≈ 0.3.
    *
    * Skew guard: a token whose PREFIX posting list exceeds `maxDf` docs is
    * dropped from the index before the self-join (it would emit O(df²)
    * candidate rows — on a mass-duplicated corpus every duplicate's prefix
    * is identical, so posting lists grow with the duplicate count, not the
    * vocabulary). Recall caveat: a pair whose every shared prefix token is
    * over the cap is missed, so under the cap recall is exact only for
    * pairs that share at least one sub-cap prefix token — same trade as
    * [[jaccardPairs]]' `maxDf` and the banded operators' `maxBucket`.
    */
  def jaccardPairsPrefix(df: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", minJaccard: Double = 0.8,
                         shingleK: Int = 3, maxDf: Long = 100000L,
                         scope: CacheScope = CacheScope.default): DataFrame = {
    val sets = shingleHashSets(df, textCol, idCol, shingleK, scope)
    val rows = sets.select(col("id"), col("sz"), explode(col("hs")).as("tok"))
    val dfc = rows.groupBy(col("tok")).agg(count(lit(1)).as("tok_df"))
    // per doc: tokens in (tok_df, tok) order, keep the prefix
    val prefLen = (col("sz") - ceil(lit(minJaccard) * col("sz")) + 1).cast("int")
    val pref = scope.register(rows.join(dfc, Seq("tok"))
      .groupBy(col("id"), col("sz"))
      .agg(sort_array(collect_list(struct(col("tok_df"), col("tok")))).as("st"))
      .select(col("id"),
        explode(slice(transform(col("st"), x => x("tok")), lit(1), prefLen)).as("tok")))
    // prefix-posting-list size cap (NOT raw document frequency: the prefix
    // already holds only each doc's rarest tokens, so the guard keys on what
    // actually reaches the join)
    val hot = pref.groupBy(col("tok")).agg(count(lit(1)).as("pref_df"))
      .filter(col("pref_df") > maxDf)
    val capped = pref.join(broadcast(hot), Seq("tok"), "left_anti")
    val cand = capped.select(col("tok"), col("id").as("a"))
      .join(capped.select(col("tok"), col("id").as("b")), Seq("tok"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val sa = sets.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val sb = sets.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** Exact n-gram (shingle) Jaccard similarity pairs above `minJaccard`, via
    * an inverted index on 60-bit shingle hashes (explode → self-join on the
    * hash → count intersections). Shuffle key = integer shingle hash (never
    * the shingle string); shingles are near-unique so buckets stay tiny, and
    * `maxDf` drops any shingle hotter than the cap before the join (the
    * standard skew guard — a shingle in N docs would otherwise emit N² join
    * rows).
    */
  def jaccardPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   minJaccard: Double = 0.5, shingleK: Int = 3,
                   maxDf: Long = 100000L,
                   scope: CacheScope = CacheScope.default): DataFrame = {
    // ONE groupBy(id) with collect_set does dedup + set-sizing together, and
    // the explode re-attaches (sz) to every inverted row for free — so the
    // self-join output needs NO post-aggregation joins (a pair-keyed join
    // over ~n² candidate rows measured as the dominant cost of this query).
    // The cached set table is scanned once per join side + once for the df
    // counts instead of re-aggregating shingle rows each time.
    val sets = shingleHashSets(df, textCol, idCol, shingleK, scope)
    val inv = sets.select(col("id"), col("sz"), explode(col("hs")).as("tok"))
    val dfCounts = inv.groupBy(col("tok")).agg(count(lit(1)).as("tok_df"))
    val capped = inv
      .join(broadcast(dfCounts.filter(col("tok_df") > maxDf)), Seq("tok"), "left_anti")
    val l = capped.select(col("tok"), col("id").as("a"), col("sz").as("sza"))
    val r = capped.select(col("tok"), col("id").as("b"), col("sz").as("szb"))
    l.join(r, Seq("tok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** CONTAINMENT pairs — the ASYMMETRIC similarity Jaccard cannot see:
    * C(X in Y) = |X∩Y|/|X| is high when a small document is embedded in a
    * big one (a quote, a syndicated snippet, a doc-plus-chrome wrapper)
    * even though the symmetric Jaccard |X∩Y|/|X∪Y| ≈ |X|/|Y| is tiny —
    * the pairs a MinHash/banding pass structurally misses because banding
    * targets Jaccard. Emits each unordered pair once with both directions
    * (`contain_a` = share of a's shingles inside b, `contain_b` vice
    * versa), kept when either reaches `minContain`.
    *
    * Candidates come from the same size-carrying inverted shingle index as
    * [[jaccardPairs]] (one shared token is enough: containment ≥ t > 0
    * forces ≥ 1 shared shingle), with the same `maxDf` hot-token guard and
    * the same caveat: a qualifying pair whose EVERY shared shingle is
    * hotter than the cap is dropped — the documented skew trade.
    *
    * Scale shape: identical to [[jaccardPairs]] — token-keyed self-join,
    * per-pair counts aggregated with sizes carried on the inverted rows,
    * no post-aggregation joins, no all-pairs.
    */
  def containmentPairs(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", minContain: Double = 0.8,
                       shingleK: Int = 3, maxDf: Long = 100000L,
                       scope: CacheScope = CacheScope.default): DataFrame = {
    val sets = shingleHashSets(df, textCol, idCol, shingleK, scope)
    val inv = sets.select(col("id"), col("sz"), explode(col("hs")).as("tok"))
    val dfCounts = inv.groupBy(col("tok")).agg(count(lit(1)).as("tok_df"))
    val capped = inv
      .join(broadcast(dfCounts.filter(col("tok_df") > maxDf)), Seq("tok"), "left_anti")
    val l = capped.select(col("tok"), col("id").as("a"), col("sz").as("sza"))
    val r = capped.select(col("tok"), col("id").as("b"), col("sz").as("szb"))
    l.join(r, Seq("tok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("contain_a", col("inter").cast("double") / col("sza"))
      .withColumn("contain_b", col("inter").cast("double") / col("szb"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= lit(minContain))
      .select(col("a"), col("b"), col("inter"),
        col("contain_a"), col("contain_b"))
  }

  /** EDIT-DISTANCE near-dup pairs — the character-level dedup family: all
    * (a, b, dist) with a < b and levenshtein(text_a, text_b) <= `maxDist`.
    * Catches typo-level duplicates (OCR noise, smart-quote swaps, version
    * bumps) that token-shingle Jaccard treats as distant when the edits
    * land one-per-shingle, and is the published similarity-join semantics
    * of Ed-Join (Xiao/Wang/Lin, PVLDB 2008), whose q-gram prefix lemma
    * drives candidate generation here.
    *
    * Candidate generation is EXACT-recall (every qualifying pair survives
    * to the verify stage) via two legs:
    *
    *   - **Prefix leg** (docs with >= q·maxDist+1 distinct char q-grams):
    *     each edit operation destroys at most `q` q-grams, so two strings
    *     within `maxDist` edits differ in at most q·maxDist DISTINCT gram
    *     values per side. Sorting each doc's gram values in one global
    *     order (ascending gram document-frequency, ties by value — rarest
    *     first) and indexing only the first q·maxDist+1 makes the two
    *     prefixes provably intersect: with p_a = a's prefix max in the
    *     global order and (wlog) p_a <= p_b, a's q·maxDist+1 prefix grams
    *     all lie <= p_b, at least one of them is in b (else the value
    *     difference exceeds q·maxDist), and every b-gram <= p_b is in b's
    *     prefix by construction.
    *   - **Brute leg** (docs with <= 2·q·maxDist distinct gram values —
    *     tiny or ultra-repetitive texts, where the lemma has no room):
    *     all pairs within a length band, generated by emitting each doc
    *     into buckets floor(len/(maxDist+1)) and +1, so only docs within
    *     `maxDist` length of each other ever meet. Any qualifying pair
    *     with a side outside the prefix leg lands here: its partner has
    *     at most q·maxDist more distinct values, i.e. <= 2·q·maxDist.
    *
    * Verification joins texts back and uses the banded-DP thresholded
    * `levenshtein(l, r, maxDist)` (O(len·maxDist) per pair, -1 over
    * threshold), after the |len_a - len_b| <= maxDist length filter.
    *
    * Scale shape: gram hashing is ONE native codegen call per row
    * ([[graft.functions.CharGramHashes]] — no per-char rows, no
    * interpreted HOF); the only corpus-sized shuffles are the (gram, id)
    * inverted index and the per-id prefix sort; the self-join keys on
    * (gram, length band) — the rarest q·maxDist+1 grams per doc, split by
    * Ed-Join's length filter so low-diversity corpora can't degenerate to
    * all-pairs postings — with `maxDf` dropping (gram, band) postings
    * hotter than the cap (the standard skew guard; a pair whose every
    * shared prefix gram is over the cap is missed — same trade as
    * [[jaccardPairsPrefix]]). The brute leg is quadratic only within a
    * length band OF DEGENERATE DOCS (<= 2·q·maxDist distinct grams); a
    * corpus of millions of near-empty docs should dedup exactly first
    * ([[exactDedup]]), which collapses those bands.
    */
  def editDistancePairs(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", maxDist: Int = 5,
                        q: Int = 3, maxDf: Long = 100000L,
                        scope: CacheScope = CacheScope.default): DataFrame = {
    require(maxDist >= 1, "maxDist >= 1 (use exactDedup for identity)")
    require(q >= 2, "char q-grams need q >= 2")
    val prefLen = q * maxDist + 1
    val text = col(textCol)
    // distinct gram hashes in ONE native codegen call per row
    // ([[graft.functions.CharGramHashes]] — an interpreted HOF transform
    // with a per-window digest was the bench bottleneck); deliberately
    // outside the md5 determinism layer: the oracle is a brute-force
    // levenshtein join and never recomputes gram hashes
    val gv = {
      import org.apache.spark.sql.graft.bridge
      bridge.column(graft.functions.CharGramHashes(bridge.expression(text), q))
    }
    // two projections, not gv + size(gv) side by side: CollapseProject
    // declines to inline a non-cheap expression into multiple references,
    // so the gram extraction stays single-evaluation per row
    val base = scope.register(
      df.select(col(idCol).as("id"), text.as("t"),
          length(text).as("len"), gv.as("gv"))
        .select(col("id"), col("t"), col("len"), col("gv"),
          size(col("gv")).as("ng")))

    // prefix leg: global (df asc, value asc) order over the indexed
    // population, first q·maxDist+1 values per doc. The join key is
    // (gram, LENGTH BAND), not the gram alone — qualifying pairs satisfy
    // |len_a − len_b| <= maxDist, so Ed-Join's length filter belongs IN
    // candidate generation: on a low-gram-diversity corpus (the synthetic
    // fixture has ~400 distinct trigrams) gram-only postings degenerate
    // toward all-pairs (measured 8.5M candidates at sf0.1; banding cuts
    // them ~25x). Left emits its own band, right emits band−1/band/band+1:
    // every in-threshold pair meets on exactly one (gram, band) key.
    val rows = base.filter(col("ng") >= prefLen)
      .select(col("id"), col("len"), explode(col("gv")).as("g"))
    val dfc = rows.groupBy(col("g")).agg(count(lit(1)).as("g_df"))
    val band = floor(col("len") / (maxDist + 1))
    // rank window, not collect_list+sort_array: the rn <= prefLen filter
    // becomes a WindowGroupLimit per-partition heap (no full per-doc sort,
    // no interpreted struct-array sort), and the window is id-partitioned —
    // never corpus-wide
    val wid = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("g_df"), col("g"))
    val pref = scope.register(rows.join(dfc, Seq("g"))
      .withColumn("rn", row_number().over(wid)).filter(col("rn") <= prefLen)
      .select(col("id"), col("len"), band.as("band"), col("g")))
    val hot = pref.groupBy(col("g"), col("band"))
      .agg(count(lit(1)).as("pref_df")).filter(col("pref_df") > maxDf)
    val left = pref.join(broadcast(hot), Seq("g", "band"), "left_anti")
      .select(col("g"), col("band").as("bk"), col("id").as("a"), col("len").as("la"))
    val right = pref.join(broadcast(hot), Seq("g", "band"), "left_anti")
      .select(col("g"), col("id").as("b"), col("len").as("lb"),
        explode(array(col("band") - 1, col("band"), col("band") + 1)).as("bk"))
    val candPrefix = left.join(right, Seq("g", "bk"))
      .filter(col("a") < col("b") && abs(col("la") - col("lb")) <= maxDist)
      .select(col("a"), col("b"))

    // brute leg: length-banded all-pairs over degenerate docs only
    val shorts = base.filter(col("ng") <= 2 * q * maxDist)
      .select(col("id"), col("len"),
        floor(col("len") / (maxDist + 1)).as("band"))
    val banded = shorts.select(col("id"), col("len"),
      explode(array(col("band"), col("band") + 1)).as("bk"))
    val candShort = banded.select(col("bk"), col("id").as("a"), col("len").as("la"))
      .join(banded.select(col("bk"), col("id").as("b"), col("len").as("lb")),
        Seq("bk"))
      .filter(col("a") < col("b") && abs(col("la") - col("lb")) <= maxDist)
      .select(col("a"), col("b"))

    val cand = candPrefix.unionByName(candShort).distinct()
    val ta = base.select(col("id").as("a"), col("t").as("t_a"), col("len").as("len_a"))
    val tb = base.select(col("id").as("b"), col("t").as("t_b"), col("len").as("len_b"))
    cand.join(ta, Seq("a")).join(tb, Seq("b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Transitive closure of [[editDistancePairs]]: (doc_id, comp) where
    * comp is the minimum id reachable through chains of <= `maxDist`-edit
    * links — the character-level twin of [[nearDupClusters]], needed for
    * the same reason: version chains (v1 ~ v2 ~ v3 each within d edits,
    * v1 vs v3 beyond d) must still dedup to ONE representative.
    */
  def editDistanceClusters(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", maxDist: Int = 5,
                           q: Int = 3,
                           scope: CacheScope = CacheScope.default): DataFrame = {
    // register the verified pair edges: clusters + a retention summary over
    // the same corpus plan an identical subtree, served from this cache
    val pairs = scope.register(
      editDistancePairs(df, textCol, idCol, maxDist, q, scope = scope))
    GraphOps.connectedComponents(pairs, df.select(col(idCol)), idCol)
  }

  /** Edit-distance dedup retention: one row per [[editDistanceClusters]]
    * component with the representative (minimum) id and the member count —
    * the [[nearDedupSummary]] convention on the character-level family.
    */
  def editDedupSummary(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", maxDist: Int = 5,
                       q: Int = 3,
                       scope: CacheScope = CacheScope.default): DataFrame =
    editDistanceClusters(df, textCol, idCol, maxDist, q, scope)
      .groupBy(col("comp")).agg(count(lit(1)).as("n_docs"))
      .select(col("comp").as("keep_id"), col("n_docs"))

  /** Cross-source duplicate LEAKAGE matrix — "is source X scraping source
    * Y": the verified near-dup pair set ([[minHashVerifiedPairs]]) rolled
    * up by unordered source pair. The pair's two sources normalize to
    * (min, max) by string order with NULL sorting first, so each unordered
    * pair is one matrix cell; the diagonal (x = y) counts within-source
    * duplication. High off-diagonal cells mean content flows between
    * sources — exactly the corpora a mixture planner must not treat as
    * independent.
    *
    * Scale shape: inherits the banded candidate generation (no all-pairs);
    * the source attachment is two id-keyed joins against a two-column
    * projection of the corpus, and the rollup shuffles ≤ nSources² cells.
    */
  def dupLeakageMatrix(df: DataFrame, minJaccard: Double = 0.8,
                       textCol: String = "text", idCol: String = "doc_id",
                       srcCol: String = "source",
                       scope: CacheScope = CacheScope.default): DataFrame = {
    val pairs = minHashVerifiedPairs(df, textCol, idCol, minJaccard,
      scope = scope)
    val sa = df.select(col(idCol).as("a"), col(srcCol).as("sa"))
    val sb = df.select(col(idCol).as("b"), col(srcCol).as("sb"))
    val withSrc = pairs.join(sa, Seq("a")).join(sb, Seq("b"))
    // unordered normalization, NULL first — least/greatest skip nulls, so
    // spell the comparison out (identical CASE shape in the oracle)
    val sx = when(col("sa") <=> col("sb"), col("sa"))
      .when(col("sa").isNull, lit(null))
      .when(col("sb").isNull, lit(null))
      .when(col("sa") < col("sb"), col("sa")).otherwise(col("sb"))
    val sy = when(col("sa") <=> col("sb"), col("sb"))
      .when(col("sa").isNull, col("sb"))
      .when(col("sb").isNull, col("sa"))
      .when(col("sa") < col("sb"), col("sb")).otherwise(col("sa"))
    withSrc.select(sx.as("source_x"), sy.as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_x").asc_nulls_first, col("source_y").asc_nulls_first)
  }

  /** SPLIT-LEAKAGE audit: the verified near-dup pair set rolled up by
    * UNORDERED train/val/test split pair under the deterministic
    * [[graft.ops.RelationalOps.hashSplit]] assignment — off-diagonal cells
    * are near-duplicates CROSSING a split boundary, the leakage that
    * quietly inflates eval scores (Dodge et al. 2021's C4 overlap
    * finding, Lee et al. 2021 §6). [[dupLeakageMatrix]] asks "which
    * SOURCES share content"; this asks "does my EVAL share content with
    * my TRAIN" — the last gate before a split ships. Hash splitting alone
    * does NOT prevent this: near-duplicates hash independently, so
    * duplicated content lands on both sides ∝ its duplication rate.
    * Output per (split_x ≤ split_y): (n_pairs, crossing 0/1 flag).
    *
    * Scale shape: inherits the banded candidate generation (no all-pairs);
    * the split assignment is a zero-shuffle map column; pair attachment is
    * two id-keyed joins on 2-column projections; the rollup shuffles
    * ≤ nSplits² cells.
    */
  def splitLeakageAudit(df: DataFrame,
                        weights: Seq[Double] = Seq(0.8, 0.1, 0.1),
                        minJaccard: Double = 0.8, salt: String = "split",
                        textCol: String = "text", idCol: String = "doc_id",
                        scope: CacheScope = CacheScope.default): DataFrame = {
    val pairs = minHashVerifiedPairs(df, textCol, idCol, minJaccard,
      scope = scope)
    val splits = RelationalOps.hashSplit(df.select(col(idCol)), idCol,
      weights, salt)
    val sa = splits.select(col(idCol).as("a"), col("split").as("pa"))
    val sb = splits.select(col(idCol).as("b"), col("split").as("pb"))
    pairs.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(least(col("pa"), col("pb")).as("split_x"),
        greatest(col("pa"), col("pb")).as("split_y"))
      .groupBy(col("split_x"), col("split_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("crossing",
        when(col("split_x") =!= col("split_y"), 1L).otherwise(0L))
      .orderBy(col("split_x"), col("split_y"))
  }

  /** WINNOWING fingerprints (Schleimer et al. 2003, the MOSS algorithm):
    * per document, the selected (pos, gram-hash) pairs — in every window
    * of `window` consecutive `shingleK`-gram hashes the minimum is chosen
    * (rightmost position on ties, the paper's rule), then selections
    * dedupe. Guarantees: any shared run of `window + shingleK - 1` tokens
    * between two documents yields at least one IDENTICAL fingerprint in
    * both, at an expected density of only 2/(window+1) fingerprints per
    * gram — the local-sampling property that makes corpus-scale
    * plagiarism / mirror detection affordable where full shingle sets
    * aren't. Documents with fewer than `window` grams keep their single
    * global minimum; documents with no grams emit nothing.
    *
    * Determinism: selection runs on the packed integer key
    * `h·2^20 + (2^20−1−pos)` — min(key) IS (min h, rightmost pos), one
    * integer min the oracle replays with the same frame. Positions are
    * document-bounded (< 2^20 grams — beyond any real document), so the
    * pack never collides; h < 2^31 keeps the key under 2^51.
    *
    * Scale shape: gram hashing is the cached [[tokenHashes]] pass; the
    * two window functions run in ONE per-document sort (same partition
    * and order), so cost is one (id)-keyed exchange of integer triples;
    * the dedup is a map-side-combinable aggregation. No pair work here —
    * [[winnowOverlapPairs]] does candidate matching downstream.
    */
  def winnowFingerprints(df: DataFrame, shingleK: Int = 3, window: Int = 4,
                         textCol: String = "text", idCol: String = "doc_id",
                         scope: CacheScope = CacheScope.default): DataFrame = {
    require(window >= 1, "winnowing needs a positive window")
    val windows = when(size(col("th")) >= shingleK,
      sequence(lit(0), size(col("th")) - shingleK)).otherwise(array())
    val horner = (1 until shingleK).foldLeft(element_at(col("th"), col("i") + 1)) {
      (acc, j) =>
        (acc * lit(DetHash.A) + element_at(col("th"), col("i") + j + 1)) % lit(DetHash.P)
    }
    val grams = tokenHashes(df, textCol, idCol, scope)
      .select(col("id"), col("th"), explode(windows).as("i"))
      .select(col("id"), col("i").cast("long").as("pos"), horner.as("h"))
    val wFrame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        window - 1)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    grams
      .withColumn("key",
        col("h") * lit(1048576L) + (lit(1048575L) - col("pos")))
      .withColumn("wk", min(col("key")).over(wFrame))
      .withColumn("cnt", count(lit(1)).over(wFrame))
      .withColumn("ng", count(lit(1)).over(wDoc))
      .filter(col("cnt") === window ||
        (col("pos") === 0 && col("ng") < window))
      .select(col("id").as(idCol),
        expr("wk div 1048576").as("h"),
        (lit(1048575L) - expr("wk % 1048576")).as("pos"))
      .distinct()
  }

  /** Fingerprint-overlap candidate pairs (MOSS's matching step): documents
    * sharing at least `minShared` winnowing fingerprints, with the shared
    * count — the plagiarism / mirror-site detector at fingerprint (not
    * shingle-set) cost. By the winnowing guarantee every shared
    * `window+shingleK-1`-token run contributes a shared fingerprint, so
    * long verbatim overlaps can't hide; a fingerprint hash present in
    * more than `maxDf` documents is dropped before pairing (universal
    * boilerplate would otherwise quadratically dominate — same skew guard
    * as the inverted-index Jaccard).
    *
    * Scale shape: ONE (h)-keyed exchange of the fingerprint table (a
    * 2/(window+1) sample of gram rows), the df cap as a broadcast-free
    * window count on the same key, pair aggregation on (a, b) int keys.
    */
  def winnowOverlapPairs(df: DataFrame, shingleK: Int = 3, window: Int = 4,
                         minShared: Long = 2L, maxDf: Int = 1000,
                         textCol: String = "text", idCol: String = "doc_id",
                         scope: CacheScope = CacheScope.default): DataFrame = {
    val fp = winnowFingerprints(df, shingleK, window, textCol, idCol, scope)
      .select(col(idCol).as("id"), col("h")).distinct()
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val capped = fp.withColumn("dfc", count(lit(1)).over(wH))
      .filter(col("dfc") <= maxDf).drop("dfc")
    capped.select(col("h"), col("id").as("a"))
      .join(capped.select(col("h"), col("id").as("b")), Seq("h"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** KMV (k-minimum-values, Beyer et al. 2007) SKETCH-cost corpus-pair
    * overlap: estimated distinct-shingle counts per source and estimated
    * intersection / Jaccard for every unordered source pair — the
    * "how much does corpus X overlap corpus Y" answer WITHOUT joining the
    * corpora ([[dupLeakageMatrix]] finds the verified near-dup pairs; this
    * sizes whole-corpus containment at a k-row-per-source price).
    *
    * Sketch: the `k` smallest DISTINCT 60-bit hashes
    * ([[DetHash.md5Hash60]] over the space-joined `shingleK`-gram — the
    * 60-bit space, NOT the 31-bit MinHash permutation space, so the
    * estimator doesn't saturate at 2^31 distinct shingles) per source.
    * With n_sk = k the distinct estimate is the classic unbiased
    * (k-1)·2^60 / h_(k); with n_sk < k the sketch IS the distinct set and
    * the count is exact. A pair's union sketch is the bottom-k of the two
    * sketches' union (a KMV closure property), and the intersection comes
    * from inclusion-exclusion clamped at 0. Relative error ~ 1/sqrt(k).
    *
    * Determinism (the quantize-before-compare contract): h_(k) is an exact
    * integer; (k-1)·2^60 is a power-of-two-scaled double literal (exact);
    * the estimate is ONE exactly-rounded quotient floored to a bigint, and
    * every downstream combination (inclusion-exclusion, the Jaccard ratio's
    * one-product-one-quotient shape) runs on those integers — the oracle
    * replays the whole matrix bit-for-bit.
    *
    * Output: (source_x, source_y, est_x, est_y, est_union, est_inter,
    * jaccard_micro) for unordered pairs x before y (NULL source first —
    * a real group, the q95 lesson), ordered the same way. A source whose
    * documents are all shorter than `shingleK` tokens has no shingles and
    * no row.
    *
    * Scale shape: corpus-scale work is ONE map-only shingle-hash pass plus
    * ONE (source, h) distinct shuffle (map-side partial dedup). Bottom-k
    * extraction is two-level — row_number within (source, h mod `buckets`)
    * capped at k, then within source over the <= buckets*k survivors —
    * never a corpus-wide window (q94's lemma); the result is independent
    * of `buckets`. The pair stage (self-join, union re-rank, estimates)
    * runs entirely on the <= nSources*k-row sketch table.
    */
  def kmvOverlapMatrix(df: DataFrame, k: Int = 256, shingleK: Int = 3,
                       buckets: Int = 32, textCol: String = "text",
                       srcCol: String = "source",
                       scope: CacheScope = CacheScope.default): DataFrame = {
    require(k >= 2, "KMV needs k >= 2 for the (k-1)/h_(k) estimator")
    require(buckets >= 1, "need at least one prune bucket")
    // native fused tokenize→window→join→md5 expression: the exploded
    // slice/array_join form carried the full token array into every
    // window row and hashed interpreted; values are bit-identical
    // ([[graft.functions.ShingleMd5Hashes]] — same joined bytes, same md5)
    val hashes = df
      .select(col(srcCol).as("source"),
        explode(org.apache.spark.sql.graft.bridge.column(
          graft.functions.ShingleMd5Hashes(
            org.apache.spark.sql.graft.bridge.expression(col(textCol)),
            shingleK))).as("h"))
    val dist = hashes.distinct()
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("bucket")).orderBy(col("h"))
    val wSource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    // registered: the sketch feeds the per-source estimates AND both
    // sides of the pair-merge union — uncached, the shingle explode +
    // distinct + two rank windows would run once per consumer
    val sketch = scope.register(dist
      .withColumn("bucket", col("h") % lit(buckets.toLong))
      .withColumn("rb", row_number().over(wBucket)).filter(col("rb") <= k)
      .withColumn("rn", row_number().over(wSource)).filter(col("rn") <= k)
      .select(col("source"), col("h")))
    // exact power-of-two-scaled numerator: (k-1) * 2^60
    val numer = (k - 1).toDouble * 1152921504606846976.0
    def estCol(n: Column, kth: Column): Column =
      when(n < k, n).otherwise(
        floor(lit(numer) / kth.cast("double")).cast("long"))
    val perSource = sketch.groupBy(col("source"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
      .select(col("source"), estCol(col("n_sk"), col("kth")).as("est"))
    val ea = perSource.select(col("source").as("sx"), col("est").as("est_x"))
    val eb = perSource.select(col("source").as("sy"), col("est").as("est_y"))
    // unordered pairs, NULL first (same normalization as dupLeakageMatrix)
    val pairs = ea.join(eb,
      (col("sx").isNull && col("sy").isNotNull) ||
        (col("sx").isNotNull && col("sy").isNotNull && col("sx") < col("sy")))
    // renamed sketch copies dodge the shared-lineage ambiguity (q110 lesson);
    // the pair frame (<= nSources^2 rows) broadcasts into both merge joins
    val skx = sketch.select(col("source").as("kx"), col("h"))
    val sky = sketch.select(col("source").as("ky"), col("h"))
    val pairKeys = broadcast(pairs.select(col("sx"), col("sy")))
    val merged = pairKeys.join(skx, col("sx") <=> col("kx"))
      .select(col("sx"), col("sy"), col("h"))
      .unionByName(
        pairKeys.join(sky, col("sy") <=> col("ky"))
          .select(col("sx"), col("sy"), col("h")))
      .distinct()
    val wPair = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sx"), col("sy")).orderBy(col("h"))
    val unionEst = merged
      .withColumn("rn", row_number().over(wPair)).filter(col("rn") <= k)
      .groupBy(col("sx"), col("sy"))
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("kth"))
      .select(col("sx").as("ux"), col("sy").as("uy"),
        estCol(col("n_u"), col("kth")).as("est_union"))
    val inter = greatest(lit(0L), col("est_x") + col("est_y") - col("est_union"))
    pairs.join(broadcast(unionEst),
        col("sx") <=> col("ux") && col("sy") <=> col("uy"))
      .select(col("sx").as("source_x"), col("sy").as("source_y"),
        col("est_x"), col("est_y"), col("est_union"), inter.as("est_inter"))
      .withColumn("jaccard_micro",
        floor((lit(1e6) * col("est_inter").cast("double"))
          / col("est_union").cast("double")).cast("long"))
      .orderBy(col("source_x").asc_nulls_first, col("source_y").asc_nulls_first)
  }

  /** Corpus-wide duplicate-LINE removal (the C4 / RefinedWeb line-dedup
    * rule): split every document on `delim`, count each exact line's
    * occurrences across the WHOLE corpus, and rewrite each document with
    * the lines occurring ≥ `minDf` times removed. Navigation chrome,
    * cookie banners, boilerplate headers and licence blocks repeat across
    * pages verbatim and survive document-level dedup untouched — striking
    * them at the LINE level is the standard cleaning step between exact-doc
    * and fuzzy dedup ([[exactDedupSummary]] keeps one copy of a duplicated
    * DOC; this keeps zero copies of a duplicated LINE, everywhere,
    * including its first occurrence — the C4 rule). Output one row per
    * document: (doc_id, clean_text, n_lines, n_removed) — clean_text keeps
    * the surviving lines in original order joined by `delim` ('' when
    * every line was boilerplate).
    *
    * Counting keys on the 60-bit md5 line hash ([[DetHash.md5Hash60]]),
    * not the line text, so the corpus-scale count shuffle carries 8-byte
    * keys (collision odds ~n²/2^61 — negligible below ~10^8 distinct
    * lines, and a collision only over-removes a line, never corrupts one).
    *
    * Scale shape: three corpus-scale shuffles — the (h) line count
    * (map-side combinable, bounded by DISTINCT lines), the (h) flag join
    * of lines against the hot-hash set, and the (doc_id) regroup that
    * rebuilds the text. Per-group state is one document's own line list
    * (the row-size bound every per-doc op already lives under); no
    * corpus-wide window, no collect, no pair enumeration.
    */
  def dedupLines(documents: DataFrame, minDf: Long = 2,
                 idCol: String = "doc_id", textCol: String = "text",
                 delim: String = "\n"): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf would remove every line")
    val lines = linesOf(documents, idCol, textCol, delim)
    val hot = lines.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("h"), lit(1L).as("dup"))
    rewriteLines(lines, hot, delim)
  }

  /** [[dedupLines]] served from a PERSISTED line-frequency table (h, df)
    * — the (line-hash → corpus occurrence count) state that
    * [[graft.streaming.StreamingEvents.lineDfIngest]] maintains across
    * micro-batches. Strikes every line whose CORPUS-WIDE df (as recorded
    * in the table, which may cover far more than `documents`) reaches
    * `minDf` — the production shape: the df table is built once over the
    * full corpus (or kept live by the streaming counter) and any slice,
    * delta or later batch is rewritten against it without re-counting.
    * With `dfTable` = the counts of exactly `documents`, output ==
    * [[dedupLines]] (StreamingSpec asserts this round-trip).
    */
  def dedupLinesFromIndex(documents: DataFrame, dfTable: DataFrame,
                          minDf: Long = 2, idCol: String = "doc_id",
                          textCol: String = "text",
                          delim: String = "\n"): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf would remove every line")
    val hot = dfTable.filter(col("df") >= minDf)
      .select(col("h"), lit(1L).as("dup"))
    rewriteLines(linesOf(documents, idCol, textCol, delim), hot, delim)
  }

  /** One row per (doc, line position): the exploded line table with the
    * 60-bit md5 line hash both [[dedupLines]] paths key on. */
  private def linesOf(documents: DataFrame, idCol: String, textCol: String,
                      delim: String): DataFrame =
    documents.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("pos", "line")))
      .withColumn("h", DetHash.md5Hash60(col("line")))

  private def rewriteLines(lines: DataFrame, hot: DataFrame,
                           delim: String): DataFrame =
    lines.join(hot, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        // collect_list skips the nulls when() leaves for removed lines;
        // array_sort on (pos, line) structs restores original order
        array_join(transform(
          array_sort(collect_list(when(col("dup").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), delim).as("clean_text"))
      .select(col("doc_id"), col("clean_text"), col("n_lines"),
        col("n_removed"))
}
