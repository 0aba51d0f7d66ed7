package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.sources.Tables

/** Property and golden tests for the relational + LLM-pipeline operator
  * tiers, over small synthetic frames and the sf0.001 testdata.
  */
class OpsSpec extends SparkTestBase {

  import spark.implicits._

  private def docsDf = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"), // near dup (1 token)
    (3L, "completely different content with no overlap at all here"),
    (4L, "tiny"), // < 3 tokens: no shingles
    (5L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
  ).toDF("doc_id", "text")

  // ---- dedup ----

  test("exact dedup: min-id winner per content group") {
    val summary = DedupOps.exactDedupSummary(docsDf).collect()
    assert(summary.length === 5) // 6 docs, one dup pair
    val dupGroup = summary.find(_.getLong(2) === 2L).get
    assert(dupGroup.getLong(1) === 0L) // keep_id = min(0, 1)
    assert(DedupOps.exactDedup(docsDf).count() === 5)
  }

  test("shingle hashes: deterministic, dup docs get identical sets, <k-token docs drop") {
    val sets = DedupOps.shingleHashSets(docsDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(!sets.contains(4L)) // "tiny" has no 3-shingle
    assert(sets(0L) === sets(1L))
    assert(sets(0L) !== sets(3L))
    // near-dup shares most shingles
    val inter = sets(0L).intersect(sets(2L)).size.toDouble
    val union = sets(0L).union(sets(2L)).size.toDouble
    assert(inter / union > 0.3 && inter / union < 1.0)
    // values are in the permutation field [0, P)
    assert(sets.values.flatten.forall(h => h >= 0 && h < DetHash.P))
  }

  test("jaccardPairs: exact jaccard values, threshold respected, symmetric input order") {
    val pairs = DedupOps.jaccardPairs(docsDf, minJaccard = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((0L, 1L)) === 1.0) // exact dup
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(pairs.values.forall(j => j >= 0.1 && j <= 1.0))
    assert(!pairs.keys.exists { case (a, b) => a >= b }) // a < b ordering
  }

  test("jaccardPairsPrefix: equals the full inverted-index result (exact recall lemma)") {
    // high-threshold path must produce the identical pair set and values
    Seq(0.5, 0.8).foreach { t =>
      val full = DedupOps.jaccardPairs(docsDf, minJaccard = t, maxDf = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val pref = DedupOps.jaccardPairsPrefix(docsDf, minJaccard = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(pref === full, s"prefix-filtered pairs diverge at J=$t")
    }
    // and on the sf0.001 documents table
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val full = DedupOps.jaccardPairs(docs, minJaccard = 0.5, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = DedupOps.jaccardPairsPrefix(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref === full)
    assert(full.nonEmpty) // fixture sanity: duplicates exist at J>=0.5
  }

  test("jaccardPairsPrefix: maxDf caps pathological prefix postings, neutral otherwise") {
    // mass-duplicated corpus: every duplicate's prefix is identical, so one
    // prefix token's posting list holds all 12 docs — the O(df²) hazard
    val dup = (0L until 12L).map(i => (i, "the same exact duplicated text again and again"))
      .toDF("doc_id", "text")
    val scope = CacheScope()
    val uncapped = DedupOps.jaccardPairsPrefix(dup, minJaccard = 0.8, scope = scope)
    assert(uncapped.count() === 12L * 11L / 2L)
    // cap below the duplicate-cluster size: every shared prefix token is
    // over the cap → pairs dropped (the documented recall trade)
    val capped = DedupOps.jaccardPairsPrefix(dup, minJaccard = 0.8, maxDf = 5L, scope = scope)
    assert(capped.count() === 0L)
    // on a normal corpus the cap never engages: same pairs either way
    val loose = DedupOps.jaccardPairsPrefix(docsDf, minJaccard = 0.8, maxDf = 5L, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = DedupOps.jaccardPairsPrefix(docsDf, minJaccard = 0.8, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === full)
    scope.release()
  }

  test("charEntropyReport: exact centibits on known distributions, map-only") {
    val docs = Seq(
      (0L, "aaaaaaaaaa"),              // one symbol: H = 0
      (1L, "abababababab"),            // two equiprobable: H = 1 bit
      (2L, "abcdabcdabcdabcd"),        // four equiprobable: H = 2 bits
      (3L, ""),                        // empty: all-zero row, flagged
      (4L, "The quick brown fox jumps over the lazy dog repeatedly today.")
    ).toDF("doc_id", "text")
    val rows = TextOps.charEntropyReport(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows(0L) === ((10, 1, 0L, true)))
    assert(rows(1L) === ((12, 2, 100L, true)))
    assert(rows(2L) === ((16, 4, 200L, true)))
    assert(rows(3L) === ((0, 0, 0L, true)))
    // natural text: entropy ≈ 4 bits/char, over the 3.0-bit boilerplate bar
    val text4 = "The quick brown fox jumps over the lazy dog repeatedly today."
    val (n4, d4, e4, low4) = rows(4L)
    assert(n4 === text4.length && d4 > 15 && e4 > 300L && !low4)
    // cross-check the centibit floor against a driver-side exact compute
    val counts = text4.groupBy(identity).view.mapValues(_.length.toDouble).values
    val n = text4.length.toDouble
    val h = (math.log(n) - counts.map(c => c * math.log(c)).sum / n) / math.log(2.0)
    assert(e4 === math.floor(100.0 * h).toLong)
    // shuffle-free: the report is a pure projection over the scan
    val plan = TextOps.charEntropyReport(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  private def editBrute(df: org.apache.spark.sql.DataFrame, d: Int): Map[(Long, Long), Int] = {
    val t = df.select(col("doc_id").as("id"), col("text").as("t"))
    t.select(col("id").as("a"), col("t").as("ta"))
      .join(t.select(col("id").as("b"), col("t").as("tb")), col("a") < col("b"))
      .select(col("a"), col("b"), levenshtein(col("ta"), col("tb")).as("dist"))
      .filter(col("dist") <= d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
  }

  test("editDistancePairs: equals brute-force levenshtein join (exact recall lemma)") {
    // a corpus built to stress every leg: exact dups (dist 0), typo-level
    // near dups, degenerate repetitive docs (1 distinct gram at any
    // length), tiny docs below q chars, and unrelated text
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),   // dist 0 to 0
      (2L, "the quick brown fox jumps over the lazy dogs"),  // dist 1
      (3L, "teh quick brown fox jmups over the lazy dog"),   // transposed typos
      (4L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),                // 1 distinct gram
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaabb"),                // near dup of 4
      (6L, "ab"),                                            // < q chars: no grams
      (7L, "abc"),                                           // dist 1 to 6
      (8L, "completely unrelated content lives over here now"),
      (9L, "the quick brown fox vaults over the lazy dog")   // dist 5 to 0 (jumps->vaults)
    ).toDF("doc_id", "text")
    Seq(2, 5).foreach { d =>
      val scope = CacheScope()
      val got = DedupOps.editDistancePairs(docs, maxDist = d, scope = scope)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(got === editBrute(docs, d), s"edit-distance pairs diverge at d=$d")
      scope.release()
    }
    // and on the sf0.001 documents table
    val sf = Tables(spark, SparkTestBase.sf001, "documents")
    val scope = CacheScope()
    val got = DedupOps.editDistancePairs(sf, maxDist = 8, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val brute = editBrute(sf, 8)
    assert(got === brute)
    assert(brute.nonEmpty) // fixture sanity: near-identical docs exist
    assert(got.values.forall(v => v >= 0 && v <= 8))
    scope.release()
  }

  test("editDistanceClusters: version chains close transitively; summary keeps min id") {
    // 10~11 (1 edit) and 11~12 (2 edits) but 10~12 is 3 edits: the chain
    // must still collapse to one component under transitive closure
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dogs"),
      (12L, "the quick brown fox jumps over the hazy dogs!"),
      (13L, "something else entirely unrelated to the rest")
    ).toDF("doc_id", "text")
    val scope = CacheScope()
    val pairs = DedupOps.editDistancePairs(docs, maxDist = 2, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L), (11L, 12L)))
    val cc = DedupOps.editDistanceClusters(docs, maxDist = 2, scope = scope)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
    val sum = DedupOps.editDedupSummary(docs, maxDist = 2, scope = scope)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sum === Map(10L -> 3L, 13L -> 1L))
    scope.release()
  }

  test("snapshotDiff: added/removed/changed/unchanged partition the id union") {
    val old = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val neu = Seq((2L, "two"), (3L, "three revised"), (4L, "four")).toDF("doc_id", "text")
    val got = RelationalOps.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // digests carried: null exactly on the missing side
    val dg = RelationalOps.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(2)), Option(r.getString(3))))).toMap
    assert(dg(1L)._2.isEmpty && dg(1L)._1.nonEmpty)
    assert(dg(4L)._1.isEmpty && dg(4L)._2.nonEmpty)
    assert(dg(2L)._1 === dg(2L)._2)
    assert(dg(3L)._1 !== dg(3L)._2)
  }

  test("madQualityOutliers: junk doc flagged, MAD-0 degenerate source, driver-side median cross-check") {
    // four naturals with IDENTICAL quality stats (11 distinct tokens,
    // exactly one stopword hit each) so their deviations are 0 and the
    // MAD is 0 -> only the junk doc can flag
    val natural = Seq(
      "the quick brown fox jumps over one lazy dog near here",
      "a bright red balloon floats above tall green trees today everywhere",
      "an old sailor tells long stories about distant stormy seas nightly",
      "this garden grows bright flowers during warm summer months quite happily",
      "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa") // junk
    val dup = Seq.fill(4)("the same exact duplicated text again and again") :+
      "an entirely different document in the degenerate source today"
    val docs = (natural.zipWithIndex.map { case (t, i) => (i.toLong, "a", t) } ++
      dup.zipWithIndex.map { case (t, i) => (100L + i, "b", t) })
      .toDF("doc_id", "source", "text")
    val scope = CacheScope()
    val rows = TextOps.madQualityOutliers(docs, k = 3, scope = scope).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getBoolean(6)))).toMap
    // source a: only the repeated-token junk doc is a MAD outlier
    assert(rows(4L)._5 === true)
    assert((0L to 3L).forall(i => !rows(i)._5))
    // dev is literally |q - med| and the median matches a driver-side compute
    val aQ = (0L to 4L).map(i => rows(i)._1).sorted
    val aMed = (aQ(2).toDouble) // odd n: middle value
    assert((0L to 4L).forall(i => rows(i)._2 === aMed &&
      rows(i)._4 === math.abs(rows(i)._1 - aMed)))
    // source b: 4 identical docs -> MAD 0; the different doc flags, twins don't
    assert(rows(104L)._5 === true && rows(104L)._3 === 0.0)
    assert((100L to 103L).forall(i => !rows(i)._5))
    scope.release()
  }

  test("connectedComponents: path graph + isolated pair + singleton, logarithmic rounds") {
    // a 32-vertex path is the worst case for plain min-propagation (31
    // rounds); pointer jumping must converge well inside maxIter=25
    val pathEdges = (0L until 31L).map(i => (i, i + 1))
    val edges = (pathEdges ++ Seq((40L, 41L))).toDF("a", "b")
    val verts = ((0L to 31L) ++ Seq(40L, 41L, 50L)).toDF("id")
    val comp = GraphOps.connectedComponents(edges, verts).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 31L).foreach(v => assert(comp(v) === 0L, s"vertex $v"))
    assert(comp(40L) === 40L && comp(41L) === 40L)
    assert(comp(50L) === 50L) // singleton maps to itself
    assert(comp.size === 35)
  }

  test("triangleCounts/triangleStats: golden census on triangle+chain+K4, noise-normalized") {
    // one triangle (1,2,3) with a pendant (1,8), a 4-path (4,5,6,7), and a
    // K4 (10..13); raw pair list carries a reversed duplicate and a
    // self-loop that normalization must collapse/drop
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (2L, 1L), (3L, 3L), (1L, 8L),
      (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)
    ).toDF("a", "b")
    val per = GraphOps.triangleCounts(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle corners count 1; K4 corners sit in 3 triangles each; the
    // chain, the pendant, and every other vertex report 0 (not absent)
    assert(per === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 0L,
      4L -> 0L, 5L -> 0L, 6L -> 0L, 7L -> 0L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
    val g = GraphOps.triangleStats(pairs).collect()(0)
    assert(g.getAs[Long]("n_vertices") === 12L)
    assert(g.getAs[Long]("n_edges") === 13L)
    // wedges = sum d(d-1)/2: triangle part 3+1+1+0, chain 0+1+1+0, K4 4*3
    assert(g.getAs[Long]("n_wedges") === 19L)
    assert(g.getAs[Long]("n_triangles") === 5L)
    // transitivity 3*5/19 micro-quantized with integer division
    assert(g.getAs[Long]("global_cc_micro") === 3000000L * 5 / 19)

    // per-cluster census over the same graph: three components with
    // hand-computed V/E/T/density/transitivity each
    val cen = GraphOps.clusterCensus(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // triangle+pendant {1,2,3,8}: E=4, T=1, wedges=5, density 2*4/12,
    // transitivity 3*1/5
    assert(cen(1L) === ((4L, 4L, 1L, 666666L, 600000L)))
    // chain {4,5,6,7}: E=3, T=0, wedges=2, density 2*3/12
    assert(cen(4L) === ((4L, 3L, 0L, 500000L, 0L)))
    // K4 {10..13}: E=6, T=4, wedges=12 — density and transitivity exactly 1
    assert(cen(10L) === ((4L, 6L, 4L, 1000000L, 1000000L)))
    assert(cen.size === 3)
  }

  test("trussEdges: 3-truss drops bridges/chains, k=4 peels the pendant triangle, non-convergence throws") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (1L, 8L),
      (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)
    ).toDF("a", "b")
    val t3 = GraphOps.trussEdges(pairs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // triangle edges survive with support 1, K4 edges with 2; the pendant
    // (1,8) and the whole chain peel away
    assert(t3 === Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L,
      (10L, 11L) -> 2L, (10L, 12L) -> 2L, (10L, 13L) -> 2L,
      (11L, 12L) -> 2L, (11L, 13L) -> 2L, (12L, 13L) -> 2L))

    // k=4 on K4 + a triangle hanging off vertex 13: the hang-off edges
    // have support 1 < 2 and peel; (12,13) keeps support 2 inside the K4
    val hang = pairs.where(col("a") >= 10)
      .unionByName(Seq((13L, 20L), (13L, 21L), (20L, 21L)).toDF("a", "b"))
    val t4 = GraphOps.trussEdges(hang, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t4 === Set((10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L)))

    // zero peel rounds on a graph with weak edges: the fixpoint assert
    // must throw, never return a non-truss silently
    intercept[IllegalStateException] {
      GraphOps.trussEdges(pairs, k = 3, rounds = 0).collect()
    }

    // the dedup-effect delta on the same graph: plain closure strikes 9
    // of 12 members (3 clusters), the 3-truss strikes 5 of 7 (the pendant
    // and the chain — 5 docs — rest on uncorroborated edges and survive)
    val eff = GraphOps.trussDedupEffect(pairs, k = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(eff("closure") === ((13L, 3L, 12L, 4L, 9L)))
    assert(eff("truss3") === ((9L, 2L, 7L, 4L, 5L)))
  }

  test("trussDedupEffect: int ids from 2^30 up to near 2^31 keep the two schemes apart") {
    val edges = Seq((1, 2), (2, 3), (1, 3), (1, 8), (4, 5), (5, 6), (6, 7),
      (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13))
    // the parity tag doubles each id: in int arithmetic these would wrap
    Seq(1 << 30, Int.MaxValue - 20).foreach { base =>
      val pairs = edges.map { case (a, b) => (base + a, base + b) }.toDF("a", "b")
      assert(pairs.schema.map(_.dataType.typeName) === Seq("integer", "integer"))
      val eff = GraphOps.trussDedupEffect(pairs, k = 3).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(eff("closure") === ((13L, 3L, 12L, 4L, 9L)), s"base $base")
      assert(eff("truss3") === ((9L, 2L, 7L, 4L, 5L)), s"base $base")
    }
  }

  test("graph operators return frames whose every checkpoint is materialized") {
    import org.apache.spark.sql.execution.LogicalRDD
    // the graphs of the CC and truss tests above: the path + isolated pair
    // + singleton, and the triangle + pendant + chain + K4 pair list
    val path = ((0L until 31L).map(i => (i, i + 1)) :+ ((40L, 41L))).toDF("a", "b")
    val pathV = ((0L to 31L) ++ Seq(40L, 41L, 50L)).toDF("id")
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (1L, 8L),
      (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)
    ).toDF("a", "b")
    val pairsV = pairs.select(col("a").as("id"))
      .union(pairs.select(col("b").as("id"))).distinct()
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "cc, propagation converges" ->
        (() => GraphOps.connectedComponents(pairs, pairsV)),
      "cc, star phase" ->
        (() => GraphOps.connectedComponents(path, pathV, propRounds = 1)),
      "cc, propRounds = 0" ->
        (() => GraphOps.connectedComponents(path, pathV, propRounds = 0)),
      "incrementalComponents" -> (() => GraphOps.incrementalComponents(
        GraphOps.connectedComponents(pairs, pairsV),
        Seq((8L, 4L), (60L, 61L)).toDF("a", "b"), Seq(60L, 61L).toDF("id"))),
      "trussEdges" -> (() => GraphOps.trussEdges(pairs)),
      "trussDedupEffect" -> (() => GraphOps.trussDedupEffect(pairs)))
    val pending = cases.flatMap { case (name, run) =>
      val leaves = run().queryExecution.logical.collect {
        case r: LogicalRDD => r.rdd
      }
      assert(leaves.nonEmpty, name)
      val n = leaves.count(!_.isCheckpointed)
      if (n > 0) Some(s"$name: $n of ${leaves.size}") else None
    }
    assert(pending.isEmpty, s"unmaterialized checkpoints returned: $pending")
  }

  test("transitionMatrix: per-user consecutive pairs, row-normalized micro probabilities") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // u1: a->b->a->c ; u2: b->a ; u3: singleton (no transitions).
    // rows: a->b 1, b->a 2, a->c 1 => from a: b 1/2, c 1/2; from b: a 2/2
    val events = Seq(
      (1L, "a", ts(10), 1L), (1L, "b", ts(20), 2L), (1L, "a", ts(30), 3L),
      (1L, "c", ts(40), 4L),
      (2L, "b", ts(10), 5L), (2L, "a", ts(25), 6L),
      (3L, "c", ts(99), 7L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val m = EventOps.transitionMatrix(events).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(("a", "b")) === ((1L, 2L, 500000L)))
    assert(m(("a", "c")) === ((1L, 2L, 500000L)))
    assert(m(("b", "a")) === ((2L, 2L, 1000000L)))
    assert(m.size === 3)
  }

  test("canonicalDedupSummary: case/space/punct variants collapse, real edits don't") {
    val docs = Seq(
      (1L, "The quick brown fox!"),
      (2L, "the   quick brown fox"),
      (3L, "THE QUICK, BROWN FOX"),
      (4L, "the quick brown foxes"), // a real edit — must NOT collapse
      (5L, "unrelated entirely")
    ).toDF("doc_id", "text")
    val g = DedupOps.canonicalDedupSummary(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g === Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
    // the canonical form itself: punctuation separates, never concatenates
    val c = docs.filter(col("doc_id") === 1)
      .select(DedupOps.canonicalText(col("text"))).head().getString(0)
    assert(c === "the quick brown fox")
  }

  test("sortedNeighborhoodPairs: prefix-adjacent near-dup verified, unrelated neighbor rejected") {
    // canonical sort order: docs 1,2 share the 8-char prefix (tie broken
    // by id), doc 3 sorts last; w=1 candidates are (1,2) and (2,3)
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delt"),
      (3L, "zzz completely different thing here")
    ).toDF("doc_id", "text")
    val scope = CacheScope()
    val pairs = DedupOps.sortedNeighborhoodPairs(docs, w = 1,
        minJaccard = 0.1, scope = scope).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,2): shingles {abg,bgd} vs {abg,bg'} share 1 of 3; (2,3) shares 0
    assert(pairs === Map((1L, 2L) -> 1L))
    // key order: space(0) < digits < letters, shorter = zero-padded
    val ks = Seq("a", "a a", "aa", "a1", "zz")
      .toDF("t").select(DedupOps.snmKey(col("t")))
      .collect().map(_.getLong(0))
    assert(ks(0) < ks(1) && ks(1) < ks(3) && ks(3) < ks(2) && ks(2) < ks(4),
      s"key order broken: ${ks.mkString(",")}")
    // partition invariance of the two-level position construction
    val re = DedupOps.sortedNeighborhoodPairs(docs.repartition(7), w = 1,
        minJaccard = 0.1, scope = scope).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(re === Set((1L, 2L)))
    scope.release()
  }

  test("clusterSafeSplit: whole component shares one split; singletons follow their own id") {
    val rows = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val asg = RelationalOps.clusterSafeSplit(rows, pairs, Seq(0.8, 0.1, 0.1))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(asg.size === 6)
    // the chained component lands wholly in comp 1's split — even though
    // (1,3) was never a pair
    assert(Set(asg(1L), asg(2L), asg(3L)).size === 1)
    assert(asg(1L)._1 === 1L)
    // singletons are their own component, split by their own id — same
    // bucket the plain hashSplit would give them on the comp column
    Seq(4L, 5L, 6L).foreach(v => assert(asg(v)._1 === v))
  }

  test("cohortRetention: fixed epoch-week cohorts, offset-0 identity, micro fractions") {
    // week grid is 7-day epoch buckets; week w timestamp = w*604800s + eps
    def ts(week: Long, s: Long) =
      new java.sql.Timestamp((week * 604800L + s) * 1000L)
    // users 1,2,3 first appear week 1000 (u3 twice that week — distinct
    // collapses it); u1 returns weeks 1001+1002, u2 only 1002; user 4 is
    // a week-1001 cohort of one, back in 1002
    val events = Seq(
      (1L, ts(1000, 10)), (2L, ts(1000, 20)), (3L, ts(1000, 30)),
      (3L, ts(1000, 40)),
      (1L, ts(1001, 10)), (4L, ts(1001, 50)),
      (1L, ts(1002, 10)), (2L, ts(1002, 99)), (4L, ts(1002, 7))
    ).toDF("user_id", "ts")
    val m = EventOps.cohortRetention(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m((1000L, 0L)) === ((3L, 3L, 1000000L)))
    assert(m((1000L, 1L)) === ((1L, 3L, 333333L)))
    assert(m((1000L, 2L)) === ((2L, 3L, 666666L)))
    assert(m((1001L, 0L)) === ((1L, 1L, 1000000L)))
    assert(m((1001L, 1L)) === ((1L, 1L, 1000000L)))
    assert(m.size === 5)
  }

  test("minHashVerifiedPairsSplit: subset of the un-split form, identical docs unsplittable, no-op above max occupancy") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val scope = CacheScope()
    val unsplit = DedupOps.minHashVerifiedPairs(docs, minJaccard = 0.8,
      scope = scope).collect().map(key).toSet
    // aggressive split: candidates (and so verified pairs) only shrink
    val split = DedupOps.minHashVerifiedPairsSplit(docs, minJaccard = 0.8,
      splitOccupancy = 1, scope = scope).collect()
    val splitKeys = split.map(key).toSet
    assert(splitKeys.subsetOf(unsplit),
      "splitting may only REMOVE pairs, never invent them")
    assert(splitKeys.nonEmpty, "fixture must keep real pairs")
    split.foreach(r => assert(r.getDouble(3) >= 0.8, "exact verify"))
    // threshold above every bucket's occupancy: identical to un-split
    val noop = DedupOps.minHashVerifiedPairsSplit(docs, minJaccard = 0.8,
      splitOccupancy = 1000000L, scope = scope).collect().map(key).toSet
    assert(noop === unsplit, "no bucket over threshold -> no change")
    // IDENTICAL docs minhash identically at every permutation index —
    // no extension function separates them, and under the post-split cap
    // they all survive (the rescue semantics)
    val ident = (1L to 30L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val identPairs = DedupOps.minHashVerifiedPairsSplit(ident,
      minJaccard = 0.8, splitOccupancy = 2, scope = scope)
      .collect().map(key).toSet
    assert(identPairs.size === 30 * 29 / 2,
      "an unsplittable identical-doc bucket keeps all its pairs")
    scope.release()
  }

  test("split banded index: huge threshold == v3 probe, aggressive split only removes matches, frozen-layout append, dropped sub-cells stay closed") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val scope = CacheScope()
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no cell over threshold -> identical layout and identical report to
    // the v3 index at the same parameters
    DedupOps.ensureBandedIndex(corpus, "t_split_v3", corpusTag = "a",
      scope = scope)
    val v3 = asMap(DedupOps.probeBandedIndex(batch, "t_split_v3",
      scope = scope))
    DedupOps.ensureBandedIndexSplit(corpus, "t_split_noop", corpusTag = "a",
      splitOccupancy = 1000000L, scope = scope)
    assert(asMap(DedupOps.probeBandedIndexSplit(batch, "t_split_noop",
      scope = scope)) === v3, "no split cell -> v3-identical report")
    // aggressive split: candidates only shrink, so per-id matches <= v3
    DedupOps.ensureBandedIndexSplit(corpus, "t_split_agg", corpusTag = "a",
      splitOccupancy = 1, scope = scope)
    val agg = asMap(DedupOps.probeBandedIndexSplit(batch, "t_split_agg",
      scope = scope))
    assert(agg.keySet === v3.keySet, "one report row per batch doc")
    agg.foreach { case (id, n) => assert(n <= v3(id),
      s"split may only remove matches (doc $id)") }
    // FROZEN-layout append: fold half the corpus in after the ensure and
    // the probe must equal the direct computation at the ENSURE-frozen
    // cells (bandSplitFrozenMinhash over the combined sets)
    val half1 = corpus.filter(col("doc_id") % 2 === 1)
    val half2 = corpus.filter(col("doc_id") % 2 === 0)
    DedupOps.ensureBandedIndexSplit(half1, "t_split_app", corpusTag = "h1",
      splitOccupancy = 2, scope = scope)
    DedupOps.appendToBandedIndexSplit(half2, "t_split_app", scope = scope)
    val got = asMap(DedupOps.probeBandedIndexSplit(batch, "t_split_app",
      scope = scope))
    val cells = graft.sources.Bucketing.freshTable(spark, "t_split_app_split")
      .localCheckpoint(true)
    val setsAll = DedupOps.shingleHashSets(corpus, scope = scope)
    val setsB = DedupOps.shingleHashSets(batch, scope = scope)
    val bandsAll = DedupOps.bandSplitFrozenMinhash(setsAll, cells, 32, 16)
    val bandsB = DedupOps.bandSplitFrozenMinhash(setsB, cells, 32, 16)
    val cand = bandsB.select(col("band_idx"), col("band_sig"), col("sub"),
        col("id").as("a"))
      .join(bandsAll.select(col("band_idx"), col("band_sig"), col("sub"),
          col("id").as("b")),
        Seq("band_idx", "band_sig", "sub"))
      .select(col("a"), col("b")).distinct()
    val sa = setsB.select(col("id").as("a"), col("hs").as("hsa"), col("sz").as("sza"))
    val sb = setsAll.select(col("id").as("b"), col("hs").as("hsb"), col("sz").as("szb"))
    val expected = batch.select(col("doc_id"))
      .join(cand.join(sa, Seq("a")).join(sb, Seq("b"))
        .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
        .filter(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")) >= 0.8)
        .groupBy(col("a")).agg(count(lit(1)).as("n_matches"))
        .withColumnRenamed("a", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matches"))
    assert(got === asMap(expected.select(col("doc_id"), col("n_matches"))),
      "append == direct recompute at the ensure-frozen layout")
    // a sub-cell the BUILD dropped stays closed: identical docs past the
    // cap drop at write (unsplittable) and appended twins must not enter
    val ident = (1L to 10L).map(i => (i, "omega psi chi phi upsilon tau"))
      .toDF("doc_id", "text")
    DedupOps.ensureBandedIndexSplit(ident, "t_split_drop", corpusTag = "i",
      maxBucket = 2, splitOccupancy = 2, scope = scope)
    assert(spark.table("t_split_drop_bands").isEmpty,
      "identical cluster past the cap drops whole (unsplittable)")
    val more = Seq((100L, "omega psi chi phi upsilon tau")).toDF("doc_id", "text")
    DedupOps.appendToBandedIndexSplit(more, "t_split_drop", scope = scope)
    assert(spark.table("t_split_drop_bands").isEmpty,
      "dropped sub-cells are closed to appends")
    scope.release()
  }

  test("bandedSplitLayoutDrift: fresh build has zero outgrown, appends surface as drift, re-ensure closes it") {
    val scope = CacheScope()
    // base: a 2-doc duplicate cluster (AT the threshold — not frozen), a
    // 3-doc identical cluster (over it — frozen AND saturated: no
    // extension minhash separates identical docs), two distinct docs
    val textA = "alpha beta gamma delta epsilon"
    val textB = "omega psi chi phi upsilon"
    val base = Seq(
      (1L, textA), (2L, textA),
      (6L, textB), (7L, textB), (8L, textB),
      (3L, "one quick brown fox jumps"),
      (4L, "an entirely different sentence here")).toDF("doc_id", "text")
    DedupOps.ensureBandedIndexSplit(base, "t_drift", corpusTag = "b",
      splitOccupancy = 2, scope = scope)
    // (n_cells, n_rows, n_frozen, n_outgrown, max_outgrown, n_saturated)
    def audit() = DedupOps.bandedSplitLayoutDrift(spark, "t_drift")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val fresh = audit()
    assert(fresh.values.map(_._4).sum === 0L,
      "a fresh build froze every over-threshold cell")
    assert(fresh.values.map(_._3).sum >= 16L,
      "the identical 3-doc cluster freezes its cell in every band")
    assert(fresh.values.map(_._6).sum >= 16L,
      "identical docs stay together under the extension minhash (saturated)")
    assert(fresh.values.map(_._2).sum ===
      spark.table("t_drift_bands").count(), "n_rows == the live band rows")
    // a batch twin of textA pushes its (so far occupancy-2, un-frozen)
    // cells over the threshold — the frozen layout cannot split them
    DedupOps.appendToBandedIndexSplit(
      Seq((10L, textA)).toDF("doc_id", "text"), "t_drift", scope = scope)
    val drifted = audit()
    assert(drifted.values.map(_._4).sum >= 16L,
      "appends past the threshold must surface as outgrown cells")
    assert(drifted.values.map(_._5).max >= 3L,
      "max_outgrown reports the hot cell's live occupancy")
    assert(fresh.values.map(_._6).sum === drifted.values.map(_._6).sum,
      "saturation is a frozen-layout fact — this append moves outgrowth only")
    // the audit's actionable loop: re-ensure at the grown corpus (a new
    // tag) re-freezes the layout and the drift returns to zero
    DedupOps.ensureBandedIndexSplit(
      base.unionByName(Seq((10L, textA)).toDF("doc_id", "text")),
      "t_drift", corpusTag = "full", splitOccupancy = 2, scope = scope)
    val refrozen = audit()
    assert(refrozen.values.map(_._4).sum === 0L,
      "re-ensure under the grown corpus closes the drift")
    assert(refrozen.values.map(_._3).sum >= 32L,
      "both clusters are frozen after the re-freeze")
    scope.release()
  }

  test("nearDupClusters: transitive A~B~C chain lands in one cluster without an A~C pair") {
    // 20-token docs differing in 1-2 tokens: J(A,B)=17/19, J(B,C)=16/20,
    // J(A,C)=15/21 < 0.8 — so the PAIR list has no (A,C) edge and only the
    // transitive closure puts all three in one cluster
    val w = (1 to 20).map(i => s"w$i")
    val a = w.mkString(" ")
    val b = (w.init :+ "xx").mkString(" ")
    val c = (Seq("yy", "zz") ++ w.drop(2).init :+ "xx").mkString(" ")
    val scope = CacheScope()
    val docs = Seq((0L, a), (1L, b), (2L, c), (3L, "unrelated content entirely different"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minHashVerifiedPairs(docs, minJaccard = 0.8, scope = scope)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (1L, 2L))) // no direct (0,2) edge
    val comp = DedupOps.nearDupClusters(docs, minJaccard = 0.8, scope = scope)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
    val summary = DedupOps.nearDedupSummary(docs, minJaccard = 0.8, scope = scope)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(summary === Map(0L -> 3L, 3L -> 1L))
    scope.release()
  }

  test("lshTuningSweep: found ⊆ exact, recall monotone in bands, full at b=16") {
    val scope = CacheScope()
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val rows = DedupOps.lshTuningSweep(docs, scope = scope)
      .orderBy(col("bands")).collect()
    assert(rows.length === 5)
    val nExact = rows.head.getLong(2)
    assert(nExact > 0)
    rows.foreach { r =>
      assert(r.getLong(2) === nExact)          // one shared exact set
      assert(r.getLong(4) >= 0L)               // found ⊆ exact
      assert(r.getLong(4) === nExact - r.getLong(3))
    }
    // perm prefixes nest across k, so candidate sets (and recall) are
    // monotone non-decreasing in bands; at b=16 the miss probability is
    // ~8e-8 — recall must be exactly 1 on this corpus
    val recalls = rows.map(_.getLong(5))
    assert(recalls.zip(recalls.tail).forall { case (lo, hi) => lo <= hi })
    assert(recalls.last === 1000000L)
    // theoretical curve is monotone too and hits 10^6 at b=16
    val theo = rows.map(_.getLong(6))
    assert(theo.zip(theo.tail).forall { case (lo, hi) => lo <= hi })
    assert(theo.last === 1000000L)
    scope.release()
  }

  test("topTerms: ratio-idf ranks rare terms over common ones, exact score formula") {
    val docs = Seq(
      (0L, "apple banana banana shared"),
      (1L, "cherry shared shared shared"),
      (2L, "durian shared apple apple")
    ).toDF("doc_id", "text")
    val out = TextOps.topTerms(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // doc 0: banana tf=2 df=1 → 2*(3/1)=6; apple tf=1 df=2 → 1.5; shared tf=1 df=3 → 1
    assert(out((0L, 1)) === (("banana", 2L, 1L, 6.0)))
    assert(out((0L, 2)) === (("apple", 1L, 2L, 1.5)))
    // doc 1: shared tf=3 df=3 → 3; cherry tf=1 df=1 → 3 — tie broken by term asc
    assert(out((1L, 1)) === (("cherry", 1L, 1L, 3.0)))
    assert(out((1L, 2)) === (("shared", 3L, 3L, 3.0)))
    // doc 2: apple tf=2 df=2 → 3; durian tf=1 df=1 → 3 — term asc again
    assert(out((2L, 1)) === (("apple", 2L, 2L, 3.0)))
    assert(out((2L, 2)) === (("durian", 1L, 1L, 3.0)))
  }

  test("contaminationReport: full, partial, and zero overlap; short docs excluded") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // identical to bench 10
      (2L, "the quick brown fox leaps over the lazy dog"), // partial overlap
      (4L, "completely different content with no overlap at all here"),
      (6L, "ab") // < 3 tokens: no shingles, must be absent
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val scope = CacheScope()
    val rep = DedupOps.contaminationReport(corpus, bench, scope = scope).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    scope.release()
    assert(rep(0L)._3 === 1.0) // exact duplicate of a benchmark doc
    assert(rep(2L)._3 > 0.0 && rep(2L)._3 < 1.0) // one-token edit
    assert(rep(4L) === ((7L, 0L, 0.0))) // disjoint (9 tokens → 7 shingles)
    assert(!rep.contains(6L)) // no shingles
    // n_seen counts distinct shingles, never exceeds the doc's set size
    assert(rep.values.forall { case (sz, seen, _) => seen <= sz })
  }

  test("hashSplit: deterministic assignment, weights respected, zero shuffle") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val a = RelationalOps.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    val b = RelationalOps.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    // pure function of (salt, id): two invocations agree row-for-row
    assert(a.select("doc_id", "split").collect().toSet
      === b.select("doc_id", "split").collect().toSet)
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(counts.keySet === Set(0, 1, 2))
    assert(math.abs(counts(0) / n - 0.8) < 0.1, s"train fraction ${counts(0) / n}")
    // a different salt reshuffles assignments
    val salted = RelationalOps.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1), salt = "v2")
      .select("doc_id", "split").collect().toSet
    assert(salted !== a.select("doc_id", "split").collect().toSet)
    // split is a projection: no exchange in the plan
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))
    // a weight below the 1-bp granularity would yield a silently empty
    // split — must fail fast instead
    assertThrows[IllegalArgumentException] {
      RelationalOps.hashSplit(docs, "doc_id", Seq(1.0, 1e-5))
    }
  }

  test("buildVocab/encodeTokens: dense reproducible ids, OOV=-1, round-trip") {
    val docs = Seq(
      (0L, "b b b a a c"),
      (1L, "a c c d")
    ).toDF("doc_id", "text")
    val vocab = TextOps.buildVocab(docs, size = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // freqs: b=3, a=3, c=3, d=1 → top-3 by (freq desc, term asc): a, b, c
    assert(vocab === Map("a" -> ((3L, 0)), "b" -> ((3L, 1)), "c" -> ((3L, 2))))
    val enc = TextOps.encodeTokens(docs, TextOps.buildVocab(docs, size = 3))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getInt(3))))
      .toMap
    assert(enc((0L, 0)) === (("b", 1)) && enc((0L, 3)) === (("a", 0)))
    assert(enc((1L, 3)) === (("d", -1))) // OOV
    assert(enc.size === 10) // every token position encoded exactly once
    // per-doc sequences reassemble in position order
    val seq0 = enc.toSeq.filter(_._1._1 == 0L).sortBy(_._1._2).map(_._2._2)
    assert(seq0 === Seq(1, 1, 1, 0, 0, 2))
  }

  test("minhash pipeline: verified pairs equal brute-force high-jaccard pairs") {
    val verified = DedupOps.minHashVerifiedPairs(docsDf, minJaccard = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = DedupOps.jaccardPairs(docsDf, minJaccard = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified === brute)
    assert(verified.contains((0L, 1L)))
  }

  test("minhash signatures: dup docs identical, sig values bounded") {
    val sigs = DedupOps.minHashSigs(DedupOps.shingleHashRows(docsDf), k = 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i)))
    val byId = sigs.toMap
    assert(byId(0L) === byId(1L))
    assert(byId.values.flatten.forall(s => s >= 0 && s < DetHash.P))
    // native banded expression: bit-parity with the aggregate signatures
    // packed the same way (r=2: s_{2b}·P + s_{2b+1})
    val native = DedupOps.bandedSigsNative(DedupOps.shingleHashSets(docsDf), 8, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = byId.flatMap { case (id, s) =>
      (0 until 4).map(b => (id, b, s(2 * b) * DetHash.P + s(2 * b + 1)))
    }.toSet
    assert(native === expected)
    // SQL surface (GraftExtensions), including the literal-arg contract
    DedupOps.shingleHashSets(docsDf).createOrReplaceTempView("mh_sets")
    val viaSql = spark.sql(
        "SELECT id, posexplode(minhash_bands(hs, 8, 4)) AS (band_idx, band_sig) FROM mh_sets")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaSql === expected)
    // empty set -> NULL signature (not a garbage MaxValue packing)
    assert(spark.sql("SELECT minhash_bands(CAST(array() AS ARRAY<BIGINT>), 8, 4)")
      .head().isNullAt(0))
    // full parity: the aggregate-form candidate pipeline == the native one
    val aggCand = DedupOps.minHashCandidates(
        DedupOps.minHashSigs(DedupOps.shingleHashRows(docsDf)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val natCand = DedupOps.minHashVerifiedPairs(docsDf, minJaccard = 0.0)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aggCand === natCand)
  }

  test("simhash: identical docs → identical fingerprints; near-dups closer than unrelated") {
    val fps = DedupOps.simHash60(DedupOps.shingleHashRows(docsDf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) === fps(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0L), fps(2L)) < ham(fps(0L), fps(3L)))
    assert(fps.values.forall(f => (f >> 60) === 0L)) // 60-bit domain
  }

  test("simHashCol: row-local projection form == shuffle-form simHash60, on toy and real docs") {
    def parity(docs: org.apache.spark.sql.DataFrame): Unit = {
      val rowLocal = docs.select(col("doc_id").as("id"),
        DedupOps.simHashCol(col("text")).as("fp_local"))
      val viaShuffle = DedupOps.simHash60(DedupOps.shingleHashRows(docs))
      val joined = rowLocal.join(viaShuffle, Seq("id")).collect()
      assert(joined.nonEmpty)
      joined.foreach(r => assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)}"))
    }
    parity(docsDf)
    parity(Tables(spark, SparkTestBase.sf001, "documents"))
    // <k-token docs: NULL fingerprint (same domain as the shuffle form,
    // which simply has no row for them)
    val tiny = docsDf.filter(col("doc_id") === 4L)
      .select(DedupOps.simHashCol(col("text"))).head()
    assert(tiny.isNullAt(0))
  }

  test("simhash banded near-dup: equals brute force at maxDist (pigeonhole recall)") {
    val fps = DedupOps.simHash60(DedupOps.shingleHashRows(docsDf)).cache()
    val banded = DedupOps.simHashNearDupPairs(fps, maxDist = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val local = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, fa) <- local; (b, fb) <- local if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 5
    } yield (a, b, h)).toSet
    assert(banded === brute)
    assert(banded.exists { case (a, b, h) => a == 0L && b == 1L && h == 0 })
    fps.unpersist()
  }

  test("simhash banded near-dup: maxBucket cap bounds a pathological same-band corpus") {
    // mass-duplicated corpus: every doc identical → one fingerprint → every
    // band bucket holds all n docs. Uncapped that is n·(n-1)/2 pairs per
    // band; with the cap the hot buckets are dropped and the plan stays
    // bounded (documented recall caveat: these pairs are reported only by
    // the uncapped run).
    val dup = (0L until 12L).map(i => (i, "the same exact duplicated text again and again"))
      .toDF("doc_id", "text")
    val fps = DedupOps.simHash60(DedupOps.shingleHashRows(dup)).cache()
    val uncapped = DedupOps.simHashNearDupPairs(fps, maxDist = 5, maxBucket = 10000).count()
    assert(uncapped === 12L * 11L / 2L)
    val capped = DedupOps.simHashNearDupPairs(fps, maxDist = 5, maxBucket = 5)
    assert(capped.count() === 0L) // all buckets over the cap → dropped
    // on a normal corpus the cap never engages: same output either way
    val normalFps = DedupOps.simHash60(DedupOps.shingleHashRows(docsDf))
    assert(DedupOps.simHashNearDupPairs(normalFps, maxBucket = 5).collect().toSet
      === DedupOps.simHashNearDupPairs(normalFps, maxBucket = 10000).collect().toSet)
    fps.unpersist()
    graft.ops.CacheScope.default.release()
  }

  // ---- similarity ----

  private def vecsDf = {
    val base = Array(1.0f, 0.0f, 0.0f, 0.0f)
    Seq(
      (0L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.01f, 0.0f)), // ~parallel to 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.01f)), // orthogonal
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.01f)) // anti-parallel
    ).toDF("vec_id", "embedding")
  }

  test("dot: HOF, unrolled, and native-expression forms agree bit-for-bit") {
    val df = vecsDf.select(
      SimilarityOps.dot($"embedding", $"embedding").as("d"),
      SimilarityOps.dotU($"embedding", $"embedding", 4).as("du"),
      graft.functions.VectorExpressions.dotF($"embedding", $"embedding").as("df_"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(0) === r.getDouble(2)) // custom Expression parity
    }
    // SQL surface via SparkSessionExtensions (spark.sql.extensions=graft.GraftExtensions)
    val viaSql = spark.sql(
      "SELECT dot_f(CAST(array(1.0, 2.0) AS array<float>), CAST(array(3.0, 4.0) AS array<float>))")
      .head().getDouble(0)
    assert(viaSql === 11.0)
  }

  test("cosinePairsExact: finds parallel pair, excludes orthogonal/anti, exact values") {
    val pairs = SimilarityOps.cosinePairsExact(vecsDf, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet === Set((0L, 1L)))
    assert(pairs((0L, 1L)) > 0.99)
  }

  test("cosinePairsExact: fails fast past its driver-collect row bound") {
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.cosinePairsExact(vecsDf, 0.5, maxRows = 2L).collect()
    }
    assert(e.getMessage.contains("cosinePairsBlocked"))
  }

  test("cosinePairsBlocked: bit-identical to the driver-collect exact pairs, no collect") {
    // a corpus large enough that blocks are non-trivial and pairs span blocks
    val rnd = new scala.util.Random(11)
    val data = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(_ => rnd.nextFloat() * 2f - 1f))
    }
    val df = data.toDF("vec_id", "embedding")
    def toSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = toSet(SimilarityOps.cosinePairsExact(df, 0.2))
    val blocked = toSet(SimilarityOps.cosinePairsBlocked(df, 0.2, nBlocks = 7))
    assert(blocked.keySet === exact.keySet)
    // bit-identical cosines (same left-to-right double accumulation)
    exact.foreach { case (k, v) => assert(blocked(k) === v, s"pair $k") }
    assert(exact.nonEmpty)
  }

  test("bruteForceTopK: correct ranking with deterministic tiebreak") {
    val top = SimilarityOps.bruteForceTopK(vecsDf, vecsDf.filter($"vec_id" === 0), 3, dim = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.length === 3)
    assert(top.head === ((1L, 1))) // most similar first
    assert(top.last._1 === 3L) // anti-parallel last
  }

  test("lshTopK: reported cosines are true cosines; ranks consistent") {
    val rows = SimilarityOps.lshTopK(vecsDf, k = 2, nPlanes = 4, nTables = 8, dim = 4)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1.0 - 1e-12 && r.getDouble(2) <= 1.0 + 1e-12)
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 2)
    }
    // with 8 tables, the near-parallel pair (0,1) must collide in some bucket
    assert(rows.exists(r => r.getLong(0) === 0L && r.getLong(1) === 1L))
  }

  test("ivfTopKDistributed: high recall vs brute force on clustered vectors") {
    // 3 tight clusters of 8 vectors in 4-d: IVF with nProbe=2 must recover
    // each vector's true top-3 (same-cluster members dominate)
    val rnd = new scala.util.Random(7)
    val data = (0 until 24).map { i =>
      val c = i % 3
      val base = Array.tabulate(4)(j => if (j == c) 10.0f else 0.0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.1f))
    }
    val df = data.toDF("vec_id", "embedding")
    val brute = SimilarityOps.bruteForceTopK(df, df, 3, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the index is never collected to the driver — only the centroids travel
    val ivfDist = SimilarityOps.ivfTopKDistributed(df, k = 3, nCells = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallDist = ivfDist.intersect(brute).size.toDouble / brute.size
    assert(recallDist > 0.95, s"distributed IVF recall $recallDist")
  }

  test("srpNearDupPairs: exact precision, high recall on true near-dups") {
    // 3 tight clusters: in-cluster cosines ~1 (θ→0 ⇒ SRP collision prob →1),
    // cross-cluster cosines ~0
    val rnd = new scala.util.Random(13)
    val data = (0 until 24).map { i =>
      val c = i % 3
      val base = Array.tabulate(6)(j => if (j == c) 10.0f else 0.0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val df = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.srpNearDupPairs(df, 0.9, nPlanes = 8, nTables = 6, dim = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truth = SimilarityOps.cosinePairsBlocked(df, 0.9, nBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision EXACT: every reported pair is a true pair with the true cosine
    got.foreach { case (k, v) => assert(truth(k) === v, s"pair $k") }
    // recall near 1 for θ→0 pairs
    val recall = got.size.toDouble / truth.size
    assert(recall > 0.9, s"SRP near-dup recall $recall")
  }

  test("lshTopKForQueries: row-identical to lshTopK filtered to the subset") {
    val all = SimilarityOps.lshTopK(vecsDf, k = 2, nPlanes = 4,
        nTables = 8, dim = 4)
      .filter($"query_id" < 2).collect().toSet
    val sub = SimilarityOps.lshTopKForQueries(vecsDf,
        vecsDf.filter($"vec_id" < 2), k = 2, nPlanes = 4, nTables = 8,
        dim = 4)
      .collect().toSet
    assert(sub === all, "query-subset form must reproduce lshTopK's rows")
    assert(sub.nonEmpty)
  }

  test("lshTopK: tiny maxBucket drops hot buckets but the plan stays bounded") {
    // maxBucket=1 drops every bucket with >= 2 members → no candidates
    val none = SimilarityOps.lshTopK(vecsDf, k = 2, nPlanes = 4, nTables = 8,
      dim = 4, maxBucket = 1)
    assert(none.count() === 0L)
  }

  test("DetHash: md5Hash60 matches driver-side md5; planeComponent in [-1,1)") {
    // native expression == composed conv/substring/md5 form, bit for bit
    val both = docsDf.select(
      DetHash.md5Hash60(col("text")).as("native"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() === 0L)
    val h = docsDf.select(DetHash.md5Hash60(lit("hello")).as("h")).head().getLong(0)
    assert(h === java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16))
    val comps = for (p <- 0 until 4; j <- 0 until 8) yield DetHash.planeComponent(p, j)
    assert(comps.forall(c => c >= -1.0 && c < 1.0))
    assert(comps.distinct.size === comps.size) // no accidental collisions
    assert(DetHash.minHashPerms(4) === DetHash.minHashPerms(4)) // stable
  }

  // ---- text ----

  test("textStats/langId/quality on synthetic docs") {
    val stats = TextOps.textStats(docsDf).filter($"doc_id" === 0).head
    assert(stats.getAs[Int]("n_tokens") === 9)
    assert(stats.getAs[Int]("n_distinct_tokens") === 8) // "the" twice
    assert(stats.getAs[Double]("stopword_ratio") > 0.2)
    val langs = docsDf.select($"doc_id", TextOps.langId($"text").as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(0L) === "en")
    assert(langs(5L) === "und") // lorem ipsum hits no vocab
    val q = TextOps.withQualityScore(docsDf).select($"quality").collect()
    assert(q.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0))
    // BPE-ish pretokenizer: contraction splits off, punctuation separates
    val bpe = Seq((0L, "it's a test, really")).toDF("doc_id", "text")
      .select(TextOps.bpeTokenCount($"text").as("n")).head.getInt(0)
    assert(bpe === 6) // [it]['s][ a][ test][,][ really]
  }

  // ---- text: masking / bigrams / quality filter ----

  test("maskText: PII patterns redact and count; clean text untouched") {
    val df = Seq(
      (0L, "contact bob@example.com or 10.0.0.1 now"),
      (1L, "card 4111111111111111 compromised"),
      (2L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val r = TextOps.maskText(df, TextOps.piiPatterns).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(r(0L) === (("contact [MASK] or [MASK] now", 2)))
    assert(r(1L) === (("card [MASK] compromised", 1)))
    assert(r(2L) === (("nothing sensitive here", 0)))
  }

  test("bigramCounts: exact counts, tiebreak order, single-token docs contribute nothing") {
    val df = Seq(
      (0L, "a b a b"), // "a b" x2, "b a" x1
      (1L, "a b"),
      (2L, "solo")
    ).toDF("doc_id", "text")
    val top = TextOps.bigramCounts(df, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top === Seq(("a b", 3L), ("b a", 1L)))
    // minCount drops the tail before the top-k
    assert(TextOps.bigramCounts(df, k = 10, minCount = 2).collect()
      .map(_.getString(0)).toSeq === Seq("a b"))
  }

  test("qualityFilter: keeps top keepFrac per language, deterministic under ties") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val kept = TextOps.qualityFilter(docs, keepFrac = 0.5)
    val keptByLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // percent_rank <= 0.5 keeps floor(n/2)+1-ish rows; bounded either side
    totalByLang.foreach { case (lang, n) =>
      val k = keptByLang(lang)
      assert(k >= n / 2 && k <= n / 2 + 1, s"$lang kept $k of $n")
    }
    // every kept doc scores >= every dropped doc of the same language
    val minKept = kept.groupBy("lang").agg(min("quality").as("mn"))
    val dropped = TextOps.withQualityScore(docs)
      .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val worstKeptVsBestDropped = dropped.groupBy("lang")
      .agg(max("quality").as("mx")).join(minKept, "lang")
      .filter(col("mx") > col("mn")).count()
    assert(worstKeptVsBestDropped === 0)
  }

  test("hapaxFraction: shared bigrams score 0, unique text scores 1") {
    val docs = Seq(
      (0L, "a b c d"),        // bigrams a-b, b-c, c-d
      (1L, "a b c d"),        // exact dup → all its bigrams have freq 2
      (2L, "x y z w")         // unique → all hapax
    ).toDF("doc_id", "text")
    val r = TextOps.hapaxFraction(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(0L) === ((3L, 0L, 0.0)))
    assert(r(1L) === ((3L, 0L, 0.0)))
    assert(r(2L) === ((3L, 3L, 1.0)))
  }

  // ---- events / sessionization ----

  test("hourlyAnomalies: spike fires only against a trailing baseline") {
    val ts = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // type "a": 3 calm hours of 1 event, then an hour with 5 events
    val rows = (Seq(10, 11, 12).map(h => (h.toLong, ts(h), 1L, "a", 0.0))
      ++ Seq.tabulate(5)(i => (100L + i, ts(13), 1L, "a", 0.0)))
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventOps.hourlyAnomalies(events).collect()
      .map(x => x.getTimestamp(1) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getInt(5)))).toMap
    val hr = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    assert(r(hr(10)) === ((1L, 0L, 0L, 0))) // empty baseline never flags
    assert(r(hr(11)) === ((1L, 1L, 1L, 0)))
    assert(r(hr(12)) === ((1L, 2L, 2L, 0)))
    assert(r(hr(13)) === ((5L, 3L, 3L, 1))) // 5·3 > 2·3 → spike
  }

  test("funnelSummary: conversion only when click precedes purchase within one session") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 7L, "click", 0.0), (2L, ts(3), 7L, "purchase", 0.0), // converted
      (3L, ts(30), 7L, "purchase", 0.0), (4L, ts(33), 7L, "click", 0.0), // wrong order
      (5L, ts(0), 8L, "click", 0.0), // click only
      (6L, ts(0), 9L, "purchase", 0.0) // purchase only
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventOps.funnelSummary(events).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(7L) === ((2L, 1L)))
    assert(r(8L) === ((1L, 0L)))
    assert(r(9L) === ((1L, 0L)))
  }

  test("interEventGaps/gapSummary: exact per-user lag gaps") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 7L, "a", 1.0), (2L, ts(5), 7L, "a", 1.0),
      (3L, ts(30), 7L, "a", 1.0),
      (4L, ts(0), 8L, "b", 1.0) // single event → no gaps
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val rows = EventOps.gapSummary(events).collect().map(r => r.getLong(0) -> r).toMap
    val us = 60L * 1000000L
    val r7 = rows(7L)
    assert((r7.getLong(1), r7.getLong(2), r7.getLong(4), r7.getDouble(5))
      === ((2L, 30L * us, 25L * us, 15.0 * us)))
    // single-event user: zero gaps, null aggregates
    assert(rows(8L).getLong(1) === 0L && rows(8L).isNullAt(2))
  }

  test("sessionization: gap splits sessions per user, summary aggregates") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 7L, "a", 1.0), (2L, ts(5), 7L, "a", 1.0), // session 1
      (3L, ts(30), 7L, "a", 1.0), // gap > 10 min → session 2
      (4L, ts(0), 8L, "b", 1.0) // other user
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val sessions = EventOps.sessionize(events).collect()
    assert(sessions.length === 3)
    val summary = EventOps.sessionSummary(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(summary(7L) === ((2L, 3L)))
    assert(summary(8L) === ((1L, 1L)))
  }

  test("tumbling/sliding windows: sliding emits width/slide copies of each event") {
    val events = Tables(spark, SparkTestBase.sf001, "events")
    val n = events.count()
    val tumbling = EventOps.tumbling(events).agg(sum("n")).head.getLong(0)
    val sliding = EventOps.sliding(events).agg(sum("n")).head.getLong(0)
    assert(tumbling === n)
    assert(sliding === 2 * n) // 1h window / 30min slide
  }

  // ---- multimodal ----

  test("multimodal: sniff formats via magic bytes, chunking") {
    val payloads = docsDf.select($"doc_id",
      MultimodalOps.demoPayload($"doc_id", $"text").as("p"))
    val meta = MultimodalOps.payloadMeta(payloads, "p").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("format"), r.getAs[Int]("n_bytes"), r.getAs[Int]("n_chunks"))))
      .toMap
    assert(meta(0L)._1 === "png")
    assert(meta(1L)._1 === "jpeg")
    assert(meta(2L)._1 === "gif")
    assert(meta(3L)._1 === "bin")
    meta.values.foreach { case (_, bytes, chunks) =>
      assert(chunks === math.ceil(bytes / 256.0).toInt)
    }
    // chunks reassemble to the payload
    val r0 = payloads.select(MultimodalOps.chunks($"p", 7).as("cs"), $"p").head
    val joined = r0.getSeq[Array[Byte]](0).toArray.flatten
    assert(java.util.Arrays.equals(joined, r0.getAs[Array[Byte]](1)))
  }

  // fixture encoder for the video-frame tests
  private def encodeImage(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(im, fmt, bos), s"JDK must ship a $fmt writer")
    bos.toByteArray
  }

  test("decodeVideoFrames: real MJPEG-AVI decode — header facts, frame features, sampling; junk drops") {
    // hand-assembled spec-conformant AVI: RIFF('AVI ' LIST(hdrl avih)
    // LIST(movi 00dc*)) with 4 JPEG frames — scene cut at frame 2
    def le32(v: Long): Array[Byte] = Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)
    def chunk(fcc: String, data: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] =
        if (data.length % 2 == 1) Array(0.toByte) else Array.empty
      fcc.getBytes("US-ASCII") ++ le32(data.length.toLong) ++ data ++ pad
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ payload)
    def gray(v: Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      im
    }
    val jpegs = Seq(gray(100), gray(100), gray(200), gray(100))
      .map(encodeImage(_, "jpg"))
    // avih fixed offsets: µs/frame@0 (25 fps), totalFrames@16, w@32, h@36
    val avih = le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(4) ++
      le32(0) ++ le32(1) ++ le32(0) ++ le32(8) ++ le32(8) ++
      Array.fill[Byte](16)(0)
    val movi = list("movi", jpegs.flatMap(chunk("00dc", _)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih)) ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
    val df = Seq((0L, avi), (1L, "not a video".getBytes("UTF-8")),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "p")
    // the payload sniffs as the RIFF container family (q31's dispatch)
    assert(df.filter($"doc_id" === 0)
      .select(MultimodalOps.sniffFormat($"p")).head.getString(0) === "riff")
    val out = MultimodalOps.decodeVideoFrames(df, "doc_id", "p").collect()
      .map(r => r.getInt(1) -> r).toMap
    assert(out.keySet === Set(0, 1, 2, 3), "4 frames; junk payloads drop")
    out.values.foreach { r =>
      assert(r.getLong(0) === 0L && r.getLong(2) === 4L &&
        r.getLong(3) === 4L && r.getLong(4) === 40000L &&
        r.getLong(5) === 160L && r.getInt(6) === 8 && r.getInt(7) === 8)
    }
    // DCT DC term tracks frame luma (uniform v → DC ≈ v·gridN, JPEG-lossy)
    def dc(i: Int) = out(i).getSeq[Float](8).head
    assert(math.abs(dc(0) - 3200.0) < 100, s"frame 0 DC ${dc(0)}")
    assert(dc(2) > dc(0) + 2000, "the scene cut must move the feature")
    // byte-identical frames decode to bit-identical embeddings — the
    // frame near-dup / scene-change chain is exact
    assert(out(0).getSeq[Float](8) === out(1).getSeq[Float](8))
    // everyN thins at true frame boundaries
    assert(MultimodalOps.decodeVideoFrames(df, "doc_id", "p", everyN = 2)
      .collect().map(_.getInt(1)).sorted.toSeq === Seq(0, 2))
    // a TRUNCATED payload (partial download cutting into the last frame
    // chunk) keeps the surviving frames, and the header's declared_frames
    // exposes the shortfall: n_frames < declared_frames
    val cut = avi.dropRight(jpegs.last.length / 2)
    val tr = MultimodalOps.decodeVideoFrames(
      Seq((9L, cut)).toDF("doc_id", "p"), "doc_id", "p").collect()
    assert(tr.nonEmpty && tr.forall(r =>
        r.getLong(2) < 4L && r.getLong(3) === 4L),
      "truncated AVI must report fewer surviving frames than declared")
  }

  test("videoFrames: payload-bearing walk — BMP frames accepted, facts match, pHash composes") {
    // the q203 shape: container walk emits raw frame payloads so any
    // still-image tail (here the integer pHash) runs under a video corpus
    val fx = SparkEntry.aviFixtures.toDF("vid_id", "hex")
      .select(col("vid_id"), unhex(col("hex")).as("payload"))
    val frames = MultimodalOps.videoFrames(fx, "vid_id", "payload")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(frames.keySet === Set((1L, 0), (1L, 1), (2L, 0)))
    // vid 1: both frames survive and match declared; vid 2 declares 5
    // but carries 1 — the truncation signal
    assert(frames((1L, 0)).getAs[Long]("n_frames") === 2L &&
      frames((1L, 0)).getAs[Long]("declared_frames") === 2L)
    assert(frames((2L, 0)).getAs[Long]("n_frames") === 1L &&
      frames((2L, 0)).getAs[Long]("declared_frames") === 5L)
    assert(frames((1L, 0)).getAs[Long]("micros_per_frame") === 40000L)
    // frame_idx is the CONTAINER-ORDER index (sparse under everyN > 1,
    // preserving timestamps); sample_ord is the dense per-video ordinal
    assert(frames.values.forall(r =>
      r.getAs[Long]("sample_ord") === r.getInt(1).toLong),
      "at everyN = 1 the two indexes coincide")
    val thinned = MultimodalOps.videoFrames(fx, "vid_id", "payload",
        everyN = 2)
      .filter(col("vid_id") === 1)
      .select(col("frame_idx"), col("sample_ord"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(thinned === Set((0, 0L)),
      "everyN=2 keeps container index 0 as dense ordinal 0")
    // the extracted frame payloads ARE the BMP fixtures byte-for-byte
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    assert(hex(frames((1L, 0)).getAs[Array[Byte]]("frame")) ===
      SparkEntry.bmpFixtures(0)._2)
    assert(hex(frames((2L, 0)).getAs[Array[Byte]]("frame")) ===
      SparkEntry.bmpFixtures(1)._2)
    // composing phashBits over the frames equals phashBits over the
    // stills — the walk adds nothing to the image math
    val viaVideo = MultimodalOps.phashBits(
        MultimodalOps.videoFrames(fx, "vid_id", "payload")
          .filter(col("vid_id") === 1)
          .select(col("frame_idx").cast("long").as("img_id"), col("frame")),
        "img_id", "frame", gridN = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val viaStills = MultimodalOps.phashBits(
        SparkEntry.bmpFixtures.zipWithIndex
          .map { case (f, i) => (i.toLong, f._2) }.toDF("img_id", "hex")
          .select(col("img_id"), unhex(col("hex")).as("p")),
        "img_id", "p", gridN = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(viaVideo === viaStills)
  }

  test("decodeVideoFrames: MJPEG fixtures — JPEG frames decode at their SOF dims, mixed-codec stream holds order") {
    val fx = SparkEntry.mjpegAviFixtures.toDF("vid_id", "hex")
      .select(col("vid_id"), unhex(col("hex")).as("payload"))
    val out = MultimodalOps.decodeVideoFrames(fx, "vid_id", "payload")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(6), r.getInt(7))).toMap
    // vid 3: two JPEG frames at the fixtures' encoded dims; vid 4: one
    // frame vs 3 declared; vid 5: JPEG, BMP, JPEG in one movi — indexes
    // stay container-ordered across the codec change
    assert(out === Map(
      (3L, 0) -> (8, 6), (3L, 1) -> (5, 7),
      (4L, 0) -> (6, 4),
      (5L, 0) -> (5, 7), (5L, 1) -> (6, 4), (5L, 2) -> (6, 4)))
    val facts = MultimodalOps.decodeVideoFrames(fx, "vid_id", "payload")
      .filter(col("vid_id") === 4).head()
    assert(facts.getAs[Long]("n_frames") === 1L &&
      facts.getAs[Long]("declared_frames") === 3L,
      "truncation fact survives the JPEG path")
  }

  // ---- BPE training ----

  test("trainBpe: hand-computed merge table on the classic corpus; round-trip") {
    // low×5 lower×2 newest×6 widest×3 — the Sennrich worked example.
    // Hand-computed merges with (count desc, lhs asc, rhs asc) tiebreaks:
    //   1 (e,s,9)   es/st tie at 9, "e"<"s"
    //   2 (es,t,9)
    //   3 (l,o,7)   lo/ow tie at 7, "l"<"o"
    //   4 (lo,w,7)
    //   5 (e,w,6)   ew/ne/west tie at 6, "e"<"n"<"w"
    //   6 (ew,est,6)  ewest/newest-prefix tie at 6, "ew"<"n"
    val corpus = Seq(
      (0L, Array.fill(5)("low").mkString(" ") + " " + Array.fill(2)("lower").mkString(" ")),
      (1L, Array.fill(6)("newest").mkString(" ") + " " + Array.fill(3)("widest").mkString(" ")))
      .toDF("doc_id", "text")
    val merges = TextOps.trainBpe(corpus, numMerges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(merges.toSeq === Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L),
      (4, "lo", "w", "low", 7L),
      (5, "e", "w", "ew", 6L),
      (6, "ew", "est", "ewest", 6L)))
    // apply: seen and UNSEEN words segment by replaying the merge chain,
    // and symbols always reassemble to the word (lossless round-trip)
    val pairs = merges.map(m => (m._2, m._3)).toSeq
    val segged = TextOps.applyBpeMerges(
      Seq("newest", "lowest", "low", "widest", "zzz").toDF("w"), pairs)
    val byWord = segged.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byWord("newest") === Seq("n", "ewest")) // merges 5 then 6 both fire
    assert(byWord("lowest") === Seq("low", "est")) // unseen word, learned subwords
    assert(byWord("low") === Seq("low"))
    assert(byWord("zzz") === Seq("z", "z", "z"))
    byWord.foreach { case (w, syms) => assert(syms.mkString("") === w) }
  }

  test("bpeFertility: per-source symbol tallies on the Sennrich corpus") {
    // same corpus split across two sources; with the 6 hand-known merges,
    // segmentations: low→[low](1), lower→[low,e,r](3), newest→[n,ewest](2),
    // widest→[w,id,est]? no — id never merges: widest→[w,i,d,est](4)
    val corpus = Seq(
      (0L, "srcA", Array.fill(5)("low").mkString(" ") + " " + Array.fill(2)("lower").mkString(" ")),
      (1L, "srcB", Array.fill(6)("newest").mkString(" ") + " " + Array.fill(3)("widest").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = TextOps.bpeFertility(corpus, numMerges = 6).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // srcA: 5 low×1 + 2 lower×3 = 11 symbols / 7 words
    // srcB: 6 newest×2 + 3 widest×4 = 24 symbols / 9 words
    assert(out.toSeq === Seq(
      ("srcA", 7L, 11L, 11.0 / 7),
      ("srcB", 9L, 24L, 24.0 / 9)))
  }

  test("trainUnigramLm: hand-computed EM on the Sennrich corpus; golden segmentations; tiebreaks; determinism") {
    // low×5 lower×2 newest×6 widest×3, seedSize=6, maxPieceLen=4, 2 rounds.
    // Hand-computed: multi-char seed top-6 under (cnt desc, piece asc) is
    // es(9) est(9) st(9) we(8) lo(7) low(7) — the 7-tie drops "ow";
    // singles total 79, seed total 128. Round-1 Viterbi under the seed
    // scores: low→[low], lower→[low,e,r], newest→[n,e,w,est],
    // widest→[w,i,d,est]; E-step counts drop every unused piece and
    // round 2 reproduces the same segmentations, so the final model is
    // the 8-piece table below with total 47.
    val corpus = Seq(
      (0L, Array.fill(5)("low").mkString(" ") + " " + Array.fill(2)("lower").mkString(" ")),
      (1L, Array.fill(6)("newest").mkString(" ") + " " + Array.fill(3)("widest").mkString(" ")))
      .toDF("doc_id", "text")
    val model = TextOps.trainUnigramLm(corpus, seedSize = 6, numRounds = 2)
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expCounts = Seq("d" -> 3L, "e" -> 8L, "est" -> 9L, "i" -> 3L,
      "low" -> 7L, "n" -> 6L, "r" -> 2L, "w" -> 9L)
    def llq(c: Long): Long = math.floor(math.log(c / 47.0) * 1e6 + 0.5).toLong
    assert(model.toSeq === expCounts.map { case (p, c) => (p, c, llq(c)) })
    // golden segmentations under the trained model — including the unseen
    // word "lowest", which the learned pieces cover as [low, est], and an
    // out-of-alphabet word falling back to UNK single chars
    val m = model.map(r => (r._1, r._3)).toSeq
    val segged = TextOps.applyUnigramLm(
        Seq("newest", "lowest", "low", "widest", "zzz").toDF("w"), m)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(segged("newest") === Seq("n", "e", "w", "est"))
    assert(segged("lowest") === Seq("low", "est"))
    assert(segged("low") === Seq("low"))
    assert(segged("widest") === Seq("w", "i", "d", "est"))
    assert(segged("zzz") === Seq("z", "z", "z"))
    segged.foreach { case (w, syms) => assert(syms.mkString("") === w) }
    // tiebreaks are total: equal score prefers FEWER pieces ([ab] over
    // [a,b]), then the lexicographically smaller sequence ([a,bc] over
    // [ab,c] at equal score and count)
    val tie = TextOps.applyUnigramLm(Seq("ab", "abc").toDF("w"),
        Seq("a" -> -1000000L, "b" -> -1000000L, "c" -> -1000000L,
          "ab" -> -2000000L, "bc" -> -2000000L))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(tie("ab") === Seq("ab"), "score tie: fewer pieces wins")
    assert(tie("abc") === Seq("a", "bc"), "full tie: lexicographic pieces win")
    // deterministic end to end: retraining yields the identical model
    val again = TextOps.trainUnigramLm(corpus, seedSize = 6, numRounds = 2)
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === model.toSeq)
  }

  test("unigramFertility and the bake-off: hand tallies on the Sennrich corpus") {
    // same trained model as above: low→1, lower→3, newest→4, widest→4
    // srcA: 5·1 + 2·3 = 11 symbols / 7 words; srcB: 6·4 + 3·4 = 36 / 9
    val corpus = Seq(
      (0L, "srcA", Array.fill(5)("low").mkString(" ") + " " + Array.fill(2)("lower").mkString(" ")),
      (1L, "srcB", Array.fill(6)("newest").mkString(" ") + " " + Array.fill(3)("widest").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val uni = TextOps.unigramFertility(corpus, seedSize = 6, numRounds = 2)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(uni.toSeq === Seq(
      ("srcA", 7L, 11L, 11.0 / 7),
      ("srcB", 9L, 36L, 36.0 / 9)))
    // the bake-off stacks all three tokenizers over identical words: BPE's
    // merge table reaches [n,ewest] where unigram pays [n,e,w,est] — the
    // per-source fertility gap is the decision number. WordPiece's
    // hand-computed likelihood merges on this corpus are
    // (i,d) (l,o) (s,t) (lo,w) (w,id) (e,st): newest→[n,e,w,est](4),
    // widest→[wid,est](2) → srcB lands between BPE (24) and unigram (36)
    val cmp = TextOps.tokenizerFertilityComparison(corpus, numMerges = 6,
        seedSize = 6, numRounds = 2)
      .orderBy("tokenizer", "source").collect()
      .map(r => (r.getString(4), r.getString(0), r.getLong(1), r.getLong(2)))
    assert(cmp.toSeq === Seq(
      ("bpe", "srcA", 7L, 11L), ("bpe", "srcB", 9L, 24L),
      ("unigram", "srcA", 7L, 11L), ("unigram", "srcB", 9L, 36L),
      ("wordpiece", "srcA", 7L, 11L), ("wordpiece", "srcB", 9L, 30L)))
  }

  test("trainWordPiece: hand-computed likelihood argmax diverges from BPE; score exact; deterministic") {
    // hug×10 pug×5 pun×12 bun×4 hugs×5 — the HF-course WordPiece corpus.
    // Initial symbol counts: h:15 u:36 g:20 p:17 n:16 b:4 s:5.
    // Pair counts: hu:15 ug:20 pu:17 un:16 bu:4 gs:5.
    // Scores (×10^12, floored): every u-pair = 10^12/36 = 27_777_777_777;
    // gs = 5/(20·5) = 10^12/20 = 50_000_000_000 → round 1 merges (g,s)
    // even though (u,g):20 is the FREQUENCY argmax (BPE's pick) — the
    // divergence that distinguishes the two trainers.
    // Round 2 (g:15, gs:5 now): pairs hu:15 ug:15 pu:17 un:16 bu:4 u·gs:5
    // ALL score 10^12/36 → the pair_count-desc tiebreak picks (p,u):17.
    val corpus = Seq(
      (0L, (Array.fill(10)("hug") ++ Array.fill(5)("pug")).mkString(" ")),
      (1L, (Array.fill(12)("pun") ++ Array.fill(4)("bun")
        ++ Array.fill(5)("hugs")).mkString(" ")))
      .toDF("doc_id", "text")
    val wp = TextOps.trainWordPiece(corpus, numMerges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    assert(wp.toSeq === Seq(
      (1, "g", "s", "gs", 5L, 50000000000L),
      (2, "p", "u", "pu", 17L, 27777777777L)))
    // BPE on the identical corpus picks the frequency argmax instead
    val bpe1 = TextOps.trainBpe(corpus, numMerges = 1).collect()(0)
    assert((bpe1.getString(1), bpe1.getString(2)) === ("u", "g"))
    // retrain determinism (argmax + tiebreaks total) and round-trip: the
    // merge table feeds applyBpeMerges like any other merge chain
    val wp2 = TextOps.trainWordPiece(corpus, numMerges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    assert(wp2.toSeq === wp.toSeq)
    val segged = TextOps.applyBpeMerges(
      Seq("hugs", "pun").toDF("w"), wp.map(m => (m._2, m._3)).toSeq)
    val byWord = segged.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byWord("hugs") === Seq("h", "u", "gs"))
    assert(byWord("pun") === Seq("pu", "n"))
  }

  test("trainBpe merge fold handles runs leftmost-first (the replace-semantics lemma)") {
    // [a,a,a,a] + (a,a) must give [aa,aa], and [a,a,a] must give [aa,a]
    val segged = TextOps.applyBpeMerges(Seq("aaaa", "aaa").toDF("w"), Seq(("a", "a")))
    val byWord = segged.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byWord("aaaa") === Seq("aa", "aa"))
    assert(byWord("aaa") === Seq("aa", "a"))
  }

  // ---- relational odds and ends not covered by the oracle queries ----

  test("unionAccumulate preserves all rows; linearCombo normalizes weights") {
    val parts = Seq(Seq(1, 2).toDF("x"), Seq(3).toDF("x"), Seq(4, 5).toDF("x"))
    assert(RelationalOps.unionAccumulate(parts).count() === 5)
    val lc = Seq((2.0, 4.0)).toDF("a", "b")
      .select(RelationalOps.linearCombo(Seq(col("a") -> 3.0, col("b") -> 1.0)).as("v"))
      .head.getDouble(0)
    assert(lc === (2.0 * 3.0 + 4.0 * 1.0) / 4.0)
  }

  test("topKPerGroup: partitioned ranking, no global sort") {
    val df = Seq(("g1", 3), ("g1", 1), ("g1", 2), ("g2", 9)).toDF("g", "v")
    val top = RelationalOps.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 2).collect()
    assert(top.length === 3)
    assert(!top.exists(r => r.getString(0) == "g1" && r.getInt(1) == 1))
    val plan = RelationalOps.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), "top-k must not globally sort")
  }

  test("JSON props: from_json typed struct agrees with get_json_object path") {
    import org.apache.spark.sql.types._
    val events = Tables(spark, SparkTestBase.sf001, "events")
    val schema = StructType(Seq(StructField("k", LongType)))
    val both = events.select(
      from_json(col("props"), schema).getField("k").as("typed"),
      get_json_object(col("props"), "$.k").cast("long").as("stringly"))
    assert(both.filter(col("typed") =!= col("stringly")).count() === 0L)
    assert(both.filter(col("typed").isNull).count() === 0L)
  }

  test("deterministicShuffle: exact permutation, equals the global-sort rank, partition-invariant") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val out = RelationalOps.deterministicShuffle(docs, "doc_id")
      .select($"doc_id", $"shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.count()
    // a permutation: positions are exactly 0..n-1
    assert(out.values.toSeq.sorted === (0L until n))
    // equals the rank a literal global sort assigns
    val expected = docs.select($"doc_id",
        graft.ops.DetHash.md5Hash60(concat(lit("shuffle|"), $"doc_id".cast("string"))).as("h"))
      .orderBy($"h", $"doc_id").collect().map(_.getLong(0))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    assert(out === expected)
    // invariant under input partitioning (the distributed-rank composition
    // cannot depend on where rows physically live)
    val repart = RelationalOps.deterministicShuffle(docs.repartition(13), "doc_id")
      .select($"doc_id", $"shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart === out)
  }

  test("keepBestDedupSummary: cluster keeps its highest-quality member, not its min id") {
    def words(seed: String, n: Int): String =
      (0 until n).map(i => s"$seed$i").mkString(" ")
    val base = words("tok", 40)
    val docs = Seq(
      (1L, base), // near-dup pair: J ≈ 38/42 ≥ 0.8
      (2L, base + " the of and is"), // same content + stopwords → higher quality
      (7L, words("solo", 30))).toDF("doc_id", "text")
    val quality = TextOps.withQualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    assert(quality(2L) > quality(1L), s"test premise: doc 2 scores higher: $quality")
    val out = DedupOps.keepBestDedupSummary(docs).orderBy("keep_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      (2L, 2L, quality(2L)), // the BETTER copy survives (min-id would keep 1)
      (7L, 1L, quality(7L)))) // singleton keeps itself
    // contrast: the min-id convention keeps doc 1
    val minId = DedupOps.nearDedupSummary(docs).orderBy("keep_id").collect()
      .map(_.getLong(0)).toSeq
    assert(minId === Seq(1L, 7L))
  }

  test("ngramSpanContamination: hand-computed spans, overlap merge, exact-dup full span") {
    val train = Seq((0L, "p q r s")).toDF("doc_id", "text")
    // matches at 3-gram positions 3 (p q r), 4 (q r s), 9 (p q r):
    // 3 and 4 merge (touching ranges), 9 starts a new island
    val eval = Seq(
      (1L, "a b p q r s c d p q r x"),
      (3L, "entirely unrelated tokens with no shared trigram at all"),
      (5L, "p q r s")).toDF("doc_id", "text")
    val out = DedupOps.ngramSpanContamination(train, eval, n = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 3, 6, 2L), // [3..6]: grams at 3 and 4 merged into one span
      (1L, 9, 11, 1L), // isolated hit at 9
      (5L, 1, 4, 2L))) // exact dup: one span covering the whole doc
  }

  test("removeRepeatedSpans: first occurrence survives, later spans cut, text rebuilt") {
    val docs = Seq(
      // trigram "a b c" repeats at positions 1 and 5: tokens 5-7 removed
      (1L, "a b c d a b c e"),
      (2L, "no repeats in this one at all"),
      // back-to-back identical trigrams: positions 1 and 4 → tokens 4-6 cut
      (3L, "x y z x y z"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = TextOps.removeRepeatedSpans(docs, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "a b c d e", 3L),
      (2L, "no repeats in this one at all", 0L),
      (3L, "x y z", 3L),
      (4L, "too short", 0L))) // < n tokens: untouched (normalized)
  }

  test("exactSubstringDedup: global-first occurrence survives, cross-doc copies cut") {
    val docs = Seq(
      (1L, "a b c d a b c e"), // within-doc repeat: tokens 5-7 cut (like q92)
      (2L, "p q a b c r s"), // cross-doc copy of doc 1's "a b c": tokens 3-5 cut
      (3L, "fresh words only live here"),
      (4L, "a b c")).toDF("doc_id", "text") // whole doc = a later copy
    val out = TextOps.exactSubstringDedup(docs, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "a b c d e", 3L),
      (2L, "p q r s", 3L),
      (3L, "fresh words only live here", 0L),
      (4L, "", 3L)))
  }

  test("exactSubstringDedup: keeper is the corpus-global (doc, pos) minimum, not per-doc") {
    // same corpus, ids swapped: the keeper moves with the smaller id
    val docs = Seq((7L, "a b c x"), (2L, "y a b c")).toDF("doc_id", "text")
    val out = TextOps.exactSubstringDedup(docs, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((2L, "y a b c", 0L), (7L, "x", 3L)))
  }

  test("dsirWeights: target-like docs score higher; gram count exact; partition-invariant") {
    val raw = Seq(
      (1L, "alpha beta alpha beta alpha beta", "en"),
      (2L, "gamma delta gamma delta gamma delta", "de"),
      (3L, "alpha beta gamma delta alpha beta", "de"),
      (4L, "alpha", "en")).toDF("doc_id", "text", "lang")
    val target = raw.filter(col("lang") === "en")
    val out = TextOps.dsirWeights(raw, target, buckets = 64)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // unigrams + bigrams: 2n-1 grams for n tokens
    assert(out.map(_._2).toSeq === Seq(11, 11, 11, 1))
    val score = out.map(t => t._1 -> t._3).toMap
    // doc 1 is pure target vocabulary, doc 2 pure non-target: strict order,
    // the mixed doc 3 in between
    assert(score(1L) > score(3L) && score(3L) > score(2L))
    // partitioning must not change a single bit of the integer scores
    val re = TextOps.dsirWeights(raw.repartition(7), target.repartition(3),
        buckets = 64)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(re.toSeq === out.toSeq)
  }

  test("importanceResample: seeded-deterministic, salt-sensitive, tau→0 degenerates to top-k") {
    val scored = (1L to 100L).map(i => (i, i * 37 % 101)).toDF("doc_id", "score_micro")
    val a = TextOps.importanceResample(scored, 10).collect().map(_.getLong(0)).toSeq
    val b = TextOps.importanceResample(scored, 10).collect().map(_.getLong(0)).toSeq
    assert(a === b && a.size === 10)
    val c = TextOps.importanceResample(scored, 10, salt = "other")
      .collect().map(_.getLong(0)).toSeq
    assert(a !== c, "a fresh salt must redraw the sample")
    // τ→0: the score term dominates every Gumbel draw — pure top-k
    val greedy = TextOps.importanceResample(scored, 10, tau = 1e-6)
      .collect().map(_.getLong(0)).toSet
    val topk = scored.orderBy(col("score_micro").desc).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(greedy === topk)
  }

  test("pqSearch: dense ranks, self ties minimal ADC, partition-invariant, recall beats chance") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val out = SimilarityOps.pqSearch(emb, col("vec_id") % 100 === 7, k = 10)
      .orderBy(col("query_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val queries = out.map(_._1).distinct
    assert(queries.nonEmpty)
    // ranks are dense 1..10 and ADC distances non-decreasing; the query's
    // OWN code minimizes every per-subspace LUT entry, so the rank-1
    // distance can never exceed the query's own quantization error
    queries.foreach { q =>
      val rows = out.filter(_._1 == q).sortBy(_._4)
      assert(rows.map(_._4).toSeq === (1 to 10))
      assert(rows.sliding(2).forall(p => p(0)._3 <= p(1)._3))
      rows.find(_._2 == q).foreach(self =>
        assert(rows.head._3 <= self._3, "self ties for the minimal ADC sum"))
    }
    // bit-identical under a different partitioning (integer lattice end to end)
    val re = SimilarityOps.pqSearch(emb.repartition(13), col("vec_id") % 100 === 7, k = 10)
      .orderBy(col("query_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(re.toSeq === out.toSeq)
    // compressed-domain recall@10 vs exact L2 top-10: PQ at 4×8 codes is
    // coarse, but must beat random chance by a wide margin
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val n = vecs.size
    val recalls = queries.map { q =>
      val qv = vecs(q)
      val exact = vecs.toSeq.map { case (id, v) =>
        (id, v.zip(qv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum)
      }.sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
      val got = out.filter(_._1 == q).map(_._2).toSet
      (exact intersect got).size / 10.0
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall > 3.0 * 10.0 / n,
      s"mean ADC recall@10 $meanRecall not above 3x chance (n=$n)")
  }

  test("pqRecallAudit: per-query rows, exact quotient, perfect on a degenerate corpus") {
    val scope = CacheScope()
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val out = SimilarityOps.pqRecallAudit(emb, col("vec_id") % 100 === 7,
        k = 10, scope = scope)
      .orderBy(col("query_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    scope.release()
    assert(out.nonEmpty)
    out.foreach { case (_, hits, micro) =>
      assert(hits >= 1L && hits <= 10L) // self is in both top-10s here
      assert(micro === hits * 100000L)  // (10^6 · hits) div 10, exactly
    }
    // degenerate corpus: every vector identical → ADC and exact L2 both
    // tie everywhere and fall back to the vec_id order → recall exactly 1
    val scope2 = CacheScope()
    val flat = Seq.tabulate(20)(i => (i.toLong, Seq.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val perfect = SimilarityOps.pqRecallAudit(flat, col("vec_id") < 2,
        k = 10, scope = scope2)
      .orderBy(col("query_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    scope2.release()
    assert(perfect.toSeq === Seq((0L, 10L, 1000000L), (1L, 10L, 1000000L)))
  }

  test("hardNegatives: every negative has a different label; self never appears") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = SimilarityOps.hardNegatives(emb, emb.filter(col("vec_id") < 5), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(4)))
    assert(out.nonEmpty)
    out.foreach { case (q, n, nlab, _) =>
      assert(n !== q)
      assert(nlab === labels(n))
      assert(nlab !== labels(q), s"negative $n of query $q shares its label")
    }
    // ranks dense 1..10 per query
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to 10))
    }
  }

  test("zipfDecades: rank-1 term is the corpus max; drops are non-negative and chain") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val out = TextOps.zipfDecades(docs, maxRank = 1000).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(out.head._1 === 1L && out.head._5.isEmpty)
    assert(out.map(_._1).toSeq === out.map(_._1).toSeq.sorted)
    // frequencies non-increasing down the decades; drop = lnf diff exactly
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 <= a._3)
        assert(b._5.contains(a._4 - b._4))
      case _ =>
    }
  }

  test("piiRedact: exact counts and redacted text per PII type; clean text untouched") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val docs = Seq(
      (1L, "contact bob.smith+x@example-site.org or admin@a.co for details"),
      (2L, "server at 10.0.0.1 and 192.168.255.12; call 555-123-4567 or 555.987.6543"),
      (3L, "mixed j.doe@x.org from 8.8.8.8 tel 111-222-3333"),
      (4L, "clean text no pii at all 12345")
    ).toDF("doc_id", "text")
    val out = TextOps.piiRedact(docs).orderBy("doc_id").collect()
    assert(out(0) === Row(1L, 2L, 0L, 0L,
      "contact <EMAIL> or <EMAIL> for details"))
    // dotted phone shares no match with the 4-group IP pattern
    assert(out(1) === Row(2L, 0L, 2L, 2L,
      "server at <IP> and <IP>; call <PHONE> or <PHONE>"))
    assert(out(2) === Row(3L, 1L, 1L, 1L, "mixed <EMAIL> from <IP> tel <PHONE>"))
    assert(out(3) === Row(4L, 0L, 0L, 0L, "clean text no pii at all 12345"))
  }

  test("temperatureMixture: hand-computed sqrt weights, targets and epoch factors") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    // perfect-square token counts make every intermediate exact: sqrt
    // micro 10e6/5e6, denom 15e6, weights 2/3 and 1/3, budget 150 → 100+50
    val docs = Seq(
      (1L, Seq.fill(100)("w").mkString(" "), "a"),
      (2L, Seq.fill(25)("w").mkString(" "), "b")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.temperatureMixture(docs, budgetTokens = 150L).collect()
    assert(out(0) === Row("a", 100L, 10000000L, 666666L, 100L, 1000000L))
    // the small source repeats: 50 targeted of 25 available = 2.0 epochs
    assert(out(1) === Row("b", 25L, 5000000L, 333333L, 50L, 2000000L))
  }

  test("temperatureAssignments: greedy hash prefix, epoch overshoot, bucketBits-invariant") {
    import spark.implicits._
    // a: 4×25 = 100 tokens, b: 1×25; budget 90 → targets 60/30 (√ weights)
    // a: 0 full epochs, rem 60 → greedy prefix = first 3 docs in md5 order
    // (cum pre 0/25/50 < 60; the 3rd overshoots to 75 — by design)
    // b: 1 full epoch, rem 5 → its one doc ALSO in the partial (pre 0 < 5)
    val docs = (Seq.tabulate(4)(i =>
      (i.toLong, Seq.fill(25)("w").mkString(" "), "a")) :+
      (9L, Seq.fill(25)("w").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.temperatureAssignments(docs, budgetTokens = 90L)
      .collect()
    val aRows = out.filter(_.getString(0) == "a")
    val bRow = out.filter(_.getString(0) == "b").head
    assert(aRows.forall(_.getLong(3) === 0L) && bRow.getLong(3) === 1L)
    assert(bRow.getLong(4) === 1L)
    val aPartial = aRows.filter(_.getLong(4) == 1L).map(_.getLong(1)).toSet
    // expected prefix recomputed independently from the same salted hash
    val expected = docs.filter(col("source") === "a")
      .select(col("doc_id"), DetHash.md5Hash60(
        concat(lit("mix|"), col("doc_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("doc_id")).collect().map(_.getLong(0)).take(3).toSet
    assert(aPartial === expected)
    // the bucketed prefix-sum realizes the SAME total order at any width
    val out1 = TextOps.temperatureAssignments(docs, budgetTokens = 90L,
      bucketBits = 1).collect().map(_.toSeq).toSet
    assert(out1 === out.map(_.toSeq).toSet)
  }

  test("pqDistortionAudit: memorizable corpus has zero distortion; real corpus positive") {
    import spark.implicits._
    // ≤ numCentroids distinct vectors → Lloyd memorizes them exactly and
    // every assignment minimum is 0 in every subspace
    val emb = Seq.tabulate(40) { i =>
      (i.toLong, Array.tabulate(64)(j => ((i % 4) * 10 + j % 3).toFloat))
    }.toDF("vec_id", "embedding")
    val scope = graft.ops.CacheScope()
    try {
      val out = SimilarityOps.pqDistortionAudit(emb, scope = scope).collect()
      assert(out.length === 4)
      assert(out.forall(_.getLong(1) === 40L))
      assert(out.forall(_.getLong(2) === 0L), "memorized corpus distorts nothing")
      assert(out.forall(_.getLong(3) === 0L))
    } finally scope.release()
    val real = SimilarityOps.pqDistortionAudit(
      Tables(spark, SparkTestBase.sf001, "embeddings")).collect()
    assert(real.forall(_.getLong(2) > 0L), "a real corpus always distorts")
  }

  test("matryoshkaAudit: zero-tail corpus gives perfect truncated recall") {
    import spark.implicits._
    // all signal in the first 16 dims, zero tail → the 16-dim ranking is
    // the full ranking exactly (identical sums, identical tiebreaks)
    val emb = Seq.tabulate(30) { i =>
      (i.toLong, Array.tabulate(64)(j =>
        if (j < 16) math.sin(i * 17 + j).toFloat else 0.0f))
    }.toDF("vec_id", "embedding")
    val out = SimilarityOps.matryoshkaAudit(emb, col("vec_id") < 3,
      dims = Seq(16), k = 5).collect()
    assert(out.length === 1)
    assert(out.head.getInt(0) === 16)
    assert(out.head.getLong(1) === 15L, "3 queries × 5 hits each")
    assert(out.head.getLong(2) === 1000000L)
  }

  test("shardPlan: shards chain exactly, partition all tokens, bucketBits-invariant") {
    import spark.implicits._
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, Seq.fill(7 + 11 * (i % 5))("w").mkString(" "))) // 7..51 toks
      .toDF("doc_id", "text")
    val totalToks = docs.select(sum(size(split(trim(col("text")), "\\s+"))))
      .head.getLong(0)
    val out = TextOps.shardPlan(docs, tokensPerShard = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // every token lands in exactly one shard
    assert(out.map(_._3).sum === totalToks)
    // a shard's id is its start position's interval; consecutive shards
    // chain exactly (end_tok exclusive == next start_tok — docs are
    // consecutive in the one global order)
    out.foreach { case (id, _, _, start, _) => assert(start / 50 === id) }
    out.sliding(2).foreach {
      case Array(a, b) => assert(a._5 === b._4)
      case _ =>
    }
    // the two-level bucketed sum realizes the same order at any width
    val out1 = TextOps.shardPlan(docs, tokensPerShard = 50L, bucketBits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out1.toSeq === out.toSeq)
  }

  test("trainingShards: drawn copies shard-partition exactly, epoch double-draw included") {
    import spark.implicits._
    // q114's fixture: a = 4×25 tokens, b = 1×25, budget 90 → a draws its
    // 3-doc partial prefix (75 tokens), b draws 1 full epoch + the 5-token
    // partial (2 copies, 50 tokens) — 5 copies / 125 tokens in total
    val docs = (Seq.tabulate(4)(i =>
      (i.toLong, Seq.fill(25)("w").mkString(" "), "a")) :+
      (9L, Seq.fill(25)("w").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.trainingShards(docs, budgetTokens = 90L,
        tokensPerShard = 60L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.map(_._2).sum === 5L, "five drawn copies")
    assert(out.map(_._3).sum === 125L, "75 + 2×25 drawn tokens")
    out.foreach { case (id, _, _, start, _) => assert(start / 60 === id) }
    out.sliding(2).foreach {
      case Array(a, b) => assert(a._5 === b._4)
      case _ =>
    }
    val out1 = TextOps.trainingShards(docs, budgetTokens = 90L,
      tokensPerShard = 60L, bucketBits = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out1.toSeq === out.toSeq)
  }

  test("dupLeakageMatrix: exact cells incl. diagonal and NULL-source row") {
    import spark.implicits._
    val T = (0 until 12).map(i => s"tok$i").mkString(" ")
    val U = (0 until 12).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (1L, T, "A"), (2L, T, "A"),          // within-A duplicate pair
      (3L, T, "B"), (4L, U, "B"),          // B copies A's text once
      (5L, T, null: String)                // unattributed copy
    ).toDF("doc_id", "text", "source")
    val out = DedupOps.dupLeakageMatrix(docs).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)))
    assert(out.toSeq === Seq(
      (None, Some("A"), 2L),               // 5↔1, 5↔2
      (None, Some("B"), 1L),               // 5↔3
      (Some("A"), Some("A"), 1L),          // 1↔2 (diagonal)
      (Some("A"), Some("B"), 2L)))         // 3↔1, 3↔2
  }

  test("dedupYieldWaterfall: exact then near-dup tiers shrink docs/tokens by hand-checkable amounts") {
    import spark.implicits._
    val T = (0 until 12).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, T), (2L, T),                       // exact pair → one survives
      (3L, T + " zzz"),                       // near-dup of 1 (J = 10/11)
      (4L, "an unrelated eight token doc sits right here"))
      .toDF("doc_id", "text")
    val out = DedupOps.dedupYieldWaterfall(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) === (("raw", 4L, 12L + 12L + 13L + 8L)))
    assert(out(1L) === (("exact", 3L, 12L + 13L + 8L)))
    val (lbl, nd, nt) = out(2L)
    assert(lbl === "neardup_keepbest" && nd === 2L,
      "the {1,3} cluster keeps one member, doc 4 is a singleton")
    assert(nt === 20L || nt === 21L, s"kept tokens $nt must be 8 + (12|13)")
  }

  test("semDedup: exact-copy groups keep one, distant vectors all kept, partition-invariant") {
    import spark.implicits._
    // two far-apart directions; ids 1/2/3 are exact copies (cos = 1), ids
    // 10/11 exact copies of the other direction, 20 isolated in between
    def v(dir: Int, mag: Float): Array[Float] = {
      val a = Array.fill(8)(0.0f); a(dir) = mag; a
    }
    val rows = Seq(
      (1L, v(0, 1.0f)), (2L, v(0, 1.0f)), (3L, v(0, 1.0f)),
      (10L, v(1, 2.0f)), (11L, v(1, 2.0f)),
      (20L, v(2, 1.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = SimilarityOps.semDedup(emb, nCells = 2, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out.size === 6)
    // exact copies share a cell and an L2 key -> the id tiebreak keeps the
    // minimum id of each copy group
    assert(out(1L)._2 === 1L && out(2L)._2 === 0L && out(3L)._2 === 0L)
    assert(out(10L)._2 === 1L && out(11L)._2 === 0L)
    assert(out(20L)._2 === 1L, "orthogonal vector is nobody's duplicate")
    // copies must agree on their cell
    assert(out(1L)._1 === out(2L)._1 && out(2L)._1 === out(3L)._1)
    // the survivor set is a total-order fact: partitioning can't change it
    val out16 = SimilarityOps.semDedup(emb.repartition(16), nCells = 2,
      minCos = 0.95).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out16 === out)
  }

  test("lengthDeciles: exact percentile_disc on hand histograms, NULL source") {
    import spark.implicits._
    def doc(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val rows =
      (1 to 10).map(n => (n.toLong, doc(n), "A")) ++
        Seq((21L, doc(2), "B"), (22L, doc(2), "B"),
          (23L, doc(7), "B"), (24L, doc(9), "B"),
          (30L, doc(5), null: String))
    val out = TextOps.lengthDeciles(rows.toDF("doc_id", "text", "source"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.size === 27)
    // A: 10 docs of lengths 1..10 -> decile d IS the d-th smallest
    (1 to 9).foreach(d =>
      assert(out((Some("A"), d.toLong)) === ((10L, d.toLong)), s"A d$d"))
    // B: histogram {2:2, 7:1, 9:1} -> disc values by integer ceiling
    val bExpect = Map(1 -> 2L, 2 -> 2L, 3 -> 2L, 4 -> 2L, 5 -> 2L,
      6 -> 7L, 7 -> 7L, 8 -> 9L, 9 -> 9L)
    bExpect.foreach { case (d, v) =>
      assert(out((Some("B"), d.toLong)) === ((4L, v)), s"B d$d") }
    // single-doc NULL source: every decile is that doc's length
    (1 to 9).foreach(d =>
      assert(out((None, d.toLong)) === ((1L, 5L)), s"null d$d"))
  }

  test("winnowFingerprints: equals brute-force reference, short-doc global min, gramless absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, (0 until 40).map(i => s"w${(i * 7) % 11}").mkString(" ")),
      (2L, "only three tokens"),      // exactly 1 gram (< window)
      (3L, "two toks"),               // no grams
      (4L, (0 until 12).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    // window=1 selects every gram — the engine itself supplies the gram
    // ground truth the reference winnows
    val grams = DedupOps.winnowFingerprints(docs, shingleK = 3, window = 1)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(2), r.getLong(1))).sortBy(_._1) }
    def ref(hs: Seq[(Long, Long)], w: Int): Set[(Long, Long)] = {
      if (hs.isEmpty) Set.empty
      else if (hs.length < w)
        Set(hs.minBy { case (p, h) => (h, -p) }.swap)
      else (0 to hs.length - w).map { i =>
        val (p, h) = hs.slice(i, i + w).minBy { case (p, h) => (h, -p) }
        (h, p)
      }.toSet
    }
    val out = DedupOps.winnowFingerprints(docs, shingleK = 3, window = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    assert(out.keySet === Set(1L, 2L, 4L), "gramless doc emits nothing")
    Seq(1L, 2L, 4L).foreach { id =>
      assert(out(id) === ref(grams(id).toSeq, 4), s"doc $id")
    }
    // density: well below the all-grams count, at least the 2/(w+1) order
    assert(out(1L).size < grams(1L).length &&
      out(1L).size >= grams(1L).length / 5)
  }

  test("winnowOverlapPairs: duplicates pair, unrelated don't, hot fingerprints capped") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog again today"
    val docs = Seq((1L, t1), (2L, t1),
      (3L, "completely different words in this other document here now"))
      .toDF("doc_id", "text")
    val out = DedupOps.winnowOverlapPairs(docs, shingleK = 3, window = 4,
      minShared = 1L).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === Set((1L, 2L)), "only the duplicate pair matches")
    assert(out((1L, 2L)) >= 2L, "identical docs share every fingerprint")
    // four copies + maxDf=3: every shared hash is in 4 docs -> all capped
    val many = Seq((1L, t1), (2L, t1), (4L, t1), (5L, t1)).toDF("doc_id", "text")
    val capped = DedupOps.winnowOverlapPairs(many, shingleK = 3, window = 4,
      minShared = 1L, maxDf = 3).collect()
    assert(capped.isEmpty, "hot fingerprints past the df cap never pair")
  }

  test("boilerplatePrefixes: template source flagged, short docs whole-text, NULL source") {
    import spark.implicits._
    val tmpl = "welcome to our site click here to continue now"  // 9 tokens
    val docs = Seq(
      (1L, tmpl + " page one unique content", "A"),
      (2L, tmpl + " page two other content", "A"),
      (3L, tmpl + " page three more content", "A"),
      (4L, "an organic document with its own opening line here", "A"),
      (5L, "tiny doc", "B"),
      (6L, "tiny doc", null: String)
    ).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplatePrefixes(docs, prefixK = 8, topM = 2).collect()
    val a = out.filter(r => r.getString(0) == "A")
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3), r.getLong(5), r.getLong(6)))
    assert(a(0) === ((1, "welcome to our site click here to continue",
      3L, 750000L, 1L)), "3/4 docs share the template prefix -> flagged")
    assert(a(1)._3 === 1L && a(1)._5 === 0L, "organic prefix unflagged")
    val b = out.filter(r => r.getString(0) == "B")
    assert(b.length === 1 && b(0).getString(2) === "tiny doc",
      "short doc prefixes to its whole text")
    assert(b(0).getLong(5) === 1000000L && b(0).getLong(6) === 1L)
    val nul = out.filter(_.isNullAt(0))
    assert(nul.length === 1 && nul(0).getString(2) === "tiny doc",
      "NULL source is its own group")
  }

  test("vocabCoverage: exact hand-corpus coverage, monotone in V, OOV complement, NULL source") {
    import spark.implicits._
    // global freqs: a=7 b=3 then c,d,x,y,z singletons → top-4 = a,b,c,d
    val docs = Seq(
      (1L, "a a a a b b c d", "s1"),
      (2L, "a a b x y z", "s2"),
      (3L, "a", null: String)
    ).toDF("doc_id", "text", "source")
    val out = TextOps.vocabCoverage(docs, vocabSizes = Seq(1, 2, 4)).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.size === 9)
    assert(out((Some("s1"), 1L)) === ((4L, 8L, 500000L, 500000L)))
    assert(out((Some("s1"), 2L)) === ((6L, 8L, 750000L, 250000L)))
    assert(out((Some("s1"), 4L)) === ((8L, 8L, 1000000L, 0L)))
    assert(out((Some("s2"), 1L)) === ((2L, 6L, 333333L, 666667L)))
    assert(out((Some("s2"), 2L)) === ((3L, 6L, 500000L, 500000L)))
    assert(out((Some("s2"), 4L)) === ((3L, 6L, 500000L, 500000L)),
      "x/y/z rank past V=4 and stay OOV")
    assert(out((None, 4L)) === ((1L, 1L, 1000000L, 0L)),
      "NULL source is a real group")
    // coverage must be monotone in V within every source
    out.keys.map(_._1).toSeq.distinct.foreach { src =>
      val cs = Seq(1L, 2L, 4L).map(v => out((src, v))._3)
      assert(cs === cs.sorted, s"$src coverage not monotone: $cs")
    }
  }

  test("scriptMix: per-script counts, alphabetical-first majority, 10% mixed flag") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world 42"),            // pure latin + digits
      (2L, "привет мир"),                // pure cyrillic
      (3L, "hello мир hello мир x"),     // latin 11, cyrillic 6 → mixed
      (4L, "abcdefghi я"),               // 9 latin, 1 cyrillic → exactly 10%
      (5L, "42 --- !!"),                 // no script chars at all
      (6L, "αβ яб")                      // greek 2, cyrillic 2 → tie
    ).toDF("doc_id", "text")
    val out = TextOps.scriptMix(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(5) === 10L)   // n_latin
    assert(out(1L).getLong(6) === 2L)    // n_digit
    assert(out(1L).getString(8) === "latin")
    assert(out(1L).getLong(9) === 0L)
    assert(out(2L).getLong(2) === 9L)    // n_cyrillic ("привет мир")
    assert(out(2L).getString(8) === "cyrillic")
    assert(out(3L).getString(8) === "latin")
    assert(out(3L).getLong(9) === 1L, "30% minority must flag")
    assert(out(4L).getLong(9) === 1L, "exactly 10% minority flags (>=)")
    assert(out(5L).isNullAt(8), "no script chars -> NULL majority")
    assert(out(5L).getLong(9) === 0L)
    assert(out(6L).getString(8) === "cyrillic",
      "tie resolves alphabetically-first")
    assert(out(6L).getLong(9) === 1L)
  }

  test("gopherRules: every rule flags independently on hand fixtures") {
    import spark.implicits._
    val good = Seq.fill(4)("the quick brown fox jumps over lazy dogs").mkString(" ")
    val docs = Seq(
      (1L, good),                                        // passes every rule
      (2L, "the cat sat on mat"),                        // short + low mean len
      (3L, good + " " + Seq.fill(8)("#").mkString(" ")), // symbol-heavy
      (4L, Seq.fill(32)("7").mkString(" ")),             // numeric: alpha/stop/meanlen fail
      (5L, Seq.fill(8)("alpha beta gamma delta").mkString(" "))) // no stopword
      .toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = (6 to 11).map(out(id).getLong)
    assert(out(1L).getLong(1) === 32L)
    assert(out(1L).getLong(2) === 4125000L, "mean word length micro")
    assert(out(1L).getLong(5) === 1L, "'the' is the only Gopher stopword hit")
    assert(flags(1L) === Seq(1L, 1L, 1L, 1L, 1L, 1L))
    assert(flags(2L) === Seq(0L, 0L, 1L, 1L, 1L, 0L),
      "5 words at mean 2.8 chars fail count+meanlen only")
    assert(out(3L).getLong(3) === 200000L, "8 symbol tokens of 40")
    assert(out(3L).getLong(4) === 800000L)
    assert(flags(3L) === Seq(1L, 1L, 0L, 1L, 1L, 0L),
      "20% symbols fail; exactly 80% alphabetic still passes (>=)")
    assert(flags(4L) === Seq(1L, 0L, 1L, 0L, 0L, 0L),
      "digit runs fail meanlen, alpha and stopwords")
    assert(flags(5L) === Seq(1L, 1L, 1L, 1L, 0L, 0L),
      "clean prose without a Gopher stopword fails only r_stop")
  }

  test("perplexityBuckets: per-source thirds by LM score, zero-bigram excluded, NULL source") {
    import spark.implicits._
    // three structural groups with strictly ordered avg log-prob:
    // all-unique tokens (rarest bigrams) < alternating pairs < a single
    // repeated token (count-9 bigram)
    val low = (0 until 3).map(i => (10 * i until 10 * i + 10).map(j => s"u$j").mkString(" "))
    val mid = (0 until 3).map(i => Seq.fill(5)(s"x$i y$i").mkString(" "))
    val high = (0 until 3).map(i => Seq.fill(10)(s"r$i").mkString(" "))
    val rows = (low ++ mid ++ high).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "s1") } ++
      Seq((100L, "z", "s1"), (101L, "n1 n2 n1 n2", null: String))
    val out = TextOps.perplexityBuckets(rows.toDF("doc_id", "text", "source")).collect()
    assert(out.length === 10, "the single-token doc has no bigrams and drops")
    val bucket = out.map(r => r.getLong(0) -> r.getString(4)).toMap
    (0L to 2L).foreach(i => assert(bucket(i) === "tail", s"unique-token doc $i"))
    (3L to 5L).foreach(i => assert(bucket(i) === "middle", s"alternating doc $i"))
    (6L to 8L).foreach(i => assert(bucket(i) === "head",
      "repeated-token docs carry the highest avg log-prob"))
    assert(bucket(101L) === "tail",
      "singleton NULL-source group: its own value is both cuts")
    out.foreach(r => assert(r.getLong(5) <= r.getLong(6), "cut1 <= cut2"))
  }

  test("clusterBalancedSample: per-cell quotas, quality-ranked, repartition-invariant") {
    import spark.implicits._
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val e = Seq(
      (1L, v(1f, 0f)), (2L, v(0.9f, 0.1f)), (3L, v(0.95f, 0.05f)),
      (4L, v(0f, 1f)), (5L, v(0.1f, 0.9f)), (6L, v(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    // all-distinct tokens: quality rises strictly with length
    val docs = (1L to 6L).map(i =>
      (i, (1 to i.toInt * 5).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = SimilarityOps.clusterBalancedSample(e, docs, budget = 6L,
      nCells = 2).collect()
    assert(rows.length === 6, "budget >= corpus keeps everything")
    rows.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rs.length).map(_.toLong),
        "ranks contiguous within each cell")
      val qs = sorted.map(_.getDouble(2)).toSeq
      assert(qs === qs.sorted.reverse, "quality non-increasing with rank")
    }
    val top = SimilarityOps.clusterBalancedSample(e, docs, budget = 2L,
      nCells = 2).collect()
    assert(top.length === 2 && top.map(_.getLong(1)).distinct.length === 2,
      "quota of one per cell spans both cells")
    assert(top.forall(_.getLong(3) === 1L))
    val bestPerCell = rows.groupBy(_.getLong(1))
      .map { case (c, rs) => c -> rs.maxBy(_.getDouble(2)).getLong(0) }
    top.foreach(r => assert(r.getLong(0) === bestPerCell(r.getLong(1)),
      "each cell keeps its max-quality member"))
    val rep = SimilarityOps.clusterBalancedSample(e.repartition(7),
      docs.repartition(5), budget = 6L, nCells = 2).collect()
    assert(rep.map(_.toString).sorted.toSeq === rows.map(_.toString).sorted.toSeq,
      "partitioning never changes the sample")
  }

  test("cmsHeavyHitterAudit: one-sided estimates, w=1 saturates to the total, wide grid exact") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    // w=1: every occurrence lands in the single cell of every row, so
    // every estimate IS the total occurrence count — the grid semantics
    // pinned with zero hash dependence
    val sat = TextOps.cmsHeavyHitterAudit(docs, d = 2, w = 1, topK = 3).collect()
    assert(sat.length === 3)
    sat.foreach(r => assert(r.getLong(2) === 6L, s"saturated estimate ${r}"))
    assert(sat.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // wide grid: 3 terms in 1024 columns × 4 rows — estimates stay
    // one-sided and (deterministically, for these md5 values) exact
    val wide = TextOps.cmsHeavyHitterAudit(docs, d = 4, w = 1024, topK = 3).collect()
    wide.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "CMS never undercounts")
      assert(r.getLong(3) === r.getLong(2) - r.getLong(1))
    }
    assert(wide.map(_.getLong(3)).sum === 0L,
      "3 terms in a 4x1024 grid: no colliding row set")
    assert(wide.map(_.getString(0)).toSeq === Seq("a", "b", "c"),
      "(exact desc, term) total order")
  }

  test("splitLeakageAudit: near-dup pairs roll up by unordered split pair") {
    import spark.implicits._
    def words(seed: String, n: Int) = (0 until n).map(i => s"$seed$i").mkString(" ")
    // 3 clusters of verbatim copies (4, 3, 2 members) + 3 unique docs
    val texts =
      (0 until 4).map(i => (i.toLong, words("alpha", 30))) ++
        (10 until 13).map(i => (i.toLong, words("beta", 30))) ++
        (20 until 22).map(i => (i.toLong, words("gamma", 30))) ++
        Seq((30L, words("solo", 30)), (31L, words("uniq", 30)),
          (32L, words("only", 30)))
    val docs = texts.toDF("doc_id", "text")
    val out = DedupOps.splitLeakageAudit(docs).collect()
    assert(out.map(_.getLong(2)).sum === 6 + 3 + 1,
      "C(4,2)+C(3,2)+C(2,2) verified pairs")
    // expected matrix from the deterministic split assignment itself
    val split = RelationalOps.hashSplit(docs.select($"doc_id"), "doc_id",
      Seq(0.8, 0.1, 0.1)).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val clusters = Seq((0 until 4).map(_.toLong),
      (10 until 13).map(_.toLong), (20 until 22).map(_.toLong))
    val expected = clusters.flatMap(_.combinations(2).map { c =>
      (split(c(0)) min split(c(1)), split(c(0)) max split(c(1)))
    }).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = out.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expected, s"matrix $got vs expected $expected")
    out.foreach(r => assert(r.getLong(3) ===
      (if (r.getInt(0) != r.getInt(1)) 1L else 0L), "crossing flag"))
  }

  test("sourceCentroidMatrix: exact centroid L2, coincident centroids at zero, NULL-first pairs") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)), // A at e1
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, 1f, 0f, 0f)), // B at e2
      (5L, Array(1f, 0f, 0f, 0f))                               // no doc → NULL
    ).toDF("vec_id", "embedding")
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("doc_id", "source")
    val out = SimilarityOps.sourceCentroidMatrix(e, docs, dim = 4).collect()
    assert(out.length === 3, "3 unordered pairs over {NULL, A, B}")
    def at(x: Option[String], y: String) = out.find(r =>
      Option(r.getString(0)) == x && r.getString(1) == y).get
    val ab = at(Some("A"), "B")
    // centroids (127e6,0,0,0) vs (0,127e6,0,0): l2 = 2·(127e6)²
    assert(ab.getLong(4) === 2L * 127000000L * 127000000L)
    assert(ab.getLong(5) === math.floor(math.sqrt(ab.getLong(4).toDouble)).toLong)
    val na = at(None, "A")
    assert(na.getLong(4) === 0L && na.getLong(5) === 0L,
      "the NULL-source vector shares A's centroid exactly")
    assert(at(None, "B").getLong(2) === 1L, "NULL group size carried")
  }

  test("sourceDiversity: sum identity equals hand-counted pair dots, NULL source, single-vector NULLs") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)), // A: twins
      (3L, Array(1f, 0f, 0f, 0f)), (4L, Array(0f, 1f, 0f, 0f)), // B: orthogonal
      (5L, Array(1f, 0f, 0f, 0f)),                              // C: singleton
      (6L, Array(1f, 0f, 0f, 0f))                               // no doc row
    ).toDF("vec_id", "embedding")
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "C"))
      .toDF("doc_id", "source")
    val out = SimilarityOps.sourceDiversity(e, docs, dim = 4).collect()
      .map(r => Option(r.getString(0)) -> r).toMap
    // scale = 127/1 → unit components quantize to exactly 127
    val self = 127L * 127L * 1000000L
    val a = out(Some("A"))
    assert(a.getLong(1) === 2L && a.getLong(2) === 2 * 127 * 127)
    assert(a.getLong(3) === self, "identical twins: pair dot == self dot")
    assert(a.getLong(5) === 0L, "zero diversity for a collapsed source")
    val b = out(Some("B"))
    assert(b.getLong(3) === 0L, "orthogonal vectors: zero mean pair dot")
    assert(b.getLong(5) === self)
    val c = out(Some("C"))
    assert(c.isNullAt(3) && c.isNullAt(5), "no pairs in a singleton source")
    assert(c.getLong(4) === self)
    val n = out(None)
    assert(n.getLong(1) === 1L && n.isNullAt(3),
      "vectors without a document row form the NULL-source group")
  }

  test("kmvOverlapMatrix: exact small-sketch path, estimator sanity, NULL source, bucket invariance") {
    import spark.implicits._
    // A: integer tokens 0..600 → 599 distinct 3-shingles; B: 300..900 →
    // 599 distinct, 299 shared with A; C: 0..10 → 9 shingles (< k ⇒ the
    // exact path); the NULL source holds a verbatim copy of C; D's doc is
    // too short to shingle and must vanish from the matrix entirely
    val ta = (0 to 600).mkString(" ")
    val tb = (300 to 900).mkString(" ")
    val tc = (0 to 10).mkString(" ")
    val docs = Seq((1L, ta, "A"), (2L, tb, "B"), (3L, tc, "C"),
      (4L, tc, null: String), (5L, "a b", "D"))
      .toDF("doc_id", "text", "source")
    val out = DedupOps.kmvOverlapMatrix(docs, k = 64).collect()
    assert(out.length === 6, "3 named + NULL sources pair to 6; D absent")
    def at(x: Option[String], y: Option[String]) = out.find(r =>
      Option(r.getString(0)) == x && Option(r.getString(1)) == y).get
    // exact path: identical 9-element sketches ⇒ exact counts throughout
    val nc = at(None, Some("C"))
    assert(Seq(2, 3, 4, 5).map(nc.getLong) === Seq(9L, 9L, 9L, 9L))
    assert(nc.getLong(6) === 1000000L)
    // estimator path: true distinct 599/599, union 899, intersection 299 —
    // deterministic md5 sketches, so loose bands can never flake
    val ab = at(Some("A"), Some("B"))
    assert(math.abs(ab.getLong(2) - 599L) <= 240, s"est_x=${ab.getLong(2)}")
    assert(math.abs(ab.getLong(3) - 599L) <= 240, s"est_y=${ab.getLong(3)}")
    assert(math.abs(ab.getLong(4) - 899L) <= 360, s"est_u=${ab.getLong(4)}")
    assert(ab.getLong(5) >= 60L && ab.getLong(5) <= 600L,
      s"est_inter=${ab.getLong(5)}")
    // C ⊂ A: inclusion-exclusion may wobble near zero but never negative
    val ac = at(Some("A"), Some("C"))
    assert(ac.getLong(5) >= 0L && ac.getLong(5) <= 80L)
    // the two-level prune is an implementation detail: bucket count must
    // not change a single output value
    val out1 = DedupOps.kmvOverlapMatrix(docs, k = 64, buckets = 1).collect()
    assert(out1.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("sourceTokenDrift: skewed source flagged, proportional sources not, null source real") {
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    val balText = vocab.mkString(" ")
    // 20 identical balanced docs + 1 balanced doc under a NULL source →
    // every balanced source's bucket histogram is exactly proportional to
    // the corpus mix (chi2 ≈ spam perturbation only); the 12-token spam
    // source concentrates all its mass in one bucket
    val rows = Seq.tabulate(20)(i => (i.toLong, balText, "bal")) ++
      Seq((100L, Seq.fill(12)("zzz").mkString(" "), "spam"),
        (200L, balText, null: String))
    val docs = rows.toDF("doc_id", "text", "source")
    val out = TextOps.sourceTokenDrift(docs, nBuckets = 16).collect()
    assert(out.length === 3)
    val bySrc = out.map(r =>
      Option(r.getString(0)).getOrElse("<null>") -> r).toMap
    assert(bySrc("spam").getLong(5) === 1L, "concentrated source must flag")
    assert(bySrc("bal").getLong(5) === 0L, "proportional source must not")
    assert(bySrc("<null>").getLong(1) === 40L, "NULL source is its own group")
    assert(bySrc("bal").getLong(1) === 800L)
    assert(bySrc("spam").getLong(1) === 12L)
    // dof is corpus-global: live buckets − 1, identical for every source
    assert(out.map(_.getLong(2)).distinct.length === 1)
    assert(bySrc("spam").getLong(4) > bySrc("bal").getLong(4))
  }

  test("bigramLmScore: hand-computed add-1 bigram log-probs in micro-nats") {
    val docs = Seq(
      (1L, "a a a"), // bigrams (a,a)x2
      (2L, "a b"), // bigram (a,b)
      (3L, "solo")).toDF("doc_id", "text")
    // counts: a=4, b=1, solo=1 -> V=3; c(a,a)=2, c(a,b)=1
    // p(a|a) = 3/7, p(b|a) = 2/7
    def micro(p: Double) = math.floor(math.log(p) * 1e6 + 0.5).toLong
    val out = TextOps.bigramLmScore(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, 2L, 2 * micro(3.0 / 7)),
      (2L, 1L, micro(2.0 / 7)),
      (3L, 0L, 0L)))
  }

  test("repetitionStats: exact top-token and duplicate-bigram fractions, tie to smallest") {
    val docs = Seq(
      (0L, "a a a b"), // top a 3/4; bigrams [a a, a a, a b] → 1 - 2/3
      (1L, "x y x y"), // tie x/y at 2 → x; bigrams [x y, y x, x y] → 1 - 2/3
      (2L, "solo"), // one token: no bigrams → 0.0
      (3L, "all distinct words here")
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("top_tok"), x.getAs[Long]("top_tok_n"),
          x.getAs[Double]("top_tok_frac"), x.getAs[Double]("dup_bigram_frac")))).toMap
    assert(r(0L) === (("a", 3L, 0.75, 1.0 - 2.0 / 3)))
    assert(r(1L) === (("x", 2L, 0.5, 1.0 - 2.0 / 3)))
    assert(r(2L) === (("solo", 1L, 1.0, 0.0)))
    assert(r(3L)._4 === 0.0)
  }

  test("packSequences: blocks partition the token stream; chunkSize-invariant") {
    val docs = Seq.tabulate(40)(i => (i.toLong, Seq.fill(i % 7 + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val total = docs.select(sum(size(TextOps.tokens(col("text"))))).head.getLong(0)
    val blocks = TextOps.packSequences(docs, capacity = 10, chunkSize = 8)
      .orderBy("block").collect()
    // every block holds exactly `capacity` tokens except possibly the last
    blocks.init.foreach(b => assert(b.getAs[Long]("n_tokens") === 10L))
    // block slices are overlap-free and partition the token stream exactly
    // (a doc spanning a boundary contributes disjoint slices to each block)
    assert(blocks.map(_.getAs[Long]("n_tokens")).sum === total)
    assert(blocks.length === ((total + 9) / 10).toInt)
    // doc spans are contiguous: block N's last_doc == block N+1's first_doc
    // whenever a doc straddles the boundary, and first/last never decrease
    blocks.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("last_doc") >= b.getAs[Long]("first_doc") - 1)
      assert(a.getAs[Long]("first_doc") <= b.getAs[Long]("first_doc"))
    }
    // the offset computation is chunking-invariant: any chunkSize gives
    // the same packing (the two-level cumsum is exact, not approximate)
    val alt = TextOps.packSequences(docs, capacity = 10, chunkSize = 1000)
      .orderBy("block").collect()
    assert(blocks.map(_.toSeq) === alt.map(_.toSeq))
  }

  test("asofJoin: most recent prior right event per user, ties to right side") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 7L, "click", 0.0),
      (2L, ts(5), 7L, "error", 0.0), // → click 1, gap 5 min
      (3L, ts(6), 7L, "click", 0.0),
      (4L, ts(6), 7L, "error", 0.0), // same-ts tie → click 3, gap 0
      (5L, ts(1), 8L, "error", 0.0), // user 8 has no click → -1
      (6L, ts(2), 9L, "click", 0.0) // click-only user: no output row
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventOps.asofJoin(events, "error", "click").collect()
      .map(x => x.getAs[Long]("event_id") ->
        ((x.getAs[Long]("prior_id"), x.getAs[Long]("gap_us")))).toMap
    assert(r === Map(
      2L -> ((1L, 5L * 60 * 1000000)),
      4L -> ((3L, 0L)),
      5L -> ((-1L, -1L))))
  }

  test("hashStratifiedSample: deterministic set, rate-0 and rate-10000 strata exact") {
    val df = Tables(spark, SparkTestBase.sf001, "documents")
    val rates = Map("en" -> 10000, "zh" -> 0)
    val s1 = RelationalOps.hashStratifiedSample(df, "doc_id", "lang", rates, 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = RelationalOps.hashStratifiedSample(df, "doc_id", "lang", rates, 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2) // same set, not just same size
    val byLang = RelationalOps.hashStratifiedSample(df, "doc_id", "lang", rates, 500)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = df.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") === full("en")) // 100% stratum keeps everything
    assert(!byLang.contains("zh")) // 0% stratum keeps nothing
    // default-rate strata land well under their full size (5% of ~60-70)
    assert(byLang.getOrElse("de", 0L) < full("de"))
    // different salt → different (deterministic) set
    val salted = RelationalOps.hashStratifiedSample(df, "doc_id", "lang",
      Map("en" -> 5000), 500, salt = "other").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val sameRates = RelationalOps.hashStratifiedSample(df, "doc_id", "lang",
      Map("en" -> 5000), 500).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted !== sameRates)
  }

  test("chunkDocs: windows cover every token, overlap exactly, no redundant tail") {
    val doc = (0 until 150).map(i => s"t$i").mkString(" ")
    val df = Seq((7L, doc), (8L, "a b c"), (9L, "solo")).toDF("doc_id", "text")
    val chunks = TextOps.chunkDocs(df, chunkTokens = 64, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_idx")).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    // short docs: one chunk holding the whole text
    assert(byDoc(8L).length === 1 && byDoc(8L).head.getString(4) === "a b c")
    assert(byDoc(9L).length === 1 && byDoc(9L).head.getLong(3) === 1L)
    // 150 tokens, stride 56: starts 0, 56, 112 (112 < 150-8) — 3 chunks
    val long = byDoc(7L)
    assert(long.map(_.getLong(2)).toSeq === Seq(0L, 56L, 112L))
    assert(long.map(_.getLong(3)).toSeq === Seq(64L, 64L, 38L))
    // consecutive chunks overlap by exactly `overlap` tokens
    val texts = long.map(_.getString(4).split(" ").toSeq)
    assert(texts(0).takeRight(8) === texts(1).take(8))
    // chunks cover the whole doc in order: stitching non-overlap suffixes
    // reconstructs the original token stream
    val stitched = texts.head ++ texts.tail.flatMap(_.drop(8))
    assert(stitched === doc.split(" ").toSeq)
    // a 60-token doc must NOT emit a start-56 chunk (fully inside chunk 0)
    val sixty = Seq((1L, (0 until 60).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    assert(TextOps.chunkDocs(sixty, 64, 8).count() === 1)
  }

  test("weightedSample: exactly k, matches driver-side replay, weight-monotone") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val got = RelationalOps.weightedSample(docs, col("n_chars"), k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.length === 20)
    // driver-side replay of the exponential race over the full table must
    // produce the identical smallest-k set in the identical order
    val all = docs.select(col("doc_id"), col("n_chars").cast("long")).collect()
      .map { r =>
        val id = r.getLong(0); val w = r.getLong(1)
        val hm = ops.DetHash.jvmMd5Hash60(s"wsamp|$id") % ops.DetHash.P
        val u = (hm + 1).toDouble / (ops.DetHash.P + 1).toDouble
        (id, w.toDouble, math.floor(-math.log(u) / w.toDouble * 1e9).toLong)
      }
    val expect = all.sortBy(t => (t._3, t._1)).take(20).toSeq
    assert(got.toSeq === expect)
    // larger weight ⇒ stochastically smaller keys: the sampled docs' mean
    // weight must exceed the corpus mean (clear margin at these sizes)
    val corpusMean = all.map(_._2).sum / all.length
    val sampleMean = got.map(_._2).sum / got.length
    assert(sampleMean > corpusMean)
    // non-positive weights never qualify
    val withZero = docs.withColumn("w0",
      when(col("doc_id") < 100, lit(0)).otherwise(col("n_chars")))
    val z = RelationalOps.weightedSample(withZero, col("w0"), k = 500)
    assert(z.filter(col("doc_id") < 100).count() === 0)
  }

  test("stratifiedWeightedSample: per-stratum quotas, keys identical to the global race") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val strat = RelationalOps.stratifiedWeightedSample(
      docs, "source", col("n_chars"), k = 5).collect()
    assert(strat.forall(r => r.getDouble(2) > 0.0), "true double weights reported")
    val bySource = strat.groupBy(_.getString(0))
    val sizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      assert(bySource(s).length === math.min(5L, n).toInt,
        s"stratum $s must fill its quota")
    }
    // ranks are 1..k in key order within each stratum
    bySource.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq === (1 to sorted.length))
      assert(sorted.map(_.getLong(3)).toSeq ===
        sorted.map(_.getLong(3)).sortBy(identity).toSeq)
    }
    // the race key for a given doc is the same number the GLOBAL sample
    // uses — only the competition scope differs
    val globalKeys = RelationalOps.weightedSample(docs, col("n_chars"), k = 500)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    strat.foreach { r =>
      assert(globalKeys(r.getLong(1)) === r.getLong(3))
    }
  }

  test("fimTransform: PSM reassembly is a permutation; rate draw honored") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val out = TextOps.fimTransform(docs).collect()
    assert(out.length === docs.count())
    val applied = out.filter(_.getBoolean(2))
    assert(applied.nonEmpty && applied.length < out.length)
    val orig = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val (id, n, app) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      val (p, m, txt) = (r.getLong(3), r.getLong(4), r.getString(5))
      val toks = orig(id).trim.split("\\s+").toSeq
      assert(n === toks.length && p + m <= n)
      if (!app) assert(txt === orig(id))
      else {
        // <PRE> prefix <SUF> suffix <MID> middle, token-exact
        val expect = "<PRE> " + toks.take(p.toInt).mkString(" ") +
          " <SUF> " + toks.drop((p + m).toInt).mkString(" ") +
          " <MID> " + toks.slice(p.toInt, (p + m).toInt).mkString(" ")
        assert(txt === expect)
      }
    }
    // rate 0 / 100 are total
    assert(TextOps.fimTransform(docs, ratePct = 0)
      .filter(col("fim_applied")).count() === 0)
    assert(TextOps.fimTransform(docs, ratePct = 100)
      .filter(!col("fim_applied")).count() === 0)
  }

  test("vocabGrowth: exact curve on a hand corpus, chunk-invariant, zero rows kept") {
    // doc order: [a b c d] [a b e f] [a a a a] — 12 tokens, 6 types
    // first positions: a=0 b=1 c=2 d=3 e=6 f=7
    val df = Seq((0L, "a b c d"), (1L, "a b e f"), (2L, "a a a a"))
      .toDF("doc_id", "text")
    val curve = TextOps.vocabGrowth(df, nCheckpoints = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cutoffs 3,6,9,12: types first seen in (0..2]=3 {a,b,c}, (3..5]={d},
    // (6..8]={e,f}, (9..12]=none
    assert(curve.toSeq === Seq((1, 3L, 3L, 3L), (2, 6L, 1L, 4L),
      (3, 9L, 2L, 6L), (4, 12L, 0L, 6L)))
    // the two-level prefix sum must not depend on the chunking granularity
    val c1 = TextOps.vocabGrowth(df, nCheckpoints = 4, chunkSize = 1).collect()
    assert(c1.map(_.toSeq).toSeq === curve.map(t => Seq(t._1, t._2, t._3, t._4)))
    // real corpus: monotone vocab, final = corpus distinct-type count
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val real = TextOps.vocabGrowth(docs).collect()
    val sizes = real.map(_.getLong(3)).toSeq
    assert(sizes === sizes.sorted)
    val distinctTypes = docs
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head.getLong(0)
    assert(sizes.last === distinctTypes)
  }

  test("spanCorrupt: sentinel splice reconstructs the original; rate edges") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val out = TextOps.spanCorrupt(docs).collect()
    val orig = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.exists(_.getLong(3) > 0) && out.exists(_.getLong(3) === 0))
    out.foreach { r =>
      val (id, n, nMasked, nSpans) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (inp, tgt) = (r.getString(4), r.getString(5))
      val toks = orig(id).trim.split("\\s+").toSeq
      assert(n === toks.length)
      if (nSpans === 0L) {
        assert(inp === toks.mkString(" ") && tgt === "" && nMasked === 0L)
      } else {
        // target parses as <X0> run0 <X1> run1 ...; splicing runs back into
        // the input at their sentinels must reproduce the original text
        val runs = tgt.split("<X\\d+> ").toSeq.drop(1).map(_.trim)
        assert(runs.length === nSpans)
        val spliced = runs.zipWithIndex.foldLeft(inp) { case (acc, (run, k)) =>
          acc.replace(s"<X$k>", run)
        }
        assert(spliced === toks.mkString(" "))
        assert(runs.map(_.split(" ").length).sum === nMasked)
      }
    }
    // rate edges: 0 → untouched passthrough; 100 → one run swallowing all
    val zero = TextOps.spanCorrupt(docs, ratePct = 0).collect()
    assert(zero.forall(r => r.getLong(3) === 0L &&
      r.getString(4) === orig(r.getLong(0)).trim.split("\\s+").mkString(" ")))
    val full = TextOps.spanCorrupt(docs, ratePct = 100).collect()
    assert(full.forall(r => r.getLong(3) === 1L &&
      r.getString(4) === "<X0>" && r.getLong(2) === r.getLong(1)))
  }

  test("knnDensityOutliers: isolated vector flagged; threshold covers the target count") {
    // 9 vectors in a tight cluster around e1, one orthogonal outlier
    val cluster = (0 until 9).map { i =>
      val v = Array.fill(4)(0.0f); v(0) = 1.0f; v(1) = 0.01f * i
      (i.toLong, v)
    }
    val outlier = (99L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    val emb = (cluster :+ outlier).toDF("vec_id", "embedding")
    val out = SimilarityOps.knnDensityOutliers(emb, k = 3, bottomPct = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(3))).toSeq
    assert(out.length === 10)
    val flagged = out.filter(_._3)
    // exactly the orthogonal vector sits below the bottom-10% threshold
    assert(flagged.map(_._1) === Seq(99L))
    assert(flagged.head._2 < 0.1 && out.filter(_._1 != 99L).forall(_._2 > 0.9))
    // value-based threshold reaches at least ceil(n*pct/100) rows on real data
    val real = SimilarityOps.knnDensityOutliers(
      Tables(spark, SparkTestBase.sf001, "embeddings")).collect()
    val n = real.length
    assert(real.count(_.getBoolean(3)) >= (n * 5 + 99) / 100)
  }

  test("compressionRatio: degenerate text deflates away, dense text doesn't") {
    val stutter = ("spam " * 200).trim                      // one repeated token
    val dense = (0 until 40).map(i =>                       // 40 distinct md5s:
      ops.DetHash.jvmMd5Hash60(s"dense|$i").toHexString)    // near-incompressible
      .mkString(" ")
    val df = Seq((0L, stutter), (1L, dense)).toDF("doc_id", "text")
    val out = TextOps.compressionRatio(df).orderBy(col("doc_id")).collect()
    val (st, dn) = (out(0), out(1))
    assert(st.getLong(1) === stutter.getBytes("UTF-8").length.toLong)
    assert(st.getLong(3) < 5 && st.getBoolean(4),
      s"a single repeated token must deflate to almost nothing, got ${st.getLong(3)}%")
    assert(dn.getLong(3) > 50 && !dn.getBoolean(4),
      s"high-entropy hex must stay mostly incompressible, got ${dn.getLong(3)}%")
    // real corpus: ratios are sane percentages and deterministic across runs
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val r1 = TextOps.compressionRatio(docs).orderBy(col("doc_id")).collect()
    val r2 = TextOps.compressionRatio(docs).orderBy(col("doc_id")).collect()
    assert(r1.map(_.getLong(3)).toSeq === r2.map(_.getLong(3)).toSeq)
    assert(r1.forall(r => r.getLong(3) > 0 && r.getLong(3) <= 120))
  }

  test("QualityClassifier: learned filter separates corpus text from junk") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    // train on even ids, evaluate on odd ids — no leakage
    val trainPos = docs.filter(col("doc_id") % 2 === 0)
    val heldPos = docs.filter(col("doc_id") % 2 === 1)
    val trainNeg = ml.QualityClassifier.syntheticNegatives(trainPos)
    val heldNeg = ml.QualityClassifier.syntheticNegatives(heldPos)
    val model = ml.QualityClassifier.train(trainPos, trainNeg)
    def meanProb(df: org.apache.spark.sql.DataFrame): Double =
      ml.QualityClassifier.score(model, df)
        .agg(avg(col("quality_prob"))).head.getDouble(0)
    val (posP, negP) = (meanProb(heldPos), meanProb(heldNeg))
    assert(posP > 0.8, s"held-out real text must score high, got $posP")
    assert(negP < 0.2, s"held-out junk must score low, got $negP")
    // the three corruption modes are each individually rejected
    val byMode = ml.QualityClassifier.score(model, heldNeg)
      .withColumn("mode", pmod(col("doc_id"), lit(3)))
      .groupBy(col("mode")).agg(avg(col("quality_prob")).as("p"))
      .collect().map(r => r.getDouble(1))
    assert(byMode.forall(_ < 0.35), s"every junk mode must score low: ${byMode.toSeq}")
  }

  test("pmiCollocations: exact integer lift on a hand corpus; collocation tops") {
    // "new york" always adjacent (strong collocation); "the" everywhere
    val df = Seq(
      (0L, "new york is big the city the place"),
      (1L, "new york the new york the hub"),
      (2L, "the big the city the new york")).toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(df, minCount = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // driver replay: bigram positions per doc = n-1 → 7+6+6 = 19
    val ny = out(("new", "york"))
    assert(ny._1 === 4L && ny._2 === 4L && ny._3 === 4L && ny._4 === 19L)
    assert(ny._5 === 1000000L * 4 * 19 / (4 * 4))   // lift ≈ 4.75 → 4750000
    // "the city" occurs 2x but "the" is common → much lower lift
    val tc = out(("the", "city"))
    assert(tc._1 === 2L && tc._2 === 7L)
    assert(tc._5 === 1000000L * 2 * 19 / (7 * 2))
    assert(ny._5 > tc._5, "the true collocation must out-lift the common-word pair")
    // pairs under minCount are pruned
    assert(!out.contains(("is", "big")))
  }

  test("decodeAudio: real WAV decode — sine levels, duration, crossings; junk drops") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def sineWav(freqHz: Double, rateHz: Int, n: Int, amp: Double): Array[Byte] = {
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = math.round(amp * 32767.0 *
          math.sin(2 * math.Pi * freqHz * i / rateHz)).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rateHz.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, sineWav(1000.0, 8000, 800, 0.5)),          // 0.1 s half-scale tone
      (2L, sineWav(440.0, 8000, 8000, 1.0)),          // 1 s full-scale tone
      (3L, Array[Byte](1, 2, 3, 4)),                  // junk: dropped
      (4L, null.asInstanceOf[Array[Byte]]))           // NULL: dropped
    val out = MultimodalOps.decodeAudio(
        rows.toDF("id", "payload"), "id", "payload")
      .collect().map(a => a.id -> a).toMap
    assert(out.keySet === Set(1L, 2L), "undecodable payloads must drop")
    val tone = out(1L)
    assert(tone.channels === 1 && tone.sampleRateHz === 8000 &&
      tone.bitsPerSample === 16 && tone.nFrames === 800L &&
      tone.durationMs === 100L)
    // half-scale sine: rms = 0.5/sqrt(2), peak ~0.5, 2 crossings/cycle
    assert(math.abs(tone.rms - 0.5 / math.sqrt(2.0)) < 0.01)
    assert(tone.peak > 0.47 && tone.peak < 0.52)
    assert(tone.zeroCrossings >= 190 && tone.zeroCrossings <= 201)
    val loud = out(2L)
    assert(loud.durationMs === 1000L && loud.peak > 0.95)
    // 8-bit UNSIGNED WAV (the other JDK-writable PCM flavor): bytes are
    // magnitude + offset, so a half-scale sine must still read ~0.35 rms
    val pcm8 = (0 until 800).map { i =>
      (128 + math.round(0.5 * 127.0 *
        math.sin(2 * math.Pi * 1000 * i / 8000))).toByte
    }.toArray
    val bos8 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm8),
      new AudioFormat(8000f, 8, 1, false, false), 800L),
      AudioFileFormat.Type.WAVE, bos8)
    val u8 = MultimodalOps.decodeAudio(
        Seq((9L, bos8.toByteArray)).toDF("id", "payload"), "id", "payload")
      .collect().head
    assert(u8.bitsPerSample === 8 && u8.nFrames === 800L)
    assert(math.abs(u8.rms - 0.5 / math.sqrt(2.0)) < 0.02)
  }

  test("signalCorrelationMatrix: hand values, symmetry-free pairs, bounds") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val m = TextOps.signalCorrelationMatrix(docs).collect()
    assert(m.length === 10) // 5 choose 2, each unordered pair once
    m.foreach { r =>
      assert(!r.isNullAt(3), s"no corpus signal is constant: $r")
      val v = r.getDouble(3)
      assert(v >= -1.0000001 && v <= 1.0000001, s"r out of range: $r")
      assert(r.getString(0) < r.getString(1), "pairs must be name-ordered")
    }
    // token count and char count of whitespace text are near-perfectly
    // correlated; quality is NOT a copy of raw length
    val byPair = m.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(byPair(("n_chars", "n_tokens")) > 0.95)
    assert(math.abs(byPair(("n_chars", "quality_micro"))) <
      byPair(("n_chars", "n_tokens")))
    // driver-side replay on a tiny frame: exact Pearson for a known pair
    val tiny = Seq((0L, "a b"), (1L, "a b c d"), (2L, "a b c d e f"))
      .toDF("doc_id", "text")
    val t = TextOps.signalCorrelationMatrix(tiny).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // n_chars = 3,7,11 and n_tokens = 2,4,6 are affine → r = 1 exactly
    assert(math.abs(t(("n_chars", "n_tokens")).get - 1.0) < 1e-12)
    // stop_hits is constant (every doc has exactly "a") → r undefined → NULL
    assert(t(("n_tokens", "stop_hits")).isEmpty)
  }

  test("dupGramFraction: exact shares on a hand corpus; within-doc repeats excluded") {
    // docs 0/1 share their full text (every 3-gram duplicated), doc 2 is
    // unique, doc 3 repeats ITS OWN phrase (no other doc has it) — the
    // within-doc repeat must NOT count as corpus duplication
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (0L, shared), (1L, shared),
      (2L, "one two three four five six"),
      (3L, "own phrase here own phrase here own phrase here"))
      .toDF("doc_id", "text")
    val out = DedupOps.dupGramFraction(df, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) === ((4L, 4L, 1000000L)) && out(1L) === ((4L, 4L, 1000000L)))
    assert(out(2L) === ((4L, 0L, 0L)))
    // doc 3: 7 trigram positions, all hashes unique to doc 3 → 0 duplicated
    assert(out(3L)._1 === 7L && out(3L)._2 === 0L && out(3L)._3 === 0L)
    // real corpus: fractions in range, high-dup docs exist (templated text)
    val real = DedupOps.dupGramFraction(
      Tables(spark, SparkTestBase.sf001, "documents")).collect()
    assert(real.forall(r => r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
  }

  test("lshTopKMultiProbe: recall >= single-probe at equal params, exact precision") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    def recall(ann: org.apache.spark.sql.DataFrame): Double = {
      val truth = SimilarityOps.bruteForceTopK(emb, emb, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = ann.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val single = recall(SimilarityOps.lshTopK(emb, k = 5, nPlanes = 12, nTables = 2))
    val multi = recall(SimilarityOps.lshTopKMultiProbe(emb, k = 5,
      nPlanes = 12, nTables = 2))
    assert(multi >= single,
      s"probe 0 is the exact bucket, so candidates are a superset: $multi < $single")
    // everything is hash-deterministic, so the measured lift is a stable
    // regression pin (this corpus is near-random — max cos 0.48 — so
    // ABSOLUTE recall is inherently low; the point is the multiplier)
    assert(multi >= 1.5 * single,
      s"perturbed probes must add real recall: $multi vs $single")
    // precision is exact: every reported cosine equals the brute-force value
    val brute = SimilarityOps.bruteForceTopK(emb, emb, k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    SimilarityOps.lshTopKMultiProbe(emb, k = 5, nPlanes = 12, nTables = 2)
      .collect().foreach { r =>
        assert(r.getDouble(2) === brute((r.getLong(0), r.getLong(1))))
      }
  }

  test("bm25Retrieve: agrees with the fixed-term scorer; posting-list semantics") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val queries = Seq((7L, "spark join fast")).toDF("query_id", "query_text")
    val got = TextOps.bm25Retrieve(docs, queries, k = 10)
      .orderBy(col("rank")).collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) === 7L))
    assert(got.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 3L))
    // the full-scan scorer over the same terms must induce the same top-10
    // (scores can differ by fold order only — sub-1e-9 relative)
    val scan = TextOps.bm25(docs, Seq("spark", "join", "fast"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val (id, s) = (r.getLong(1), r.getDouble(3))
      assert(math.abs(s - scan(id)) <= 1e-9 * math.max(1.0, math.abs(s)),
        s"doc $id: $s vs full-scan ${scan(id)}")
    }
    val gotIds = got.map(_.getLong(1)).toSeq
    val expectIds = scan.toSeq.filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
    assert(gotIds === expectIds, "top-k ordering must match the full scan")
    // posting-list semantics: only docs hitting >= 1 term are scored at all
    val all = TextOps.bm25Retrieve(docs, queries, k = Int.MaxValue)
    assert(all.count() === scan.count(_._2 > 0))
  }

  test("containmentPairs: catches quote-in-document that Jaccard misses") {
    // doc 1 is a 6-token quote fully embedded in doc 0's 30-token text:
    // containment(1 in 0) = 1.0 while Jaccard ≈ 6/30 — invisible at J 0.5
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = quote + " " + (0 until 24).map(i => s"w$i").mkString(" ")
    val df = Seq((0L, host), (1L, quote),
      (2L, "totally different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.containmentPairs(df, minContain = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(3), r.getDouble(4)))
    assert(pairs.length === 1)
    val (a, b, ca, cb) = pairs.head
    assert(a === 0L && b === 1L)
    // every shingle of the quote is in the host (direction b-in-a here:
    // b=1 is the smaller side) and the host is NOT contained in the quote
    assert(cb === 1.0 && ca < 0.5)
    // the symmetric pipeline at a matching threshold misses this pair
    assert(DedupOps.jaccardPairs(df, minJaccard = 0.5).count() === 0)
    // agreement with brute force on the real corpus
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val fromIndex = DedupOps.containmentPairs(docs, minContain = 0.5)
      .orderBy("a", "b").collect().map(_.toSeq)
    assert(fromIndex.nonEmpty)
  }

  test("sessionSequences: ordered action strings, session splits, exact durations") {
    def ev(id: Long, u: Long, m: Int, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-03-01 10:$m%02d:00"), u, t, 1.0)
    val df = Seq(
      ev(1, 1L, 0, "view"), ev(2, 1L, 2, "click"), ev(3, 1L, 5, "purchase"),
      ev(4, 1L, 30, "view"), // > 10 min idle: new session
      ev(5, 2L, 0, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.sessionSequences(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out((1L, 1L)) === ((3L, 300L, "view>click>purchase")))
    assert(out((1L, 2L)) === ((1L, 0L, "view")))
    assert(out((2L, 1L)) === ((1L, 0L, "click")))
    // same-timestamp events order by event_id (the deterministic tiebreak)
    val tie = Seq(ev(8, 3L, 0, "b"), ev(7, 3L, 0, "a"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(EventOps.sessionSequences(tie).head.getString(4) === "a>b")
  }

  test("hashRankSample: exact target counts, deterministic nested subsets") {
    val df = Tables(spark, "/root/testdata/sf0.001", "documents")
    val langSizes = df.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = Map("en" -> 5L, "de" -> 3L, "zh" -> 1000L)
    val got = RelationalOps.hashRankSample(df, "doc_id", "lang", targets)
    val counts = got.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact counts, capped by stratum size; absent strata dropped
    assert(counts.keySet === targets.keySet.filter(langSizes.contains))
    counts.foreach { case (l, n) => assert(n === math.min(targets(l), langSizes(l))) }
    // schema passthrough: sampling only filters, never projects
    assert(got.columns === df.columns)
    // determinism + nestedness: the 3-doc 'de' sample is a subset of the
    // 5-doc one (rank order is a pure function of (salt, id))
    def deSet(n: Long) = RelationalOps.hashRankSample(df, "doc_id", "lang",
        Map("de" -> n)).select("doc_id").collect().map(_.getLong(0)).toSet
    val de3 = deSet(3L); val de5 = deSet(5L)
    assert(de3.size === 3 && de5.size === 5 && de3.subsetOf(de5))
    // partitioning-invariant
    assert(deSet(3L) ===
      RelationalOps.hashRankSample(df.repartition(13), "doc_id", "lang",
        Map("de" -> 3L)).select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("bloomPrunedJoin: identical to plain join; bloom prunes most non-matches") {
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    val lineitem = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val dim = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))

    val pruned = RelationalOps.bloomPrunedJoin(lineitem, dim, "o_orderkey")
    val plain = lineitem.join(dim, Seq("o_orderkey"))
    assert(pruned.count() === plain.count())
    assert(pruned.agg(sum(col("l_quantity"))).head().getDouble(0) ===
      plain.agg(sum(col("l_quantity"))).head().getDouble(0))

    // survivor set = true matches + bounded false positives: with
    // m=2^14 bits, k=3 and ~hundreds of keys, fp-rate is well under 10%
    val survivors = RelationalOps.bloomFilteredFact(lineitem, dim, "o_orderkey").count()
    val trueMatches = lineitem.join(dim.select("o_orderkey"), Seq("o_orderkey"),
      "left_semi").count()
    val nonMatches = lineitem.count() - trueMatches
    assert(survivors >= trueMatches)
    val fpRate = (survivors - trueMatches).toDouble / math.max(nonMatches, 1L)
    assert(fpRate < 0.10, s"bloom fp rate $fpRate (survivors=$survivors, true=$trueMatches)")
    // empty dim -> bloom rejects everything
    assert(RelationalOps.bloomFilteredFact(lineitem,
      dim.filter(lit(false)), "o_orderkey").count() === 0L)
  }

  test("scd2Merge: closes changed rows, appends versions, no-ops and re-applies idempotently") {
    val current = Seq(
      (1L, "A", 0L, Some(50L)), // closed history
      (1L, "B", 50L, None),     // open (will change)
      (2L, "C", 0L, None),      // open (same-value update: no-op)
      (3L, "D", 0L, None)       // open (no update)
    ).toDF("k", "v", "valid_from", "valid_to")
    val updates = Seq(
      (1L, "B2", 100L), // change
      (2L, "C", 100L),  // no-op
      (9L, "NEW", 100L) // new key
    ).toDF("k", "v", "ts")
    val merged = MergeOps.scd2Merge(current, updates, "k", Seq("v"))
    val rows = merged.orderBy(col("k"), col("valid_from")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(rows.toSeq === Seq(
      (1L, "A", 0L, Some(50L)),   // history untouched
      (1L, "B", 50L, Some(100L)), // closed by the change
      (1L, "B2", 100L, None),     // new version
      (2L, "C", 0L, None),        // no-op survives open
      (3L, "D", 0L, None),        // untouched
      (9L, "NEW", 100L, None)))   // brand-new key
    // idempotent: re-applying the same batch changes nothing
    val again = MergeOps.scd2Merge(merged, updates, "k", Seq("v"))
    assert(again.orderBy(col("k"), col("valid_from")).collect().toSeq ===
      merged.orderBy(col("k"), col("valid_from")).collect().toSeq)
    // an open row with NULL valid_from (unknown history start) must survive
    // untouched and close normally — row presence is tracked by join
    // markers, not by nullness of a data column
    val nullFrom = Seq((7L, "Z", Option.empty[Long], Option.empty[Long]))
      .toDF("k", "v", "valid_from", "valid_to")
    val kept7 = MergeOps.scd2Merge(nullFrom, updates, "k", Seq("v"))
      .filter(col("k") === 7L).collect()
    assert(kept7.length === 1 && kept7.head.getString(1) === "Z"
      && kept7.head.isNullAt(2) && kept7.head.isNullAt(3))
    val closed7 = MergeOps.scd2Merge(nullFrom,
        Seq((7L, "Z2", 99L)).toDF("k", "v", "ts"), "k", Seq("v"))
      .orderBy(col("valid_from").asc_nulls_first).collect()
    assert(closed7.length === 2)
    assert(closed7.head.getString(1) === "Z" && closed7.head.getLong(3) === 99L)
    assert(closed7.last.getString(1) === "Z2" && closed7.last.isNullAt(3))
  }

  test("latestPerKey: last change per key wins") {
    val cdc = Seq((2L, "b1", 10L), (2L, "b2", 20L), (3L, "c", 5L))
      .toDF("k", "v", "ts")
    val latest = MergeOps.latestPerKey(cdc, "k", Seq("v"))
    assert(latest.orderBy(col("k")).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((2L, "b2"), (3L, "c")))
  }

  test("native SimHash60 expression: bit-parity with the aggregate form, SQL surface works") {
    val rows = DedupOps.shingleHashRows(docsDf)
    val native = DedupOps.simHash60(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = DedupOps.simHash60Agg(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === agg)
    assert(native.nonEmpty && native.values.exists(_ != 0L))
    // exact dups carry identical fingerprints; near-dups small Hamming
    assert(native(0L) === native(1L))
    assert(java.lang.Long.bitCount(native(0L) ^ native(2L)) <= 10)
    // SQL function surface (GraftExtensions)
    rows.groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
      .createOrReplaceTempView("shingle_sets")
    val viaSql = spark.sql("SELECT id, simhash60(hs) AS fp FROM shingle_sets")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql === native)
  }

  test("quantizeInt8: exact floor quantization, zero vector safe, cosine preserved") {
    val df = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(-2.0f, 1.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val r = SimilarityOps.quantizeInt8(df).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getLong(2), x.getLong(3)))).toMap
    // v0: scale=127 -> q = [127, floor(-63.5) = -64, floor(31.75) = 31]
    assert(r(0L) === ((1.0, 127L - 64L + 31L, 127L + 64L + 31L)))
    assert(r(1L) === ((0.0, 0L, 0L))) // zero vector: no div-by-zero, all zeros
    // v2: mx=2, scale=63.5 -> q = [-127, 63, floor(31.75) = 31]
    assert(r(2L) === ((2.0, -127L + 63L + 31L, 127L + 63L + 31L)))
    // information preserved: dequantized cosine vs original stays near 1
    // on the real embeddings table
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    val vd = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val mx = array_max(transform(col("embedding"),
      (x: org.apache.spark.sql.Column) => abs(x.cast("double"))))
    // mx > 0 filter: a zero vector would make 127.0/mx infinite and its
    // NaN cosine would be IGNORED by min() — excluding it keeps the
    // assertion honest about the rows it covers
    val deq = emb.select(col("vec_id"), vd.as("v"), mx.as("mx"))
      .filter(col("mx") > 0)
      .withColumn("q", transform(col("v"), x => floor(x * (lit(127.0) / col("mx")))))
      .withColumn("dq", transform(col("q"), x => x * col("mx") / lit(127.0)))
      .withColumn("cos_vq", SimilarityOps.dot(col("v"), col("dq")) /
        (sqrt(SimilarityOps.dot(col("v"), col("v"))) *
          sqrt(SimilarityOps.dot(col("dq"), col("dq")))))
    val worst = deq.agg(min(col("cos_vq"))).head().getDouble(0)
    assert(worst > 0.99, s"int8 dequantized cosine degraded to $worst")
  }

  test("hourlyGapFill: absent (hour, type) cells appear as zero rows, grid complete") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")
    // clicks at 10 and 13, one error at 11 — hours 11/12 have no clicks,
    // 10/12/13 no errors
    val ev = Seq((ts(10), "click", 1.0), (ts(13), "click", 2.0),
      (ts(11), "error", 4.0)).toDF("ts", "event_type", "value")
    val filled = EventOps.hourlyGapFill(ev).collect()
      .map(r => (r.getTimestamp(0).toString.take(13), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // complete 4x2 grid
    assert(filled.size === 8)
    assert(filled(("2024-03-01 10", "click")) === ((1L, 1.0)))
    assert(filled(("2024-03-01 11", "click")) === ((0L, 0.0)))
    assert(filled(("2024-03-01 12", "error")) === ((0L, 0.0)))
    assert(filled(("2024-03-01 11", "error")) === ((1L, 4.0)))
  }

  test("skewProfile: exact distribution facts on a known skewed frame") {
    // 9 singleton keys + one 90-row hot key
    val df = ((0L until 9L).map(k => (k, "x")) ++
      (0 until 90).map(_ => (100L, "x"))).toDF("k", "v")
    val r = RelationalOps.skewProfile(df, "k").head()
    assert(r.getLong(0) === 10L)   // n_keys
    assert(r.getLong(1) === 99L)   // n_rows
    assert(r.getLong(2) === 90L)   // max_c
    assert(r.getLong(3) === 1L)    // p50: position ceil(5) -> 1
    assert(r.getLong(4) === 1L)    // p90: position ceil(9) -> 1
    assert(r.getLong(5) === 90L)   // p99: position ceil(9.9)=10 -> 90
    assert(r.getLong(6) === 90L * 10000L / 99L) // 9090 bp
  }

  test("boilerplateReport: dup docs share everything, unique docs nothing, self-repeats don't count") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),   // exact dup of 0 -> 1.0 both
      (2L, "one two three four five six seven"), // unique -> 0.0
      (3L, "x y z x y z x y z")                  // self-repeating but unique corpus-wide
    ).toDF("doc_id", "text")
    val r = DedupOps.boilerplateReport(df).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(0L)._3 === 1.0 && r(1L)._3 === 1.0)
    assert(r(2L)._3 === 0.0)
    // doc 3's shingles repeat WITHIN it only: must not count as shared
    assert(r(3L)._3 === 0.0)
    // distinct-shingle denominator: doc 3 has 7 windows but 3 distinct shingles
    assert(r(3L)._1 === 3L)
  }

  test("pageRankInt: hub outranks leaves, mass bounded, partitioning-invariant") {
    // star graph: 0 <-> {1,2,3,4} plus a detached pair 5 <-> 6
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
    val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val verts = (0L to 6L).toDF("id")
    val scale = 1000000000000L
    def ranksOf(e: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      GraphOps.pageRankInt(e, verts, iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r = ranksOf(edges)
    // the hub holds more rank than any leaf; leaves are symmetric
    assert(Seq(1L, 2L, 3L, 4L).forall(l => r(0L) > r(l)))
    assert(Seq(2L, 3L, 4L).forall(l => r(l) === r(1L)))
    // the detached pair swaps its own mass: both equal, above the leaves
    assert(r(5L) === r(6L) && r(5L) > r(1L))
    // total mass stays <= scale (div truncation only loses dust)
    val total = r.values.sum
    assert(total <= scale && total > scale * 95 / 100)
    // bit-identical under a different input partitioning
    assert(ranksOf(edges.repartition(7)) === r)
  }

  test("bm25: zero-hit docs score 0, tf monotone, rarer term outweighs common one") {
    val df = Seq(
      (0L, "spark spark spark runs fast"),
      (1L, "spark runs here today quickly"),
      (2L, "nothing relevant at all here"),
      (3L, "common common common common common"),
      (4L, "common word list again today")
    ).toDF("doc_id", "text")
    // 'spark' appears in 2 docs, 'common' in 2 docs, same df -> same idf;
    // within one term, higher tf (same dl) scores strictly higher
    val scores = TextOps.bm25(df, Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(2L) === 0.0 && scores(3L) === 0.0)
    assert(scores(0L) > scores(1L) && scores(1L) > 0.0)
    // multi-term score = sum of single-term scores (fixed fold order)
    val multi = TextOps.bm25(df, Seq("spark", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val common = TextOps.bm25(df, Seq("common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    df.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(multi(id) === scores(id) + common(id))
    }
  }

  test("pmiCollocations: double-shape lift survives counts that overflow the BIGINT product form") {
    // 4000 docs of 1000 repeated tokens: c12('a','a') = N = 3,996,000, so
    // the retired integer form 10^6·c12·N ≈ 1.6e19 exceeds Long.MaxValue —
    // exactly the 100 TB-scale hazard the double shape exists for
    val text = ("a " * 1000).trim
    val docs = (0 until 4000).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docs).collect()
    assert(out.length === 1)
    val r = out.head
    val (c12, c1, c2, n) =
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(c12 === 3996000L && n === 3996000L && c1 === 4000000L && c2 === c1)
    assert(BigInt(1000000) * c12 * n > BigInt(Long.MaxValue),
      "the fixture must actually overflow the old integer product")
    val expect = math.floor(
      1e6 * c12.toDouble * n.toDouble / (c1.toDouble * c2.toDouble)).toLong
    assert(r.getLong(6) === expect && expect === 998001L)
  }

  test("labelNeighborhoodPurity: mislabeled vector in a tight cluster is the suspect; candidates == brute") {
    // 9 co-located vectors labeled 1, one vector AT THE SAME SPOT labeled
    // 2 (the mislabel), one isolated vector labeled 3 (no same-label
    // neighbors by geometry)
    val cluster = (0 until 9).map { i =>
      val v = Array.fill(4)(0.0f); v(0) = 1.0f; v(1) = 0.001f * i
      (i.toLong, v, 1)
    }
    val mislabeled = (50L, Array(1.0f, 0.0045f, 0.0f, 0.0f), 2)
    val isolated = (99L, Array(0.0f, 0.0f, 1.0f, 0.0f), 3)
    val emb = (cluster :+ mislabeled :+ isolated)
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.labelNeighborhoodPurity(emb, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4)))
      .toMap
    assert(out.size === 11, "every vector reported")
    assert(out(50L) === ((0L, true)), "the mislabel is the suspect")
    assert(out(99L)._2, "geometric isolation also reads as zero purity")
    assert(cluster.forall { case (id, _, _) => out(id)._1 >= 4L },
      "cluster members keep near-perfect purity despite the intruder")
    // candidate form over the full cross reproduces the brute kernel
    val ids = emb.select(col("vec_id"))
    val fullCross = ids.select(col("vec_id").as("query_id"))
      .crossJoin(ids.select(col("vec_id").as("neighbor_id")))
    val viaCand = SimilarityOps.labelPurityFromCandidates(emb, fullCross, 5)
      .collect().map(_.toString).sorted.toSeq
    val brute = SimilarityOps.labelNeighborhoodPurity(emb, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCand === brute)
  }

  test("annRecallAudit: brute vs itself is perfect recall; empty ANN is zero with full coverage; multi-probe >= single") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(emb, queries, 10)
    val perfect = SimilarityOps.annRecallAudit(emb, queries, brute, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(perfect.length === 10)
    assert(perfect.forall { case (_, h, rm) => h === 10L && rm === 1000000L })
    // an ANN that returns nothing: every query still reported, at zero
    val none = SimilarityOps.annRecallAudit(emb, queries,
      brute.filter(lit(false)), 10).collect()
    assert(none.length === 10 && none.forall(_.getLong(1) === 0L))
    // the knob loop the audit exists for: multi-probe recall is
    // monotonically >= single-probe at equal (nPlanes, nTables)
    def mean(ann: org.apache.spark.sql.DataFrame): Double =
      SimilarityOps.annRecallAudit(emb, queries, ann, 10)
        .agg(avg(col("recall_micro"))).head.getDouble(0)
    val single = mean(SimilarityOps.lshTopK(emb, k = 10, nPlanes = 6))
    val multi = mean(SimilarityOps.lshTopKMultiProbe(emb, k = 10, nPlanes = 6))
    assert(multi >= single, s"multi-probe $multi must not lose to $single")
  }

  test("knnDensityOutliersFromCandidates: full cross == brute kernel; short lists -> NULL rows") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val ids = emb.select(col("vec_id"))
    val fullCross = ids.select(col("vec_id").as("query_id"))
      .crossJoin(ids.select(col("vec_id").as("neighbor_id")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3))
    val brute = SimilarityOps.knnDensityOutliers(emb, k = 5, bottomPct = 10)
      .collect().map(key).sortBy(_._1).toSeq
    val viaCand = SimilarityOps.knnDensityOutliersFromCandidates(
        emb, fullCross, k = 5, bottomPct = 10)
      .collect().map(key).sortBy(_._1).toSeq
    assert(viaCand === brute,
      "candidate rerank over the full cross must equal the brute kernel")
    // short candidate lists (here: only neighbors with id within 2 — most
    // vectors get < k candidates) surface as NULL-scored rows covering
    // EVERY id, never as missing ids
    val sparse = fullCross.filter(
      abs(col("query_id") - col("neighbor_id")) <= 2)
    val out = SimilarityOps.knnDensityOutliersFromCandidates(
      emb, sparse, k = 5, bottomPct = 10).collect()
    assert(out.length === emb.count(),
      "every input id must appear in the report")
    assert(out.forall(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)),
      "ids that never reach a k-th candidate carry NULL score and flag")
    // and the brute kernel on a corpus of n <= k rows: all-NULL, all ids
    val tiny = emb.filter(col("vec_id") < 4)
    val tinyOut = SimilarityOps.knnDensityOutliers(tiny, k = 5).collect()
    assert(tinyOut.length === 4 && tinyOut.forall(_.isNullAt(1)))
  }

  test("hardNegativesFromCandidates: full cross == brute kernel; generous ANN candidates recover it") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val fullCross = queries.select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4))
    val brute = SimilarityOps.hardNegatives(emb, queries, 10)
      .collect().map(key).sortBy(r => (r._1, r._5)).toSeq
    val viaCand = SimilarityOps.hardNegativesFromCandidates(
        emb, queries, fullCross, 10)
      .collect().map(key).sortBy(r => (r._1, r._5)).toSeq
    assert(viaCand === brute,
      "candidate rerank over the full cross must equal the brute kernel")
    // the intended composition: ANN candidates with generous k' from the
    // brute ranking itself (stand-in for lshTopK/ivfTopKPersisted output —
    // any (query_id, neighbor_id) frame works); with k' large enough to
    // hold 10 cross-label rows, the mined negatives match exactly
    val ann = SimilarityOps.bruteForceTopK(emb, queries, k = 200)
      .select(col("query_id"), col("neighbor_id"))
    val viaAnn = SimilarityOps.hardNegativesFromCandidates(
        emb, queries, ann, 10)
      .collect().map(key).sortBy(r => (r._1, r._5)).toSeq
    assert(viaAnn === brute,
      "a generous ANN candidate set must recover the brute negatives")
  }

  test("dedupLines: corpus-wide C4 rule — every occurrence of a df>=2 line struck, order kept, all-boilerplate doc empties") {
    val docs = Seq(
      (1L, "a b\nDUP\nc d"),   // middle line is corpus boilerplate
      (2L, "DUP\nx y"),        // leading occurrence struck too (C4 rule)
      (3L, "solo line"),       // untouched
      (4L, "DUP")              // whole doc is boilerplate -> ''
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupLines(docs, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("a b\nc d", 3L, 1L)), "survivors keep order")
    assert(out(2L) === (("x y", 2L, 1L)), "first occurrence removed as well")
    assert(out(3L) === (("solo line", 1L, 0L)))
    assert(out(4L) === (("", 1L, 1L)), "all-boilerplate doc becomes empty")
    // below the df bar nothing moves: unique lines all survive verbatim
    val calm = DedupOps.dedupLines(docs.filter(col("doc_id") <= 1), minDf = 2)
      .collect().map(r => r.getString(1)).toSeq
    assert(calm === Seq("a b\nDUP\nc d"))
  }

  test("cdcChunks: coverage/bounds invariants, identical payloads collide, insertion resyncs, partition-invariant") {
    // deterministic pseudo-random payload (seeded LCG — not corpus text,
    // so the mask actually fires at gear-random positions)
    def randBytes(seed: Long, n: Int): Array[Byte] = {
      var s = seed
      Array.fill(n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33).toByte
      }
    }
    val a = randBytes(7L, 4000)
    // b = a with one byte inserted at position 100 — boundaries must
    // RESYNCHRONIZE (the CDC property fixed-size blocks lack)
    val b = (a.take(100) :+ 0x5A.toByte) ++ a.drop(100)
    val payloads = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "payload")
    val (minLen, maskBits, maxLen) = (32, 6, 256)
    val rows = MultimodalOps.cdcChunks(payloads, minLen = minLen,
        maskBits = maskBits, maxLen = maxLen)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).toSeq }
    // coverage: chunks tile the payload exactly, in order
    for ((id, n) <- Seq(1L -> a.length, 3L -> b.length)) {
      val cs = rows(id)
      assert(cs.head._3 === 0 && cs.map(_._2) === cs.indices.map(identity))
      cs.sliding(2).foreach { case Seq(p, q) => assert(q._3 === p._3 + p._4); case _ => }
      assert(cs.last._3 + cs.last._4 === n)
      // bounds: every non-final chunk inside [minLen, maxLen]
      cs.init.foreach(c => assert(c._4 >= minLen && c._4 <= maxLen))
      assert(cs.last._4 <= maxLen)
      assert(cs.size >= 10, "payload long enough to chunk many times")
    }
    // identical payloads → identical chunk rows
    assert(rows(1L).map(c => (c._2, c._3, c._4, c._5)) ===
      rows(2L).map(c => (c._2, c._3, c._4, c._5)))
    // insertion resync: all but the edited prefix's chunks share hashes
    val ha = rows(1L).map(_._5)
    val hb = rows(3L).map(_._5)
    val commonSuffix = ha.reverse.zip(hb.reverse).takeWhile { case (x, y) => x == y }.size
    assert(commonSuffix >= ha.size - 2,
      s"boundaries must resync after one insertion (shared suffix $commonSuffix of ${ha.size})")
    assert(ha.head !== hb.head, "the edited chunk itself must differ")
    // partition invariance
    val repart = MultimodalOps.cdcChunks(payloads.repartition(7), minLen = minLen,
        maskBits = maskBits, maxLen = maxLen)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(repart === rows.toSeq.sortBy(_._1).flatMap(_._2))
  }

  test("cdcDedupStats and blobPairsByChunks: exact duplicate collapses, near-dup pair surfaces at jaccard ~1") {
    def randBytes(seed: Long, n: Int): Array[Byte] = {
      var s = seed
      Array.fill(n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33).toByte
      }
    }
    val a = randBytes(11L, 3000)
    val edited = (a.take(50) :+ 0x00.toByte) ++ a.drop(50)
    val other = randBytes(99L, 3000)
    val payloads = Seq((1L, a), (2L, a.clone()), (3L, edited), (4L, other))
      .toDF("doc_id", "payload")
    val chunks = MultimodalOps.cdcChunks(payloads)
    val st = MultimodalOps.cdcDedupStats(chunks).collect()(0)
    val (totC, dstC, totB, uniB, ratio) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3), st.getLong(4))
    assert(totB === 3000L * 3 + 3001L)
    assert(dstC < totC, "the exact duplicate must collapse")
    assert(uniB < totB && ratio === 1000000L * uniB / totB)
    // pairs: (1,2) exact → jaccard 1.0; (1,3)/(2,3) near-dup high; the
    // unrelated blob 4 pairs with nobody at 0.5
    val pairs = MultimodalOps.blobPairsByChunks(chunks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
      .sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 === 1.0)
    assert(pairs.tail.forall(_._3 > 0.8), "one edited chunk of many")
  }

  test("ngramTerms: bigram derivation, short-doc empty list") {
    import spark.implicits._
    val out = Seq((0L, "a b c d"), (1L, "solo"), (2L, "x y"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.ngramTerms(col("text"), 2).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(0L) === Seq("a_b", "b_c", "c_d"))
    assert(out(1L) === Seq.empty)
    assert(out(2L) === Seq("x_y"))
  }

  test("bm25TopK: exact Okapi arithmetic (ratio idf, k1=1.2 b=0.75), rank order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x x y"), // dl=3, tf(x)=2
      (2L, "x z"),   // dl=2, tf(x)=1
      (3L, "y y y z")
    ).toDF("doc_id", "text")
    val queries = Seq((10L, "x q")).toDF("doc_id", "text")
    // maxDfPpm=1e6 disables stopword pruning (df(x)=2 of N=3)
    val out = TextOps.bm25TopK(corpus, queries, k = 5, maxDfPpm = 1000000L)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // idf(x) = (3-2+0.5)/(2+0.5) = 0.6; avgdl = 9/3 = 3
    // d1: tfn = 2*2.2/(2+1.2*(0.25+0.75*1)) = 4.4/3.2 = 1.375 → 825000
    // d2: tfn = 2.2/(1+1.2*(0.25+0.75*(2/3))) = 2.2/1.9 → 694737
    assert(out === Array((1L, 825000L, 1L, 1), (2L, 694737L, 1L, 2)))
  }

  test("scd2: no-op suppression, half-open intervals, as-of boundary and pre-history NULLs") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(us: Long) = new Timestamp(us / 1000) // ms precision is enough here
    val changes = Seq(
      (1L, ts(1000000), 7L, "a"),
      (2L, ts(2000000), 7L, "a"), // no-op restating 'a' → suppressed
      (3L, ts(3000000), 7L, "b"),
      (4L, ts(4000000), 7L, "a"), // back to 'a' → a NEW version
      (5L, ts(5000000), 9L, "x")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val hist = EventOps.scd2FromChanges(changes)
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), Option(r.get(4)), r.getBoolean(5)))).toMap
    assert(hist.size === 4, "the no-op change opens no version")
    assert(hist((7L, 1)) === (("a", 1000000L, Some(3000000L), false)))
    assert(hist((7L, 2)) === (("b", 3000000L, Some(4000000L), false)))
    assert(hist((7L, 3)) === (("a", 4000000L, None, true)))
    assert(hist((9L, 1)) === (("x", 5000000L, None, true)))
    // as-of: fact BEFORE first version → NULL; fact AT a version start
    // takes that version; fact between versions takes the earlier one
    val facts = Seq(
      (10L, ts(500000), 7L, "f"),  // pre-history
      (11L, ts(3000000), 7L, "f"), // exactly at v2's start → v2
      (12L, ts(3500000), 7L, "f")  // inside [v2, v3)
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dim = EventOps.scd2FromChanges(changes)
    val j = EventOps.scd2AsofJoin(facts, dim).orderBy("event_id").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)), Option(r.getAs[String]("attr"))))).toMap
    assert(j(10L) === ((None, None)))
    assert(j(11L) === ((Some(2), Some("b"))))
    assert(j(12L) === ((Some(2), Some("b"))))
  }

  test("mixtureCube: rollups sum detail cells, grouping_lvl disambiguates real NULLs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b", "en", "s1"), (1L, "c", "en", "s1"),
      (2L, "d e f", "de", "s1"), (3L, "g", "de", "s2"),
      (4L, "h i", null, "s2") // genuine NULL lang, distinguishable by lvl
    ).toDF("doc_id", "text", "lang", "source")
    val rows = TextOps.mixtureCube(docs).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), Option(r.getString(2))) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(rows((0, Some("s1"), Some("en"))) === ((2L, 3L)))
    assert(rows((0, Some("s2"), None)) === ((1L, 2L)), "genuine NULL at lvl 0")
    assert(rows((1, Some("s1"), None)) === ((3L, 6L)), "lang rolled up = lvl 1")
    assert(rows((2, None, Some("de"))) === ((2L, 4L)), "source rolled up = lvl 2")
    assert(rows((3, None, None)) === ((5L, 9L)), "grand total = lvl 3")
    // every rollup level's doc count sums to the corpus
    Seq(0, 1, 2).foreach(l => assert(
      rows.filter(_._1._1 == l).values.map(_._1).sum === 5L))
  }

  test("hll: merge lemma (per-register max == direct union sketch), estimate band, audit coverage") {
    import spark.implicits._
    val a = (0 until 3000).map(i => ("ga", s"key$i"))
    val b = (2000 until 5000).map(i => ("gb", s"key$i")) // overlaps a by 1000
    val df = (a ++ b).toDF("grp", "key")
    val perGroup = RelationalOps.hllRegisters(df, col("key"), col("grp"))
    // structural: register ids in [0, 256), ranks in [1, 53]
    val regs = perGroup.collect()
    assert(regs.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 256 &&
      r.getInt(2) >= 1 && r.getInt(2) <= 53))
    // merge lemma: max-per-register over group sketches == the sketch of
    // the UNION built directly (what makes shard sketches re-aggregable)
    val merged = RelationalOps.hllMergeRegisters(perGroup, "u")
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    val direct = RelationalOps.hllRegisters(
        df.select(lit("u").as("grp"), col("key")), col("key"), col("grp"))
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(merged === direct)
    // audit: exact counts right; raw estimate within 4 sigma (sigma =
    // 1.04/sqrt(256) = 6.5%) of exact for in-range cardinalities
    val audit = RelationalOps.hllCardinalityAudit(df, col("key"), col("grp"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(5)))).toMap
    assert(audit("ga")._1 === 3000L && audit("gb")._1 === 3000L)
    assert(audit("__ALL__")._1 === 5000L)
    assert(audit.values.forall(_._2 < 260000L),
      s"raw HLL estimate off by > 26%: $audit")
  }

  test("bm25TopK: stopword-band df pruning; no-overlap query yields no rows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common rare"), (2L, "common other"), (3L, "common more"),
      (4L, "alone word")
    ).toDF("doc_id", "text")
    // df(common)=3 of N=4 > 50% → pruned from postings; rare df=1 kept
    val hit = TextOps.bm25TopK(corpus,
        Seq((10L, "common rare")).toDF("doc_id", "text"), k = 5).collect()
    assert(hit.map(r => (r.getLong(1), r.getLong(3))) === Array((1L, 1L)),
      "only the rare term scores, and only its one doc")
    val miss = TextOps.bm25TopK(corpus,
        Seq((11L, "common")).toDF("doc_id", "text"), k = 5).collect()
    assert(miss.isEmpty, "a stopword-band-only query has no candidates")
  }

  test("knnGraph: degree bounded by kTop, edges mutual and a subset of the threshold graph") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val kTop = 3
    val g = SimilarityOps.knnGraph(emb, 0.2, kTop = kTop).localCheckpoint()
    val thresh = SimilarityOps.srpNearDupPairs(emb, 0.2)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "the sf0.001 corpus has near-dups at cos >= 0.2")
    assert(edges.forall(thresh.contains),
      "kNN edges are a SELECTION from the threshold graph, never new pairs")
    // the construction's whole point: per-vertex degree <= kTop at ANY
    // corpus density (the fixed-e graph has no such bound)
    val maxDeg = g.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxDeg <= kTop, s"mutual-kNN degree $maxDeg exceeds kTop=$kTop")
    // mutuality: recompute directed top-k by brute force and check both
    // directions hold for every kept edge
    val pairs = SimilarityOps.srpNearDupPairs(emb, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byV = (pairs.map(p => (p._1, (p._2, p._3))) ++
        pairs.map(p => (p._2, (p._1, p._3))))
      .groupBy(_._1).map { case (v, ns) =>
        v -> ns.map(_._2).sortBy { case (nb, c) => (-c, nb) }
          .take(kTop).map(_._1).toSet
      }
    assert(edges.forall { case (a, b) =>
      byV(a).contains(b) && byV(b).contains(a) },
      "every kept edge is in BOTH endpoints' top-k")
    // and no mutual pair was dropped
    val mutual = pairs.collect { case (a, b, _)
      if byV(a).contains(b) && byV(b).contains(a) => (a, b) }.toSet
    assert(edges.toSet === mutual)
  }

  test("autoPlanes: integer operating-point rule — smallest p with (n >> p) <= target, clamped") {
    // the exact rule the SQL oracle replays (integer shift, no log2)
    assert(SimilarityOps.autoPlanes(0L) === 4)
    assert(SimilarityOps.autoPlanes(200L) === 5)      // 200 >> 5 = 6 <= 8
    assert(SimilarityOps.autoPlanes(2000L) === 8)     // 2000 >> 8 = 7
    assert(SimilarityOps.autoPlanes(20000L) === 12)   // 20000 >> 12 = 4
    assert(SimilarityOps.autoPlanes(200000L) === 15)  // 200000 >> 15 = 6
    assert(SimilarityOps.autoPlanes(Long.MaxValue) === 24, "clamped at maxPlanes")
    // monotone in n; expected occupancy n >> p stays <= target once p < max
    (1 until 40).foreach { e =>
      val n = 1L << e
      val p = SimilarityOps.autoPlanes(n)
      assert(p >= SimilarityOps.autoPlanes(n - 1))
      if (p < 24) assert((n >> p) <= 8L,
        s"occupancy bound violated at n=$n p=$p")
    }
    // the HONEST ceiling: the flat regime ends at target·2^maxPlanes per
    // table; past it the rule saturates and expected occupancy grows
    // linearly again — and because autoPlanes caps, plane DRIFT reads 0
    // there (the outgrowth guard goes blind; the occupancy audit is the
    // signal past the ceiling). Documented in autoPlanes' scaladoc.
    val ceiling = 8L << 24 // targetOccupancy * 2^maxPlanes
    assert(SimilarityOps.autoPlanes(ceiling) === 24, "flat regime boundary")
    assert((ceiling >> 24) === 8L)
    Seq(ceiling * 2, ceiling * 100, 1L << 50).foreach { n =>
      assert(SimilarityOps.autoPlanes(n) === 24, s"rule saturates at n=$n")
      assert((n >> 24) > 8L,
        "past the ceiling expected occupancy exceeds target — the linear" +
          " regime is over and composition (sharding) takes over")
    }
  }

  test("srpNearDupPairsSplit: subset of the un-split form, exact precision, no-op above max occupancy, identical cells unsplittable") {
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val planes = SimilarityOps.autoPlanes(emb.count())
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val unsplit = SimilarityOps.srpNearDupPairsSized(emb, 0.2, planes)
      .collect().map(key).toSet
    // aggressive split: candidates only shrink; precision stays exact
    val split = SimilarityOps.srpNearDupPairsSplit(emb, 0.2, planes,
      splitOccupancy = 2).collect()
    val splitKeys = split.map(key).toSet
    assert(splitKeys.subsetOf(unsplit),
      "splitting may only REMOVE candidates, never invent them")
    assert(splitKeys.size < unsplit.size,
      "splitOccupancy=2 on this corpus must actually split hot cells")
    assert(splitKeys.nonEmpty, "fixture must keep real pairs")
    split.foreach(r => assert(r.getDouble(2) >= 0.2, "exact verify"))
    // threshold above every cell's occupancy: byte-identical to un-split
    val noop = SimilarityOps.srpNearDupPairsSplit(emb, 0.2, planes,
      splitOccupancy = 1000000L).collect().map(key).toSet
    assert(noop === unsplit, "no cell over threshold -> no behavior change")
    // identical vectors project identically on EVERY plane — no split
    // depth separates them, and the post-split maxBucket guard is the
    // documented drop path; under the cap they must all survive
    val ident = (1L to 40L).map(i => (i, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val identPairs = SimilarityOps.srpNearDupPairsSplit(ident, 0.9,
      nPlanes = 4, splitOccupancy = 2).collect().map(key).toSet
    assert(identPairs.size === 40 * 39 / 2,
      "an unsplittable identical-direction cell keeps all its pairs")
  }

  test("srpNearDupPairsAuto / knnGraphAuto: equal to the sized strided form at the derived plane count") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val n = emb.count()
    val p = SimilarityOps.autoPlanes(n)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val auto = SimilarityOps.srpNearDupPairsAuto(emb, 0.2).collect().map(key).toSet
    val sized = SimilarityOps.srpNearDupPairsSized(emb, 0.2, p)
      .collect().map(key).toSet
    assert(auto === sized, "auto = sized at autoPlanes(count)")
    assert(auto.nonEmpty)
    // strided plane identities differ from the fixed layout's (plane
    // t*nPlanes+i) unless the plane count happens to line up — assert the
    // STRIDED family is self-consistent instead: precision stays exact
    val verified = SimilarityOps.srpNearDupPairsAuto(emb, 0.2).collect()
    verified.foreach(r => assert(r.getDouble(2) >= 0.2))
    // the auto kNN graph keeps the degree bound and the subset property
    // against ITS candidate set
    val g = SimilarityOps.knnGraphAuto(emb, 0.2, kTop = 3).localCheckpoint()
    val edges = g.collect().map(key)
    assert(edges.nonEmpty && edges.forall(auto.contains))
    val maxDeg = g.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxDeg <= 3)
  }

  test("srpNearDupPairsSharded: per-shard union composition past the plane ceiling, within-shard recall only") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    // a TINY ceiling so this corpus is genuinely PAST the flat regime:
    // targetOccupancy 1, maxPlanes 6 -> capacity 2^6 = 64 per table,
    // while the corpus holds ~200 vectors
    val n = emb.count()
    val ceiling = 1L << 6
    assert(n > ceiling, "fixture must exceed the tiny ceiling")
    val k = 4
    val sharded = SimilarityOps.srpNearDupPairsSharded(emb, 0.2, k,
      targetOccupancy = 1L, maxPlanes = 6).collect()
    sharded.foreach(r => assert(r.getDouble(2) >= 0.2, "exact verify"))
    val shardedKeys = sharded.map(key).toSet
    assert(shardedKeys.nonEmpty, "fixture must keep real pairs")
    // COMPOSITION: the sharded operator IS the union of the auto-point
    // run over each id-range shard — same integer boundaries, each shard
    // sized on its own count (autoPlanes at the same tiny point)
    val ids = emb.select(min(col("vec_id")), max(col("vec_id"))).head()
    val (mn, mx) = (ids.getLong(0), ids.getLong(1))
    val span = mx - mn + 1
    val perShard = (0 until k).flatMap { s =>
      val sub = emb.filter(expr(s"(vec_id - $mn) * $k DIV $span") === s)
      val p = SimilarityOps.autoPlanes(sub.count(), 1L, maxPlanes = 6)
      SimilarityOps.srpNearDupPairsSized(sub, 0.2, p).collect().map(key)
    }.toSet
    assert(shardedKeys === perShard,
      "sharded = union of per-shard auto-point runs")
    // the RECALL statement: every returned pair is intra-shard, and a
    // cross-shard near-dup the GLOBAL auto point finds is absent
    def shardOf(id: Long) = (id - mn) * k / span
    shardedKeys.foreach { case (a, b) =>
      assert(shardOf(a) === shardOf(b), "pairs never straddle a shard")
    }
    val global = SimilarityOps.srpNearDupPairsAuto(emb, 0.2)
      .collect().map(key)
    val crossShard = global.filter { case (a, b) => shardOf(a) != shardOf(b) }
    assert(crossShard.nonEmpty,
      "fixture must have cross-shard near-dups for the recall claim")
    crossShard.foreach(p => assert(!shardedKeys.contains(p),
      "cross-shard pairs are invisible by design"))
    // nShards = 1 degenerates to the plain auto point at the same
    // operating parameters
    val one = SimilarityOps.srpNearDupPairsSharded(emb, 0.2, 1).collect()
      .map(key).toSet
    assert(one === global.toSet, "one shard = the global auto point")
  }

  test("semanticDupClustersBounded: CC over the bounded mutual-kNN edges, singletons kept") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val got = SimilarityOps.semanticDupClustersBounded(emb, 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val manual = GraphOps.connectedComponents(
        SimilarityOps.knnGraphAuto(emb, 0.4, kTop = 4),
        emb.select(col("vec_id")), "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === manual)
    assert(got.size === emb.count(), "every vector labeled, singletons included")
    // comp is the component-minimum member id
    got.groupBy(_._2).foreach { case (comp, members) =>
      assert(comp === members.keys.min)
    }
  }

  test("incrementalComponents: chained batches equal the global recompute; untouched comps keep labels") {
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val pairs = SimilarityOps.srpNearDupPairs(emb, 0.4)
      .select(col("a"), col("b")).localCheckpoint()
    val verts = emb.select(col("vec_id"))
    // three chained ingests: % 3 buckets arrive one at a time
    def bucket(c: org.apache.spark.sql.Column, i: Int) = pmod(c, lit(3)) === i
    var asg = GraphOps.connectedComponents(
      pairs.filter(bucket(col("a"), 0) && bucket(col("b"), 0)),
      verts.filter(bucket(col("vec_id"), 0)), "vec_id")
    (1 to 2).foreach { i =>
      val seen = (c: org.apache.spark.sql.Column) =>
        (0 to i).map(j => bucket(c, j)).reduce(_ || _)
      val newE = pairs.filter(seen(col("a")) && seen(col("b")) &&
        (bucket(col("a"), i) || bucket(col("b"), i)))
      asg = GraphOps.incrementalComponents(asg, newE,
        verts.filter(bucket(col("vec_id"), i)), "vec_id").localCheckpoint()
    }
    val global = GraphOps.connectedComponents(pairs, verts, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === global,
      "incremental maintenance must reproduce global CC bit-for-bit")
    // quotient locality: a batch with ONE new edge between two fresh ids
    // relabels nothing outside that pair
    val fresh = GraphOps.incrementalComponents(asg,
      Seq((900001L, 900002L)).toDF("a", "b"),
      Seq(900001L, 900002L).toDF("vec_id"), "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fresh(900001L) === 900001L && fresh(900002L) === 900001L)
    assert((fresh - 900001L - 900002L) === inc)
  }

  test("persisted cluster assignments: ensure + maintain == global CC; ensure is tag-idempotent") {
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val pairs = SimilarityOps.srpNearDupPairs(emb, 0.4)
      .select(col("a"), col("b")).localCheckpoint()
    val verts = emb.select(col("vec_id"))
    def bucket(c: org.apache.spark.sql.Column, i: Int) = pmod(c, lit(2)) === i
    GraphOps.ensureClusterAssignments(
      pairs.filter(bucket(col("a"), 0) && bucket(col("b"), 0)),
      verts.filter(bucket(col("vec_id"), 0)), "graft_test_cc",
      corpusTag = "t#base", idCol = "vec_id")
    // same tag: ensure must NOT rebuild (the served snapshot keeps its files)
    val loc1 = GraphOps.clusterAssignments(spark, "graft_test_cc")
      .inputFiles.toSet
    GraphOps.ensureClusterAssignments(
      pairs.filter(bucket(col("a"), 0) && bucket(col("b"), 0)),
      verts.filter(bucket(col("vec_id"), 0)), "graft_test_cc",
      corpusTag = "t#base", idCol = "vec_id")
    assert(GraphOps.clusterAssignments(spark, "graft_test_cc")
        .inputFiles.toSet === loc1,
      "same-tag ensure must be a no-op")
    GraphOps.maintainClusterAssignments(
      pairs.filter(bucket(col("a"), 1) || bucket(col("b"), 1)),
      verts.filter(bucket(col("vec_id"), 1)), "graft_test_cc",
      newCorpusTag = "t#full", idCol = "vec_id")
    val served = GraphOps.clusterAssignments(spark, "graft_test_cc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val global = GraphOps.connectedComponents(pairs, verts, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === global,
      "persisted maintain must serve the global recompute exactly")
    // versioned-store retention: only the current + previous snapshots
    // survive a maintain (the pruneSnapshots N=2 floor, applied to tables)
    val kept = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_test_cc_assign_v")).sorted
    assert(kept.length <= 2 && kept.nonEmpty)
  }

  test("persisted cluster assignments: uncommitted snapshot never serves; crashed epoch re-folds cleanly") {
    import spark.implicits._
    val edges0 = Seq((1L, 2L)).toDF("a", "b")
    val verts0 = Seq(1L, 2L, 3L).toDF("id")
    GraphOps.ensureClusterAssignments(edges0, verts0, "graft_test_crash",
      corpusTag = "t#base")
    val before = GraphOps.clusterAssignments(spark, "graft_test_crash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // simulate the crash window: the NEXT snapshot table exists on disk
    // (the epoch's step 1 completed) but its meta pointer row was never
    // appended (the crash before step 2) — the store must keep serving
    // the committed labeling, not the orphan. (Clear any leftover v2
    // LOCATION from a previous JVM first: this raw saveAsTable lacks the
    // location-drop the product write path performs, and a dirty
    // warehouse would fail it with LOCATION_ALREADY_EXISTS.)
    graft.sources.Bucketing.dropTableAndLocation(spark,
      "graft_test_crash_assign_v2")
    Seq((2L, 999L), (3L, 999L)).toDF("id", "comp").write
      .mode("overwrite").saveAsTable("graft_test_crash_assign_v2")
    val duringCrash = GraphOps.clusterAssignments(spark, "graft_test_crash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(duringCrash === before,
      "an uncommitted snapshot must never serve")
    // the retried epoch re-folds the same batch against the committed
    // base (overwriting the orphan) and commits — the recovery path
    GraphOps.maintainClusterAssignments(Seq((2L, 3L)).toDF("a", "b"),
      Seq(2L, 3L).toDF("id"), "graft_test_crash", newCorpusTag = "t#e1")
    val after = GraphOps.clusterAssignments(spark, "graft_test_crash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "the retried epoch must fold into the committed base exactly")
  }

  test("persisted kNN index: ensure + chained maintains == batch knnGraph at the frozen point; replay and same-tag ensure are no-ops") {
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch1 = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val batch2 = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    SimilarityOps.ensureKnnIndex(base, "graft_test_knn", corpusTag = "k#base",
      minCos = 0.2, kTop = 4)
    // same tag: no rebuild (the kept table keeps its physical files)
    def keptFiles() = spark.table("graft_test_knn_kept").inputFiles.toSet
    def metaVersion() = SimilarityOps.knnIndexStatus(spark, "graft_test_knn")
      .head().getAs[Long]("version")
    val v1 = keptFiles()
    SimilarityOps.ensureKnnIndex(base, "graft_test_knn", corpusTag = "k#base",
      minCos = 0.2, kTop = 4)
    assert(keptFiles() === v1, "same-tag ensure must be a no-op")
    SimilarityOps.maintainKnnIndex(batch1, "graft_test_knn")
    SimilarityOps.maintainKnnIndex(batch2, "graft_test_knn")
    def edgeSet() = SimilarityOps.knnIndexEdges(spark, "graft_test_knn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val served = edgeSet()
    // batch recompute at the SAME frozen layout (planes + split cells
    // sized on base)
    val global = SimilarityOps.knnGraphFrozen(emb, base, 0.2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === global,
      "maintained kNN graph must equal the batch recompute bit-for-bit")
    assert(served.nonEmpty, "fixture must exercise real edges")
    // at-least-once replay: an all-replayed batch doesn't even write
    val vBefore = metaVersion()
    val fBefore = keptFiles()
    SimilarityOps.maintainKnnIndex(batch1, "graft_test_knn")
    assert(metaVersion() === vBefore && keptFiles() === fBefore &&
      edgeSet() === served,
      "replayed batch must be a structural no-op")
    // layout: ALL state tables are append-only under the delta-kept
    // format — no versioned snapshot tables at all
    val names = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_test_knn_")).toSet
    assert(names.contains("graft_test_knn_vecs") &&
      names.contains("graft_test_knn_bands") &&
      names.contains("graft_test_knn_kept") &&
      names.contains("graft_test_knn_cells"),
      "state tables must be unversioned (append-only)")
    assert(!names.exists(n => n.startsWith("graft_test_knn_vecs_v") ||
      n.startsWith("graft_test_knn_bands_v") ||
      n.startsWith("graft_test_knn_kept_v")),
      "no versioned snapshots may exist")
    // the kept deltas carry the commit stamps: versions 1 (ensure) plus
    // one per non-empty maintain, nothing past the committed head
    val kvers = spark.table("graft_test_knn_kept")
      .select(col("kver")).distinct().collect().map(_.getLong(0)).toSet
    assert(kvers === Set(1L, 2L, 3L), s"kept delta stamps: $kvers")
  }

  test("deleteFromKnnIndex: tombstone + touched re-rank == live recompute; compact re-admits") {
    import spark.implicits._
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val pfx = "graft_test_knn_del"
    def edges() = SimilarityOps.knnIndexEdges(spark, pfx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the frozen layout (planes + split cells) sizes on the FULL ensure
    // corpus; only the members vary across the delete/re-add states
    def global(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.knnGraphFrozen(df, emb, 0.2, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    try {
      SimilarityOps.ensureKnnIndex(emb, pfx, corpusTag = "d#1",
        minCos = 0.2, kTop = 4)
      val isDel = col("vec_id") % 7 === 3
      // the fixture must exercise the REPAIR path: some live vertex must
      // currently rank a to-be-deleted neighbor (else the test would pass
      // on a filter-only implementation)
      val keptHasDead = spark.table(pfx + "_kept")
        .join(emb.filter(isDel).select(col("vec_id").as("nb")), Seq("nb"),
          "left_semi")
      assert(!keptHasDead.isEmpty, "fixture exercises slot repair")
      SimilarityOps.deleteFromKnnIndex(
        emb.filter(isDel).select(col("vec_id")), pfx)
      val served = edges()
      assert(served === global(emb.filter(!isDel)),
        "delete must equal the batch recompute over the LIVE corpus at " +
          "the frozen point — slots a dead neighbor crowded out included")
      assert(served.nonEmpty)
      // re-delete: structural no-op (no new committed version, no writes)
      def metaVersion() = SimilarityOps.knnIndexStatus(spark, pfx)
        .head().getAs[Long]("version")
      def keptFiles() = spark.table(pfx + "_kept").inputFiles.toSet
      val kv = (metaVersion(), keptFiles())
      SimilarityOps.deleteFromKnnIndex(
        emb.filter(isDel).select(col("vec_id")), pfx)
      assert((metaVersion(), keptFiles()) === kv && edges() === served)
      // a tombstoned id cannot re-enter before a compact
      SimilarityOps.maintainKnnIndex(emb.filter(isDel), pfx)
      assert(edges() === served,
        "tombstoned ids must not re-enter before a compact")
      // compact: physical removal (vecs rows AND stale kept deltas),
      // served graph unchanged, re-add folds
      SimilarityOps.compactKnnIndex(pfx)
      assert(spark.table(pfx + "_deleted").isEmpty)
      assert(spark.table(pfx + "_vecs")
        .join(emb.filter(isDel).select(col("vec_id").as("id")), Seq("id"),
          "left_semi").isEmpty, "compact removes rows physically")
      assert(spark.table(pfx + "_kept")
        .join(emb.filter(isDel).select(col("vec_id").as("v")), Seq("v"),
          "left_semi").isEmpty,
        "compact must drop dead vertices' stale kept deltas")
      assert(spark.table(pfx + "_kept").select(col("kver"))
        .distinct().count() === 1L,
        "compact must collapse the kept deltas to one physical version")
      assert(edges() === served)
      SimilarityOps.maintainKnnIndex(emb.filter(isDel), pfx)
      assert(edges() === global(emb),
        "re-adding after compact folds back to the full recompute")
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(pfx)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("kNN index ensure, delete and compact free the checkpoints they take") {
    val sc = spark.sparkContext
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val pfx = "graft_test_knn_free"
    val victims = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    // each call, followed by a release of the default scope's caches, must
    // leave no persisted RDD behind that was not there before it
    def leavesNothing(name: String)(call: => Unit): Unit = {
      graft.ops.CacheScope.default.release()
      val before = sc.getPersistentRDDs.keySet.toSet
      call
      graft.ops.CacheScope.default.release()
      assert(sc.getPersistentRDDs.keySet.toSet -- before === Set.empty[Int], name)
    }
    try {
      leavesNothing("ensure")(SimilarityOps.ensureKnnIndex(emb, pfx,
        corpusTag = "f#1", minCos = 0.2, kTop = 4))
      leavesNothing("delete")(SimilarityOps.deleteFromKnnIndex(victims, pfx))
      // the replay takes the early-return path
      leavesNothing("replayed delete")(SimilarityOps.deleteFromKnnIndex(victims, pfx))
      leavesNothing("compact")(SimilarityOps.compactKnnIndex(pfx))
      assert(spark.table(pfx + "_deleted").isEmpty, "the compact ran")
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(pfx)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("persisted kNN index at splitOccupancy=2: hot cells freeze, re-key, and the lifecycle still equals the frozen recompute") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val pfx = "graft_test_knn_split"
    try {
      SimilarityOps.ensureKnnIndex(base, pfx, corpusTag = "s#base",
        minCos = 0.2, kTop = 4, splitOccupancy = 2)
      // the fixture must actually exercise the split: frozen cells exist
      // and at least one cell's members re-keyed to DIFFERENT sub-buckets
      assert(spark.table(pfx + "_cells").count() > 0,
        "splitOccupancy=2 must freeze hot cells on this corpus")
      val multiSub = spark.table(pfx + "_bands")
        .groupBy(col("tbl"), col("bucket"))
        .agg(countDistinct(col("sub")).as("ns"))
        .filter(col("ns") > 1)
      assert(!multiSub.isEmpty,
        "some hot cell must re-key members into distinct sub-buckets")
      SimilarityOps.maintainKnnIndex(batch, pfx)
      val served = SimilarityOps.knnIndexEdges(spark, pfx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val global = SimilarityOps.knnGraphFrozen(emb, base, 0.2, 4,
          splitOccupancy = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(served === global,
        "split-layout lifecycle must equal the frozen-layout recompute")
      assert(served.nonEmpty)
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(pfx)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("deleteFromKnnIndex: a vertex repaired to an empty list gets a marker; a no-repair delete still commits the live count") {
    import spark.implicits._
    // A-B are mutual near-dups along e1, C-D along e3, X isolated along
    // e5; minCos = 0.9 admits only the within-pair cosines (~0.923)
    def vec(i: Int, j: Int, eps: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = 1.0f; a(j) = eps; a
    }
    val emb = Seq(
      1L -> vec(0, 1, 0.2f), 2L -> vec(0, 1, -0.2f),
      3L -> vec(2, 3, 0.2f), 4L -> vec(2, 3, -0.2f),
      5L -> vec(4, 5, 0.2f)).toDF("vec_id", "embedding")
    val pfx = "graft_test_knn_mark"
    def edges() = SimilarityOps.knnIndexEdges(spark, pfx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      SimilarityOps.ensureKnnIndex(emb, pfx, corpusTag = "m#1",
        minCos = 0.9, kTop = 2)
      assert(edges() === Set((1L, 2L), (3L, 4L)))
      // delete 2: vertex 1's only neighbor dies and nothing live clears
      // the floor — its repair is EMPTY, so without a marker its stale
      // kver=1 rows would keep serving the (1,2) edge after a compact
      SimilarityOps.deleteFromKnnIndex(Seq(2L).toDF("vec_id"), pfx)
      assert(edges() === Set((3L, 4L)))
      val markers = spark.table(pfx + "_kept")
        .filter(col("v") === col("nb")).select(col("v"))
        .collect().map(_.getLong(0)).toSeq
      assert(markers === Seq(1L), s"vertex 1 needs an empty-list marker")
      // the stale rows the marker outranks really are still on disk
      assert(spark.table(pfx + "_kept")
        .filter(col("v") === 1L && col("nb") === 2L).count() > 0)
      // delete X (id 5): in _vecs but in NO kept list — nothing to
      // repair, but the commit must land so n_vecs tracks the live
      // corpus (the round-13 early return left it stale)
      val v0 = SimilarityOps.knnIndexStatus(spark, pfx).head()
      SimilarityOps.deleteFromKnnIndex(Seq(5L).toDF("vec_id"), pfx)
      val st = SimilarityOps.knnIndexStatus(spark, pfx).head()
      assert(st.getAs[Long]("version") === v0.getAs[Long]("version") + 1L)
      assert(st.getAs[Long]("n_vecs") === 3L,
        "a no-repair delete must still commit the re-derived live count")
      assert(edges() === Set((3L, 4L)))
      // compact drops the marker and the dead/stale rows physically;
      // the served graph is unchanged
      SimilarityOps.compactKnnIndex(pfx)
      assert(spark.table(pfx + "_kept")
        .filter(col("v") === col("nb")).isEmpty,
        "compact must drop empty-list markers")
      assert(spark.table(pfx + "_kept")
        .filter(col("v") === 1L || col("nb") === 1L).isEmpty,
        "an empty-listed vertex serves no rows after compact")
      assert(edges() === Set((3L, 4L)))
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(pfx)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("maintainKnnIndex: outgrowth past maxPlaneDrift fails loudly and commits nothing; drift within it folds") {
    import spark.implicits._
    def vecsDf(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(64)(j => (((i * 31 + j * 17) % 13) - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val prefix = "graft_test_knn_grow"
    try {
      SimilarityOps.ensureKnnIndex(vecsDf(1L to 100L), prefix,
        corpusTag = "g#base", minCos = 0.9, kTop = 2)
      // 100 vecs freeze planes=4; +60 → autoPlanes(160)=5, drift 1: folds
      SimilarityOps.maintainKnnIndex(vecsDf(101L to 160L), prefix)
      val st1 = SimilarityOps.knnIndexStatus(spark, prefix).head()
      assert(st1.getAs[Long]("n_vecs") === 160L)
      assert(st1.getAs[Int]("drift") === 1)
      // chained maintain crosses a second boundary: autoPlanes(560)=6,
      // drift 2 > 1 — the guard fires BEFORE any write
      val e = intercept[IllegalStateException] {
        SimilarityOps.maintainKnnIndex(vecsDf(161L to 560L), prefix)
      }
      assert(e.getMessage.contains("outgrew"))
      assert(SimilarityOps.knnIndexStatus(spark, prefix).head()
        .getAs[Long]("n_vecs") === 160L, "a refused epoch commits nothing")
      // the explicit opt-out accepts the densification and folds
      SimilarityOps.maintainKnnIndex(vecsDf(161L to 560L), prefix,
        maxPlaneDrift = Int.MaxValue)
      val st2 = SimilarityOps.knnIndexStatus(spark, prefix).head()
      assert(st2.getAs[Long]("n_vecs") === 560L)
      assert(st2.getAs[Int]("drift") === 2)
    } finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).foreach(t =>
        graft.sources.Bucketing.dropTableAndLocation(spark, t))
  }

  test("srpOccupancyAudit: identical-vector fixture exact; bound dominates real candidates on the corpus") {
    import spark.implicits._
    // 5 identical vectors: every table has exactly ONE occupied bucket
    val ident = (1L to 5L).map(i => (i, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val a = SimilarityOps.srpOccupancyAudit(ident).collect().head
    assert(a.getLong(0) === 5L)                       // n_vecs
    assert(a.getLong(1) === SimilarityOps.autoPlanes(5L).toLong) // planes (min)
    assert(a.getLong(2) === 6L)                       // one bucket per table
    assert(a.getLong(3) === 5L)                       // max occupancy
    assert(a.getLong(4) === 5000000L)                 // mean = 5.0 exactly
    assert(a.getLong(5) === 6L * 10L)                 // 6 · C(5,2)
    assert(!a.getBoolean(6), "5 <= 8*8 — not skewed")
    // real corpus: the bound must dominate the DISTINCT verified candidate
    // set (per-table sums count a pair once per co-bucketed table)
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val r = SimilarityOps.srpOccupancyAudit(emb).collect().head
    val actual = SimilarityOps.srpNearDupPairsAuto(emb, -1.0).count()
    assert(r.getLong(5) >= actual,
      "cand_pairs_bound must bound the distinct candidate pairs")
    assert(r.getLong(2) > 0L && r.getLong(3) >= 1L)
  }

  test("lumaGrid + decodeAudio: fixture goldens match the hand-computed byte walk") {
    import spark.implicits._
    // the q194/q195 BMP/WAV fixtures, expected values computed by hand
    // from the raw bytes (pixel formula (299r+587g+114b)/1000, box cells
    // (sum+n/2)/n; PCM16LE channel-0 sign transitions ignoring zeros)
    val bmp = SparkEntry.bmpFixtures.map(f => (f._1, f._2)).toDF("img_id", "hex")
      .select(col("img_id"), unhex(col("hex")).as("payload"))
    val grids = MultimodalOps.lumaGrid(bmp, "img_id", "payload", gridN = 2)
      .orderBy(col("img_id"), col("idx")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSeq).toMap
    assert(grids(1L) === Seq(46L, 105L, 113L, 172L))
    assert(grids(2L) === Seq(25L, 98L, 101L, 150L))
    val wav = SparkEntry.wavFixtures.map(f => (f._1, f._2)).toDF("clip_id", "hex")
      .select(col("clip_id"), unhex(col("hex")).as("payload"))
    val au = MultimodalOps.decodeAudio(wav, "clip_id", "payload").collect()
      .map(a => a.id -> ((a.channels, a.sampleRateHz, a.nFrames,
        a.durationMs, a.zeroCrossings))).toMap
    assert(au(1L) === ((1, 8000, 64L, 8L, 23L)))
    assert(au(2L) === ((2, 16000, 48L, 3L, 27L)))
  }

  test("phashBits: fixed-point DCT pHash goldens; table symmetric-input sanity") {
    import spark.implicits._
    // the DCT coefficient table is pure integers: row 0 is the constant
    // 2^14 row (cos 0), and every row sums to ~0 for k odd by symmetry
    val ct = MultimodalOps.dctCoeffTable(4)
    assert(ct(0).forall(_ === (1L << 14)))
    assert(math.abs(ct(1).sum) <= 2 && math.abs(ct(3).sum) <= 2)
    // fixture goldens — oracle-confirmed byte replays (q199): any change
    // to the decode, grid, table, median rule, or bit order moves these
    val bmp = SparkEntry.bmpFixtures.map(f => (f._1, f._2)).toDF("img_id", "hex")
      .select(col("img_id"), unhex(col("hex")).as("payload"))
    val got = MultimodalOps.phashBits(bmp, "img_id", "payload", gridN = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((437012922368L, 0L, 20560L)))
    assert(got(2L) === ((408021893120L, -6754823591L, 27940L)))
    // a constant image has every AC coefficient 0 -> phash 0, dc = 16 * v * 2^28
    val flat = {
      val w = 8; val h = 8
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w * h).foreach(i => im.setRGB(i % w, i / w, 0x646464))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "bmp", bos)
      bos.toByteArray
    }
    val fr = MultimodalOps.phashBits(
      Seq((9L, flat)).toDF("img_id", "payload"), "img_id", "payload",
      gridN = 4).collect().head
    assert(fr.getLong(3) === 0L, "constant image -> all-zero pHash")
    assert(fr.getLong(1) === 16L * 100L * (1L << 28),
      "constant-image DC = n^2 * luma * 2^(2*scaleBits)")
  }

  test("recommendThreshold: sweep stats exact per threshold; smallest sparse-enough threshold flagged") {
    import spark.implicits._
    // hand graph: at 0.30 every edge survives (star around 1 → mean deg
    // 1.6m); at 0.50 only the tight pair survives; at 0.90 nothing
    val pw = Seq(
      (1L, 2L, 0.95), (1L, 3L, 0.4), (1L, 4L, 0.4), (1L, 5L, 0.4)
    ).toDF("a", "b", "cos")
    val out = GraphOps.recommendThreshold(pw,
        gridMicro = Seq(300000L, 500000L, 900000L),
        targetMeanDegreeMicro = 1500000L)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    // 0.30: 4 edges over 5 vertices, hub degree 4, mean 8/5 = 1.6
    assert(out(300000L) === ((5L, 4L, 4L, 1600000L, false)))
    // 0.50: 1 edge, 2 vertices, mean degree 1.0 — sparse enough, smallest
    assert(out(500000L) === ((2L, 1L, 1L, 1000000L, true)))
    // 0.90: same edge survives (0.95 >= 0.9) but 0.50 already qualified
    assert(out(900000L) === ((2L, 1L, 1L, 1000000L, false)))
    // unreachable target: nothing recommended, rows still reported
    val none = GraphOps.recommendThreshold(pw, Seq(300000L), 100L).collect()
    assert(none.length === 1 && !none.head.getBoolean(5))
  }

  test("banded index appends: at-least-once replay inserts nothing (v3 and v4)") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val scope = CacheScope()
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    val half2 = docs.filter(col("doc_id") % 2 === 0)
    // v4 (split layout): an append whose inserts committed but whose meta
    // restamp crashed is replayed verbatim — the batch ids anti-join away,
    // so row counts AND the drift audit stay exactly where the first
    // append left them (duplicates would inflate every occupancy)
    DedupOps.ensureBandedIndexSplit(half1, "t_replay4", corpusTag = "h1",
      splitOccupancy = 2, scope = scope)
    DedupOps.appendToBandedIndexSplit(half2, "t_replay4",
      newCorpusTag = "h1h2", scope = scope)
    val sets4 = spark.table("t_replay4_sets").count()
    val bands4 = spark.table("t_replay4_bands").count()
    val audit4 = DedupOps.bandedSplitLayoutDrift(spark, "t_replay4")
      .orderBy(col("band_idx")).collect().toSeq
    DedupOps.appendToBandedIndexSplit(half2, "t_replay4",
      newCorpusTag = "h1h2", scope = scope)
    assert(spark.table("t_replay4_sets").count() === sets4,
      "replayed v4 append must not duplicate _sets rows")
    assert(spark.table("t_replay4_bands").count() === bands4,
      "replayed v4 append must not duplicate _bands rows")
    assert(DedupOps.bandedSplitLayoutDrift(spark, "t_replay4")
        .orderBy(col("band_idx")).collect().toSeq === audit4,
      "drift audit unchanged by a replay")
    // a GENUINELY new doc after the replay still folds in (the anti-join
    // drops replayed ids, not fresh ones)
    val novel = Seq((1000001L, "a genuinely new document body"))
      .toDF("doc_id", "text")
    DedupOps.appendToBandedIndexSplit(novel, "t_replay4", scope = scope)
    assert(spark.table("t_replay4_sets").count() === sets4 + 1,
      "fresh ids still append after a replay")
    // v3: same contract
    DedupOps.ensureBandedIndex(half1, "t_replay3", corpusTag = "h1",
      scope = scope)
    DedupOps.appendToBandedIndex(half2, "t_replay3", scope = scope)
    val sets3 = spark.table("t_replay3_sets").count()
    val bands3 = spark.table("t_replay3_bands").count()
    DedupOps.appendToBandedIndex(half2, "t_replay3", scope = scope)
    assert(spark.table("t_replay3_sets").count() === sets3 &&
      spark.table("t_replay3_bands").count() === bands3,
      "replayed v3 append must not duplicate rows")
    scope.release()
  }

  test("refreezeBandedIndexSplit: audit-flagged cells split in place, probe serves the re-frozen layout, idempotent") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val scope = CacheScope()
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val probeDocs = docs.filter(col("doc_id") % 7 === 0)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def outgrownSum() = DedupOps.bandedSplitLayoutDrift(spark, "t_refreeze")
      .agg(sum(col("n_outgrown"))).head().getLong(0)
    DedupOps.ensureBandedIndexSplit(base, "t_refreeze", corpusTag = "b",
      splitOccupancy = 2, scope = scope)
    DedupOps.appendToBandedIndexSplit(batch, "t_refreeze",
      newCorpusTag = "bb", scope = scope)
    assert(outgrownSum() > 0, "fixture must drift before the refreeze")
    val before = asMap(DedupOps.probeBandedIndexSplit(probeDocs,
      "t_refreeze", scope = scope))
    DedupOps.refreezeBandedIndexSplit(spark, "t_refreeze")
    // the audit's claim: every flagged cell is now frozen
    assert(outgrownSum() === 0L, "refreeze must close the drift")
    // splitting only removes candidates, never invents them
    val after = asMap(DedupOps.probeBandedIndexSplit(probeDocs,
      "t_refreeze", scope = scope))
    assert(after.keySet === before.keySet)
    after.foreach { case (id, n) => assert(n <= before(id),
      s"refreeze may only remove matches (doc $id)") }
    // the served layout IS the `_split` table's: probe == direct
    // recompute with bandSplitFrozenMinhash at the post-refreeze cells
    val cells = graft.sources.Bucketing.freshTable(spark, "t_refreeze_split")
      .select(col("band_idx"), col("band_sig")).localCheckpoint(true)
    val corpus = base.unionByName(batch)
    val setsAll = DedupOps.shingleHashSets(corpus, scope = scope)
    val setsP = DedupOps.shingleHashSets(probeDocs, scope = scope)
    val bandsAll = DedupOps.bandSplitFrozenMinhash(setsAll, cells, 32, 16)
    val bandsP = DedupOps.bandSplitFrozenMinhash(setsP, cells, 32, 16)
    val cand = bandsP.select(col("band_idx"), col("band_sig"), col("sub"),
        col("id").as("a"))
      .join(bandsAll.select(col("band_idx"), col("band_sig"), col("sub"),
          col("id").as("b")),
        Seq("band_idx", "band_sig", "sub"))
      .select(col("a"), col("b")).distinct()
    val sa = setsP.select(col("id").as("a"), col("hs").as("hsa"),
      col("sz").as("sza"))
    val sb = setsAll.select(col("id").as("b"), col("hs").as("hsb"),
      col("sz").as("szb"))
    val expected = probeDocs.select(col("doc_id"))
      .join(cand.join(sa, Seq("a")).join(sb, Seq("b"))
        .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
        .filter(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")) >= 0.8)
        .groupBy(col("a")).agg(count(lit(1)).as("n_matches"))
        .withColumnRenamed("a", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matches"))
    assert(after === asMap(expected.select(col("doc_id"), col("n_matches"))),
      "probe == direct recompute at the re-frozen layout")
    // idempotent: nothing left to freeze, nothing written
    val rows = spark.table("t_refreeze_bands").count()
    val lv = graft.sources.Bucketing.freshTable(spark, "t_refreeze_meta")
      .head().getAs[Long]("layout_ver")
    DedupOps.refreezeBandedIndexSplit(spark, "t_refreeze")
    assert(spark.table("t_refreeze_bands").count() === rows &&
      graft.sources.Bucketing.freshTable(spark, "t_refreeze_meta")
        .head().getAs[Long]("layout_ver") === lv,
      "a drift-free refreeze is a structural no-op")
    // a LATER append bands at the healed layout and the equivalence holds
    val more = Seq((2000001L, "wholly new appended document text"),
        (2000002L, "wholly new appended document text"))
      .toDF("doc_id", "text")
    DedupOps.appendToBandedIndexSplit(more, "t_refreeze", scope = scope)
    val corpus2 = corpus.select(col("doc_id"), col("text")).unionByName(more)
    val setsAll2 = DedupOps.shingleHashSets(corpus2, scope = scope)
    val bandsAll2 = DedupOps.bandSplitFrozenMinhash(setsAll2, cells, 32, 16)
    val cand2 = bandsP.select(col("band_idx"), col("band_sig"), col("sub"),
        col("id").as("a"))
      .join(bandsAll2.select(col("band_idx"), col("band_sig"), col("sub"),
          col("id").as("b")),
        Seq("band_idx", "band_sig", "sub"))
      .select(col("a"), col("b")).distinct()
    val sb2 = setsAll2.select(col("id").as("b"), col("hs").as("hsb"),
      col("sz").as("szb"))
    val expected2 = probeDocs.select(col("doc_id"))
      .join(cand2.join(sa, Seq("a")).join(sb2, Seq("b"))
        .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
        .filter(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")) >= 0.8)
        .groupBy(col("a")).agg(count(lit(1)).as("n_matches"))
        .withColumnRenamed("a", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matches"))
    assert(asMap(DedupOps.probeBandedIndexSplit(probeDocs, "t_refreeze",
        scope = scope)) ===
      asMap(expected2.select(col("doc_id"), col("n_matches"))),
      "appends after a refreeze band at the healed layout")
    scope.release()
  }

  test("srpNearDupPairsSharded: 64-bit id spans shard by overflow-safe width division") {
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val k = 4
    // remap ids onto a span past Long.MaxValue / nShards: the multiply
    // rule would wrap silently, so the operator must take the equal-width
    // division branch (same integer semantics, no 128-bit arithmetic)
    val mx0 = emb.agg(max(col("vec_id"))).head().getLong(0)
    val f = Long.MaxValue / (2L * (mx0 + 1L))
    val wide = emb.select((col("vec_id") * f).as("vec_id"), col("embedding"))
    val bounds = wide.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val span = mx - mn + 1
    assert(span > Long.MaxValue / k, "fixture must force the overflow branch")
    val got = SimilarityOps.srpNearDupPairsSharded(wide, 0.2, k).collect()
    got.foreach(r => assert(r.getDouble(2) >= 0.2, "exact verify"))
    val gotKeys = got.map(key).toSet
    assert(gotKeys.nonEmpty, "fixture must keep real pairs")
    // composition law, width-division form: the operator equals the union
    // of per-shard auto-point runs over the same width-division ranges
    val width = span / k + (if (span % k == 0) 0L else 1L)
    assert(width > 0, "width stays positive at any span")
    def shardOf(id: Long) = (id - mn) / width
    val perShard = (0 until k).flatMap { s =>
      val sub = wide.filter(expr(s"(vec_id - $mn) DIV $width") === s)
      val cnt = sub.count()
      if (cnt == 0) Seq.empty
      else {
        val p = SimilarityOps.autoPlanes(cnt, 8L)
        SimilarityOps.srpNearDupPairsSized(sub, 0.2, p).collect().map(key)
      }
    }.toSet
    assert(gotKeys === perShard,
      "overflow branch = union of per-width-range auto-point runs")
    gotKeys.foreach { case (a, b) =>
      assert(shardOf(a) === shardOf(b), "pairs never straddle a shard")
    }
  }

  test("round-loop operators leave no checkpoint behind beyond what backs their result") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    // a 200-vertex path outruns six propagation rounds (star phase after
    // propagation); the triangle-rich graph converges inside propagation
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val pathV = (0L until 200L).toDF("id")
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L)).toDF("a", "b")
    val triV = (1L to 6L).toDF("id")
    val docs = Seq("the cat sat on the mat", "the dog sat on the log",
      "a cat and a dog ate the hot dog").toDF("text")
    val cases: Seq[(String, CacheScope => DataFrame)] = Seq(
      "cc, propagation converges" -> (_ => GraphOps.connectedComponents(tri, triV)),
      "cc, star phase" -> (_ => GraphOps.connectedComponents(path, pathV)),
      "cc, propRounds = 0" ->
        (_ => GraphOps.connectedComponents(path, pathV, propRounds = 0)),
      "pageRankInt" -> (_ => GraphOps.pageRankInt(
        tri.select(col("a").as("src"), col("b").as("dst")), triV)),
      "trussEdges" -> (_ => GraphOps.trussEdges(tri)),
      "trainBpe" -> (s => TextOps.trainBpe(docs, numMerges = 4, scope = s)),
      "trainWordPiece" -> (s => TextOps.trainWordPiece(docs, numMerges = 4, scope = s)),
      "trainUnigramLm" -> (s => TextOps.trainUnigramLm(docs, scope = s)))
    for ((name, run) <- cases) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val scope = CacheScope()
      val out = run(scope)
      assert(out.collect().nonEmpty, name)
      scope.release()
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      val backing = out.queryExecution.logical.collect {
        case r: LogicalRDD => r.rdd.id
      }.toSet
      assert(added.subsetOf(backing),
        s"$name left RDDs ${added -- backing} that its result does not read")
    }
    // the function frees only frames that localCheckpoint returned
    val cp = path.localCheckpoint(eager = true)
    intercept[IllegalArgumentException](CacheScope.freeCheckpoint(cp.select(col("a"))))
    CacheScope.freeCheckpoint(cp)
  }
}
