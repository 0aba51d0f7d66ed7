package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, GraphOps, TextOps}
import graft.sources.Tables

/** PageRank and the BPE/WordPiece merge loop, each checked bit for bit
  * against the round-per-job form the operators replaced: PageRank as one
  * DataFrame join and aggregation per round over checkpointed ranks, and
  * the merge loop as one pair-count query and argmax collect per round over
  * a checkpointed delimited segmentation.
  */
class RoundLoopSpec extends SparkTestBase {

  import spark.implicits._

  /** The DataFrame PageRank, one eager checkpoint per round, kept as the
    * oracle. */
  private def refPageRank(edges: DataFrame, vertices: DataFrame,
                          iterations: Int,
                          scale: Long = 1000000000000L): Map[Long, Long] = {
    val v = vertices.select(col("id").cast("long").as("x"))
      .localCheckpoint(eager = true)
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint(eager = true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)
    val ed = e.join(deg, Seq("src")).localCheckpoint(eager = true)
    val n = v.count()
    val init = scale / math.max(n, 1L)
    val base = 15L * init / 100L
    var ranks = v.select(col("x"), lit(init).as("rank"))
      .localCheckpoint(eager = true)
    (0 until iterations).foreach { _ =>
      val contribs = ed
        .join(ranks.select(col("x").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("x"),
          expr("(85 * (rank div deg)) div 100").as("c"))
        .groupBy(col("x")).agg(sum(col("c")).as("inflow"))
      val next = v.join(contribs, Seq("x"), "left")
        .select(col("x"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("rank"))
        .localCheckpoint(eager = true)
      CacheScope.freeCheckpoint(ranks)
      ranks = next
    }
    val out = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (ranks +: Seq(ed, deg, e, v)).foreach(CacheScope.freeCheckpoint)
    out
  }

  private def ranksOf(edges: DataFrame, vertices: DataFrame,
                      iterations: Int): Map[Long, Long] = {
    val rows = GraphOps.pageRankInt(edges, vertices, iterations = iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length === rows.toMap.size, "one row per vertex")
    rows.toMap
  }

  test("pageRankInt == the round-per-job DataFrame PageRank: star and random graphs, 1 to 50 rounds, repartitioned") {
    // star 0 <-> {1,2,3,4} plus a detached pair 5 <-> 6
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
    val star = ((undirected ++ undirected.map(_.swap)).toDF("src", "dst"),
      (0L to 6L).toDF("id"))
    // 30 vertices with random edges, every tenth drawn twice; vertex 30 is
    // isolated and vertex 31 a sink (in-edges only)
    val rnd = new Random(17)
    val drawn = Seq.fill(90)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val edges = drawn ++ drawn.grouped(10).map(_.head) ++
      Seq((3L, 31L), (17L, 31L), (17L, 31L))
    assert(edges.distinct.size < edges.size, "fixture has duplicate edges")
    val random = (edges.toDF("src", "dst"), (0L to 31L).toDF("id"))
    // 50 rounds (the cap) on the random graph only: the reference pays a
    // job per round
    for (((e, v), graph, rounds) <- Seq((star, "star", Seq(1, 3)),
           (random, "random", Seq(1, 3, 50)));
         iterations <- rounds) {
      val ref = refPageRank(e, v, iterations)
      assert(ranksOf(e, v, iterations) === ref, s"$graph, $iterations rounds")
      assert(ranksOf(e.repartition(7), v.repartition(7), iterations) === ref,
        s"$graph, $iterations rounds, repartitioned")
      if (graph == "random") {
        val base = 15L * (1000000000000L / 32) / 100
        assert(ref(30L) === base && ref(31L) > base,
          "the isolated vertex keeps only the restart mass, the sink gains")
      }
    }
  }

  // ---- the delimited-segmentation merge loop ----

  private val Sep = "\u001E"
  private val Sep2 = Sep + Sep

  private def initialSeg(word: Column): Column =
    concat(lit(Sep2), array_join(split(word, ""), Sep2), lit(Sep2))

  private def segSymbols(seg: Column): Column = split(trim(seg, Sep), Sep2)

  private def segPairCounts(segs: DataFrame): DataFrame = {
    val syms = segSymbols(col("seg"))
    val pairs = when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1), i =>
        struct(element_at(syms, i).as("lhs"), element_at(syms, i + 1).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
    segs.select(col("freq"), explode(pairs).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("pair_count"))
  }

  private def bpeArgmax(segs: DataFrame): Array[Row] =
    segPairCounts(segs)
      .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
      .limit(1).select(col("lhs"), col("rhs"), col("pair_count"),
        col("pair_count").as("score"))
      .collect()

  private def wordPieceArgmax(segs: DataFrame): Array[Row] = {
    val symCnt = segs
      .select(col("freq"), explode(segSymbols(col("seg"))).as("sym"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("cnt"))
    segPairCounts(segs)
      .join(broadcast(symCnt.select(col("sym").as("lhs"), col("cnt").as("lcnt"))), Seq("lhs"))
      .join(broadcast(symCnt.select(col("sym").as("rhs"), col("cnt").as("rcnt"))), Seq("rhs"))
      .withColumn("score",
        expr("(CAST(pair_count AS DECIMAL(38,0)) * CAST(1000000000000 AS DECIMAL(38,0)))" +
          " div (CAST(lcnt AS DECIMAL(38,0)) * CAST(rcnt AS DECIMAL(38,0)))"))
      .orderBy(col("score").desc, col("pair_count").desc,
        col("lhs").asc, col("rhs").asc)
      .limit(1).select("lhs", "rhs", "pair_count", "score")
      .collect()
  }

  /** The distributed merge loop, one argmax job per round over a
    * checkpointed segmentation, kept as the oracle: (merge_rank, lhs,
    * rhs, merged, pair_count, score), with BPE's score its pair_count. */
  private def refMergeTable(documents: DataFrame, numMerges: Int,
                            wordSampleK: Long, argmax: DataFrame => Array[Row])
      : Seq[(Int, String, String, String, Long, Long)] = {
    val words = documents.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) > 0 && !col("w").contains(Sep))
    val sampled =
      if (wordSampleK <= 1) words
      else words.filter(TextOps.wordSamplePred(col("w"), wordSampleK))
    var segs = sampled.select(col("freq"), initialSeg(col("w")).as("seg"))
      .localCheckpoint(eager = true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Long)]
    var top = argmax(segs)
    while (top.nonEmpty) {
      val (l, r) = (top(0).getString(0), top(0).getString(1))
      merges += ((merges.length + 1, l, r, l + r, top(0).getLong(2),
        top(0).getLong(3)))
      val next = segs.withColumn("seg", replace(col("seg"),
          lit(Sep + l + Sep2 + r + Sep), lit(Sep + l + r + Sep)))
        .localCheckpoint(eager = true)
      top = if (merges.length < numMerges) argmax(next) else Array.empty
      CacheScope.freeCheckpoint(segs)
      segs = next
    }
    CacheScope.freeCheckpoint(segs)
    merges.toSeq
  }

  private def bpe(docs: DataFrame, numMerges: Int, wordSampleK: Long = 1) =
    TextOps.trainBpe(docs, numMerges, wordSampleK = wordSampleK).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(4))).toSeq

  private def wordPiece(docs: DataFrame, numMerges: Int, wordSampleK: Long = 1) =
    TextOps.trainWordPiece(docs, numMerges, wordSampleK = wordSampleK).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toSeq

  private def checkBoth(name: String, docs: DataFrame, numMerges: Int,
                        wordSampleK: Long = 1)
      : (Seq[(Int, String, String, String, Long, Long)],
        Seq[(Int, String, String, String, Long, Long)]) = {
    val b = bpe(docs, numMerges, wordSampleK)
    assert(b === refMergeTable(docs, numMerges, wordSampleK, bpeArgmax),
      s"BPE, $name")
    val w = wordPiece(docs, numMerges, wordSampleK)
    assert(w === refMergeTable(docs, numMerges, wordSampleK, wordPieceArgmax),
      s"WordPiece, $name")
    (b, w)
  }

  private def text(lines: String*): DataFrame = lines.toDF("text")

  test("merge loop == the distributed loop: lhs/rhs ties, runs, single-symbol words, early stop") {
    // (a,b), (a,c) and (c,d) each count 1: lhs breaks (a,_) ahead of
    // (c,d), rhs breaks (a,b) ahead of (a,c)
    val (ties, _) = checkBoth("ties", text("cd ac ab"), 3)
    assert(ties.map(t => (t._2, t._3)) === Seq(("a", "b"), ("a", "c"), ("c", "d")))
    // a run folds leftmost first: aaaa -> [aa,aa], aaa -> [aa,a]
    val (run, _) = checkBoth("run", text("aaaa aaa aaaa"), 6)
    assert(run.head === ((1, "a", "a", "aa", 8L, 8L)))
    checkBoth("single-symbol words", text("a b c a ab", "b b ba"), 4)
    // one pair, then nothing left to merge: 1 merge of 5 asked
    val (early, earlyWp) = checkBoth("early stop", text("ab ab x", "y"), 5)
    assert(early.size === 1 && earlyWp.size === 1)
  }

  test("merge loop == the distributed loop: UTF-8 byte order, not UTF-16, breaks ties") {
    // U+1F600 sorts below U+FF21 in UTF-16 (a surrogate pair) but above it
    // in UTF-8 and code point order, which Spark's string order follows
    val (b, w) = checkBoth("supplementary code point", text("😀x Ａx"), 2)
    assert(b.map(_._2) === Seq("Ａ", "😀"))
    assert(w.map(_._2) === Seq("Ａ", "😀"))
  }

  test("merge loop == the distributed loop: sampled word table, 64 merges") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    checkBoth("wordSampleK = 3", docs, 6, wordSampleK = 3)
    val rnd = new Random(5)
    val words = Seq.fill(120)(Seq.fill(3 + rnd.nextInt(6))(
      "abcdef".charAt(rnd.nextInt(6))).mkString)
    val docs64 = text(words.grouped(12).map(_.mkString(" ")).toSeq: _*)
    val (b, w) = checkBoth("64 merges", docs64, 64)
    assert(b.size === 64 && w.size === 64)
  }
}
