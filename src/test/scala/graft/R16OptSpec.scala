package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.ops.{DedupOps, DetHash, GraphOps, TextOps}

/** Round-16 optimization locks: the native fused expressions must equal
  * the declarative chains they replaced BIT-FOR-BIT on adversarial
  * tokenization inputs, the fixed-orientation truss peel must match the
  * per-round re-orientation it replaced, and connectedComponents'
  * lazy-checkpoint star phase must survive propRounds = 0 (the freed-e0
  * regression ADVICE r15 flagged).
  */
class R16OptSpec extends SparkTestBase {
  import spark.implicits._

  // tokenization edge cases: leading tab (trim strips spaces ONLY, so the
  // regex split emits a leading empty token), trailing whitespace runs,
  // multi-space gaps, single token, empty string, underscores and
  // separator chars INSIDE words, non-ASCII
  private val texts = Seq(
    "the quick brown fox jumps",
    "\tleading tab keeps empty token",
    "trailing space run   ",
    "  spaced   out nbsp stays",
    "one",
    "",
    "under_score in_words stay_put",
    "a b",
    "héllo wörld ünicode tokens here",
    "x\ny\r\nz w",
    "dup dup dup dup"
  )

  test("WordNgrams == tokens/transform/slice/array_join chain, n = 2 and 3") {
    val df = texts.toDF("text")
    for (n <- Seq(2, 3)) {
      val tk = TextOps.tokens(col("text"))
      val old = when(size(tk) >= lit(n),
          transform(sequence(lit(1), size(tk) - lit(n - 1)),
            i => array_join(slice(tk, i, lit(n)), "_")))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(old.as("o"),
        TextOps.ngramTerms(col("text"), n).as("nw")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"n=$n mismatch on ${r}")
      }
    }
  }

  test("WordBigramPairs == struct(element_at) transform chain") {
    val df = texts.toDF("text")
    val toks = TextOps.tokens(col("text"))
    val old = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val native = coalesce(bridge.column(
        graft.functions.WordBigramPairs(bridge.expression(col("text")))),
      array().cast("array<struct<w1:string,w2:string>>"))
    val rows = df.select(old.cast("array<struct<w1:string,w2:string>>").as("o"),
      native.as("nw")).collect()
    rows.foreach(r => assert(r.getSeq[Any](0) === r.getSeq[Any](1)))
  }

  test("ShingleMd5Hashes == exploded slice/array_join/md5Hash60 chain") {
    val df = texts.toDF("text").withColumn("i", monotonically_increasing_id())
    val k = 3
    val toks = TextOps.tokens(col("text"))
    val windows = when(size(col("ts")) >= k,
      sequence(lit(1), size(col("ts")) - (k - 1))).otherwise(array())
    val old = df.select(col("i"), toks.as("ts"))
      .select(col("i"), explode(windows).as("w"), col("ts"))
      .select(col("i"),
        DetHash.md5Hash60(array_join(slice(col("ts"), col("w"), lit(k)), " "))
          .as("h"))
      .groupBy(col("i")).agg(sort_array(collect_list(col("h"))).as("hs"))
    val nw = df.select(col("i"),
        explode(bridge.column(graft.functions.ShingleMd5Hashes(
          bridge.expression(col("text")), k))).as("h"))
      .groupBy(col("i")).agg(sort_array(collect_list(col("h"))).as("hs"))
    val j = old.join(nw, Seq("i")).collect()
    // docs with < k tokens drop from BOTH sides (explode of empty array)
    j.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2)))
    assert(j.length === old.count())
  }

  test("PqCodes/PqMinDists/SqDistL2 == composed integer PQ expressions") {
    val rnd = new java.util.Random(7)
    val vecs = Seq.fill(40)(Array.fill(8)(rnd.nextInt(255) - 127))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val df = vecs.toDF("id", "qv")
      .select(col("id"), col("qv").cast("array<int>").as("qv"))
    val cb: Array[Array[Array[Int]]] = Array.tabulate(2, 4) { (m, c) =>
      Array.fill(4)(rnd.nextInt(255) - 127)
    }
    val subDim = 4
    def pqDistOld(qv: org.apache.spark.sql.Column, cent: Array[Int],
                  off: Int): org.apache.spark.sql.Column =
      cent.indices.map { d =>
        val diff = element_at(qv, off + d + 1) - lit(cent(d))
        diff * diff
      }.reduce(_ + _)
    def pqCodeOld(qv: org.apache.spark.sql.Column, m: Int) =
      element_at(transform(array(array(cb(m).indices.map(c =>
        pqDistOld(qv, cb(m)(c), m * subDim)): _*)),
        ds => array_position(ds, array_min(ds)).cast("int")), 1) - 1
    val codes = bridge.column(
      graft.functions.PqCodes(bridge.expression(col("qv")), cb))
    val mins = bridge.column(
      graft.functions.PqMinDists(bridge.expression(col("qv")), cb))
    val rows = df.select(
      pqCodeOld(col("qv"), 0).as("o0"), pqCodeOld(col("qv"), 1).as("o1"),
      element_at(codes, 1).as("n0"), element_at(codes, 2).as("n1"),
      array_min(array(cb(0).indices.map(c =>
        pqDistOld(col("qv"), cb(0)(c), 0).cast("long")): _*)).as("om0"),
      element_at(mins, 1).as("nm0")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(2) && r.getInt(1) === r.getInt(3))
      assert(r.getLong(4) === r.getLong(5))
    }
    // inputs both scans must refuse, naming the expected length or the
    // null position, instead of reading past the vector or reading a null
    // slot as 0
    val shortV = Seq(Seq(Option(1), Option(2), Option(3))).toDF("qv")
    val nullV = Seq((0 until 8).map(i => if (i == 5) None else Some(i))).toDF("qv")
    for ((in, want) <- Seq(
           shortV -> "pq_: vector has 3 elements, expected at least numSub·subDim = 8",
           nullV -> "pq_: null element at index 5");
         (e, name) <- Seq(codes -> "pq_codes", mins -> "pq_min_dists")) {
      val err = intercept[Exception](in.select(e).collect())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains(want.replace("pq_", name)), msgs)
    }
    // SqDistL2 vs the zip_with/aggregate fold, self- and cross-pairs
    val a = df.select(col("id").as("ia"), col("qv").as("va"))
    val b = df.select(col("id").as("ib"), col("qv").as("vb"))
    val both = a.crossJoin(b).limit(400).select(
      aggregate(zip_with(col("va"), col("vb"),
          (x, y) => ((x - y) * (x - y)).cast("long")),
        lit(0L), (acc, x) => acc + x).as("o"),
      bridge.column(graft.functions.SqDistL2(
        bridge.expression(col("va")), bridge.expression(col("vb")))).as("n"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("trussPeel fixed orientation == per-round re-orientation (random graphs)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 24
      val edges = (0 until 90).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      val pairs = edges.toDF("a", "b")
      val got = GraphOps.trussEdges(pairs, k = 3, rounds = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // reference: brute-force peel on the driver
      var und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct.toSet
      def support(s: Set[(Long, Long)]): Map[(Long, Long), Long] = {
        val adj = s.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
        s.toSeq.map { case (x, y) =>
          (x, y) -> (adj(x) & adj(y)).size.toLong
        }.toMap
      }
      var changed = true
      while (changed) {
        val sup = support(und)
        val next = und.filter(e => sup(e) >= 1)
        changed = next.size != und.size
        und = next
      }
      assert(got === support(und), s"trial $trial")
    }
  }

  test("connectedComponents: propRounds = 0 (pure star phase) on a long path — the freed-e0 regression") {
    // a 40-vertex path has diameter far past any propagation budget; with
    // propRounds = 0 the star phase runs from the raw quotient and MUST
    // NOT have freed e0's checkpoint blocks before materializing it
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val verts = (0L until 40L).toDF("id")
    val comp = GraphOps.connectedComponents(edges, verts, propRounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 40 && comp.values.forall(_ == 0L))
  }

  test("renderCompactJson: short, parseable, carries totals/errors/path") {
    val merged: Map[String, Either[String, Double]] =
      (1 to 210).map(i => f"q$i%02d_x" -> (Right(0.5): Either[String, Double]))
        .toMap + ("q999_bad" -> Left("Boom: \"quoted\"\npath"))
    val line = Bench.renderCompactJson(merged, "/d", Map("q01_x" -> 0.4),
      Some("BENCH_full_r16.json"))
    assert(line.length < 2000, s"compact line too long: ${line.length}")
    assert(line.contains("\"n_queries\":210"))
    // equal times: the map keeps the first names that fit
    assert(line.contains("\"queries\":{\"q01_x\":0.5,\"q02_x\":0.5,"), line)
    assert(line.contains("\"queries_file\":\"BENCH_full_r16.json\""))
    assert(line.contains("q999_bad"))
    assert(!line.contains("\n"))
    // value sums successes only
    assert(line.contains("\"value\":105"))
  }
}
