package graft.ops

import scala.util.hashing.MurmurHash3

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import CacheScope.{checkpointed, freeCheckpoint}

/** Distributed graph primitives for training-data pipelines — currently
  * connected components, the step that turns a near-duplicate PAIR list into
  * duplicate CLUSTERS (so dedup can keep exactly one representative per
  * group even when A~B and B~C but A!~C).
  */
object GraphOps {

  /** Connected components over an undirected edge list: (id, comp) for every
    * vertex, where comp = the minimum vertex id in its component (singletons
    * map to themselves).
    *
    * Algorithm: a HYBRID of the two standard distributed CC schemes,
    * because each wins on the graphs the other loses:
    *
    *   1. Up to `propRounds` rounds of min-label PROPAGATION with pointer
    *      jumping (each round: every vertex takes the min label over
    *      itself + its neighbors, then relabels through its label's own
    *      label). Near-dup clusters — the graphs this operator exists
    *      for — have tiny diameters, so 2-3 rounds typically reach the
    *      true fixpoint, at two cheap (id, label)-keyed shuffles per
    *      round. Convergence detection is EXACT: labels are monotone
    *      non-increasing, so an unchanged Σcomp (exact, overflow-safe)
    *      means NO label moved; at that fixpoint labels are constant on
    *      every component and the minimum vertex keeps itself, i.e. the
    *      labeling is correct — never a truncation.
    *   2. If propagation hasn't converged inside the budget (the
    *      high-diameter regime: propagation reach grows ~one hop per
    *      round, and pointer jumping was MEASURED equally diameter-bound
    *      on the sf1 SRP near-dup graph — 20k vertices, 103k edges, one
    *      8850-member component, 44 rounds needed, which the old
    *      propagation-only maxIter=25 silently truncated into a SPLIT
    *      labeling: q64 at sf1 reported 749 components vs the true 746),
    *      fall back to alternating LARGE-STAR / SMALL-STAR (Kiveris et
    *      al., "Connected Components in MapReduce and Beyond", SoCC'14)
    *      on the LABEL-CONTRACTED quotient graph:
    *        - large-star: per vertex u with m = min(Γ(u) ∪ {u}), every
    *          STRICTLY LARGER neighbor v > u re-links to (v, m);
    *        - small-star: per vertex u over its ≤-neighbors with minimum
    *          m, u and every other small neighbor re-link to m.
    *      Both steps preserve connectivity exactly (every re-link goes
    *      through m, a current neighbor) and monotonically shrink the
    *      endpoint-sum potential to the fixpoint L = {(v, root) : v ∈ C,
    *      v ≠ root} in O(log² n) ROUNDS REGARDLESS OF DIAMETER. Running
    *      it on the quotient (edges mapped through phase-1 labels, which
    *      contracts every ≤propRounds-radius ball to a point) only
    *      shrinks its input; correctness composes because phase-1 labels
    *      are in-component vertex ids, so quotient-component minima ARE
    *      component minima: comp(x) = starRoot(label(x)).
    *
    * Phase 1 costs a diameter-bound graph at most `propRounds` wasted
    * cheap rounds before the star phase; phase 2 is skipped entirely on
    * the common tiny-diameter graphs — measured at sf0.1 this hybrid
    * returns the CC-consumer queries (q37/q64/q81/q88/q93/q128) to their
    * propagation-era cost while keeping the sf1 exactness the star
    * algorithm bought.
    *
    * Scale contract: per propagation round, two (id, label)-keyed
    * shuffles + one label-keyed self-join; per star round, two edge-keyed
    * min-aggregations + two joins + a distinct on the CURRENT quotient
    * edge list — which only shrinks; no collect, no per-component state,
    * no corpus-wide window. Every round is ONE materialize-and-measure
    * job: its frame is `localCheckpoint`ed (flat lineage — iterative plans
    * otherwise overwhelm the optimizer) and measured by the job that
    * writes it ([[CacheScope.checkpointed]]): Σcomp in phase 1, a
    * (count, Σ hash) edge-set fingerprint in phase 2, where an EXACT
    * `except` check then confirms the fixpoint. On a real cluster prefer
    * `checkpoint` with a reliable dir if executor loss matters.
    *
    * A labeling that has NOT converged is silently wrong (components
    * split), so exhausting `maxIter` star rounds THROWS rather than
    * returns — at 100 TB a loud failure with a knob beats a
    * quietly-truncated dedup. The default bound is far above anything
    * O(log² n) reaches (the sf1 graph above converges in 8 star rounds
    * from scratch, fewer from the contracted quotient; see the OpsSpec
    * CC tests). `propRounds` only bounds the opportunistic phase — it
    * can be 0 (pure star) and never affects correctness, only where the
    * crossover lands.
    *
    * Vertices absent from every edge come out as singletons; every edge
    * endpoint must appear in `vertices` for the output to cover it.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          idCol: String = "id",
                          aCol: String = "a", bCol: String = "b",
                          maxIter: Int = 50, propRounds: Int = 6): DataFrame = {
    // normalized undirected edge list: (hi, lo) with hi > lo throughout —
    // both star steps emit (bigger, smaller) by construction, so the
    // invariant is free after the initial normalization
    val e0 = edges.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("hi"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint()

    // ---- phase 1: bounded min-label propagation with pointer jumping ----
    val sym = e0.select(col("hi").as("x"), col("lo").as("nb"))
      .union(e0.select(col("lo").as("x"), col("hi").as("nb")))
    // labels are monotone non-increasing, so Σcomp unchanged ⇔ fixpoint
    val (labels, propDone) = fixpoint(compSum(vertices.select(
        col(idCol).cast("long").as("x"), col(idCol).cast("long").as("comp"))),
      propRounds, compSum) { labels =>
      val fromNbrs = sym
        .join(labels.select(col("x").as("nb"), col("comp")), Seq("nb"))
        .select(col("x"), col("comp"))
      val merged = labels.union(fromNbrs)
        .groupBy(col("x")).agg(min(col("comp")).as("comp"))
      // pointer jumping: every label is itself a vertex id, so its current
      // label exists in `merged` — the join is total by the vertex-cover
      // contract, coalesce guards the (contract-violating) missing case
      merged
        .join(merged.select(col("x").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("x"), coalesce(col("comp2"), col("comp")).as("comp"))
    }((prev, next) => next._2 == prev._2)
    if (propDone) {
      // true propagation fixpoint — labels already final (constant on each
      // component, minimum keeps itself); the star phase has nothing to do
      freeCheckpoint(e0)
      labels.select(col("x").as(idCol), col("comp"))
    } else {
      // ---- phase 2: star rounds on the label-contracted quotient graph ----
      val quotient = fingerprint(e0
        .join(labels.select(col("x").as("hi"), col("comp").as("ch")), Seq("hi"))
        .join(labels.select(col("x").as("lo"), col("comp").as("cl")), Seq("lo"))
        .select(greatest(col("ch"), col("cl")).as("hi"),
          least(col("ch"), col("cl")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct())
      freeCheckpoint(e0)
      // large-star: group every edge at its SMALLER endpoint u (via the
      // symmetrized view), attach m = min(Γ(u) ∪ {u}), re-link each larger
      // neighbor v to (v, m); v > u >= m keeps the (hi, lo) invariant
      def largeStar(cur: DataFrame): DataFrame = {
        val symd = cur.select(col("hi").as("u"), col("lo").as("v"))
          .union(cur.select(col("lo").as("u"), col("hi").as("v")))
        val mins = symd.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        symd.join(mins, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .distinct()
      }
      // small-star: group every edge at its LARGER endpoint hi (no
      // symmetrize needed under the invariant), m = min small neighbor;
      // re-link hi and each other small neighbor to m
      def smallStar(cur: DataFrame): DataFrame = {
        val mins = cur.groupBy(col("hi")).agg(min(col("lo")).as("m"))
        cur.join(mins, Seq("hi"))
          .select(
            when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
            col("m").as("lo"))
          .distinct()
      }
      // equal fingerprints gate the exact check; `except` confirms the
      // true fixpoint (on two checkpointed frames, and only in the rounds
      // the fingerprints collide or the loop is converging)
      val (l, done) =
        if (quotient._2._1 == 0) (quotient._1, true)
        else fixpoint(quotient, maxIter, fingerprint)(
            cur => smallStar(largeStar(cur)))((prev, next) =>
          next._2 == prev._2 && next._1.except(prev._1).head(1).isEmpty)
      if (!done)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter star rounds — " +
            "the result would be a silently split labeling; raise maxIter")
      // at the star fixpoint every non-root quotient vertex carries exactly
      // one (label, root) edge: comp(x) = starRoot(label(x)), with roots,
      // quotient singletons, and edge-less vertices coalescing to their own
      // phase-1 label. The final checkpoints back the returned frame and
      // are freed by the ContextCleaner when the caller drops it.
      labels
        .join(l.select(col("hi").as("comp"), col("lo").as("root")),
          Seq("comp"), "left")
        .select(col("x").as(idCol), coalesce(col("root"), col("comp")).as("comp"))
    }
  }

  /** The round loop of [[connectedComponents]]' two phases and the truss
    * peel. From `init` (a checkpoint and its measure), each round takes
    * and measures `step(current)` in one job (`take`), asks `done(previous,
    * next)`, then frees the superseded frame. Runs at most `maxRounds`
    * rounds; returns the last frame and whether `done` held. */
  private def fixpoint[A](init: (DataFrame, A), maxRounds: Int,
                          take: DataFrame => (DataFrame, A))(
      step: DataFrame => DataFrame)(
      done: ((DataFrame, A), (DataFrame, A)) => Boolean): (DataFrame, Boolean) = {
    var cur = init
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val next = take(step(cur._1))
      converged = done(cur, next)
      freeCheckpoint(cur._1)
      cur = next
      r += 1
    }
    (cur._1, converged)
  }

  /** The round measures, folded per partition by the job that writes the
    * checkpoint: the row count; Σ comp, exact (a sum of n ids overflows a
    * long at scale); and an (hi, lo) edge-set fingerprint (count, Σ hash),
    * where any deterministic hash will do since `except` decides. */
  private def counted(df: DataFrame): (DataFrame, Long) =
    checkpointed(df)(_.size.toLong) match { case (cp, ns) => (cp, ns.sum) }

  private def compSum(df: DataFrame): (DataFrame, BigInt) =
    checkpointed(df)(_.foldLeft(BigInt(0)) { (s, r) =>
      if (r.isNullAt(1)) s else s + r.getLong(1)
    }) match { case (cp, ss) => (cp, ss.sum) }

  private def fingerprint(df: DataFrame): (DataFrame, (Long, Long)) =
    checkpointed(df)(_.foldLeft((0L, 0L)) { case ((n, h), r) =>
      (n + 1, h + MurmurHash3.productHash((r.getLong(0), r.getLong(1))))
    }) match { case (cp, fs) => (cp, (fs.map(_._1).sum, fs.map(_._2).sum)) }

  /** INCREMENTAL connected-component maintenance — fold a batch of new
    * edges (and new vertices) into an EXISTING labeling without re-running
    * global CC: at 100 TB per-ingest global recompute is the bottleneck,
    * while a batch touches a vanishing fraction of components.
    *
    * Equivalence argument (exact, not approximate): each existing
    * component is a connected set, so CONTRACTING it to a single quotient
    * vertex — its `comp` label — preserves the component structure of
    * (old graph ∪ new edges). New edges map through the old labeling
    * (endpoints absent from `assignments` stay themselves), and CC runs
    * only on that QUOTIENT graph, whose size is O(batch edges + touched
    * components), never O(corpus). Because `comp` labels are component-
    * MINIMUM vertex ids (the [[connectedComponents]] convention) and new
    * vertices are their own ids, the quotient minimum IS the merged
    * component's true minimum member — so relabeling old assignments
    * through the quotient result reproduces the global recompute
    * bit-for-bit (asserted in OpsSpec on chained batches).
    *
    * Output: (id, comp) for every previously-assigned vertex AND every
    * new vertex in `newVertices` (singletons included); untouched
    * components keep their assignment without being read by the CC loop.
    *
    * Scale shape: two (id)-keyed label-lookup joins on the batch edges,
    * one [[connectedComponents]] run on the quotient (batch-sized), one
    * comp-keyed relabel join back over the assignment table. The
    * assignment table itself is the persisted state — bucket it by `comp`
    * (or id) and the relabel join co-locates.
    */
  def incrementalComponents(assignments: DataFrame, newEdges: DataFrame,
                            newVertices: DataFrame,
                            idCol: String = "id",
                            aCol: String = "a", bCol: String = "b"): DataFrame = {
    val asg = assignments.select(col(idCol).cast("long").as("x"),
      col("comp").cast("long").as("comp")).localCheckpoint()
    val e = newEdges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    // ids the batch introduces: declared new vertices plus any edge
    // endpoint the old labeling doesn't know (so a sloppy caller can't
    // lose a vertex) — anti-joined against the assignment table
    val newIds = newVertices.select(col(idCol).cast("long").as("x"))
      .unionByName(e.select(col("a").as("x")))
      .unionByName(e.select(col("b").as("x")))
      .distinct()
      .join(asg, Seq("x"), "left_anti")
      .localCheckpoint()
    // batch endpoints mapped through the old labeling; genuinely-new ids
    // contract to themselves; intra-component edges become self-loops and
    // drop
    val qe = e
      .join(asg.select(col("x").as("a"), col("comp").as("ca")), Seq("a"), "left")
      .join(asg.select(col("x").as("b"), col("comp").as("cb")), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val qv = qe.select(col("a").as("id")).unionByName(qe.select(col("b").as("id")))
      .unionByName(newIds.select(col("x").as("id")))
      .distinct()
    // CC on the quotient only — batch-sized regardless of corpus size; its
    // checkpoints back the relabel and the fresh-id join
    val sub = connectedComponents(qe, qv)
    val relabel = sub.select(col("id").as("comp"), col("comp").as("__new"))
    val keptOld = asg.join(relabel, Seq("comp"), "left")
      .select(col("x").as(idCol),
        coalesce(col("__new"), col("comp")).as("comp"))
    // new ids: quotient label directly (their quotient vertex is
    // themselves); edge-less new ids come out as singletons
    val fresh = newIds
      .join(sub.withColumnRenamed("id", "x"), Seq("x"), "left")
      .select(col("x").as(idCol), coalesce(col("comp"), col("x")).as("comp"))
    keptOld.unionByName(fresh)
  }

  private val clusterIndexFormatVersion = 2

  /** The committed meta pointer of a versioned assignment store: the
    * max-`version` row of `${prefix}_meta`, or None when the store does
    * not exist / has no committed row. The meta table is APPEND-ONLY —
    * commit of snapshot v = appending its pointer row — so a crash at any
    * point leaves the previous row the maximum, and the previous snapshot
    * keeps serving (the [[graft.streaming.StreamingEvents.latestSnapshot]]
    * rule, applied to tables).
    */
  private def clusterMetaHead(spark: org.apache.spark.sql.SparkSession,
                              tablePrefix: String)
      : Option[org.apache.spark.sql.Row] =
    if (!spark.catalog.tableExists(s"${tablePrefix}_meta")) None
    else {
      val m = graft.sources.Bucketing.freshTable(spark, s"${tablePrefix}_meta")
      if (!Seq("fmt", "corpus_tag", "buckets", "version")
          .forall(m.columns.contains)) None
      else m.orderBy(col("version").desc).limit(1).collect().headOption
    }

  /** PERSISTED cluster-assignment lifecycle — the production face of
    * [[incrementalComponents]] (the banded-index ensure/maintain
    * convention): the (id, comp) labeling lives as VERSIONED managed
    * tables `${prefix}_assign_v<N>` bucketed by `comp` (the relabel
    * join's key, so maintenance co-locates), with an APPEND-ONLY
    * `${prefix}_meta` whose max-version row is the committed pointer.
    * Build once with global CC; fold each ingest in with the
    * quotient-graph step — compute O(batch + touched components); the
    * snapshot REWRITE is the copy-on-write price every versioned-state
    * operator here pays ([[graft.streaming.StreamingEvents]]'
    * lineDfIngest note), stated plainly: the write is corpus-sized, the
    * SHUFFLE/compute is not.
    *
    * Crash safety (the write order IS the contract): (1) snapshot v+1 is
    * written under a NEW table name — the current snapshot is never
    * touched; (2) the meta pointer row for v+1 is APPENDED — the commit;
    * (3) snapshots older than v are dropped. A crash or task retry before
    * (2) leaves the store serving v (a retried ingest re-folds the batch
    * against it — the replay no-op); a crash after (2) has already
    * committed. Only the previous-and-current pair is retained, matching
    * [[graft.streaming.StreamingEvents.pruneSnapshots]]' N=2 floor.
    */
  def ensureClusterAssignments(pairs: DataFrame, vertices: DataFrame,
                               tablePrefix: String, corpusTag: String,
                               idCol: String = "id",
                               buckets: Int = 8): Unit = {
    val spark = pairs.sparkSession
    // a genuine read error (corrupt meta, permissions) must surface, not
    // silently trigger a rebuild — only ABSENCE (no table / no committed
    // row / a dangling pointer) means stale here, so the probe uses
    // tableExists + explicit row checks instead of a broad try/catch
    val upToDate = clusterMetaHead(spark, tablePrefix).exists { m =>
      m.getAs[Int]("fmt") == clusterIndexFormatVersion &&
        m.getAs[String]("corpus_tag") == corpusTag &&
        m.getAs[Int]("buckets") == buckets &&
        spark.catalog.tableExists(
          s"${tablePrefix}_assign_v${m.getAs[Long]("version")}")
    }
    if (!upToDate) {
      val asg = connectedComponents(pairs, vertices, idCol)
        .select(col(idCol).cast("long").as("id"), col("comp"))
      try writeClusterAssignments(spark, asg, tablePrefix, corpusTag, buckets,
        fresh = true)
      finally CacheScope.freeBacking(asg)
    }
  }

  /** The persisted labeling, read back: (id, comp) from the snapshot the
    * committed meta pointer names. Absence throws (serving an empty
    * labeling for "store not initialized" would let a mis-pathed reader
    * silently see no clusters).
    */
  def clusterAssignments(spark: org.apache.spark.sql.SparkSession,
                         tablePrefix: String): DataFrame = {
    val m = clusterMetaHead(spark, tablePrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed cluster-assignment snapshot under '$tablePrefix' — " +
          "run ensureClusterAssignments first"))
    spark.table(s"${tablePrefix}_assign_v${m.getAs[Long]("version")}")
      .select(col("id"), col("comp"))
  }

  /** Fold an ingested batch into the persisted labeling: the
    * [[incrementalComponents]] quotient step against the CURRENT
    * committed snapshot, then the versioned snapshot write + meta-append
    * commit (see [[ensureClusterAssignments]] for the crash contract).
    * Equal to a global rebuild by the quotient argument (OpsSpec asserts
    * it on chained batches against [[connectedComponents]]).
    */
  def maintainClusterAssignments(newEdges: DataFrame, newVertices: DataFrame,
                                 tablePrefix: String, newCorpusTag: String,
                                 idCol: String = "id",
                                 buckets: Int = 8): Unit = {
    val spark = newEdges.sparkSession
    val cur = clusterAssignments(spark, tablePrefix)
    // the versioned write never replaces its own input table (v+1 is a
    // new name), so no defensive checkpoint is needed before the write
    val next = incrementalComponents(cur, newEdges,
      newVertices.select(col(idCol).cast("long").as("id")), "id")
    try writeClusterAssignments(spark, next, tablePrefix, newCorpusTag,
      buckets, fresh = false)
    finally CacheScope.freeBacking(next)
  }

  private def writeClusterAssignments(spark: org.apache.spark.sql.SparkSession,
                                      asg: DataFrame, tablePrefix: String,
                                      corpusTag: String, buckets: Int,
                                      fresh: Boolean): Unit = {
    import graft.sources.Bucketing
    import spark.implicits._
    val curVersion = clusterMetaHead(spark, tablePrefix)
      .map(_.getAs[Long]("version")).getOrElse(0L)
    val next = curVersion + 1L
    // (1) the new snapshot, under a name no reader resolves yet (a crash
    // leftover of the same version is cleared by writeBucketed's drop)
    Bucketing.writeBucketed(asg, s"${tablePrefix}_assign_v$next",
      Seq("comp"), buckets)
    // (2) the commit: append the pointer row (a fresh ensure RECREATES
    // the meta table instead — stale pointer rows from a previous corpus
    // must not outrank the rebuild)
    val row = Seq((clusterIndexFormatVersion, corpusTag, buckets, next))
      .toDF("fmt", "corpus_tag", "buckets", "version")
    if (fresh || !spark.catalog.tableExists(s"${tablePrefix}_meta"))
      Bucketing.saveTable(row, s"${tablePrefix}_meta")
    else row.write.mode("append").saveAsTable(s"${tablePrefix}_meta")
    // (3) retention: keep current + previous only
    spark.catalog.listTables()
      .filter(t => t.name.startsWith(s"${tablePrefix}_assign_v"))
      .collect()
      .map(_.name.stripPrefix(s"${tablePrefix}_assign_v"))
      .filter(v => v.nonEmpty && v.forall(_.isDigit))
      .map(_.toLong)
      .filter(_ < next - 1L)
      .foreach(v =>
        Bucketing.dropTableAndLocation(spark, s"${tablePrefix}_assign_v$v"))
  }

  /** PageRank in FIXED-POINT integer arithmetic — bit-deterministic across
    * engines, runs, and partitionings, which floating-point PageRank is NOT
    * (parallel double summation has no defined order). All mass lives in
    * integer `scale`-units: init `scale div n` per vertex; per round each
    * vertex sends `(85 · (rank div out_deg)) div 100` to every out-neighbor
    * and every vertex restarts from `(15 · (scale div n)) div 100`. Long
    * sums of non-negative contributions are order-free, so the DuckDB
    * oracle reproduces ranks EXACTLY with the same unrolled iterations.
    * The `div`-truncation dust (< 1 unit per edge per round) is the price
    * of determinism; with scale = 10^12 it is ~1e-12 of the mass.
    *
    * Scale shape: one shuffle builds the persisted, hash-partitioned
    * adjacency (each vertex with its out-neighbour array, duplicates kept;
    * `n` is its count). All rounds then run as ONE job with one shuffle
    * per round: the shares `reduceByKey` into the adjacency's partitioner,
    * so the left join that takes `base + inflow` is narrow. No action runs
    * between rounds and the driver holds nothing vertex-sized. The final
    * ranks are one eager local checkpoint backing the returned frame
    * (freed by the ContextCleaner once the caller drops it). Dangling mass
    * is dropped (standard simplification), deterministically.
    *
    * Edges are directed (src, dst); pass both directions for an undirected
    * graph. Vertex ids are distinct and non-null, and every endpoint must
    * appear in `vertices`.
    */
  def pageRankInt(edges: DataFrame, vertices: DataFrame,
                  idCol: String = "id", srcCol: String = "src",
                  dstCol: String = "dst", iterations: Int = 3,
                  scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations in [1, 50]")
    val spark = vertices.sparkSession
    import spark.implicits._
    val vs = vertices.select(col(idCol).cast("long")).rdd
      .map(r => (r.getLong(0), ()))
    val es = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new HashPartitioner(math.max(
      spark.sparkContext.defaultParallelism, es.getNumPartitions))
    // an edge whose src is not a vertex never holds rank: dropped here
    val adj = vs.cogroup(es, part)
      .filter { case (_, (isV, _)) => isV.nonEmpty }
      .mapValues { case (_, dsts) => dsts.toArray }
      .cache()
    val n = adj.count()
    val init = scale / math.max(n, 1L)
    val base = 15L * init / 100L
    var ranked = adj.mapValues(d => (d, init))
    (0 until iterations).foreach { _ =>
      val inflow = ranked.flatMap { case (_, (dsts, rank)) =>
        val c = if (dsts.isEmpty) 0L else 85L * (rank / dsts.length) / 100L
        dsts.iterator.map(d => (d, c))
      }.reduceByKey(part, _ + _)
      ranked = adj.leftOuterJoin(inflow, part)
        .mapValues { case (dsts, in) => (dsts, base + in.getOrElse(0L)) }
    }
    val out = ranked.map { case (x, (_, rank)) => (x, rank) }
      .toDF(idCol, "rank").localCheckpoint(eager = true)
    adj.unpersist(blocking = false)
    out
  }

  /** Normalize a pair list to a simple undirected edge set: (a < b),
    * self-loops dropped, duplicates collapsed. */
  private def normalized(pairs: DataFrame): DataFrame =
    pairs.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Oriented edge list under the DEGREE order — each undirected edge
    * points from its (degree, id)-smaller endpoint to the larger, with the
    * destination's degree carried alongside: (src, dst, dd). The
    * orientation is what makes triangle enumeration O(m^1.5): every
    * oriented out-neighborhood has size ≤ √(2m) (a vertex of out-degree k
    * has k neighbors of degree ≥ its own, so k² ≤ Σdeg = 2m), so the
    * wedge self-join below never explodes on hub vertices the way a
    * naive adjacency join would.
    */
  private def oriented(und: DataFrame, deg: DataFrame): DataFrame = {
    val j = und
      .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    j.select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
  }

  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))

  /** TRIANGLE census per vertex: (v, n_tri) for every edge endpoint
    * (vertices touching no triangle report 0). The dedup-QA reading: on a
    * near-dup graph, triangle-rich neighborhoods are clique-like (the
    * transitive closure a cluster-dedup takes is safe — everything really
    * is mutually similar), triangle-poor high-degree neighborhoods are
    * CHAINS, where closing the transitive hull merges documents that were
    * never pairwise similar — exactly the failure mode a keep-one-per-
    * cluster pass should be audited for before it deletes.
    *
    * Scale shape: degree-ordered orientation ([[oriented]]), one
    * out-neighborhood self-join on src (bounded by the √(2m) lemma), one
    * closing-edge semi-join, then an explode-and-count over the three
    * corners. Two edge-keyed shuffles + the count — never a global sort,
    * no driver state.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // localCheckpoint: deg/oriented/the closing-edge join each consume the
    // edge set — uncached they would re-run the whole upstream pair
    // generation (for SRP inputs, the banding + cosine-verify chain)
    val und = normalized(pairs).localCheckpoint()
    val deg = degrees(und)
    val o = oriented(und, deg)
    val x = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val y = o.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val tris = x.join(y, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(explode(array(col("src"), col("v"), col("w"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("v")).join(tris, Seq("v"), "left")
      .select(col("v"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Triangle support over a FIXED-orientation edge list (src, dst, dd):
    * one wedge self-join + one closing join, each triangle crediting its
    * three ORIENTED edges directly — (src, dst, dd, support) for every
    * edge in ≥ 1 triangle (zero-support edges are absent; the peel drops
    * them anyway since k−2 ≥ 1, and the final reporting pass left-joins
    * them back). Keeping the orientation fixed across peel rounds is
    * exact: for ANY total vertex order, every triangle {x ≺ y ≺ z} is
    * enumerated exactly once (the wedge (y, z) out of x, closed by the
    * oriented edge y→z), so per-edge triangle counts are independent of
    * which order oriented the edges — the round-0 (degree, id) order is
    * as valid on every peeled subgraph as that subgraph's own order, and
    * reusing it removes the per-round degree aggregation + two degree
    * joins that dominated the peel's job count.
    */
  private def orientedSupport(o: DataFrame): DataFrame = {
    val x = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val y = o.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    x.join(y, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(explode(array(
          struct(col("src"), col("v").as("dst"), col("dv").as("dd")),
          struct(col("src"), col("w").as("dst"), col("dw").as("dd")),
          struct(col("v").as("src"), col("w").as("dst"), col("dw").as("dd"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dd").as("dd"))
      .groupBy(col("src"), col("dst"), col("dd"))
      .agg(count(lit(1)).as("support"))
  }

  /** K-TRUSS of the pair graph (Cohen 2008): the maximal subgraph in which
    * every edge sits in ≥ k−2 triangles WITHIN the subgraph, computed by
    * iterated support peeling — drop under-supported edges, recount, repeat.
    * Output: the surviving edges with their final in-truss support.
    *
    * The dedup reading: triangle support is the EDGE-level robustness
    * signal the census ([[clusterCensus]]) reports at cluster grain — a
    * chain edge (support 0) is one borderline pair gluing two unrelated
    * groups, and transitive-closure dedup follows it into a bad merge.
    * Peeling to the 3-truss first (every kept edge shares ≥ 1 common
    * neighbor) cuts exactly those bridges, so closure over the truss
    * yields clusters where membership is corroborated by at least one
    * third document — the standard robust-clustering preamble.
    *
    * Determinism/convergence contract: runs exactly `rounds` peels, then
    * THROWS if the result still has an under-supported edge (the
    * [[connectedComponents]] exhausted-budget rule — never a silent
    * truncation); rounds needed grows with the deepest peel cascade,
    * small in practice (≤ 2 on every test corpus). Each round is one
    * bounded [[orientedSupport]] wedge pass (O(m^1.5)) + one filter, each
    * intermediate localCheckpoint-ed so lineage stays flat.
    */
  def trussEdges(pairs: DataFrame, k: Int = 3, rounds: Int = 4): DataFrame = {
    val und = normalized(pairs).localCheckpoint()
    try trussPeel(und, k, rounds) finally freeCheckpoint(und)
  }

  /** The peel loop over a checkpointed, NORMALIZED edge set, which it
    * does not read once it returns. Orients ONCE under the input graph's
    * (degree, id) order and peels the ORIENTED list — per round one wedge
    * pass over the fixed orientation ([[orientedSupport]]'s exactness
    * argument) instead of a full degrees + orientation + support +
    * join-back rebuild.
    */
  private def trussPeel(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    // support >= k-2 >= 1 drops zero-support edges by construction (they
    // never earn a credit row), so the filtered support table IS the next
    // oriented edge list — no join back per round. Edge counts only fall
    // under peeling; an UNCHANGED count means no edge was dropped, i.e.
    // every edge already had support >= k-2 within the current subgraph —
    // the fixpoint, proven without an extra verification pass
    val (o, converged) = fixpoint(counted(oriented(und, degrees(und))),
      rounds, counted) { o =>
      orientedSupport(o).filter(col("support") >= k - 2)
        .select(col("src"), col("dst"), col("dd"))
    }((prev, next) => next._2 == prev._2)
    // final support values on the converged edge set, mapped back to the
    // normalized (a, b) form with zero-support edges kept (the ≥ operator
    // of the orientation: a = min endpoint, b = max endpoint)
    val supF = orientedSupport(o)
    val fin = o
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .join(supF.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"), col("support")),
        Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
    if (!converged && fin.filter(col("support") < k - 2).limit(1).count() > 0) {
      freeCheckpoint(o)
      throw new IllegalStateException(
        s"trussEdges did not converge in $rounds rounds (k=$k) — raise " +
          "`rounds`; refusing to return a non-truss silently")
    }
    fin
  }

  /** Dedup-EFFECT comparison between plain transitive closure and closure
    * over the k-truss ([[trussEdges]]): one row per scheme —
    * (scheme, n_edges, n_clusters, n_members, largest_cluster,
    * docs_struck) where docs_struck = members − clusters, the documents a
    * keep-one-per-cluster pass deletes. The delta between the rows is the
    * point: documents the raw closure would strike that the truss keeps,
    * i.e. deletions that rested on a single uncorroborated bridge pair.
    *
    * Scale shape: [[trussEdges]] + ONE [[connectedComponents]] run shared
    * by both schemes (the parity-tagged disjoint union — see the inline
    * exactness note), then one (comp) count and a one-row rollup per
    * scheme; nothing beyond the underlying operators' bounded shapes.
    */
  def trussDedupEffect(pairs: DataFrame, k: Int = 3,
                       rounds: Int = 4): DataFrame = {
    val und = normalized(pairs).localCheckpoint()
    val peeled = trussPeel(und, k, rounds)
    val trussE = peeled.select(col("a"), col("b")).localCheckpoint()
    CacheScope.freeBacking(peeled)
    // ONE connectedComponents run for BOTH schemes, on the PARITY-TAGGED
    // disjoint union: closure edges at id·2, truss edges at id·2+1.
    // Exact because components never cross parities (no edge joins an
    // even and an odd id) and x → 2x+tag is strictly monotone per tag,
    // so each union component is one original component and its min
    // label keeps the tag's parity — pmod(comp, 2) recovers the scheme
    // without decoding. Per-round data doubles (two tiny graphs instead
    // of one) but the round/job COUNT halves — the sampled-graph tier's
    // measured cost is per-round constants, not rows. Id contract:
    // |id| < 2^62 (the engine's ids are row ids or 60-bit md5 hashes); the
    // ids are widened to long first, so an int id ≥ 2^30 cannot wrap.
    val truss = s"truss$k"
    val ue = und
      .select((col("a").cast("long") * 2).as("a"), (col("b").cast("long") * 2).as("b"))
      .unionByName(trussE.select((col("a").cast("long") * 2 + 1).as("a"),
        (col("b").cast("long") * 2 + 1).as("b")))
    val uv = ue.select(col("a").as("id"))
      .unionByName(ue.select(col("b").as("id"))).distinct()
    val comp = connectedComponents(ue, uv)
    val byScheme = comp.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .withColumn("scheme",
        when(pmod(col("comp"), lit(2)) === 0, lit("closure"))
          .otherwise(lit(truss)))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_members"),
        max(col("sz")).as("largest_cluster"))
    val edges = und.select(lit("closure").as("scheme"))
      .unionByName(trussE.select(lit(truss).as("scheme")))
      .groupBy(col("scheme")).agg(count(lit(1)).as("n_edges"))
    // both scheme rows must exist even when a graph is empty (the old
    // per-scheme global aggregate always returned its zero row)
    val schemes = pairs.sparkSession.range(1)
      .select(explode(array(lit("closure"), lit(truss))).as("scheme"))
    schemes.join(edges, Seq("scheme"), "left")
      .join(byScheme, Seq("scheme"), "left")
      .select(col("scheme"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("largest_cluster"), lit(0L)).as("largest_cluster"),
        (coalesce(col("n_members"), lit(0L)) -
          coalesce(col("n_clusters"), lit(0L))).as("docs_struck"))
  }

  /** Per-CLUSTER census — the table a dedup operator reads BEFORE
    * collapsing components to one representative each: for every connected
    * component of the pair graph (edge-endpoint vertices only; singletons
    * have nothing to audit), one row
    * (comp, n_vertices, n_edges, n_triangles, density_micro,
    * transitivity_micro) with comp = the component's minimum vertex id
    * ([[connectedComponents]]' convention), density = 2E/(V(V−1)) and
    * transitivity = 3T/wedges, both micro-quantized integers (0 when the
    * wedge count is 0). The reading: density ≈ transitivity ≈ 1 is a
    * clique — every member really is pairwise similar and keep-one is
    * safe; a large component with low density/transitivity is a CHAIN the
    * transitive closure glued together, where collapsing would delete
    * documents never pairwise similar — split it (raise the threshold,
    * re-band) instead of collapsing.
    *
    * Scale shape: [[triangleCounts]]' bounded wedge enumeration +
    * [[connectedComponents]]' logarithmic rounds, then everything is
    * (vertex)- or (comp)-keyed joins and one (comp) aggregation — output
    * is one row per component; no stage is pair-quadratic.
    */
  def clusterCensus(pairs: DataFrame): DataFrame = {
    // four consumers (degrees, CC, triangles, edge-comp join) — checkpoint
    // the edge set once; see [[triangleCounts]]
    val und = normalized(pairs).localCheckpoint()
    val deg = degrees(und)
    val comp = connectedComponents(und, deg.select(col("v").as("id")))
      .select(col("id").as("v"), col("comp"))
    val tri = triangleCounts(und)
    // per-vertex frame: degree (for wedges) + triangle membership count
    val perV = deg.join(tri, Seq("v")).join(comp, Seq("v"))
    // edges keyed by component via the a-endpoint (b is in the same comp
    // by definition of a component)
    val edgeComp = und.join(comp.withColumnRenamed("v", "a"), Seq("a"))
    val vAgg = perV.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_vertices"),
        expr("sum(dg * (dg - 1) div 2)").as("n_wedges"),
        // Σ per-vertex counts = 3T (each triangle has three corners);
        // integer div — the sum is divisible by 3 by construction
        expr("sum(n_tri) div 3").as("n_triangles"))
    val eAgg = edgeComp.groupBy(col("comp")).agg(count(lit(1)).as("n_edges"))
    vAgg.join(eAgg, Seq("comp"))
      .select(col("comp"), col("n_vertices"), col("n_edges"),
        col("n_triangles"),
        expr("(1000000 * 2 * n_edges) div (n_vertices * (n_vertices - 1))")
          .as("density_micro"),
        when(col("n_wedges") > 0,
            expr("(3000000 * n_triangles) div n_wedges"))
          .otherwise(lit(0L)).as("transitivity_micro"))
  }

  /** THRESHOLD sweep + recommendation — the operator form of the manual
    * "census says re-tune" rule: given verified candidate pairs WITH their
    * exact cosine (one [[SimilarityOps.srpNearDupPairs]] pass at the grid's
    * FLOOR — candidates are generated once, never per threshold), evaluate
    * every candidate threshold in `gridMicro` (micro-quantized cosines) and
    * report per threshold the graph it would induce: n_vertices (edge
    * endpoints), n_edges, max_degree, mean_degree_micro. `recommended`
    * marks the SMALLEST threshold whose mean degree ≤
    * `targetMeanDegreeMicro` — the densest operating point that still
    * keeps the graph in the sparse regime downstream closure/truss
    * consumers need (all false when even the top of the grid is too
    * dense: the caller's grid needs to move, loudly visible).
    *
    * Everything is integer/shared-double arithmetic: thresholds compare as
    * `cos >= thr_micro / 1e6` in the one double shape both engines round
    * identically, so the SQL oracle replays the sweep exactly.
    *
    * Scale shape: one broadcast of the (tiny) grid against the candidate
    * pair list (|pairs| × |grid| rows — grid is O(10)), one
    * (threshold, vertex)-keyed degree count, one per-threshold rollup (one
    * row per threshold). No all-pairs stage, no per-threshold rescans of
    * the corpus; at 100 TB the sweep costs |candidates| × |grid|, and the
    * candidate floor is the one knob that must be generated generously
    * (the grid can only RAISE it).
    */
  def recommendThreshold(pairsWithCos: DataFrame, gridMicro: Seq[Long],
                         targetMeanDegreeMicro: Long): DataFrame = {
    require(gridMicro.nonEmpty, "threshold grid must be non-empty")
    val thrs = gridMicro.distinct.sorted
    val grid = pairsWithCos.sparkSession.range(1)
      .select(explode(array(thrs.map(lit(_)): _*)).as("thr_micro"))
    val eg = pairsWithCos.select(col("a"), col("b"), col("cos"))
      .join(broadcast(grid),
        col("cos") >= col("thr_micro").cast("double") / lit(1000000.0))
    val deg = eg.select(col("thr_micro"),
        explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("thr_micro"), col("v")).agg(count(lit(1)).as("dg"))
    val st = deg.groupBy(col("thr_micro"))
      .agg(count(lit(1)).as("n_vertices"),
        expr("sum(dg) div 2").as("n_edges"),
        max(col("dg")).as("max_degree"),
        expr("(1000000 * sum(dg)) div count(1)").as("mean_degree_micro"))
    // thresholds that kill every candidate still get a (zeroed) row — an
    // empty graph is maximally sparse, and the sweep must show it
    val full = grid.join(st, Seq("thr_micro"), "left")
      .select(col("thr_micro"),
        coalesce(col("n_vertices"), lit(0L)).as("n_vertices"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("max_degree"), lit(0L)).as("max_degree"),
        coalesce(col("mean_degree_micro"), lit(0L)).as("mean_degree_micro"))
    val best = full.filter(col("mean_degree_micro") <= targetMeanDegreeMicro)
      .agg(min(col("thr_micro")).as("__best"))
    full.crossJoin(broadcast(best))
      .select(col("thr_micro"), col("n_vertices"), col("n_edges"),
        col("max_degree"), col("mean_degree_micro"),
        (col("thr_micro") <=> col("__best")).as("recommended"))
  }

  /** GLOBAL triangle statistics — one row: (n_vertices, n_edges, n_wedges,
    * n_triangles, global_cc_micro) with global_cc = 3·T / wedges (the
    * transitivity ratio, micro-quantized integer), wedges = Σ deg·(deg−1)/2
    * computed straight from the degree table (no join). A near-dup graph
    * with transitivity ≈ 1 is a union of cliques (cluster-dedup is exact);
    * low transitivity at high degree flags chain topology (see
    * [[triangleCounts]]).
    */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val und = normalized(pairs).localCheckpoint()
    val deg = degrees(und)
    val o = oriented(und, deg)
    val x = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val y = o.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val t = x.join(y, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val parts = deg.agg(count(lit(1)).as("n_vertices"),
        expr("sum(dg * (dg - 1) div 2)").as("n_wedges"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(t)
    parts.select(col("n_vertices"), col("n_edges"),
      coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
      col("n_triangles"),
      when(col("n_wedges") > 0,
          expr("(3000000 * n_triangles) div n_wedges"))
        .otherwise(lit(0L)).as("global_cc_micro"))
  }
}
