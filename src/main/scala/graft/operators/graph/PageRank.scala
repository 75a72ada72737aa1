package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank over an edge list, in INTEGER fixed-point
  * arithmetic (total mass `unit`, default 10¹²; damping 85/100).
  *
  * Why fixed point: the textbook float formulation sums
  * `rank/outdegree` contributions, and a double sum over a shuffled
  * aggregation is ORDER-DEPENDENT — at 1000 executors the same graph
  * gives a different last-ulp result every run (and a different result
  * from any oracle replaying it). Floor-division longs make every
  * iteration exact, order-independent, and bit-reproducible on any
  * engine: share(u) = r(u) div outdeg(u), inSum(v) = Σ share (exact
  * long), r'(v) = (15·U div 100N) + 85·(inSum + dm div N) div 100,
  * where dm is the dangling mass (rank parked on sink nodes),
  * redistributed uniformly per the standard random-surfer model.
  * Truncation loses < 1 unit per edge per iteration — at U = 10¹² that
  * is an O(10⁻¹²·outdeg) relative error, far below float noise — and
  * the LOST mass is simply not re-injected (ranks sum to slightly
  * under U), which keeps every value a pure function of the graph.
  *
  * Scale shape: the edge table is joined once per iteration on src and
  * aggregated once on dst with map-side combine; ranks and degrees are
  * node-sized. TWO JOIN REGIMES (r20, guide §3.1): when the counted node
  * set fits `graft.graph.broadcastNodes` (default 1M rows) the rank frame
  * is BROADCAST into the edge join — the persisted edge table is never
  * re-exchanged or re-sorted, and each iteration's only shuffle is the
  * node-sized partial-aggregated (dst, share) map output, which the node
  * rows join by riding the same aggregation. Above the
  * limit, the classic shape: edges pre-partitioned on src + persisted so
  * every iteration reuses one exchange; K iterations = K edge-shuffles,
  * the canonical distributed PageRank cost. Each iteration's rank table is
  * `localCheckpoint`ed: under plain persist() the plan tree still NESTS
  * k levels of lineage, so analysis/AQE-replan cost grows with k and
  * dominates past a few iterations (measured 3.4→4.8 s/iter growth at
  * sf0.1; constant ~0.5 s after truncation). On a real cluster set
  * `graft.checkpoint.dir` to route loop frames to reliable checkpoints
  * if executor loss matters — the algorithm is oblivious.
  *
  * Round statistics are OBSERVED ([[graft.LoopFrames.observed]]), not
  * probed: the node frame is materialized once with its sink flag, and
  * its job also yields N (and TrustRank's seed count S) and dm0; the
  * dangling mass Σ_{sinks} r_k is observed by the job that checkpoints
  * ranks_k and enters round k+1 as a long LITERAL (exact long algebra,
  * so a literal and an in-plan aggregate give the same bits). Each
  * round is therefore one materializing job plus the edge join's own
  * stages — no sink frame, no `isEmpty`/`count` probe, no per-round
  * dangling sub-plan.
  *
  * One loop: [[run]], [[runWeighted]] and [[TrustRank.run]] differ only
  * in the per-edge share, the teleport divisor and which nodes receive
  * teleport mass, so all three delegate to the [[propagate]] kernel.
  *
  * No reference counterpart; classic-OLAP/graph extension per the
  * builder prompt (cf. GraphX's Pregel PageRank — re-expressed
  * relationally so Catalyst sees every stage).
  */
object PageRank {

  /** Output: (node, rank_fp long — exact fixed-point, hash-stable; rank
    * double = rank_fp/unit for reading). Directed edges; pass both
    * directions for an undirected graph. `srcCol`/`dstCol` must share a
    * type (kept as-is — prefer integral ids: a numeric node key
    * shuffles and joins measurably cheaper than a string one at every
    * scale; encode typed vertices as disjoint ranges, e.g. 2k / 2k+1).
    * Delegates to the shared [[propagate]] kernel with share
    * `r div outdeg`, divisor N and a uniform teleport term.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int = 5, unit: Long = 1000000000000L,
          edgesDistinct: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // edgesDistinct: callers that can prove uniqueness (e.g. a distinct
    // pair set unioned with its reverse over disjoint id ranges) skip an
    // input-sized shuffle here
    val e = (if (edgesDistinct) sel else sel.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // integral `div`, NOT double `/`+cast: a quotient one ulp under an
    // integer would round up in double and truncate to the wrong floor
    propagate(e, outdeg, "r div outdeg", None, iterations, unit, "rank")
  }

  /** Weighted PageRank: a node's rank splits across its out-edges in
    * proportion to integer edge weights instead of uniformly —
    * share(u→v) = ⌊r(u)·w/sw(u)⌋ (sw = u's weight total; duplicate
    * (src,dst) rows ADD their weights, multigraph semantics; rows with
    * w ≤ 0 are dropped). Same exact fixed-point contract and the same
    * [[propagate]] kernel as [[run]]: the share is computed by the
    * overflow-safe split
    * `w·(r div sw) + ((r mod sw)·w) div sw`, which equals
    * ⌊r·w/sw⌋ identically (so an oracle may compute the product form in
    * wide integers) while every intermediate stays ≤ max(r, sw²) —
    * guarded by requiring sw ≤ √Long.Max (≈3.04e9 weight mass per node;
    * rescale weights if a node exceeds it). Constant weights degenerate
    * to [[run]] bit-for-bit (⌊rc/cd⌋ = ⌊r/d⌋), which the spec pins.
    */
  def runWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, iterations: Int = 5,
                  unit: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
    val e = sel.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val swt = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val mx = swt.agg(max(col("sw"))).head()
    val maxSw = if (mx.isNullAt(0)) 0L else mx.getLong(0) // null: no edges
    require(maxSw <= 3037000499L, // floor(sqrt(Long.MaxValue))
      s"weighted PageRank: a node carries weight mass $maxSw > sqrt(Long.Max) " +
        "— rescale weights (the exact share split would overflow)")
    propagate(e, swt, "w * (r div sw) + ((r % sw) * w) div sw", None,
      iterations, unit, "rank")
  }

  /** The one rank-propagation loop behind [[run]], [[runWeighted]] and
    * [[TrustRank.run]] (see the object doc for the recurrence and the
    * two join regimes).
    *
    * @param e     persisted (src, dst, …) edge table; unpersisted here
    * @param deg   per-src divisor table joined onto `e` on `src`, one row
    *              per src of `e` (a node that is no src is a sink)
    * @param share SQL for one edge's share of `r` over the joined row
    * @param seeds None for PageRank (divisor N, uniform teleport); for
    *              TrustRank the non-null seed ids as column `node` (divisor
    *              S, teleport, r0 and the dangling share confined to seeds)
    * @return (node, `out`_fp, `out`)
    */
  private[graph] def propagate(e: DataFrame, deg: DataFrame, share: String,
                               seeds: Option[DataFrame], iterations: Int,
                               unit: Long, out: String): DataFrame = {
    // ONE materialization of the node frame with its flags: every endpoint
    // (and seed) once, `is_sink` = no out-edge (a null id never matches
    // the src join, so it is always a sink), `is_seed` for TrustRank. Its
    // job observes N, S and the number of sinks that receive r0.
    val ends = e.select(col("src").as("node"), lit(true).as("out"), lit(false).as("seed"))
      .union(e.select(col("dst").as("node"), lit(false).as("out"), lit(false).as("seed")))
    val flagged = seeds.fold(ends)(s =>
        ends.union(s.select(col("node"), lit(false).as("out"), lit(true).as("seed"))))
      .groupBy(col("node"))
      .agg(max(col("out")).as("out"), max(col("seed")).as("is_seed"))
      .select(col("node"), (col("node").isNull || !col("out")).as("is_sink"),
        col("is_seed"))
    val onSeeds: String => String =
      if (seeds.isEmpty) identity else t => s"CASE WHEN is_seed THEN $t ELSE 0L END"
    val (nodes, counts) = graft.LoopFrames.observed(flagged,
      count(lit(1)), count(when(col("is_seed"), 1)),
      coalesce(sum(expr(s"CASE WHEN is_sink THEN ${onSeeds("1L")} ELSE 0L END")), lit(0L)))(
      graft.LoopFrames.materialize)
    val n = counts.getLong(0)
    require(n > 0, "PageRank over an empty edge set (no nodes)")
    val divisor = if (seeds.isEmpty) n else counts.getLong(1)
    require(divisor > 0, "TrustRank needs a non-empty seed set")
    // counted-small node set → broadcast the rank frame into each round's
    // edge join (guide §3.1): the per-round exchange+sort of the edge
    // table disappears; join strategy cannot change the exact integer
    // results. Gated on the ACTUAL node count vs graft.graph.broadcastNodes.
    val bcast = graft.LoopFrames.broadcastable(e.sparkSession, n)
    // edge+divisor table is iteration-invariant. Broadcast regime: build it
    // with a broadcast join (no exchange at all — e's persisted layout is
    // reused) since no iteration needs src partitioning any more. Shuffle
    // regime (huge node sets): persist it partitioned on src so each
    // iteration's rank join reuses one exchange.
    val edgesDeg = (if (bcast) e.join(broadcast(deg), "src")
                    else e.join(deg, "src").repartition(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = (15L * unit) / (100L * divisor)
    val r0 = unit / divisor
    // r0 is a projection of the node frame, not a materialization of its
    // own; the dangling mass Σ_{sinks} r is exact long algebra, so it
    // enters each round as a literal: dm0 = (sinks receiving r0) · r0,
    // dm_k is observed by the job that checkpoints ranks_k
    var ranks = nodes.select(col("node"), col("is_sink"), expr(onSeeds(s"${r0}L")).as("r"))
    var dm = counts.getLong(2) * r0
    for (k <- 1 to iterations) {
      val rk = if (bcast) broadcast(ranks) else ranks
      // ONE aggregation per round: every edge's share and every node's own
      // row meet on `node`, so the in-sum needs no node ⋈ inSum join (one
      // shuffle, not two). A share into a null dst has no node row to land
      // on and is dropped, as the join dropped it.
      val shares = edgesDeg
        .join(rk, edgesDeg("src") === rk("node"))
        .where(col("dst").isNotNull)
        .select(col("dst").as("node"), lit(null).cast("boolean").as("is_sink"),
          lit(null).cast("boolean").as("is_seed"), expr(share).as("share"))
      val prev = ranks
      // integral dm div divisor (dm >= 0): Scala `/` is SQL `div` here
      val next = expr(s"${onSeeds(s"${base}L")} + " +
        s"(85 * (coalesce(insum, 0L) + ${onSeeds(s"${dm / divisor}L")})) div 100").as("r")
      val (ck, stats) = graft.LoopFrames.observed(
        nodes.withColumn("share", lit(null).cast("long")).unionByName(shares)
          .groupBy(col("node"))
          .agg(max(col("is_sink")).as("is_sink"), max(col("is_seed")).as("is_seed"),
            sum(col("share")).as("insum"))
          .select(col("node"), col("is_sink"), next),
        coalesce(sum(when(col("is_sink"), col("r"))), lit(0L)))(
        graft.LoopFrames.materialize) // eager: materialize + truncate lineage
      ranks = ck
      dm = stats.getLong(0)
      // RDD-level release: Dataset.unpersist no-ops on checkpoint blocks
      // (round 1's input is r0, a projection of the live node frame)
      if (k > 1) graft.LoopFrames.release(prev)
    }
    // the result is the final eager checkpoint — the iteration-invariant
    // frames can be freed now rather than waiting on the ContextCleaner
    e.unpersist(false)
    edgesDeg.unpersist(false)
    graft.LoopFrames.release(nodes)
    ranks.select(col("node"), col("r").as(s"${out}_fp"),
      (col("r").cast("double") / unit.toDouble).as(out))
  }
}
