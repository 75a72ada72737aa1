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
  * node-sized partial-aggregated (dst, share) map output. Above the
  * limit, the classic shape: edges pre-partitioned on src + persisted so
  * every iteration reuses one exchange; K iterations = K edge-shuffles,
  * the canonical distributed PageRank cost. Each iteration's rank table is
  * `localCheckpoint`ed: ranks_k is read three times building
  * ranks_{k+1} (dangling, inSum, next input), and under plain
  * persist() the plan tree still NESTS k levels of lineage, so
  * analysis/AQE-replan cost grows with k and dominates past a few
  * iterations (measured 3.4→4.8 s/iter growth at sf0.1; constant
  * ~0.5 s after truncation). On a real cluster set
  * `graft.checkpoint.dir` to route loop frames to reliable checkpoints
  * if executor loss matters — the algorithm is oblivious. Dangling mass is a 1-row aggregate broadcast back
  * in-plan (no driver round-trip beyond job scheduling).
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
    val (nodes, n) = countedNodes(e)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // integral `div`, NOT double `/`+cast: a quotient one ulp under an
    // integer would round up in double and truncate to the wrong floor
    propagate(e, outdeg, "r div outdeg", nodes, n, n, identity,
      iterations, unit, "rank")
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
    val (nodes, n) = countedNodes(e)
    val swt = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val maxSw = swt.agg(max(col("sw"))).collect()(0).getLong(0)
    require(maxSw <= 3037000499L, // floor(sqrt(Long.MaxValue))
      s"weighted PageRank: a node carries weight mass $maxSw > sqrt(Long.Max) " +
        "— rescale weights (the exact share split would overflow)")
    propagate(e, swt, "w * (r div sw) + ((r % sw) * w) div sw", nodes, n, n,
      identity, iterations, unit, "rank")
  }

  /** The materialized distinct endpoint set of `e` and its count. */
  private def countedNodes(e: DataFrame): (DataFrame, Long) = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(graft.LoopFrames.materialize)
    val n = nodes.count()
    require(n > 0, "PageRank over an empty edge set (no nodes)")
    (nodes, n)
  }

  /** The one rank-propagation loop behind [[run]], [[runWeighted]] and
    * [[TrustRank.run]] (see the object doc for the recurrence and the
    * two join regimes).
    *
    * @param e       persisted (src, dst, …) edge table; unpersisted here
    * @param deg     per-src divisor table joined onto `e` on `src`; a
    *                node absent from it is a sink
    * @param share   SQL for one edge's share of `r` over the joined row
    * @param nodes   materialized node frame (`node` first, plus any
    *                column `onSeeds` reads); released here
    * @param n       counted row count of `nodes` (broadcast gate)
    * @param divisor N for PageRank, the seed count S for TrustRank
    * @param onSeeds confines a SQL term to the teleport targets:
    *                identity for PageRank, `CASE WHEN is_seed …` for
    *                TrustRank — applied to r0, the teleport term and the
    *                dangling share
    * @return (node, `out`_fp, `out`)
    */
  private[graph] def propagate(e: DataFrame, deg: DataFrame, share: String,
                               nodes: DataFrame, n: Long, divisor: Long,
                               onSeeds: String => String, iterations: Int,
                               unit: Long, out: String): DataFrame = {
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
    // iteration-invariant sink set (nodes with no out-edges); when it is
    // EMPTY (every undirected graph) dm is identically 0, so the per-round
    // dangling aggregation job is skipped outright — same exact algebra
    val ids = nodes.select(col("node"))
    val sinks = ids.join(deg, ids("node") === deg("src"), "left_anti")
      .transform(graft.LoopFrames.materialize)
    val haveSinks = !sinks.isEmpty
    val dangling = if (haveSinks) s" + ${onSeeds(s"dm div ${divisor}L")}" else ""
    val next = expr(s"${onSeeds(s"${base}L")} + " +
      s"(85 * (coalesce(insum, 0L)$dangling)) div 100").as("r")
    var ranks = nodes.select(col("node"), expr(onSeeds(s"${unit / divisor}L")).as("r"))
      .transform(graft.LoopFrames.materialize)
    for (_ <- 1 to iterations) {
      val rk = if (bcast) broadcast(ranks) else ranks
      val inSum = edgesDeg
        .join(rk, edgesDeg("src") === rk("node"))
        .select(col("dst"), expr(share).as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("insum"))
      val prev = ranks
      val merged = nodes.join(inSum, nodes("node") === inSum("dst"), "left")
      ranks = (if (haveSinks) {
          val dm = ranks.join(sinks, "node", "left_semi")
            .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
          merged.crossJoin(broadcast(dm))
        } else merged)
        .select(col("node"), next)
        .transform(graft.LoopFrames.materialize) // eager: materialize + truncate lineage
      // RDD-level release: Dataset.unpersist no-ops on checkpoint blocks
      graft.LoopFrames.release(prev)
    }
    // the result is the final eager checkpoint — the iteration-invariant
    // frames can be freed now rather than waiting on the ContextCleaner
    e.unpersist(false)
    edgesDeg.unpersist(false)
    graft.LoopFrames.release(nodes)
    graft.LoopFrames.release(sinks)
    ranks.select(col("node"), col("r").as(s"${out}_fp"),
      (col("r").cast("double") / unit.toDouble).as(out))
  }
}
