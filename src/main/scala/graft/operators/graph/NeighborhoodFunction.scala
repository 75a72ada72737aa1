package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HyperBall-lite (Boldi–Vigna, WWW'13 "In-core computation of geometric
  * centralities with HyperBall"): the per-node NEIGHBORHOOD FUNCTION
  * N(v, t) = |{w : dist(v, w) ≤ t}| estimated with one HyperLogLog
  * sketch per node, merged along edges for `maxHops` rounds — the
  * ALL-NODE regime of closeness/harmonic centrality that the labeled-BFS
  * operator ([[Bfs.hopDistanceLabeled]], O(seeds × reachable) state)
  * cannot reach at 100 TB (r16-verdict ask #4). State is node-sized
  * (one ≤2^lgK-byte sketch per node, KBs not ballooning frontier rows);
  * each round is one edge-keyed shuffle + one node-keyed sketch-union
  * aggregation, independent of how many nodes each ball already holds.
  *
  * Built on Spark's native Datasketches HLL functions (`hll_sketch_agg`,
  * `hll_union_agg`, `hll_sketch_estimate`) — map-side partial unions
  * come free from the aggregate, and the union is register-wise max:
  * commutative, associative, idempotent. The sketch registers are
  * therefore independent of merge order, partitioning, and executor
  * count, and in the coupon (exact) regime so is the BIGINT estimate,
  * which is what makes the persisted (node, hop, nf_est) table a full
  * hash-exact oracle boundary (the p127 pattern: DuckDB cannot run HLL,
  * but it can replay every centrality formula downstream of the stamped
  * estimates). Past the coupon regime the estimator Datasketches picks
  * for a union result depends on how the partial unions were grouped,
  * so HLL-mode estimates can differ between partitionings (seen at
  * lgK=4: 1 vs 4 shuffle partitions moved hop-1 estimates).
  *
  * Error contract: relative standard error ≈ 1.04/√2^lgK (~1.6% at the
  * default lgK=12); on small graphs the Datasketches HLL runs in exact
  * (coupon) mode, so fixture estimates EQUAL exact labeled-BFS counts —
  * spec-pinned. Estimates are monotone in t (the union only grows
  * registers), so per-hop deltas are ≥ 0 and the harmonic/closeness
  * sums are well-formed.
  *
  * Rounds stop early when NO node's unrounded estimate changed (a
  * deterministic data property, observed by the job that checkpoints the
  * round's sketches). A hop can leave every rounded `nf_est` flat while a
  * sketch still grew; the loop runs on through it, so such a hop appears
  * as a slice equal to the previous one. Sketch registers can in principle
  * grow without moving even the unrounded estimate, so pathological graphs
  * could still hide a late delta behind a flat round — within the
  * operator's approximate contract, and `maxHops` always bounds the loop
  * loudly.
  *
  * No reference counterpart; graph-analytics extension per the builder
  * prompt (HyperBall is public literature).
  */
object NeighborhoodFunction {

  /** Session conf key: maximum in-degree up to which the per-hop sketch
    * routing uses the pre-grouped adjacency-ARRAY join (one array row per
    * node; the join then moves one sketch per NODE instead of one per
    * edge, and the per-edge replication happens in a pipelined explode
    * after the join). A celebrity node above the cap would concentrate
    * its whole in-neighbor list in one aggregation buffer/row, so past it
    * the operator falls back to the classic per-edge join (streamed,
    * never holds a neighborhood in memory). Default 4M entries (~32 MB
    * array); 0 disables the array formulation outright.
    */
  val AdjacencyMaxDegreeKey = "graft.graph.adjMaxDegree"

  /** IEEE bits of a sketch's unrounded estimate (`hll_sketch_estimate`
    * rounds to BIGINT); as deterministic as the estimate itself (see the
    * object doc).
    */
  private val estimateBits = udf((sketch: Array[Byte]) =>
    java.lang.Double.doubleToLongBits(
      org.apache.datasketches.hll.HllSketch.heapify(sketch).getEstimate))

  /** Per-node per-hop ball-size estimates: (node, hop, nf_est) for hop
    * 0..maxHops (hop 0 = 1, the node itself; directed balls follow
    * src→dst as given, `undirected` mirrors first). Early-exits when a
    * round changes no estimate. `lgK` sizes the sketch (2^lgK registers).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          maxHops: Int, lgK: Int = 12, undirected: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v"))
    val e = (if (undirected) EdgeMirror.mirror(e0)
             else e0)
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node"))).distinct()
      // In-neighbor adjacency, grouped once outside the loop: the per-hop
      // join then carries ONE sketch per node (not one per edge) across
      // the exchange, and both join sides are node-keyed aggregates that
      // share hash partitioning — the per-edge replication moves into a
      // pipelined explode feeding the union agg's map-side partials
      // (guide §2.3 "shuffle keys and metadata instead of payloads",
      // §2.4 shared exchanges). Gated on the ACTUAL max in-degree so a
      // 100 TB celebrity node cannot balloon one aggregation buffer; past
      // the cap the classic streamed per-edge join runs instead. Both
      // formulations feed hll_union_agg the identical contribution
      // multiset (e is distinct), and the union is register-wise max
      // (order-free), so the sketches — and the estimates — are
      // bit-identical either way. The in-degree is probed with a plain
      // count BEFORE any list is built: the cap must stop the celebrity
      // list from ever being materialized, not discard it afterwards.
      // With maxHops <= 1 the adjacency would route sketches at most once,
      // so its probe and checkpoint jobs would cost more than they save.
      val degCap = spark.conf.getOption(AdjacencyMaxDegreeKey)
        .flatMap(_.toLongOption).getOrElse(4000000L)
      val adjacency: Option[DataFrame] =
        if (degCap <= 0 || maxHops <= 1) None
        else {
          val degRow = e.groupBy(col("v")).count().agg(max(col("count"))).head()
          val maxDeg = if (degRow.isNullAt(0)) 0L else degRow.getLong(0)
          if (maxDeg > degCap) None
          else Some(graft.LoopFrames.checkpoint(
            e.groupBy(col("v")).agg(collect_list(col("u")).as("us"))))
        }
      // checkpoint a sketch frame, observing its convergence statistic in
      // the same job: Σ over nodes of the UNROUNDED estimate's IEEE bits
      // (exact decimal). Positive doubles order like their bits and each
      // node's estimate is monotone across hops (the union only grows
      // registers — scaladoc contract above), so the total is unchanged
      // iff no estimate moved — including a move too small to change the
      // rounded BIGINT `nf_est`, which a Σ nf_est test misread as converged.
      def observedSketches(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
        val (ck, st) = graft.LoopFrames.observed(df,
          coalesce(sum(estimateBits(col("sketch")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))(
          graft.LoopFrames.checkpoint)
        (ck, st.getDecimal(0))
      }
      // ball state at hop 0: each node's sketch holds just itself
      var (sk, prevSum) = observedSketches(
        nodes.groupBy(col("node"))
          .agg(expr(s"hll_sketch_agg(node, $lgK)").as("sketch")))
      def estimates(s: DataFrame, hop: Int): DataFrame =
        s.select(col("node"), lit(hop).as("hop"),
          expr("hll_sketch_estimate(sketch)").as("nf_est"))
      var result = graft.LoopFrames.checkpoint(estimates(sk, 0))
      var hop = 0
      var converged = false
      while (hop < maxHops && !converged) {
        hop += 1
        // B_t(v) = B_{t-1}(v) ∪ ⋃_{v→w} B_{t-1}(w): route each node's
        // sketch to its in-neighbors, union per node (map-side partial
        // union via the aggregate)
        val contrib = adjacency match {
          case Some(adj) =>
            adj.join(sk.select(col("node").as("v"), col("sketch")), "v")
              .select(explode(col("us")).as("node"), col("sketch"))
          case None =>
            e.join(sk.select(col("node").as("v"), col("sketch")), "v")
              .select(col("u").as("node"), col("sketch"))
        }
        val (merged, curSum) = observedSketches(
          sk.select(col("node"), col("sketch")).unionByName(contrib)
            .groupBy(col("node"))
            .agg(expr(s"hll_union_agg(sketch, true)").as("sketch")))
        val est = graft.LoopFrames.checkpoint(estimates(merged, hop))
        graft.LoopFrames.release(sk)
        sk = merged
        if (curSum.compareTo(prevSum) == 0) {
          // flat round: drop the duplicate slice and stop
          graft.LoopFrames.release(est)
          converged = true
        } else {
          result = result.unionByName(est)
          prevSum = curSum
        }
      }
      graft.LoopFrames.release(sk)
      adjacency.foreach(graft.LoopFrames.release)
      result
    } finally e.unpersist(false)
  }

  /** Geometric centralities from a neighborhood-function table (the
    * output of [[run]], or its persisted stamp): per node,
    *  - `reached`     = N(v, t_max) − 1 (nodes at positive distance),
    *  - `sum_dist`    = Σ_t t · (N(v,t) − N(v,t−1))  (Bavelas closeness
    *                    denominator),
    *  - `harmonic_fp` = Σ_t (N(v,t) − N(v,t−1)) · (10⁶ div t) — exact
    *                    integer fixed-point, same discipline as
    *                    [[Bfs.harmonicCentrality]] (smaller unit: deltas
    *                    here can be ~n, and n · 10⁶ must fit a Long).
    * All integer arithmetic over the BIGINT estimates — order-free,
    * hash-exact, and replayable in SQL from the stamp (the p127 oracle).
    */
  def centrality(nf: DataFrame): DataFrame = {
    val unit = 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("hop"))
    nf.withColumn("__delta__",
        col("nf_est") - coalesce(lag(col("nf_est"), 1).over(w), lit(0L)))
      .filter(col("hop") > 0)
      .groupBy(col("node"))
      .agg(
        sum(col("__delta__")).as("reached"),
        sum(col("hop").cast("long") * col("__delta__")).as("sum_dist"),
        sum(expr(s"(${unit}L div cast(hop as bigint)) * __delta__"))
          .as("harmonic_fp"))
  }
}
