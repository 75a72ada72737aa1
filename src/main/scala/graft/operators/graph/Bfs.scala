package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source BFS hop distance — min hops from ANY seed to every
  * reachable node, the graph primitive behind "distance from the spam
  * seed set" trust propagation (TrustRank-style cutoffs), blast-radius
  * queries, and bounded-neighborhood feature extraction.
  *
  * Level-synchronous frontier expansion: hop h joins the frontier
  * against the edge table (broadcast when the counted frontier fits
  * `graft.graph.broadcastNodes` — the common case, and then the persisted
  * edge table is never re-shuffled; an equi-join shuffle on the node key
  * otherwise), anti-joins the already-settled set (BFS settles a node at
  * its first visit — that IS its min distance), and appends the new
  * layer. Each LAYER is `localCheckpoint`ed once and the settled set
  * accumulates as a lazy union of those materialized layers (re-
  * materializing the whole settled set per hop copied rows that never
  * change); iterations are bounded by `maxHops`, and the loop exits early
  * the moment a frontier comes back empty. At 100 TB each hop costs one
  * frontier-sized shuffle — the canonical distributed BFS shape; set
  * `graft.checkpoint.dir` for reliable checkpoints on a real cluster.
  *
  * Determinism: hop counts are integers and the settled set per level is
  * a set union — order-free, hash-exact at any executor count; a
  * recursive CTE with UNION (distinct) semantics replays it (the p107
  * oracle takes MIN(d) per node over all bounded walks, which equals the
  * BFS level).
  *
  * No reference counterpart; graph-analytics extension per the builder
  * prompt.
  */
object Bfs {

  /** (node, dist) for every node within `maxHops` of a seed; seeds come
    * back at dist 0 (even seeds absent from the edge table). Follows
    * edges src→dst as given; set `undirected` to mirror them first.
    * Seeds are deduplicated. Runs [[frontierBfs]] with no label key.
    */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxHops: Int, undirected: Boolean = false): DataFrame =
    frontierBfs(edges, srcCol, dstCol, seeds, seedCol, maxHops, undirected, Nil)

  /** PER-SEED BFS distances — (seed, node, dist) for every seed and
    * every node within `maxHops` of it: [[frontierBfs]] with the seed
    * label riding in the frontier key, so different seeds' waves
    * expand independently in ONE fixpoint (state and shuffle are
    * Σ per-seed reachability — size the seed SAMPLE accordingly; this
    * is the bounded-radius, sampled-seed regime, not all-pairs).
    */
  def hopDistanceLabeled(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         maxHops: Int, undirected: Boolean = false): DataFrame =
    frontierBfs(edges, srcCol, dstCol, seeds, seedCol, maxHops, undirected,
      Seq("seed"))

  /** The one level-synchronous BFS loop (see the object doc). `keys` are
    * the label columns that ride in every frontier/settled row next to
    * `node`: empty for plain hop distance, `seed` for per-seed waves —
    * then rows are (seed, node) pairs, so the broadcast gate bounds
    * Σ per-seed reachability, not node count.
    */
  private def frontierBfs(edges: DataFrame, srcCol: String, dstCol: String,
                          seeds: DataFrame, seedCol: String, maxHops: Int,
                          undirected: Boolean, keys: Seq[String]): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v"))
    val e = (if (undirected) EdgeMirror.mirror(e0)
             else e0)
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // a null seed is not a node: drop it rather than emit (null, 0)
      val label = keys.headOption.getOrElse("node")
      val start = seeds.select(col(seedCol).as(label))
        .where(col(label).isNotNull).distinct()
      // LoopFrames.checkpoint, not plain localCheckpoint: settled and
      // layer get UNIONED each hop, and preserved origin constraints on
      // checkpointed frames can crash Union.rewriteConstraints
      val (seed0, seedStats) = graft.LoopFrames.observed(
        (if (keys.isEmpty) start else start.withColumn("node", col(label)))
          .withColumn("dist", lit(0)), count(lit(1)))(graft.LoopFrames.checkpoint)
      val pair = (keys :+ "node").map(col)
      // settled accumulates as a LAZY UNION of the per-hop materialized
      // layers (r20): re-materializing the whole settled set every hop was
      // an O(settled) copy per round for rows that never change. Counted
      // frontier/settled sizes gate BROADCAST of the per-hop join sides
      // (guide §3.1) so the persisted edge table is never re-shuffled.
      var settled = seed0.toDF()
      var settledCount = seedStats.getLong(0)
      var frontier = seed0.toDF()
      var frontierCount = settledCount
      // undirected two-layer invariant (r21, ADVICE r20): across an
      // undirected edge |dist(u) - dist(w)| <= 1, so a neighbor of the
      // hop-(h-1) frontier that is already settled can only live in
      // layers h-1 or h-2 (per seed wave, when labeled). The anti-join
      // side is then TWO materialized layers instead of the whole settled
      // union — per-hop broadcast build and plan size stay constant as
      // hops grow. Directed graphs lack the invariant (a far-forward edge
      // can point at an early layer) and keep the full settled side.
      var prevLayer = frontier
      var prevCount = frontierCount
      var hop = 0
      while (hop < maxHops && frontierCount > 0) {
        hop += 1
        val fr = graft.LoopFrames.maybeBroadcast(
          frontier.select(keys.map(col) :+ col("node").as("u"): _*), frontierCount)
        val (anti, antiCount) =
          if (undirected && hop > 1)
            (frontier.select(pair: _*).unionByName(prevLayer.select(pair: _*)),
             frontierCount + prevCount)
          else (settled.select(pair: _*), settledCount)
        val st = graft.LoopFrames.maybeBroadcast(anti, antiCount)
        val (layer, layerStats) = graft.LoopFrames.observed(
          e.join(fr, "u")
            .select(keys.map(col) :+ col("v").as("node"): _*).distinct()
            .join(st, keys :+ "node", "left_anti")
            .withColumn("dist", lit(hop)), count(lit(1)))(graft.LoopFrames.checkpoint)
        val layerCount = layerStats.getLong(0)
        if (layerCount == 0L) graft.LoopFrames.release(layer)
        else settled = settled.unionByName(layer)
        settledCount += layerCount
        prevLayer = frontier
        prevCount = frontierCount
        frontier = layer
        frontierCount = layerCount
      }
      settled
    } finally e.unpersist(false)
  }

  /** Sampled harmonic centrality in exact integer fixed-point:
    * `harmonic_fp(v) = Σ_seeds (10¹² div dist(seed, v))` over seeds at
    * positive distance, the bounded-radius estimate of Marchiori–
    * Latora harmonic centrality from a seed SAMPLE (the practical
    * regime at scale — exact closeness needs all-pairs). Integer
    * floor-division keeps the sum order-free, so output is hash-exact
    * at any executor count and the p123 oracle replays it as
    * `SUM(10¹² // d)` over a bounded recursive walk. Nodes no sampled
    * seed reaches are absent; a larger `maxHops` only ADDS far-seed
    * terms (each ≤ 10¹²/maxHops).
    *
    * CONTRACT BOUND (ADVICE r16): terms are ≤ 10¹² each and sum into a
    * Long, so a node reachable from more than ~9.2 million seeds
    * (Long.MaxValue / 10¹² ≈ 9.22e6) could overflow `harmonic_fp`. This
    * operator is the SAMPLED-seed regime — seed samples are orders of
    * magnitude below that — and the all-node regime belongs to the HLL
    * neighborhood-function sketch ([[NeighborhoodFunction]]), not here;
    * callers passing > 9e6 seeds are rejected up front rather than
    * allowed to wrap silently.
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         maxHops: Int, undirected: Boolean = false): DataFrame = {
    val unit = 1000000000000L
    val nSeeds = seeds.select(col(seedCol)).where(col(seedCol).isNotNull)
      .distinct().count()
    require(nSeeds <= Long.MaxValue / unit, // ~9.22e6
      s"harmonicCentrality: $nSeeds seeds could overflow the Long " +
        "fixed-point sum (bound ~9.2e6); sample the seeds, or use the " +
        "HLL neighborhood sketch (NeighborhoodFunction) for all-node centrality")
    hopDistanceLabeled(edges, srcCol, dstCol, seeds, seedCol, maxHops, undirected)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      // `div`, never `/` — long / long is DOUBLE division in Spark SQL
      .agg(sum(expr(s"${unit}L div cast(dist as bigint)")).as("harmonic_fp"))
  }
}
