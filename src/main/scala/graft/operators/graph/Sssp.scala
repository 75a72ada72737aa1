package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source single-source-shortest-paths (weighted BFS): exact
  * integer-weight distances from ANY seed to every reachable node —
  * the weighted companion to [[Bfs]] (hop distance) that completes the
  * classic graph set alongside k-core / PageRank / components /
  * triangles (VERDICT r15 #6). Weighted distance is the right grain
  * when edges carry cost (latency, toll, dissimilarity) rather than
  * mere adjacency: trust decay over weak ties, cheapest-path blast
  * radius, weighted proximity features.
  *
  * Frontier Bellman-Ford: each round relaxes only edges leaving the
  * nodes whose distance IMPROVED last round (the frontier), takes the
  * per-target integer MIN, and merges improvements into the settled
  * distance map — the same join-aggregate-min round shape as
  * [[TrustRank]], with per-round `localCheckpoint` + RDD-block release
  * ([[graft.LoopFrames]], house rule). Convergence = an empty
  * improvement round (the Bellman-Ford fixpoint criterion); `maxIter`
  * fails loudly rather than looping — with nonnegative weights rounds
  * are bounded by the shortest-path tree's edge depth, so a too-low
  * bound means deep geometry, not bad data. Negative weights are
  * REJECTED up front (one aggregation on the persisted edge table):
  * with cycles they have no shortest path, and silently wrong output
  * is worse than a loud contract.
  *
  * At 100 TB: per-round cost is one equi-join of the persisted edge
  * table against the (shrinking, typically broadcast-small) frontier
  * plus a node-keyed min aggregation — no windows, no cartesian; set
  * `graft.checkpoint.dir` for reliable checkpoints on a real cluster
  * and the loop shape is unchanged.
  *
  * Determinism: pure integer min/plus algebra — the fixpoint is unique
  * regardless of relaxation order, so output is hash-exact at any
  * executor count and a bounded unroll of min-merge rounds replays it
  * in SQL (the p117 oracle, p106's unroll pattern: rounds past the
  * fixpoint are idempotent).
  *
  * No reference counterpart; graph-analytics extension per the builder
  * prompt.
  */
object Sssp {

  /** (node, dist) for every node reachable from a seed; seeds come back
    * at dist 0 (even seeds absent from the edge table); unreachable
    * nodes are absent. Multiple rows per (src, dst) are fine — the min
    * relaxation absorbs parallel edges. Follows edges src→dst as given;
    * set `undirected` to mirror them first. Seeds are deduplicated,
    * null seeds/weights dropped.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
          seeds: DataFrame, seedCol: String,
          maxIter: Int = 30, undirected: Boolean = false): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(weightCol).cast("long").as("w"))
      .filter(col("u") =!= col("v") && col("w").isNotNull)
    val e = (if (undirected) EdgeMirror.mirror(e0, extra = Seq("w"))
             else e0)
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val minW = e.agg(min(col("w"))).head()
      if (!minW.isNullAt(0)) require(minW.getLong(0) >= 0L,
        s"sssp requires nonnegative weights (found ${minW.getLong(0)}): " +
          "negative edges under cycles have no shortest path")
      // LoopFrames.checkpoint (not plain localCheckpoint): dist unions a
      // checkpointed improvement frame each round — see Bfs
      val (dist0, seedStats) = graft.LoopFrames.observed(
        seeds.select(col(seedCol).as("node"))
          .where(col("node").isNotNull).distinct()
          .withColumn("dist", lit(0L)), count(lit(1)))(graft.LoopFrames.checkpoint)
      var dist = dist0
      var frontier = dist
      var frontierCount = seedStats.getLong(0)
      var iter = 0
      while (iter < maxIter) {
        iter += 1
        // relax only edges leaving last round's improved nodes (broadcast
        // into the edge join when the counted frontier is small — guide
        // §3.1, the persisted edge table then never re-shuffles); parallel
        // edges and multiple frontier parents collapse in one min agg
        val cand = e
          .join(graft.LoopFrames.maybeBroadcast(
            frontier.select(col("node").as("u"), col("dist")), frontierCount), "u")
          .select(col("v").as("node"), (col("dist") + col("w")).as("nd"))
          .groupBy("node").agg(min(col("nd")).as("nd"))
        val (improved, improvedStats) = graft.LoopFrames.observed(
          cand.join(dist.select(col("node"), col("dist").as("__old__")),
              Seq("node"), "left")
            .filter(col("__old__").isNull || col("nd") < col("__old__"))
            .select(col("node"), col("nd").as("dist")), count(lit(1)))(
          graft.LoopFrames.checkpoint)
        val improvedCount = improvedStats.getLong(0)
        if (improvedCount == 0L) {
          graft.LoopFrames.release(improved)
          if (frontier ne dist) graft.LoopFrames.release(frontier)
          return dist
        }
        val prevDist = dist
        val prevFrontier = frontier
        dist = graft.LoopFrames.checkpoint(
          prevDist.join(graft.LoopFrames.maybeBroadcast(
              improved.select(col("node")), improvedCount),
              Seq("node"), "left_anti")
            .unionByName(improved))
        frontier = improved
        frontierCount = improvedCount
        graft.LoopFrames.release(prevDist)
        if (prevFrontier ne prevDist) graft.LoopFrames.release(prevFrontier)
      }
      throw new IllegalStateException(
        s"sssp did not converge in $maxIter rounds (frontier still improving)")
    } finally e.unpersist(false)
  }
}
