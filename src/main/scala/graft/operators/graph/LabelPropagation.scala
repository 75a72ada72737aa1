package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous label-propagation community detection (Raghavan 2007),
  * made DETERMINISTIC: every node starts labeled with its own id; each
  * iteration every node adopts the label most frequent among its
  * neighbors, ties broken by the SMALLEST label (the classic
  * random-tie-break variant is non-reproducible — useless for an
  * oracle-checked engine, and at 1000 executors it wouldn't even agree
  * with itself run to run). A fixed iteration count rather than
  * convergence detection: synchronous LPA can two-cycle on bipartite
  * structures, so "run K rounds" IS the deterministic contract.
  *
  * Scale shape per iteration: one edge-sized join (edges × labels on
  * the source key), one (node, label) count aggregate with map-side
  * combine, one per-node integer argmax via `max(struct(cnt, -label))`
  * — no windows, no sorts; labels are `localCheckpoint`ed each round
  * (same nested-plan-analysis blowup PageRank hit). Isolated nodes
  * keep their own label through the left join.
  *
  * No reference counterpart; classic-OLAP/graph extension per the
  * builder prompt (the reference's CommunityBasedSimilityInPlace is
  * connected components — LPA refines density, not just reachability).
  */
object LabelPropagation {

  /** (node, label): community assignment after `iterations` rounds.
    * Input edges undirected (both directions derived internally);
    * node ids must be integral (the tie-break negates them).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e0 = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")).filter(col("u") =!= col("v"))
    val e = graft.operators.graph.EdgeMirror.mirror(e0)
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val (nodes, nodeStats) = graft.LoopFrames.observed(
      e.select(col("u").as("node")).distinct(), count(lit(1)))(graft.LoopFrames.materialize)
    // counted-small node set → broadcast the label frame into each round's
    // edge join (r20, guide §3.1): the persisted edge table is never
    // re-exchanged/re-sorted per round; the vote counts are unchanged by
    // join strategy. Gated on graft.graph.broadcastNodes.
    val bcast = graft.LoopFrames.broadcastable(e.sparkSession, nodeStats.getLong(0))
    var labels = nodes.withColumn("label", col("node")).transform(graft.LoopFrames.materialize)
    for (_ <- 1 to iterations) {
      val lb = if (bcast) broadcast(labels) else labels
      val votes = e.join(lb, e("u") === lb("node"))
        .groupBy(col("v").as("n"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val winner = votes.groupBy(col("n"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("w"))
        .select(col("n"), (-col("w.nl")).as("newLabel"))
      val prev = labels
      labels = nodes
        .join(winner, nodes("node") === winner("n"), "left")
        .select(col("node"),
          coalesce(col("newLabel"), col("node")).as("label"))
        .transform(graft.LoopFrames.materialize)
      // RDD-level release: Dataset.unpersist no-ops on checkpoint blocks
      graft.LoopFrames.release(prev)
    }
    // labels is an eager checkpoint — free the iteration-invariant frames
    e.unpersist(false)
    graft.LoopFrames.release(nodes)
    labels
  }
}
