package graft.operators

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.graph.{Bfs, NeighborhoodFunction}

class NeighborhoodFunctionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** exact N(v,t) from labeled BFS with every node as a seed */
  private def exactNf(edges: Seq[(Long, Long)], maxHops: Int,
                      undirected: Boolean): Map[(Long, Int), Long] = {
    import spark.implicits._
    val e = edges.toDF("s", "d")
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val labeled = Bfs.hopDistanceLabeled(e, "s", "d",
        nodes.toDF("n"), "n", maxHops, undirected)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    (for {
      v <- nodes; t <- 0 to maxHops
    } yield (v, t) -> labeled.count { case (seed, _, d) => seed == v && d <= t }.toLong).toMap
  }

  private def nf(edges: Seq[(Long, Long)], maxHops: Int,
                 undirected: Boolean = false): Map[(Long, Int), Long] = {
    import spark.implicits._
    NeighborhoodFunction.run(edges.toDF("s", "d"), "s", "d", maxHops,
        undirected = undirected)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
  }

  test("sketch estimates equal exact labeled-BFS ball sizes on fixtures (coupon-exact regime)") {
    // directed path + branch: 1->2->3->4, 2->5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L))
    val got = nf(e, maxHops = 3)
    val want = exactNf(e, maxHops = 3, undirected = false)
    // early-exit drops flat hops: every emitted (node, hop) must match
    // exact, and hop 0..(first flat round) must all be present
    got.foreach { case (k, v) => assert(want(k) == v, s"$k") }
    assert(got((1L, 0)) == 1L && got((1L, 1)) == 2L &&
      got((1L, 2)) == 4L && got((1L, 3)) == 5L)
    // node 4 is a sink: ball stays {4}
    assert(got((4L, 0)) == 1L)
  }

  test("undirected triangle with a tail: balls saturate and the loop early-exits") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val out = NeighborhoodFunction.run(e.toDF("s", "d"), "s", "d",
      maxHops = 10, undirected = true)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = exactNf(e, maxHops = 10, undirected = true)
    got.foreach { case (k, v) => assert(want(k) == v, s"$k") }
    // diameter 2: hops beyond the first flat round are not emitted
    val maxHopEmitted = got.keys.map(_._2).max
    assert(maxHopEmitted <= 3, s"early exit expected, saw hop $maxHopEmitted")
    assert(got((4L, 2)) == 4L) // 4 reaches everything in 2
  }

  test("a hop that moves estimates by less than rounding does not read as converged") {
    // HLL-mode balls (lgK=6): w's hop-3 gain of x moves its unrounded
    // estimate by ~0.45 (the BIGINT nf_est stays flat, as does every other
    // node's), and v gains x one hop later with a full-unit move. A test on
    // Σ nf_est stopped at hop 3 and lost hop 4.
    import spark.implicits._
    val (v, w, z, y1, y2, x) = (1L, 2L, 3L, 4L, 5L, 485L)
    val aw = (0L until 192L).map(1000000L + _)
    val av = (1L to 500L).map(2000000L + _)
    val e = aw.map((w, _)) ++ aw.map((z, _)) ++ av.map((v, _)) ++
      Seq((v, w), (w, z), (w, y1), (y1, y2), (y2, x))
    // HLL-mode estimates depend on how partial unions are grouped, so the
    // case is pinned at the suite's 4 shuffle partitions
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val got = try {
      NeighborhoodFunction.run(e.toDF("s", "d"), "s", "d", maxHops = 6, lgK = 6)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    val nodes = got.keys.map(_._1).toSet
    assert(got.keys.map(_._2).max == 4, "the loop stops after hop 4, the last move")
    assert(nodes.forall(n => got((n, 3)) == got((n, 2))), "hop 3 is flat once rounded")
    assert(got((v, 4)) > got((v, 3)), "hop 4 still moves v's estimate")
  }

  test("centrality: harmonic/closeness integer arithmetic from the nf table") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val nfTab = NeighborhoodFunction.run(e.toDF("s", "d"), "s", "d",
      maxHops = 5, undirected = true)
    val c = NeighborhoodFunction.centrality(nfTab)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // node 3 touches 1,2,4 at dist 1: reached 3, sum_dist 3, harmonic 3*10^6
    assert(c(3L) == ((3L, 3L, 3000000L)))
    // node 4: dists 1 (to 3), 2 (to 1), 2 (to 2)
    assert(c(4L) == ((3L, 5L, 1000000L + 2 * 500000L)))
    // node 1: dists 1,1,2
    assert(c(1L) == ((3L, 4L, 2000000L + 500000L)))
  }

  test("adjacency-array routing and the per-edge join fallback are bit-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    def runWith(adjCap: String): Seq[(Long, Int, Long)] = {
      spark.conf.set(NeighborhoodFunction.AdjacencyMaxDegreeKey, adjCap)
      try NeighborhoodFunction.run(edges.toDF("s", "d"), "s", "d",
          maxHops = 6, undirected = true)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
      finally spark.conf.unset(NeighborhoodFunction.AdjacencyMaxDegreeKey)
    }
    val viaArrays = runWith("4000000") // default regime: arrays active
    val viaEdges = runWith("0")        // fallback: classic per-edge join
    assert(viaArrays == viaEdges)
    // same rows under a cap the max in-degree EXCEEDS (gate falls back)
    val viaGate = runWith("1")
    assert(viaGate == viaEdges)
  }

  /** The executed plan of every query `body` runs, in order. Listener
    * events arrive asynchronously but in order, so two marker queries
    * bracket exactly the window that belongs to `body`.
    */
  private def executedPlans[A](body: => A): (A, Seq[String]) = {
    val seen = new LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        seen.add(qe.executedPlan.toString)
    }
    def marker(tag: String): Unit = spark.range(1).selectExpr(s"id AS $tag").collect()
    spark.listenerManager.register(listener)
    try {
      marker("plans_window_open")
      val out = body
      marker("plans_window_close")
      val plans = Seq.newBuilder[String]
      var p = seen.poll(60, TimeUnit.SECONDS)
      while (p != null && !p.contains("plans_window_close")) {
        plans += p
        p = seen.poll(60, TimeUnit.SECONDS)
      }
      assert(p != null, "the listener never saw the closing marker")
      (out, plans.result().dropWhile(!_.contains("plans_window_open")).drop(1))
    } finally spark.listenerManager.unregister(listener)
  }

  test("adjacency cap below a celebrity in-degree never builds the collect_list adjacency") {
    import spark.implicits._
    // node 0 has in-degree 20; the rest is a sparse ring
    val edges = (1L to 20L).map(i => (i, 0L)) ++ (1L to 20L).map(i => (i, i % 20L + 1L))
    def runWith(adjCap: String): (Seq[(Long, Int, Long)], Seq[String]) = {
      spark.conf.set(NeighborhoodFunction.AdjacencyMaxDegreeKey, adjCap)
      try executedPlans {
        NeighborhoodFunction.run(edges.toDF("s", "d"), "s", "d", maxHops = 3)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
      } finally spark.conf.unset(NeighborhoodFunction.AdjacencyMaxDegreeKey)
    }
    val (uncapped, uncappedPlans) = runWith("4000000")
    // the listener sees the checkpoint jobs, collect_list included, when
    // the adjacency is built — so its absence below is not vacuous
    assert(uncappedPlans.exists(_.contains("collect_list")))
    val (capped, cappedPlans) = runWith("5")
    assert(cappedPlans.exists(_.contains("hll_sketch_agg")))
    assert(!cappedPlans.exists(_.contains("collect_list")),
      cappedPlans.filter(_.contains("collect_list")).mkString("\n"))
    assert(capped == uncapped)
  }

  test("sketch centrality matches exact harmonic (scaled) on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val nfTab = NeighborhoodFunction.run(edges.toDF("s", "d"), "s", "d",
      maxHops = 8, undirected = true)
    val sketchHarm = NeighborhoodFunction.centrality(nfTab)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // exact: all-node labeled BFS, harmonic in the SAME 10^6 fixed point
    // (Bfs.harmonicCentrality's 10^12 unit floors at a finer granularity,
    // so its sum is not bit-convertible — recompute per-pair terms here)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val exact = Bfs.hopDistanceLabeled(edges.toDF("s", "d"), "s", "d",
        nodes.toDF("n"), "n", maxHops = 8, undirected = true)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
      .filter(_._2 > 0)
      .groupBy(_._1).map { case (n, ds) =>
        n -> ds.map(d => 1000000L / d._2).sum }
    // harmonicCentrality sums over SEEDS reaching v (in-harmonic); on an
    // undirected graph that equals the out-ball formulation
    assert(sketchHarm.keySet == exact.keySet)
    sketchHarm.foreach { case (n, v) => assert(v == exact(n), s"node $n") }
  }
}
