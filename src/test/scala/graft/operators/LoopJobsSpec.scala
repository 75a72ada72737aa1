package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsOf
import graft.operators.graph.{KCore, NeighborhoodFunction, TrustRank}

/** Job-count and leak guard for the loop operators' observed round
  * statistics: each round's counts, convergence test and dangling mass
  * come from the job that checkpoints the round, so the two graph ETs of
  * the interactive benchmark run a fixed, low number of Spark jobs, and
  * observing leaves no persisted RDD behind. NeighborhoodFunction builds
  * its adjacency only when a second hop can reuse it.
  */
class LoopJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The benchmark's graph shape (perfbench gen.py `GRAPH`): an 8-node
    * clique core and one layer of 16 nodes with 3 links each into it —
    * 24 nodes, 76 edges, each edge's direction drawn at random.
    */
  private def graph: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(1071)
    val core = 8
    val pairs = (for (i <- 0 until core; j <- i + 1 until core) yield (i, j)) ++
      (core until core + 16).flatMap(i =>
        rnd.shuffle((0 until core).toList).take(3).map(j => (i, j)))
    pairs.map { case (p, q) =>
      if (rnd.nextBoolean()) (1000L + q, 1000L + p) else (1000L + p, 1000L + q)
    }.toDF("a", "b")
  }

  private def seeds(g: DataFrame): DataFrame = {
    import spark.implicits._
    g.select($"a".as("n")).union(g.select($"b".as("n"))).distinct().where($"n" % 7 === 0)
  }

  private def trustRank(g: DataFrame): DataFrame =
    TrustRank.run(g, "a", "b", seeds(g), "n", iterations = 2)

  private def kCore(g: DataFrame): DataFrame =
    KCore.run(g, "a", "b", k = 4, localFinishEdges = 0L)

  test("TrustRank (2 iterations) and KCore (distributed peel) run no probe jobs") {
    val g = graph
    // before observed statistics: 35 and 18 jobs (count/isEmpty probes,
    // a separate sink frame, a per-round dangling-mass sub-plan, a node
    // join after each round's aggregation)
    val (tr, trJobs) = jobsOf(trustRank(g))
    assert(trJobs <= 15, s"TrustRank ran $trJobs jobs")
    val (kc, kcJobs) = jobsOf(kCore(g))
    assert(kcJobs <= 9, s"KCore ran $kcJobs jobs")
    assert(tr.count() == 24)
    // the layer nodes (3 links each) peel; the clique keeps degree 7
    assert(kc.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      (1000L until 1008L).map(_ -> 7L))
  }

  test("NeighborhoodFunction at 0 and 1 hops runs no in-degree probe or adjacency checkpoint") {
    val g = graph
    /** (rows, jobs) of one run; `adjCap` "0" forces the per-edge join. */
    def runWith(hops: Int, adjCap: Option[String]): (Seq[(Long, Int, Long)], Int) = {
      adjCap.foreach(spark.conf.set(NeighborhoodFunction.AdjacencyMaxDegreeKey, _))
      try jobsOf(NeighborhoodFunction.run(g, "a", "b", maxHops = hops)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted)
      finally spark.conf.unset(NeighborhoodFunction.AdjacencyMaxDegreeKey)
    }
    for (hops <- Seq(0, 1)) {
      val (rows, jobs) = runWith(hops, None)
      val (perEdgeRows, perEdgeJobs) = runWith(hops, Some("0"))
      assert(jobs == perEdgeJobs, s"maxHops=$hops: $jobs jobs vs $perEdgeJobs per-edge")
      assert(rows == perEdgeRows)
    }
    // from two hops on the adjacency is still probed and built
    val (rows2, jobs2) = runWith(2, None)
    val (perEdgeRows2, perEdgeJobs2) = runWith(2, Some("0"))
    assert(jobs2 > perEdgeJobs2, s"maxHops=2: $jobs2 jobs vs $perEdgeJobs2 per-edge")
    assert(rows2 == perEdgeRows2)
  }

  test("five runs per ET in one session leave only the returned frames persisted") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def resultRdds(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val g = graph
    for ((name, et) <- Seq("TrustRank" -> trustRank _, "KCore" -> kCore _)) {
      val before = persisted
      var returned = Set.empty[Int]
      for (i <- 1 to 5) {
        val out = et(g)
        returned ++= resultRdds(out)
        val extra = persisted -- before -- returned
        assert(extra.isEmpty, s"$name run $i left persisted RDDs $extra")
      }
      returned.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
  }
}
