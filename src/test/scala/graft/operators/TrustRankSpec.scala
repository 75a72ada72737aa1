package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.graph.TrustRank

class TrustRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val U = 1000000000000L

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int) = {
    import spark.implicits._
    TrustRank.run(edges.toDF("s", "d"), "s", "d",
        seeds.toDF("n"), "n", iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** The exact integer recurrence, replayed naively on the driver. */
  private def naive(edges: Seq[(Long, Long)], seeds: Seq[Long],
                    iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val seedSet = seeds.distinct.toSet
    val nodes = (e.flatMap(p => Seq(p._1, p._2)) ++ seedSet).distinct
    val out = e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val s = seedSet.size.toLong
    val base = (15L * U) / (100L * s)
    var r = nodes.map(n => n -> (if (seedSet(n)) U / s else 0L)).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(out.contains).map(r).sum
      val in = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / out(u) }.sum
      }
      r = nodes.map { n =>
        val tele = if (seedSet(n)) base else 0L
        val dshare = if (seedSet(n)) dm / s else 0L
        n -> (tele + (85L * (in.getOrElse(n, 0L) + dshare)) / 100L)
      }.toMap
    }
    r
  }

  test("at steady state trust decays by hop distance from the seed") {
    // 1 -> 2 -> 3 -> 1 cycle, seed {1}: the stationary solution is
    // r1 = 0.15 + 0.85*r3, r_next = 0.85*r_prev => strictly decreasing
    // along the cycle. (A transient 5-iteration run on an absorbing
    // chain does NOT order this way — mass oscillates down the chain —
    // so the assertion is made where the classic claim actually holds.)
    val t = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)), Seq(1L), iters = 40)
    assert(t(1L) > t(2L) && t(2L) > t(3L) && t(3L) > 0L)
    // exact integer fixpoint after 40 rounds (driver-replayed constant)
    assert(t(1L) == 388304990219L, t(1L).toString)
  }

  test("a node unreachable from the seeds gets zero trust") {
    val t = run(Seq((1L, 2L), (9L, 8L)), Seq(1L), iters = 5)
    assert(t(2L) > 0L && t(8L) == 0L && t(9L) == 0L)
    // ...even if it has in-links from other untrusted nodes only
  }

  test("dangling mass teleports back to the seeds, not everywhere") {
    // 1 -> 2, 2 is a sink; non-seed 3 is isolated but present via seeds
    val t = run(Seq((1L, 2L)), Seq(1L, 3L), iters = 3)
    assert(t(3L) > 0L, "seed keeps teleport mass")
    assert(t(2L) > 0L, "linked node earns mass")
  }

  test("matches the naive exact-integer replay on a seeded random graph") {
    val rnd = new scala.util.Random(1234)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2).distinct
    val seeds = Seq(1L, 5L, 9L)
    for (it <- Seq(1, 4)) {
      val got = run(edges, seeds, it)
      val want = naive(edges, seeds, it)
      assert(got == want, s"iters=$it diff=${
        (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
          .map(k => (k, got.get(k), want.get(k)))}")
    }
  }

  test("seeding EVERY node degenerates to PageRank bit-for-bit") {
    // with seeds = all nodes, the teleport term is 15U/(100N) everywhere
    // and dangling mass spreads dm/N — exactly PageRank's recurrence. Both
    // run the one PageRank.propagate kernel, so this pins the seed gating
    // (every `is_seed` term must reduce to PageRank's ungated term), not a
    // second implementation; the independent references are the naive
    // driver replays here and in GraphPropertySpec
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    val edges = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    val eDf = edges.toDF("s", "d")
    val allNodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.toDF("n")
    val tr = TrustRank.run(eDf, "s", "d", allNodes, "n", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = graft.operators.graph.PageRank.run(eDf, "s", "d", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr == pr, (tr.keySet ++ pr.keySet)
      .filter(k => tr.get(k) != pr.get(k)).take(5).toString)
  }

  test("seeds absent from the edge set are still ranked") {
    val t = run(Seq((1L, 2L)), Seq(7L), iters = 2)
    assert(t.contains(7L) && t(7L) > 0L && t(1L) == 0L)
  }

  test("null seeds drop instead of soaking teleport mass into a null node") {
    import spark.implicits._
    val out = TrustRank.run(Seq((1L, 2L)).toDF("s", "d"), "s", "d",
        Seq(Some(1L), None).toDF("n"), "n", iterations = 2)
      .collect()
    assert(out.forall(!_.isNullAt(0)))
    // one real seed: identical to the single-seed run
    val single = run(Seq((1L, 2L)), Seq(1L), iters = 2)
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == single)
  }
}
