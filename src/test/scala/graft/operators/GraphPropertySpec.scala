package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame

import graft.TestSpark

/** ScalaCheck cross-checks of the graph operators against naive
  * single-threaded references on random graphs — the distributed
  * formulations (oriented wedge counting, integer fixed-point power
  * iteration, max-struct vote argmax) are exactly the places where a
  * re-formulation bug would survive a single pinned fixture.
  */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(prop: Prop, n: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n)
      .withWorkers(1), prop)
    assert(r.passed, r.status.toString)
  }

  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    n     <- Gen.choose(3, 20)
    m     <- Gen.choose(2, 40)
    edges <- Gen.listOfN(m, for {
               a <- Gen.choose(0L, n.toLong)
               b <- Gen.choose(0L, n.toLong)
             } yield (a, b))
  } yield edges.filter(e => e._1 != e._2).distinct

  test("property: triangle census equals naive per-node triangle counting") {
    import spark.implicits._
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val got = graft.operators.graph.Triangles
          .perNode(edges.toDF("src", "dst"), "src", "dst")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
        // naive: undirected simple graph, count triangles per node
        val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
          .filter(e => e._1 != e._2).distinct
        val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
          .withDefaultValue(Set.empty)
        und.foreach { case (a, b) =>
          adj(a) = adj(a) + b; adj(b) = adj(b) + a
        }
        val want = adj.keys.map { v =>
          val nb = adj(v).toSeq
          val tri = (for { i <- nb.indices; j <- i + 1 until nb.length
                           if adj(nb(i)).contains(nb(j)) } yield 1).size.toLong
          val deg = nb.size.toLong
          val c = if (deg < 2) 0.0
            else BigDecimal(2.0 * tri / (deg * (deg - 1)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (v, deg, tri, c)
        }.toSet
        if (got != want) println(s"TRI MISMATCH edges=$und got=$got want=$want")
        got == want
      }
    }, n = 6)
  }

  test("execution regimes: broadcast gate, reliable checkpoints and shuffle partitions are bit-identical") {
    // every loop must produce the same rows whichever way its frames are
    // joined and materialized: the broadcast gate forced shut (the 100 TB
    // shuffle-join fallback, r21 / VERDICT r20 ask #10), reliable
    // checkpoints under graft.checkpoint.dir, and 1 vs 4 shuffle
    // partitions. PageRank covers the per-round edge join; Bfs (undirected)
    // additionally covers the two-layer anti-join side; TrustRank and
    // weighted PageRank the rank-propagation joins, labeled Bfs the (seed,
    // node) frontier, KCore (local finish off) the peel's frontier and
    // compaction joins; Sssp, LabelPropagation, NeighborhoodFunction
    // (coupon-exact sketches at this size) and Components' distributed
    // doubling loop their observed round statistics. In each regime an
    // observed count and sum equal a plain count() and sum of the frame.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val e = edges.toDF("s", "d")
    val seeds = (0L to 39L by 5).toDF("n")
    val ckDir = java.nio.file.Files.createTempDirectory("graft-regime-ck").toString
    val regimes = Seq(
      "broadcast" -> Map.empty[String, String],
      "shuffle joins" -> Map(graft.LoopFrames.BroadcastNodesKey -> "0"),
      "reliable checkpoints" -> Map(graft.LoopFrames.CheckpointDirKey -> ckDir),
      "1 shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
      "4 shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "4"))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def runAll(): Map[String, Seq[String]] = {
      val (ck, st) = graft.LoopFrames.observed(
        e.groupBy($"s").agg(count(lit(1)).as("c")),
        count(lit(1)), coalesce(sum($"c"), lit(0L)))(graft.LoopFrames.checkpoint)
      assert(st.getLong(0) == ck.count())
      assert(st.getLong(1) == ck.agg(sum($"c")).head().getLong(0))
      graft.LoopFrames.release(ck)
      val (empty, est) = graft.LoopFrames.observed(e.where($"s" < 0),
        count(lit(1)), coalesce(sum($"d"), lit(0L)))(graft.LoopFrames.materialize)
      assert(est.getLong(0) == 0L && est.getLong(1) == 0L && empty.count() == 0L)
      Map(
        "pagerank" -> rows(graph.PageRank.run(e, "s", "d", iterations = 3)),
        "bfs" -> rows(graph.Bfs.hopDistance(e, "s", "d", seeds, "n",
          maxHops = 5, undirected = true)),
        "trustrank" -> rows(graph.TrustRank.run(e, "s", "d", seeds, "n", iterations = 3)),
        "weighted" -> rows(graph.PageRank.runWeighted(
          edges.map(p => (p._1, p._2, p._1 % 3 + 1)).toDF("s", "d", "w"),
          "s", "d", "w", iterations = 3)),
        "labeled" -> rows(graph.Bfs.hopDistanceLabeled(e, "s", "d", seeds, "n",
          maxHops = 4, undirected = true)),
        "coreness" -> rows(graph.KCore.coreness(e, "s", "d", maxK = 0,
          localFinishEdges = 0L)),
        "kcore" -> rows(graph.KCore.run(e, "s", "d", k = 3, localFinishEdges = 0L)),
        "sssp" -> rows(graph.Sssp.run(
          edges.map(p => (p._1, p._2, p._1 % 3 + 1)).toDF("s", "d", "w"),
          "s", "d", "w", seeds, "n")),
        "lpa" -> rows(graph.LabelPropagation.run(e, "s", "d", iterations = 3)),
        "nf" -> rows(graph.NeighborhoodFunction.run(e, "s", "d", maxHops = 4,
          undirected = true)),
        "components" -> rows(dedup.Components.labels(
          edges.toDF("a_id", "b_id"), driverCap = -1L)))
    }
    val results = regimes.map { case (name, conf) =>
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try name -> runAll()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (_, want) = results.head
    for ((name, got) <- results.tail; op <- want.keys)
      assert(got(op) == want(op), s"$op differs under $name")
  }

  test("property: label propagation equals naive synchronous LPA with the (cnt, min-label) tie rule") {
    import spark.implicits._
    val iters = 3
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val got = graft.operators.graph.LabelPropagation
          .run(edges.toDF("src", "dst"), "src", "dst", iterations = iters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val e0 = edges.filter(e => e._1 != e._2)
        val und = (e0 ++ e0.map(_.swap)).distinct
        val in = und.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
        val nodes = und.map(_._1).distinct
        var labels = nodes.map(v => v -> v).toMap
        for (_ <- 1 to iters) {
          labels = nodes.map { v =>
            val votes = in.getOrElse(v, Seq.empty).map(labels)
              .groupBy(identity).map { case (l, o) => (l, o.size) }
            if (votes.isEmpty) v -> labels(v)
            else v -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
          }.toMap
        }
        if (got != labels) println(s"LPA MISMATCH edges=$und got=$got want=$labels")
        got == labels
      }
    }, n = 6)
  }

  test("property: integer fixed-point PageRank equals a naive Long replay") {
    import spark.implicits._
    val iters = 3
    val unit = 1000000000000L
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val got = graft.operators.graph.PageRank
          .run(edges.toDF("src", "dst"), "src", "dst", iterations = iters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val e = edges.distinct // directed, deduped — run() does the same
        val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
        val n = nodes.size.toLong
        val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
        val inEdges = e.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
        val sinks = nodes.filterNot(outdeg.contains)
        val base = (15L * unit) / (100L * n)
        var r = nodes.map(v => v -> unit / n).toMap
        for (_ <- 1 to iters) {
          val dm = sinks.map(r).sum
          r = nodes.map { v =>
            val insum = inEdges.getOrElse(v, Seq.empty)
              .map(u => r(u) / outdeg(u)).sum
            v -> (base + (85L * (insum + dm / n)) / 100L)
          }.toMap
        }
        if (got != r) println(s"PR MISMATCH edges=$e got=$got want=$r")
        got == r
      }
    }, n = 5)
  }

  test("property: Sssp with unit weights equals Bfs hop distance (degeneration)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val e = edges.toDF("src", "dst")
        val seeds = Seq(edges.head._1).toDF("node")
        val hops = graft.operators.graph.Bfs
          .hopDistance(e, "src", "dst", seeds, "node",
            maxHops = 30, undirected = true)
          .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
        val dist = graft.operators.graph.Sssp
          .run(e.withColumn("w", lit(1L)), "src", "dst", "w", seeds, "node",
            maxIter = 32, undirected = true)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (dist != hops) println(s"SSSP/BFS MISMATCH edges=$edges got=$dist want=$hops")
        dist == hops
      }
    }, n = 5)
  }

  test("property: k-core peel (delta + compaction) equals naive peel under deep blow-ups") {
    import spark.implicits._
    // paths welded to cliques force multiple compactions AND a deep peel
    val gen = for {
      len <- Gen.choose(6, 24)
      k   <- Gen.choose(2, 4)
    } yield (len, k)
    check(Prop.forAll(gen) { case (len, k) =>
      val path = (1L until len.toLong).map(i => (i, i + 1))
      val clique = for (i <- 100L to 105L; j <- (i + 1) to 105L) yield (i, j)
      val edges = path ++ clique :+ ((len.toLong, 100L))
      val got = graft.operators.graph.KCore
        .run(edges.toDF("s", "d"), "s", "d", k, maxIter = len + 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var adj = edges.flatMap(p => Seq(p, p.swap)).distinct
      var deg = adj.groupBy(_._1).map { case (n2, es) => n2 -> es.size.toLong }
      var changed = true
      while (changed) {
        val dead = deg.filter(_._2 < k).keySet
        changed = dead.nonEmpty
        adj = adj.filter(p => !dead(p._1) && !dead(p._2))
        deg = adj.groupBy(_._1).map { case (n2, es) => n2 -> es.size.toLong }
      }
      if (got != deg) println(s"KCORE MISMATCH len=$len k=$k got=$got want=$deg")
      got == deg
    }, n = 6)
  }

  test("property: weighted PageRank equals a naive BigInt replay of floor(r*w/sw)") {
    import spark.implicits._
    val iters = 3
    val unit = 1000000000000L
    // duplicate (src, dst) rows add their weights; w <= 0 rows drop
    val genWeighted = for {
      n     <- Gen.choose(3, 15)
      m     <- Gen.choose(2, 40)
      edges <- Gen.listOfN(m, for {
                 a <- Gen.choose(0L, n.toLong)
                 b <- Gen.choose(0L, n.toLong)
                 w <- Gen.choose(-1L, 7L)
               } yield (a, b, w))
    } yield edges.filter(e => e._1 != e._2)
    check(Prop.forAll(genWeighted) { edges =>
      val e = edges.filter(_._3 > 0).groupBy(p => (p._1, p._2))
        .map { case (k, ws) => (k._1, k._2, ws.map(_._3).sum) }.toSeq
      e.isEmpty || {
        val got = graft.operators.graph.PageRank
          .runWeighted(edges.toDF("src", "dst", "w"), "src", "dst", "w",
            iterations = iters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
        val n = nodes.size.toLong
        val sw = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
        val sinks = nodes.filterNot(sw.contains)
        val base = (15L * unit) / (100L * n)
        var r = nodes.map(v => v -> unit / n).toMap
        for (_ <- 1 to iters) {
          val dm = sinks.map(r).sum
          val insum = e.groupBy(_._2).map { case (v, es) =>
            v -> es.map { case (u, _, w) => (BigInt(r(u)) * w / sw(u)).toLong }.sum
          }
          r = nodes.map { v =>
            v -> (base + (85L * (insum.getOrElse(v, 0L) + dm / n)) / 100L)
          }.toMap
        }
        if (got != r) println(s"WPR MISMATCH edges=$edges got=$got want=$r")
        got == r
      }
    }, n = 5)
  }

  test("property: labeled BFS equals a naive per-seed BFS") {
    import spark.implicits._
    val gen = for {
      edges      <- genGraph
      seeds      <- Gen.listOfN(3, Gen.choose(0L, 22L)) // 21, 22: never in genGraph
      maxHops    <- Gen.choose(0, 4)
      undirected <- Gen.oneOf(false, true)
    } yield (edges, seeds, maxHops, undirected)
    check(Prop.forAll(gen) { case (edges, seeds, maxHops, undirected) =>
      val got = graft.operators.graph.Bfs
        .hopDistanceLabeled(edges.toDF("src", "dst"), "src", "dst",
          seeds.toDF("n"), "n", maxHops, undirected)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val arcs = if (undirected) edges ++ edges.map(_.swap) else edges
      val adj = arcs.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      val want = seeds.distinct.flatMap { s =>
        var dist = Map(s -> 0)
        var frontier = Set(s)
        for (h <- 1 to maxHops) {
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)).filterNot(dist.contains)
          dist = dist ++ frontier.map(_ -> h)
        }
        dist.map { case (v, d) => (s, v, d) }
      }.toSet
      if (got != want) println(s"LBFS MISMATCH edges=$edges seeds=$seeds h=$maxHops " +
        s"und=$undirected got=$got want=$want")
      got == want
    }, n = 5)
  }

  test("property: coreness equals naive per-node core numbers from repeated peels") {
    import spark.implicits._
    val gen = for {
      edges <- genGraph
      maxK  <- Gen.oneOf(0, 2)
      local <- Gen.oneOf(0L, 12L, 200000L) // off, mid-peel, at entry
    } yield (edges, maxK, local)
    check(Prop.forAll(gen) { case (edges, maxK, local) =>
      val got = graft.operators.graph.KCore
        .coreness(edges.toDF("s", "d"), "s", "d", maxK, localFinishEdges = local)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // core(v) = the largest k whose naive repeated peel keeps v
      val und = edges.flatMap(p => Seq(p, p.swap)).distinct
      var want = und.map(_._1).distinct.map(_ -> 0L).toMap
      var k = 1
      var alive = und
      while (alive.nonEmpty) {
        var changed = true
        while (changed) {
          val deg = alive.groupBy(_._1).map { case (v, es) => v -> es.size }
          val dead = deg.filter(_._2 < k).keySet
          changed = dead.nonEmpty
          alive = alive.filter(p => !dead(p._1) && !dead(p._2))
        }
        want = want ++ alive.map(_._1).distinct.map(_ -> k.toLong)
        k += 1
      }
      if (maxK > 0) want = want.map { case (v, c) => v -> math.min(c, maxK.toLong) }
      if (got != want) println(s"CORENESS MISMATCH edges=$edges maxK=$maxK " +
        s"local=$local got=$got want=$want")
      got == want
    }, n = 6)
  }
}
