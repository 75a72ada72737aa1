package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Personalized PageRank in integer fixed-point — the TrustRank shape
  * (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): the random surfer
  * teleports to a trusted SEED set instead of everywhere, so rank flows
  * outward from the seeds along links and a page's score measures how
  * reachable it is from trust. The standard web-curation screen next to
  * hop distance ([[Bfs]]): low trust + high in-degree = link-farm
  * signature.
  *
  * Same exact-arithmetic contract as [[PageRank]] (which see, for why
  * floats are banned here): all mass in units of `unit`, floor division,
  * so every iteration is order-independent and bit-reproducible at any
  * executor count, and a SQL unroll replays it digit-for-digit.
  * Recurrence (S = #seeds, dm = rank mass parked on sinks):
  *
  *   r'(v) = [v∈S]·(15·U div (100·S))
  *         + 85·( inSum(v) + [v∈S]·(dm div S) ) div 100
  *
  * — teleport AND dangling mass both go to seeds only, per the
  * personalized random-surfer model; r0 = U div S on seeds, 0 elsewhere.
  *
  * Runs on [[PageRank.propagate]], the one rank-propagation loop it
  * shares with [[PageRank]] (same join regimes, per-round checkpoints
  * and releases), with divisor S and every seed-dependent term gated on
  * `is_seed`. The seed count is one driver-side count on the (small,
  * caller-curated) seed set.
  *
  * No reference counterpart; graph/web-curation extension per the
  * builder prompt.
  */
object TrustRank {

  /** Output: (node, trust_fp long — exact fixed-point; trust double =
    * trust_fp/unit). Directed edges as given; seeds are deduplicated,
    * and seeds absent from the graph still receive teleport mass (they
    * are part of the node set).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          seeds: DataFrame, seedCol: String,
          iterations: Int = 5, unit: Long = 1000000000000L,
          edgesDistinct: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = (if (edgesDistinct) sel else sel.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // null seeds are meaningless (they'd mint a null NODE via the union
    // below and silently soak teleport mass) — drop, don't propagate
    // constraint-free checkpoint: seedSet feeds the nodes UNION below
    val seedSet = graft.LoopFrames.checkpoint(
      seeds.select(col(seedCol).as("node"))
        .where(col("node").isNotNull).distinct())
    val s = seedSet.count()
    require(s > 0, "TrustRank needs a non-empty seed set")
    // the per-node seed indicator is iteration-invariant: materialize it
    // ONCE on the node set (r20 — the loop previously re-joined seedSet
    // every round, twice the per-round join count for the same values)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).union(seedSet.toDF("node"))
      .distinct()
      .join(seedSet.withColumn("__seed__", lit(1)), Seq("node"), "left")
      .select(col("node"), col("__seed__").isNotNull.as("is_seed"))
      .transform(graft.LoopFrames.materialize)
    val n = nodes.count()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val trust = PageRank.propagate(e, outdeg, "r div outdeg", nodes, n, s,
      t => s"CASE WHEN is_seed THEN $t ELSE 0L END", iterations, unit, "trust")
    graft.LoopFrames.release(seedSet)
    trust
  }
}
