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
  * `is_seed`. The seed flag, the seed count S and the dangling mass are
  * observed statistics of the kernel's own checkpoint jobs (the seed set
  * is unioned into the one node-frame aggregation, not counted apart),
  * and the dangling mass enters each round as a literal.
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
    // null seeds are meaningless (they'd mint a null NODE and silently
    // soak teleport mass) — drop, don't propagate. The seed count S and
    // the per-node seed flag come from the kernel's one node-frame job.
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    PageRank.propagate(e, outdeg, "r div outdeg",
      Some(seeds.select(col(seedCol).as("node")).where(col("node").isNotNull)),
      iterations, unit, "trust")
  }
}
