package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-dup pair graph (a_id, b_id) by
  * min-label propagation WITH pointer-doubling: each round every node
  * adopts the smallest label among itself and its neighbors, then
  * shortcuts to its label's label (`label := label(label)`), which halves
  * chain lengths — O(log diameter) rounds, each a couple of equi-joins,
  * convergence checked. The 25-round bound therefore covers any component
  * diameter up to ~2^25 before failing loudly.
  *
  * Graphs at or under [[Components.DriverEdgeCap]] distinct directed edges
  * take a driver union-find fast path instead: each distributed round is
  * 2-3 shuffles plus a job-launch, so a small pair graph (the common case —
  * near-dup PAIRS are sparse relative to the corpus even at 100 TB) pays
  * seconds of fixed overhead for microseconds of work. The cap bounds the
  * collect at ~2M edge rows; past it the doubling loop runs unchanged.
  */
object Components {

  /** Max distinct directed edges collected to the driver for the union-find
    * fast path (~2M rows × 2 ids ≈ tens of MB — bounded, not O(corpus)). */
  val DriverEdgeCap: Long = 2L * 1000 * 1000

  /** (id, label) for every id appearing in `pairs`; label = component min.
    * Id type is preserved (the union-find keys on the raw values). */
  def labels(pairs: DataFrame): DataFrame = labels(pairs, DriverEdgeCap)

  /** Cap-injectable variant so tests can force the distributed path. */
  private[graft] def labels(pairs: DataFrame, driverCap: Long): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct().cache()
    val edgeCount = edges.count()
    if (edgeCount <= driverCap) {
      try return driverUnionFind(edges) finally edges.unpersist()
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).transform(graft.LoopFrames.materialize)
    var ckpt = labels // the frame holding the current checkpoint's blocks
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < 25) {
        val nbrMin = edges.join(labels.select(col("id").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("id")).agg(min("label").as("nbr_min"))
        // `prev` rides along so convergence is a filter over `next` rather
        // than an extra join back to the previous labels (one fewer
        // shuffle per round)
        val propagated = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        // pointer doubling: follow the label one more hop.
        // localCheckpoint, NOT cache: the doubling join references
        // `propagated` TWICE, so with cache() the logical plan TREE
        // doubles every round even though execution reuses the cached
        // blocks — past ~12 rounds the plan string Spark renders per job
        // submission is exponential and the DRIVER OOMs building explain
        // text, long before any data pressure (found by
        // DedupPropertySpec's random-graph cross-check; PageRank uses the
        // same per-iteration truncation for the same reason)
        // the changed-label count rides the checkpoint's own job
        val (next, stats) = graft.LoopFrames.observed(propagated.as("x")
          .join(propagated.select(col("id").as("label"), col("label").as("ll")).as("y"),
            Seq("label"), "left")
          .select(col("id"), col("prev"),
            least(col("label"), coalesce(col("ll"), col("label"))).as("label")),
          count(when(col("label") =!= col("prev"), 1)))(graft.LoopFrames.materialize)
        changed = stats.getLong(0)
        graft.LoopFrames.release(ckpt) // RDD-level: Dataset.unpersist no-ops on checkpoints
        ckpt = next
        labels = next.select(col("id"), col("label"))
        iter += 1
      }
      require(changed == 0, "component labeling did not converge in 25 doubling rounds")
      // Cache (and materialize) the id/label projection itself before
      // releasing the loop's checkpoint blocks, so the caller's
      // .unpersist() on the returned DataFrame actually frees the storage.
      val out = labels.cache()
      out.count() // materialize before the final checkpoint is released
      graft.LoopFrames.release(ckpt)
      out
    } finally edges.unpersist()
  }

  /** Union-find with path compression + union-by-min over the collected
    * edge list. Keys on the raw id values, so Int/Long/String id columns
    * all work and the output schema mirrors the input id type. Label
    * ordering matches the distributed path: component representative =
    * the minimum id under the column's natural ordering.
    */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    val ord: Ordering[Any] = idType match {
      case _: org.apache.spark.sql.types.StringType.type =>
        Ordering.String.asInstanceOf[Ordering[Any]]
      case _ => // numeric id columns (the near-dup graphs are long-keyed)
        Ordering.by[Any, Double] { case n: Number => n.doubleValue() }
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.collect().foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min so the root IS the component label
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keysIterator
      .map(id => org.apache.spark.sql.Row(id, find(id))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("label", idType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
