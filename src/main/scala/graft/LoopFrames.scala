package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Storage release for iterative-loop frames built with
  * `localCheckpoint(true)` (the house rule for pointer-doubling /
  * power-iteration / greedy-selection loops — see Components, PageRank,
  * LabelPropagation, Mmr).
  *
  * `Dataset.unpersist` only consults the CacheManager, but a
  * localCheckpoint persists at the RDD level: the checkpointed frame is a
  * `LogicalRDD` leaf wrapping an RDD that `RDD.localCheckpoint()`
  * implicitly persisted (MEMORY_AND_DISK). So `df.unpersist()` on such a
  * frame is a silent no-op and k loop rounds accumulate k block sets until
  * the ContextCleaner happens to GC the dropped references — a real
  * memory-pressure hazard at 100 TB loop frames (ADVICE r14, Mmr.scala).
  * This walks the frame's logical plan and unpersists the wrapped RDDs
  * directly, freeing the blocks deterministically at the point the loop
  * drops the frame.
  *
  * Safe by construction: only `LogicalRDD` leaves are touched, so calling
  * it on a non-checkpointed frame is a no-op, and unpersisting an RDD is
  * idempotent.
  *
  * Round statistics: [[observed]] checkpoints a frame and returns the
  * aggregates (row count, convergence test, side sums) that its own
  * materializing job computed, so loops read them without a `count()` /
  * `isEmpty` / `agg().head()` probe job over the frame they just
  * checkpointed.
  */
object LoopFrames {

  /** Session conf key: when set (to a writable directory — HDFS/S3 on a
    * real cluster, any tempdir locally), loop frames materialize as
    * RELIABLE checkpoints under it instead of executor-local ones.
    * localCheckpoint truncates lineage, so on a cluster an executor loss
    * mid-loop kills the job (the blocks cannot be recomputed); reliable
    * checkpoints survive executor loss at the cost of a filesystem write
    * per round. The default stays local — single-JVM runs (tests, the
    * bench) cannot lose an executor and the write would be pure overhead.
    * This conf is the "swap at 100 TB" switch the r18 verdict asked to
    * make real (ask #4).
    */
  val CheckpointDirKey = "graft.checkpoint.dir"

  private val lastDir = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Eagerly materialize a loop frame and truncate its lineage:
    * `localCheckpoint(true)` by default, a reliable `checkpoint(true)`
    * when [[CheckpointDirKey]] is set. Loop operators call this (usually
    * via `.transform(LoopFrames.materialize)`) instead of
    * `localCheckpoint` directly.
    */
  def materialize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirKey).filter(_.nonEmpty) match {
      case None => df.localCheckpoint(true)
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (lastDir.getAndSet(dir) != dir) sc.setCheckpointDir(dir)
        df.checkpoint(true)
    }

  /** The observed form of [[materialize]] / [[checkpoint]]: checkpoint
    * `df` through `ck` with the aggregate columns `stats` attached by
    * `Dataset.observe` at the ROOT of the plan being checkpointed, and
    * return the checkpointed frame together with the observed row (one
    * field per stat, in order). The statistics ride the checkpoint's own
    * job as an accumulator, so a loop reads its round counts, convergence
    * test and side sums without the extra Spark job a `count()` or
    * `agg().head()` probe over the new frame would launch (2 jobs per
    * `count()` under AQE; the checkpoint is 1 result job either way).
    *
    * Exactly once: the `CollectMetrics` node sits at the root, so it runs
    * in the checkpoint's RESULT stage. Spark applies a result task's
    * accumulator update once per partition, even when a task is retried
    * or speculated, so the observed values equal a plain aggregate of the
    * frame. Both regimes materialize in one result job: the local
    * checkpoint's block-caching job, or the reliable checkpoint's file
    * write (the eager checkpoint runs no separate `count()`).
    *
    * An empty frame observes count 0 and sum `null`: wrap sums in
    * `coalesce`. Each call uses a fresh `Observation` (single-use).
    */
  def observed(df: DataFrame, stats: Column*)(ck: DataFrame => DataFrame): (DataFrame, Row) = {
    val obs = Observation()
    val frame = ck(df.observe(obs, stats.head, stats.tail: _*))
    // the metrics reach the Observation through the session's listener
    // bus after the checkpoint action ends; the bus drops events when its
    // queue overflows, so the wait is bounded: a lost event fails the loop
    // loudly instead of hanging it
    val row = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(10, "min"))
    (frame, row)
  }

  /** Free the materialized blocks behind `df` (blocking=false). Call
    * when a loop replaces its previous round's frame; do NOT call on the
    * frame being returned to the caller. Reliable-checkpoint FILES are
    * not deleted here (Spark's ContextCleaner owns them under
    * `spark.cleaner.referenceTracking.cleanCheckpoints`; otherwise they
    * live until the app ends) — this releases the block-manager copies.
    */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.logical.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Session conf key: maximum ROW COUNT of a counted-small loop frame
    * (ranks, labels, frontiers, peel sets) that the iterative graph
    * operators may BROADCAST into their per-round edge join instead of
    * shuffle-joining (r20 optimization round, guide §3.1: the node-sized
    * side of every loop round is orders of magnitude smaller than the
    * edge table — broadcasting it removes the per-round exchange+sort of
    * the edge side entirely). The join strategy cannot change any result
    * (all loop arithmetic is order-independent integer algebra), only the
    * plan. Default 1,000,000 rows (~tens of MB built; well under the 8 GB
    * / 512M-row broadcast cap); raise it on big-memory clusters, set 0 to
    * disable and always shuffle — e.g. when node frames at your scale
    * exceed executor memory. Every use is gated on an ACTUAL count the
    * operator already computed, never on an estimate.
    */
  val BroadcastNodesKey = "graft.graph.broadcastNodes"

  /** True when a loop frame of `rows` rows (an actual count the caller
    * holds, never an estimate) is within the [[BroadcastNodesKey]] limit.
    * `rows < 0` means "unknown" and never broadcasts.
    */
  def broadcastable(spark: org.apache.spark.sql.SparkSession, rows: Long): Boolean = {
    val limit = spark.conf.getOption(BroadcastNodesKey)
      .flatMap(_.toLongOption).getOrElse(1000000L)
    rows >= 0 && limit > 0 && rows <= limit
  }

  /** Broadcast-hint `df` when [[broadcastable]] holds for `rows`;
    * otherwise return it unchanged (shuffle join).
    */
  def maybeBroadcast(df: org.apache.spark.sql.DataFrame, rows: Long): org.apache.spark.sql.DataFrame =
    if (broadcastable(df.sparkSession, rows))
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** Eager localCheckpoint that DROPS the origin plan's preserved
    * constraints. Spark's checkpoint keeps them on the LogicalRDD,
    * and `Union.rewriteConstraints` over two such frames can throw
    * "key not found: <attr>" when a preserved constraint references an
    * attribute its rewrite map doesn't cover (hit by Bfs's
    * settled ∪ layer union under a DSL view stack, round 15). Constraints
    * only feed InferFiltersFromConstraints — dropping them on a
    * materialized loop frame costs nothing and makes checkpoint unions
    * safe. originStats are KEPT (ADVICE r15: dropping them too made every
    * checkpointed frame report defaultSizeInBytes = Long.MaxValue, so the
    * static planner could never broadcast a small loop frame — e.g.
    * TrustRank's seed set shuffle-joined twice per round unless AQE
    * rescued it). Use this variant wherever a loop UNIONS checkpointed
    * frames.
    */
  def checkpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ck = materialize(df)
    ck.queryExecution.logical match {
      case lr: LogicalRDD =>
        // the second (curried) parameter list carries (session,
        // originStats, originConstraints) — keep stats, drop constraints.
        // LogicalRDD.originStats is private, so recompute it exactly as
        // Dataset.localCheckpoint did: the origin plan's optimized stats
        // (already derived once by the checkpoint itself, so this is a
        // cached lookup, not a second optimization pass).
        val originStats = Some(df.queryExecution.optimizedPlan.stats)
        org.apache.spark.sql.graftshim.PlanShim.ofRows(ck.sparkSession,
          lr.copy()(ck.sparkSession
            .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            originStats, None))
      case _ => ck
    }
  }
}
