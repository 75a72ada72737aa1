package graft

import org.apache.spark.sql.SparkSession

/** Single place every entry point (Verify, Bench, tests, CLI) builds its
  * SparkSession, so session-critical config (UTC, nanosAsLong for the
  * events fixture, shuffle partitions sized to the local core count) cannot
  * drift between entry points.
  *
  * Scale note: `spark.sql.shuffle.partitions` is set to the local core
  * count for the test harness; on a real cluster leave it unset and rely on
  * AQE coalescing (enabled by default on Spark 4).
  *
  * Codegen cache: `spark.sql.codegen.cache.maxEntries` (a static conf, read
  * once per JVM when `CodeGenerator` is first used) is raised from Spark's
  * default 100 to [[CodegenCacheEntries]]. The engine is a long-lived
  * server whose tenants' scripts all share one JVM's LRU of
  * Janino-compiled classes. One pass of perfbench's 13-script
  * `interactive` mix generates about 200 distinct classes, so a 100-entry
  * LRU evicts every class before its script comes round again and each
  * pass recompiled all of them (205 compilations, ~2 s of Janino, per
  * pass in steady state on one tenant; 0 with the larger cache). The cost
  * is per query, independent of data size, and every executor JVM pays it
  * too. The cache is a Guava cache split into 4 segments that evict
  * separately, so a class can be evicted before the total reaches the
  * limit. 1024 is ~5x the mix's working set (256 per segment against
  * ~50), leaving room for the query catalog's scripts.
  */
object GraftSession {

  /** All local cores unless SPARK_GRAFT_CPUS overrides — the driver
    * contract is local[32] with shuffle.partitions matching; a hardcoded
    * small default silently under-parallelized every run on this box.
    */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  /** Generated classes one JVM keeps compiled (see the object doc). */
  val CodegenCacheEntries = 1024

  def builder(cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.VecExpressions.inject)
      .withExtensions(graft.functions.StringExpressions.inject)
      // metadata-only COUNT/MIN/MAX over vparquet snapshots (answers from
      // manifest stats, no scan — see graft.plans.MetadataOnlyAgg)
      .withExtensions(graft.plans.MetadataOnlyAgg.inject)
      // join/aggregate/top-k subtrees over same-connection JDBC scans run
      // in the database as one generated query (graft.plans.JdbcPushdown)
      .withExtensions(graft.plans.JdbcPushdown.inject)

  /** Build (or reuse) the session and register the engine's built-in UDF
    * pack, exactly as the reference registers its function classes at
    * runtime startup (reference: streamingpro-mlsql/src/main/java/streaming/
    * core/strategy/platform/SparkRuntime.scala:186-195).
    */
  def getOrCreate(cpus: String = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // UDFPack deliberately replaces builtin `uuid` (reference semantics:
    // hex without dashes) — the one-time "replaced a previously registered
    // function" WARN is expected noise; keep bench/verify logs signal-only.
    // Scoped to the registration calls only: WARN is restored right after,
    // so a future ACCIDENTAL builtin shadowing stays visible.
    val registryLogger = "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      registryLogger, org.apache.logging.log4j.Level.ERROR)
    try {
      graft.functions.UDFPack.register(spark)
      graft.operators.multimodal.Multimodal.register(spark)
    } finally org.apache.logging.log4j.core.config.Configurator.setLevel(
      registryLogger, org.apache.logging.log4j.Level.WARN)
    spark
  }
}
