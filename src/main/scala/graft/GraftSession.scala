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
  *
  * Local filesystem: the `file` scheme is bound, through Hadoop's own keys
  * `fs.file.impl` and `fs.AbstractFileSystem.file.impl` (as
  * `spark.hadoop.*`), to [[graft.sources.ForkFreeLocalFs]]: the stock
  * checksummed `LocalFileSystem`/`ChecksumFs` over a `RawLocalFileSystem`
  * that sets and reads permissions through `java.nio.file` instead of
  * starting a process. Without the native `libhadoop` (Spark's
  * distribution ships none) the stock class forks a `chmod` per created
  * file or directory, a `readlink` per `FileContext.rename` and an
  * `ls -ld` per listed file whose permission is read; Spark's state store,
  * its offset, commit and file-source logs, the commit protocol and the
  * vparquet manifest commit all pay it. A JFR recording of perfbench
  * `stream_ingest` (seed 4207, 4-vCPU VM) counted about 200 such process
  * starts per micro-batch (3-3.5 ms each), 0 with the binding. Paths,
  * `.crc` files, plans and results are unchanged. HDFS, S3 and every other
  * scheme are untouched.
  *
  * Ordering rule: Hadoop caches one `file:` `FileSystem` per JVM (and
  * user), keyed without the configuration, so an instance created before
  * this builder's session, from a configuration without the keys, stays
  * the stock one for the JVM's life. Build the session before touching
  * Hadoop's local filesystem. `FileContext` makes a new filesystem per
  * context and always follows the configuration. `!resource`'s `local_fs`
  * column shows what is bound, and [[getOrCreate]] warns when the cached
  * instance is not the fork-free one.
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
    graft.sources.ForkFreeLocalFs.Bindings.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(s"spark.hadoop.$k", v)
    }
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
    val bound = graft.sources.ForkFreeLocalFs.boundClasses(spark.sparkContext.hadoopConfiguration)
    if (bound != graft.sources.ForkFreeLocalFs.Bound)
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"the file: scheme is not bound to the fork-free local filesystem ($bound): " +
          "a local FileSystem was cached before the session was built")
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
