package graft.dsl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Script-lifetime cache cleanup (reference scope semantics:
  * SQLCacheExt.scala:38-92): a script's persists — CacheExt's and the
  * operator-internal pinned caches (ShardExport, SequencePack, ...) — are
  * unpersisted when the script ends, so re-running a caching script (the
  * bench's cold/warm/stall-retry loop) never accretes pinned copies.
  */
class CacheScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Cached-RDD ids currently holding blocks (unpersist is async). */
  private def cachedIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet

  private def awaitNoNewCached(baseline: Set[Int], timeoutMs: Long = 30000): Set[Int] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var extra = cachedIds -- baseline
    while (extra.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      extra = cachedIds -- baseline
    }
    extra
  }

  /** The round-9 flagship curation script (same text as s26, at sf0.001):
    * CacheExt eager-caches the cleaned corpus, ShardExport pins its ranged
    * frame — both must be gone when the run returns.
    */
  private def s26Script(dir: String): String =
    s"""load parquet.`$dir/documents.parquet` as cs_docs;
       |select * from cs_docs where doc_id % 20 != 0 as cs_train;
       |select * from cs_docs where doc_id % 20 = 0 as cs_eval;
       |run cs_train as Decontaminate.`` where evalTable="cs_eval"
       |  and ngram="8" as cs_clean0;
       |run cs_clean0 as CacheExt.`` where execute="cache"
       |  and isEager="true" as cs_clean;
       |select * from cs_clean where lang = "en" as cs_target;
       |run cs_clean as ImportanceSelect.`` where targetTable="cs_target"
       |  and k="100" and hash="portable" as cs_sel;
       |run cs_sel as ShardExport.`` where rowsPerShard="25"
       |  and mode="assign" as cs_shards;
       |select shard, count(*) as n_docs from cs_shards
       |group by shard order by shard as cs_out;""".stripMargin

  test("s26-shaped script leaves zero caches after Engine.run — even 3x in a loop") {
    spark.catalog.clearCache()
    // a snapshot: an RDD cached before the test cannot appear in
    // `cachedIds -- baseline` (waiting for NO cached RDD in the shared
    // session ran into the 30 s timeout whenever an earlier suite left one)
    val baseline = cachedIds
    val base = Files.createTempDirectory("graft-cachescope").toString
    val engine = new Engine(spark, base)
    (1 to 3).foreach { i =>
      val ctx = engine.run("alice", s26Script(sf))
      // the script's own result is still materializable after cleanup
      assert(ctx.lastDataFrame.get.count() > 0, s"run $i produced no rows")
      val leaked = awaitNoNewCached(baseline)
      assert(leaked.isEmpty, s"run $i leaked cached RDDs: $leaked")
    }
  }

  test("CacheExt lifetime=session outlives the script; uncache releases it") {
    val baseline = cachedIds
    ScriptRunner.run(
      s"""load parquet.`$sf/region.parquet` as cse_r;
         |run cse_r as CacheExt.`` where lifetime="session"
         |  and isEager="true" as cse_rc;""".stripMargin, spark)
    assert((cachedIds -- baseline).nonEmpty,
      "session-lifetime cache should survive script end")
    ScriptRunner.run(
      """run cse_r as CacheExt.`` where execute="uncache" as cse_u;""",
      spark)
    val leaked = awaitNoNewCached(baseline)
    assert(leaked.isEmpty, s"uncache left cached RDDs: $leaked")
  }

  test("operator caches outside any script keep the single-flight fallback") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val baseline = cachedIds
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    // two direct calls: the second unpersists the first's ranged frame
    graft.operators.sampling.ShardExport.assignShards(docs, "doc_id", 10).count()
    graft.operators.sampling.ShardExport.assignShards(docs, "doc_id", 20).count()
    val deadline = System.currentTimeMillis() + 30000
    var extra = cachedIds -- baseline
    while (extra.size > 1 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); extra = cachedIds -- baseline
    }
    assert(extra.size <= 1,
      s"single-flight fallback should keep at most ONE ranged cache, saw $extra")
    spark.catalog.clearCache()
  }

  test("repeat invocation with an identical plan keeps its cache (same-plan guard)") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val baseline = cachedIds
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    // identical input + params -> CacheManager re-registers the SAME entry;
    // the fallback swap must NOT unpersist it out from under the second call
    val first = graft.operators.sampling.ShardExport.assignShards(docs, "doc_id", 10)
    first.count()
    val second = graft.operators.sampling.ShardExport.assignShards(docs, "doc_id", 10)
    second.count()
    assert((cachedIds -- baseline).nonEmpty,
      "second identical invocation must keep the shared cache entry alive")
    // and the second run's plan is actually served from the cache
    val plan = second.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      s"second invocation's plan does not read the cache:\n$plan")
    spark.catalog.clearCache()
  }
}
