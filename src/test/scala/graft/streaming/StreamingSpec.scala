package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.dsl.ScriptRunner
import org.apache.spark.sql.functions.col

/** Streaming E2E on MemoryStream — no sleeps; `processAllAvailable`
  * (SURVEY §5 rebuild strategy).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("mockStream -> memory sink end-to-end with streamName contract") {
    val ctx = ScriptRunner.run(
      s"""set streamName = "s1";
         |load parquet.`$sf/region.parquet` as r_batch;
         |load mockStream.`r_batch` as r_stream;
         |select r_regionkey, r_name from r_stream as projected;
         |save append projected as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_s1")}" and duration="0";""".stripMargin,
      spark)
    val q = ctx.streams("s1")
    q.processAllAvailable()
    q.stop()
    assert(spark.table("s1").count() == 5)
  }

  test("stream lifecycle events land in the _mlsql_.streamEvents system table") {
    val ctx = ScriptRunner.run(
      s"""set streamName = "evlog1";
         |load parquet.`$sf/region.parquet` as r_ev;
         |load mockStream.`r_ev` as r_evs;
         |save append r_evs as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_ev")}";""".stripMargin,
      spark)
    val q = ctx.streams("evlog1")
    q.processAllAvailable()
    q.stop()
    // listener delivery is async; poll briefly for the terminated event
    def events() = ScriptRunner.runToDF(
      """load _mlsql_.`streamEvents` as ev;
        |select name, id, event from ev as out;""".stripMargin, spark).collect()
    var tries = 0
    while (tries < 50 && !events().exists(r =>
      r.getString(1) == q.id.toString && r.getString(2).startsWith("terminated"))) {
      Thread.sleep(100); tries += 1
    }
    val evs = events().filter(_.getString(1) == q.id.toString)
    assert(evs.exists(r => r.getString(2) == "started" && r.getString(0) == "evlog1"))
    assert(evs.exists(_.getString(2) == "progress"))
    assert(evs.exists(_.getString(2).startsWith("terminated")))
  }

  test("vparquet change-feed source follows commits with _commit_version") {
    val t = java.nio.file.Files.createTempDirectory("vp_feed").toString + "/t"
    ScriptRunner.runToDF(
      s"""set cf0 = '''{"k":1,"v":"a"}
         |{"k":2,"v":"b"}''';
         |load jsonStr.`cf0` as cf_in;
         |save overwrite cf_in as vparquet.`$t`;""".stripMargin, spark)
    val ctx = ScriptRunner.run(
      s"""set streamName = "vpcf";
         |load vparquet.`$t` where startingVersion="0" as feed;
         |save append feed as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_cf")}"
         |  and duration="0";""".stripMargin, spark)
    val q = ctx.streams("vpcf")
    try {
      q.processAllAvailable()
      // v0 replay: the initial snapshot, tagged with its commit version
      assert(spark.table("vpcf").count() == 2)
      assert(spark.table("vpcf").select("_commit_version").distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(0L))
      // a new commit while the stream is live is picked up incrementally
      ScriptRunner.runToDF(
        s"""set cf1 = '''{"k":3,"v":"c"}''';
           |load jsonStr.`cf1` as cf_in2;
           |save append cf_in2 as vparquet.`$t`;""".stripMargin, spark)
      q.processAllAvailable()
      val rows = spark.table("vpcf").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)))
    } finally q.stop()
  }

  test("vparquet change feed resumes from checkpoint and rate-limits catch-up") {
    val t = java.nio.file.Files.createTempDirectory("vp_res").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("ck_res").toString
    def commit(k: Int) = ScriptRunner.runToDF(
      s"""set rs$k = '''{"k":$k}''';
         |load jsonStr.`rs$k` as rs_in$k;
         |save ${if (k == 0) "overwrite" else "append"} rs_in$k as vparquet.`$t`;""".stripMargin, spark)
    commit(0); commit(1)
    // file sink: the one offline sink that supports checkpoint RECOVERY
    // (memory refuses to resume), so restart semantics are actually tested
    val outDir = java.nio.file.Files.createTempDirectory("vp_res_out").toString
    def startFeed() = ScriptRunner.run(
      s"""set streamName = "vpres";
         |load vparquet.`$t` where startingVersion="0"
         |  and maxVersionsPerTrigger="1" as res_feed;
         |save append res_feed as streamParquet.`$outDir` where mode="append"
         |  and checkpointLocation="$ck" and duration="0";""".stripMargin, spark)
    val q1 = startFeed().streams("vpres")
    try q1.processAllAvailable() finally q1.stop()
    // maxVersionsPerTrigger=1 → versions 0 and 1 arrive as separate batches
    assert(q1.recentProgress.count(_.numInputRows > 0) >= 2,
      "rate limit should split catch-up into one batch per version")
    assert(spark.read.parquet(outDir).count() == 2)
    // two more commits while the stream is DOWN; the restart must resume
    // from the checkpointed version, not re-deliver 0..1
    commit(2); commit(3)
    val q2 = startFeed().streams("vpres")
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).orderBy("k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(rows == Seq(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L),
        s"exactly-once resume expected versions 0..3 once each, got $rows")
    } finally q2.stop()
  }

  test("stream -> vparquet -> stream round-trip (CDC in, change feed out)") {
    val t = java.nio.file.Files.createTempDirectory("vp_rt").toString + "/t"
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    mem.toDF().toDF("k", "v", "ts").createOrReplaceTempView("rt_src")
    mem.addData((1L, "a", 1L), (2L, "b", 1L))
    // stream 1: CDC merge into the vparquet table
    val ctx1 = ScriptRunner.run(
      s"""set streamName = "rt_in";
         |save append rt_src as vparquet.`$t` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_rt1")}"
         |  and duration="0" and idCols="k" and orderCol="ts";""".stripMargin, spark)
    val q1 = ctx1.streams("rt_in")
    try {
      q1.processAllAvailable() // v0 exists -> the change feed can resolve its schema
      // stream 2: change feed of the same table out to a memory sink
      val ctx2 = ScriptRunner.run(
        s"""set streamName = "rt_out";
           |load vparquet.`$t` where startingVersion="0" as rt_feed;
           |select k, v, _commit_version from rt_feed as rt_p;
           |save append rt_p as memory.`` where mode="append"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_rt2")}"
           |  and duration="0";""".stripMargin, spark)
      val q2 = ctx2.streams("rt_out")
      try {
        q2.processAllAvailable()
        assert(spark.table("rt_out").count() == 2)
        // update key 1 upstream: the merge rewrites its bucket, and the
        // feed re-delivers that bucket's rows (ignoreChanges semantics) —
        // the new value MUST be among them, tagged with the merge commit
        mem.addData((1L, "a2", 2L))
        q1.processAllAvailable()
        q2.processAllAvailable()
        val v1rows = spark.table("rt_out").filter($"_commit_version" === 1L)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(v1rows.contains(1L -> "a2"))
        // last-version row set per key equals the table's current snapshot
        val latest = spark.table("rt_out")
          .withColumn("__r__", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("k")
              .orderBy(col("_commit_version").desc)))
          .filter(col("__r__") === 1).select("k", "v")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(latest == Set(1L -> "a2", 2L -> "b"))
      } finally q2.stop()
    } finally q1.stop()
  }

  test("streaming save without streamName fails loudly") {
    val e = intercept[IllegalArgumentException] {
      ScriptRunner.run(
        s"""load parquet.`$sf/region.parquet` as rb2;
           |load mockStream.`rb2` as rs2;
           |save append rs2 as memory.`` where mode="append" and checkpointLocation="/tmp/graft_ck_x";""".stripMargin,
        spark)
    }
    assert(e.getMessage.contains("streamName"))
  }

  test("streaming save without checkpointLocation fails loudly") {
    val e = intercept[IllegalArgumentException] {
      ScriptRunner.run(
        s"""set streamName = "s3";
           |load parquet.`$sf/region.parquet` as rb3;
           |load mockStream.`rb3` as rs3;
           |save append rs3 as memory.`` where mode="append";""".stripMargin,
        spark)
    }
    assert(e.getMessage.contains("checkpointLocation"))
  }

  test("windowed aggregation with watermark over mockStream") {
    val ctx2 = ScriptRunner.run(
      s"""set streamName = "s4";
         |load parquet.`$sf/events.parquet` as ev_raw;
         |select cast(ts as timestamp) as ts, event_id from ev_raw as ev_b;
         |load mockStream.`ev_b` where eventTimeCol="ts" and delayThreshold="1 minute" as ev_s;
         |select window(ts, '1 minute').start as w, count(*) as c
         |  from ev_s group by window(ts, '1 minute') as agged;
         |save append agged as memory.`` where mode="complete"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_s4")}";""".stripMargin,
      spark)
    val q = ctx2.streams("s4")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("s4").count()
    assert(rows > 0)
  }

  test("batch-over-stream: stream writes parquet, batch script reads it back") {
    val outDir = java.nio.file.Files.createTempDirectory("stream_pq")
    val ctx = ScriptRunner.run(
      s"""set streamName = "s5";
         |load parquet.`$sf/nation.parquet` as n_b;
         |load mockStream.`n_b` as n_s;
         |select n_nationkey, n_name from n_s as n_proj;
         |save append n_proj as streamParquet.`$outDir/out` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_s5")}";""".stripMargin,
      spark)
    val q = ctx.streams("s5")
    q.processAllAvailable()
    q.stop()
    val back = ScriptRunner.runToDF(
      s"""load parquet.`$outDir/out` as n_back;
         |select count(*) as c from n_back as out;""".stripMargin, spark)
    assert(back.head().getLong(0) == 25)
  }

  test("upsertParquet sink: CDC-style keyed merge, newest row wins") {
    val dir = java.nio.file.Files.createTempDirectory("ups")
    val target = dir.resolve("t").toString
    // twin target: the same micro-batches through the vparquet spelling,
    // with upsertParquet's resolved bucket default spelled out
    val twin = dir.resolve("twin").toString
    def runBatch(name: String, data: String): Unit = Seq(
      name -> s"upsertParquet.`$target` where",
      s"${name}_twin" -> s"""vparquet.`$twin` where numBuckets="64" and""").foreach {
      case (stream, sink) =>
        val ctx = ScriptRunner.run(
          s"""set streamName = "$stream";
             |set cdc = '''$data''';
             |load jsonStr.`cdc` as cdc_b;
             |load mockStream.`cdc_b` as cdc_s;
             |save append cdc_s as $sink mode="append"
             |  and idCols="id"
             |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_u")}";""".stripMargin,
          spark)
        val q = ctx.streams(stream)
        q.processAllAvailable(); q.stop()
    }
    runBatch("u1", """{"id":1,"v":"a"}
                     |{"id":2,"v":"b"}""".stripMargin)
    runBatch("u2", """{"id":2,"v":"b2"}
                     |{"id":3,"v":"c"}""".stripMargin)
    // the target is a transactional vparquet table: read it back
    // through the vparquet source, like the reference reads its CDC
    // target through `load delta.`
    def snap(t: String) = ScriptRunner.runToDF(
      s"""load vparquet.`$t` as cdc_back;
         |select id, v from cdc_back as out;""".stripMargin, spark)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val result = snap(target)
    assert(result == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // each micro-batch is one manifest commit; v0 time-travels to pre-u2
    val v0 = graft.sources.VParquet.loadVersion(spark, target, Some(0L), None)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(v0 == Map(1L -> "a", 2L -> "b"))
    // one write path: the twin holds the same rows from the same commits
    def commits(t: String) = graft.sources.VParquet.history(spark, t)
      .orderBy("version").select("op", "num_buckets", "n_files").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(snap(twin) == result)
    assert(commits(twin) == commits(target))
    assert(commits(target).map(c => (c._1, c._2)) == Seq("merge" -> 64, "merge" -> 64))
  }

  test("upsertParquet tableCol: one stream routes into multiple vparquet tables, exactly-once each") {
    // multiDelta parity: rows fan out by their table column into per-table
    // transactional merges inside a single foreachBatch
    val base = java.nio.file.Files.createTempDirectory("multi_cdc").resolve("base").toString
    val ck = java.nio.file.Files.createTempDirectory("ck_mt").toString
    val ctx = ScriptRunner.run(
      s"""set streamName = "mt1";
         |set cdc = '''{"tbl":"users","id":1,"v":"u1"}
         |{"tbl":"users","id":2,"v":"u2"}
         |{"tbl":"orders","id":1,"v":"o1"}''';
         |load jsonStr.`cdc` as mt_b;
         |load mockStream.`mt_b` as mt_s;
         |save append mt_s as upsertParquet.`$base` where mode="append"
         |  and idCols="id" and tableCol="tbl"
         |  and checkpointLocation="$ck";""".stripMargin,
      spark)
    val q = ctx.streams("mt1")
    q.processAllAvailable(); q.stop()
    def snap(t: String): Map[Long, String] = ScriptRunner.runToDF(
      s"""load vparquet.`$base/$t` as mt_back;
         |select id, v from mt_back as out;""".stripMargin, spark)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap("users") == Map(1L -> "u1", 2L -> "u2"))
    assert(snap("orders") == Map(1L -> "o1"))
    val vU = graft.sources.VParquet.latestVersion(spark, s"$base/users").get
    val vO = graft.sources.VParquet.latestVersion(spark, s"$base/orders").get
    // simulated at-least-once re-delivery (crash between the per-table
    // commits and the checkpoint offset commit): same appId + batchId
    // must recognize the txn marker and no-op on BOTH tables
    import spark.implicits._
    val redelivered = Seq(("users", 1L, "u1"), ("users", 2L, "u2"),
      ("orders", 1L, "o1")).toDF("tbl", "id", "v")
    UpsertParquet.routeMerge(redelivered, base, "tbl", Seq("id"),
      numBuckets = None, orderCol = None, batchId = 0L, appId = ck)
    assert(graft.sources.VParquet.latestVersion(spark, s"$base/users").get == vU)
    assert(graft.sources.VParquet.latestVersion(spark, s"$base/orders").get == vO)
    assert(snap("users") == Map(1L -> "u1", 2L -> "u2"))
    assert(snap("orders") == Map(1L -> "o1"))
    // route values become directory names: traversal-shaped names refuse
    val bad = Seq(("../evil", 9L, "x")).toDF("tbl", "id", "v")
    val err = intercept[Exception] {
      UpsertParquet.routeMerge(bad, base, "tbl", Seq("id"), None, None, 1L, ck)
    }
    assert(err.getMessage.contains("not a safe table name"))
  }

  test("upsertParquet rejects layout=plain and points at the vparquet table") {
    Seq("", """ and numBuckets="8"""").foreach { buckets =>
      val target = java.nio.file.Files.createTempDirectory("upsp").resolve("t").toString
      val err = intercept[IllegalArgumentException] {
        ScriptRunner.run(
          s"""set streamName = "up_err";
             |set cdc = '''{"id":1,"v":"a"}''';
             |load jsonStr.`cdc` as cdce_b;
             |load mockStream.`cdce_b` as cdce_s;
             |save append cdce_s as upsertParquet.`$target` where mode="append"
             |  and idCols="id" and layout="plain"$buckets
             |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_ue")}";""".stripMargin,
          spark)
      }
      assert(err.getMessage.contains("omit layout"))
      assert(err.getMessage.contains("load vparquet"))
      assert(!new java.io.File(target).exists(), "a rejected sink must write nothing")
    }
  }

  test("vparquet sink tableCol without idCols fails loudly") {
    val err = intercept[IllegalArgumentException] {
      ScriptRunner.run(
        s"""set streamName = "tc_err";
           |set cdc = '''{"tbl":"users","id":1}''';
           |load jsonStr.`cdc` as tce_b;
           |load mockStream.`tce_b` as tce_s;
           |save append tce_s as vparquet.`${java.nio.file.Files.createTempDirectory("tce")}/base`
           |  where mode="append" and tableCol="tbl"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_tce")}";""".stripMargin,
        spark)
    }
    assert(err.getMessage.contains("tableCol requires idCols"))
  }

  test("session_window aggregation over a stream") {
    val ctx = ScriptRunner.run(
      s"""set streamName = "s6";
         |load parquet.`$sf/events.parquet` as ev6_raw;
         |select cast(ts as timestamp) as ts, user_id from ev6_raw as ev6_b;
         |load mockStream.`ev6_b` where eventTimeCol="ts" and delayThreshold="1 minute" as ev6_s;
         |select session_window(ts, '5 minutes').start as w_start, user_id, count(*) as n
         |  from ev6_s group by session_window(ts, '5 minutes'), user_id as ev6_agg;
         |save append ev6_agg as memory.`` where mode="complete"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_s6")}";""".stripMargin,
      spark)
    val q = ctx.streams("s6")
    q.processAllAvailable(); q.stop()
    assert(spark.table("s6").count() > 0)
  }

  test("session_window watermark expires sessions end-to-end (emit + state eviction)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count, lit, session_window}
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val ck = java.nio.file.Files.createTempDirectory("ck_swev").toString
    def t(s: Int) = new java.sql.Timestamp(s * 1000L)
    val agg = ms.toDF().toDF("ts", "user")
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window($"ts", "5 seconds"), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("w_start"), $"user", $"n")
    val q = agg.writeStream.format("memory").queryName("sw_ev")
      .outputMode("append")
      .option("checkpointLocation", ck).start()
    try {
      ms.addData(t(10) -> "A", t(12) -> "A") // one session [10, 17) for A
      q.processAllAvailable()
      // watermark (7 s) hasn't passed the session end: nothing emitted yet
      assert(spark.table("sw_ev").count() == 0)
      ms.addData(t(100) -> "B") // advances the watermark to 95 s
      q.processAllAvailable()
      ms.addData(t(102) -> "B") // extends B's open session; commits A's eviction
      q.processAllAvailable()
    } finally q.stop()
    // A's two events merged into ONE closed session row; B's session is
    // still open (watermark 97 < its end), so it must not have emitted
    val out = spark.table("sw_ev").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq("A" -> 2L))
    // checkpointed state after the last commit: the expired session (A) is
    // EVICTED from the store; only B's live session remains
    val state = ScriptRunner.runToDF(
      s"""load statestore.`$ck` as swst;
         |select to_json(struct(*)) as j from swst as srows;""".stripMargin, spark)
      .collect().map(_.getString(0))
    assert(state.nonEmpty, "session-window state store should hold the live session")
    assert(!state.exists(_.contains("\"A\"")),
      s"expired session state for A must be evicted, got: ${state.mkString("; ")}")
    assert(state.exists(_.contains("\"B\"")))
  }

  test("mapGroupsWithState running counts accumulate across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Long]
    val counts = graft.streaming.Stateful.runningCounts(ms.toDF().toDF("k"), "k")
    val q = counts.writeStream.format("memory").queryName("rc")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_rc").toString)
      .start()
    ms.addData(1L, 1L, 2L) // batch 1
    q.processAllAvailable()
    ms.addData(1L, 2L)     // batch 2
    q.processAllAvailable()
    q.stop()
    // last update per key carries the cumulative totals
    val fin = spark.table("rc").groupBy("key")
      .agg(org.apache.spark.sql.functions.max("total").as("total"),
        org.apache.spark.sql.functions.max("batches").as("batches"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(fin(1L) == (3L, 2))
    assert(fin(2L) == (2L, 2))
  }

  test("streaming fuzzy linkage: per-batch blocking join against a static catalog") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    // the production ingest shape the ScaleSweep case measures: a growing
    // dirty feed matched per micro-batch against a bounded master catalog.
    // foreachBatch runs the BATCH operator verbatim (fuzzyJoin's candidate
    // distinct must not become cross-batch stream state)
    val catalog = Seq((1L, "golden retriever"), (2L, "border collie"))
      .toDF("id", "name")
    val ms = MemoryStream[(Long, String)]
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val q = ms.toDF().toDF("id", "name").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_fl").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val m = graft.operators.text.EditLinkage.fuzzyJoin(
          batch, "id", "name", catalog, "id", "name", maxDist = 2)
        out.synchronized {
          out ++= m.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
        }
        ()
      }.start()
    ms.addData((10L, "goldn retriever"), (30L, "pomeranian"))
    q.processAllAvailable()
    ms.addData((20L, "bordr colliex"))
    q.processAllAvailable()
    q.stop()
    // streamed per-batch results == one batch run over the whole feed
    val all = Seq((10L, "goldn retriever"), (30L, "pomeranian"),
      (20L, "bordr colliex")).toDF("id", "name")
    val batchRun = graft.operators.text.EditLinkage.fuzzyJoin(
        all, "id", "name", catalog, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(out.toSet == batchRun && batchRun == Set((10L, 1L, 1), (20L, 2L, 2)))
  }

  test("flatMapGroupsWithState threshold alerts emit 0..n rows per key per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Long]
    ms.addData(Seq.fill(5)(1L) ++ Seq.fill(2)(2L)) // key1: 5, key2: 2
    val q = Stateful.thresholdAlerts(ms.toDF().withColumnRenamed("value", "k"), "k", every = 3)
      .writeStream.format("memory").queryName("alerts").outputMode("append").start()
    q.processAllAvailable()
    ms.addData(Seq.fill(4)(2L)) // key2 total 6: crosses 3 and 6 in one batch
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("alerts").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 3L), (2L, 3L), (2L, 6L)))
  }

  test("transformWithState distinct counts accumulate via RocksDB MapState") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, String)]
      val q = Stateful.distinctCounts(
          ms.toDF().toDF("k", "v"), "k", "v")
        .writeStream.format("memory").queryName("tws").outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_tws").toString)
        .start()
      ms.addData((1L, "a"), (1L, "b"), (1L, "a"), (2L, "x"))
      q.processAllAvailable()
      ms.addData((1L, "b"), (1L, "c"), (2L, "x")) // only c is new for key 1
      q.processAllAvailable()
      q.stop()
      val fin = spark.table("tws").groupBy("key")
        .agg(org.apache.spark.sql.functions.max("n_distinct").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fin(1L) == 3L) // a, b, c
      assert(fin(2L) == 1L) // x seen twice, counted once
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming Hamming screen matches the batch banded self-join over any chunking") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // seeded hashes with planted near-collisions; pairs split ACROSS
      // batches so per-batch joining would miss them
      val rnd = new scala.util.Random(9017)
      val base = (0 until 12).map(i => (s"m$i", rnd.nextLong()))
      val nearDups = Seq(
        ("d0", base(0)._2 ^ 1L),                 // 1 bit off m0
        ("d3", base(3)._2 ^ (1L << 40) ^ 2L),    // 2 bits off m3
        ("d7", base(7)._2))                      // exact dup of m7
      val all = base ++ nearDups
      val chunks = Seq(all.take(5), all.slice(5, 12), all.drop(12))
      val ms = MemoryStream[(String, Long)]
      val q = Stateful.hammingScreen(ms.toDF().toDF("id", "h"), "id", "h",
          maxHamming = 4)
        .writeStream.format("memory").queryName("hscreen").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_hs").toString)
        .start()
      chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table("hscreen")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val batch = graft.operators.multimodal.ImageDedup.selfJoinFromHashes(
          all.toDF("id", "h"), "id", "h", maxHamming = 4)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(streamed == batch, "exactly-once min-chunk emission == batch distinct")
      assert(batch.size >= 3, "fixture must plant the three near-dups")
      // exactly-once: no duplicate (a, b) rows even for the hamming-0 pair
      // (which collides in EVERY chunk bucket)
      val dup = spark.table("hscreen").groupBy("a_id", "b_id")
        .count().filter($"count" > 1).count()
      assert(dup == 0L)
      // generalized band width (r18): the corpus-scale knob must keep the
      // streamed set identical (pigeonhole + min-shared-COMBO emission)
      val ms3 = MemoryStream[(String, Long)]
      val q3 = Stateful.hammingScreen(ms3.toDF().toDF("id", "h"), "id", "h",
          maxHamming = 4, bandWidth = 3)
        .writeStream.format("memory").queryName("hscreen_w3").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_hs3").toString)
        .start()
      chunks.foreach { c => ms3.addData(c: _*); q3.processAllAvailable() }
      q3.stop()
      val streamed3 = spark.table("hscreen_w3")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(streamed3 == batch, "width-3 streamed set == batch set")
      val dup3 = spark.table("hscreen_w3").groupBy("a_id", "b_id")
        .count().filter($"count" > 1).count()
      assert(dup3 == 0L)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming Hamming screen cap: full buckets stop absorbing; capped set is a subset") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // a degenerate flat-hash flood (all zeros) plus one late pair far
      // from it: the flood fills its buckets at the cap, the late pair
      // still matches through its own buckets
      val flood = (0 until 10).map(i => (f"z$i%02d", 0L))
      val pair = Seq(("p1", 0x5a5a5a5a5a5a5a5aL), ("p2", 0x5a5a5a5a5a5a5a5bL))
      val ms = MemoryStream[(String, Long)]
      val q = Stateful.hammingScreen(ms.toDF().toDF("id", "h"), "id", "h",
          maxHamming = 4, maxBucketSize = 3)
        .writeStream.format("memory").queryName("hscreen_cap").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_hsc").toString)
        .start()
      ms.addData(flood: _*); q.processAllAvailable()
      ms.addData(pair: _*); q.processAllAvailable()
      q.stop()
      val got = spark.table("hscreen_cap")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // capped subset: only the first 3 flood members occupy the bucket,
      // so flood pairs are capped at pairs among {z00,z01,z02}
      val batch = graft.operators.multimodal.ImageDedup.selfJoinFromHashes(
          (flood ++ pair).toDF("id", "h"), "id", "h", maxHamming = 4)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got.subsetOf(batch))
      assert(got.contains(("p1", "p2")), "uncrowded buckets still match")
      assert(got.contains(("z00", "z01")) && got.contains(("z00", "z02")))
      // rows rejected by the full bucket are still SCREENED against the
      // stored corpus (the whole point of an ingest screen)...
      assert(got.contains(("z00", "z03")))
      // ...but two post-cap rows can never pair with each other
      assert(!got.exists { case (a, b) => a >= "z03" && b >= "z03" })
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming Hamming screen: redelivered cap-rejected id emits no duplicate pairs") {
    // the r18 exactly-once hole: a STORED id is idempotent via the member
    // state, but a cap-REJECTED id left no trace, so an at-least-once
    // redelivery re-emitted all its matches; the bounded rejected-id state
    // closes it (VERDICT r18 ask #3)
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val flood = (0 until 5).map(i => (f"z$i%02d", 0L))
      val ms = MemoryStream[(String, Long)]
      val q = Stateful.hammingScreen(ms.toDF().toDF("id", "h"), "id", "h",
          maxHamming = 4, maxBucketSize = 3)
        .writeStream.format("memory").queryName("hscreen_redeliver")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_hsr").toString)
        .start()
      ms.addData(flood: _*); q.processAllAvailable()
      val afterFirst = spark.table("hscreen_redeliver").count()
      assert(afterFirst > 0)
      // redeliver the two cap-rejected ids (z03, z04) and a stored member
      ms.addData(("z03", 0L), ("z04", 0L)); q.processAllAvailable()
      ms.addData(("z01", 0L)); q.processAllAvailable()
      q.stop()
      val rows = spark.table("hscreen_redeliver")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows.size.toLong == afterFirst,
        s"redelivery emitted ${rows.size - afterFirst} duplicate rows")
      assert(rows.distinct.size == rows.size, "duplicate (a,b) pairs emitted")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming video screen: emitted pair set matches the batch frame-set self-join over any chunking") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // videos = 4-frame hash sets; near-dup pairs split ACROSS batches:
      //  - w0 is v0 with every frame 1 bit off (containment 1.0);
      //  - w1 is a 2-frame trimmed excerpt of v1 (containment 1.0 on the
      //    excerpt side — the bidirectional-max rule);
      //  - w2 shares only 1 of 4 frames with v2 (0.25 < minOverlap: no pair)
      val rnd = new scala.util.Random(7103)
      val vids = (0 until 5).map(i => s"v$i" -> (0 until 4).map(f => (f, rnd.nextLong())))
      val byId = vids.toMap
      val extra = Seq(
        "w0" -> byId("v0").map { case (f, h) => (f, h ^ (1L << (f * 7))) },
        "w1" -> byId("v1").take(2),
        "w2" -> (byId("v2").take(1) ++ (1 until 4).map(f => (f, rnd.nextLong()))))
      val all = vids ++ extra
      val chunks = Seq(all.take(3), all.slice(3, 6), all.drop(6))
      val ms = MemoryStream[(String, Seq[(Int, Long)])]
      val q = Stateful.videoScreen(ms.toDF().toDF("id", "frames"),
          "id", "frames", maxHamming = 4, minOverlap = 0.5)
        .writeStream.format("memory").queryName("vscreen").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_vs").toString)
        .start()
      chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table("vscreen")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val exploded = all.flatMap { case (id, fr) =>
        fr.map { case (f, h) => (id, f, h) } }.toDF("id", "fi", "h")
      val batch = graft.operators.multimodal.VideoDedup.selfJoinFromHashes(
          exploded, "id", "fi", "h", maxHamming = 4, minOverlap = 0.5)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(streamed == batch,
        "pair-set parity: threshold crossing is monotone, so the emitted " +
          "set equals the batch containment join")
      assert(batch.contains(("v0", "w0")) && batch.contains(("v1", "w1")),
        "fixture must plant the full near-dup and the trimmed excerpt")
      assert(!batch.exists(p => p._1 == "v2" && p._2 == "w2"),
        "sub-threshold overlap must not pair")
      // append-once: no duplicate (a, b) rows across batches
      val dup = spark.table("vscreen").groupBy("a_id", "b_id")
        .count().filter($"count" > 1).count()
      assert(dup == 0L)
      // at-crossing counts are consistent lower bounds: matched <= frames
      spark.table("vscreen").collect().foreach { r =>
        assert(r.getInt(2) <= r.getInt(4) && r.getInt(3) <= r.getInt(5))
        assert(r.getDouble(6) >= 0.5)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming co-occurrence pairs match the batch operator over any chunking") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // baskets deliberately SPLIT across batches: per-batch pair
      // generation would miss (10,30) in basket 1 and all of basket 2
      val rows = Seq(
        Seq((1L, 10L), (1L, 20L), (2L, 10L)),
        Seq((1L, 30L), (2L, 20L), (1L, 10L)), // dup membership: no re-emit
        Seq((2L, 30L), (3L, 40L)))
      val ms = MemoryStream[(Long, Long)]
      val q = graft.streaming.Stateful.cooccurPairs(
          ms.toDF().toDF("bk", "i"), "bk", "i")
        .writeStream.format("memory").queryName("cooc_s").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_cooc").toString)
        .start()
      rows.foreach { chunk => ms.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table("cooc_s").groupBy("a", "b")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("weight"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.graph.CooccurEdges.edges(
          rows.flatten.toDF("bk", "i"), "bk", "i")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // the cap bounds state and emission: basket 3 (singleton) emits none
      assert(!streamed.keySet.exists(p => p._1 == 40L || p._2 == 40L))
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("property: capped streaming co-occurrence divergence is exactly the documented contract") {
    // VERDICT r16 #8: the batch cap keeps SMALLEST items, the stream cap
    // keeps FIRST-ARRIVAL (per-batch sorted) — pin the divergence so it
    // cannot silently widen:
    //  (1) the stream equals a driver-side simulation of the documented
    //      cap semantics exactly (any basket mix, any chunking);
    //  (2) every streamed pair exists in the UNCAPPED batch pair set
    //      (subset relation for capped baskets);
    //  (3) baskets within the cap emit their FULL pair set (equality).
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val cap = 3
    // driver-side simulation of CooccurProcessor's documented semantics:
    // per batch, per basket: distinct new items in sorted order join the
    // basket while it holds < cap members, each emitting both orientations
    // against the members present at its arrival
    def simulate(chunks: Seq[Seq[(Long, Long)]]): Map[(Long, Long), Long] = {
      val state = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.LinkedHashSet[Long]]
      val weights = scala.collection.mutable.Map.empty[(Long, Long), Long]
      for (chunk <- chunks; (bk, items) <- chunk.groupBy(_._1).toSeq.sortBy(_._1)) {
        val have = state.getOrElseUpdate(bk, scala.collection.mutable.LinkedHashSet.empty)
        for (i <- items.map(_._2).distinct.sorted if !have.contains(i) && have.size < cap) {
          for (s <- have) {
            weights((i, s)) = weights.getOrElse((i, s), 0L) + 1L
            weights((s, i)) = weights.getOrElse((s, i), 0L) + 1L
          }
          have += i
        }
      }
      weights.toMap
    }
    val genCase = for {
      nRows <- Gen.choose(3, 14)
      rows <- Gen.listOfN(nRows, for {
        bk <- Gen.choose(1L, 3L)
        i <- Gen.choose(1L, 6L)
      } yield (bk, i))
      cut1 <- Gen.choose(0, nRows)
      cut2 <- Gen.choose(0, nRows)
    } yield (rows, math.min(cut1, cut2), math.max(cut1, cut2))
    var trial = 0
    try {
      val prop = Prop.forAll(genCase) { case (rows, c1, c2) =>
        trial += 1
        val chunks = Seq(rows.take(c1), rows.slice(c1, c2), rows.drop(c2))
          .filter(_.nonEmpty)
        val ms = MemoryStream[(Long, Long)]
        val q = graft.streaming.Stateful.cooccurPairs(
            ms.toDF().toDF("bk", "i"), "bk", "i", maxBasketSize = cap)
          .writeStream.format("memory").queryName(s"cooc_p$trial")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ck_coocp").toString)
          .start()
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        q.stop()
        val streamed = spark.table(s"cooc_p$trial").groupBy("a", "b")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("w"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val sim = simulate(chunks)
        // uncapped batch pair set + per-basket membership for (2)/(3)
        val baskets = rows.groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2).distinct }
        val uncapped = baskets.values.flatMap(items =>
          for (a <- items; b <- items if a != b) yield (a, b)).toSet
        val inCapPairs = baskets.values.filter(_.size <= cap).flatMap(items =>
          for (a <- items; b <- items if a != b) yield (a, b)).toSet
        val okSim = streamed == sim
        val okSubset = streamed.keySet.subsetOf(uncapped)
        val okInCap = inCapPairs.subsetOf(streamed.keySet)
        if (!(okSim && okSubset && okInCap))
          println(s"MISMATCH rows=$rows cuts=($c1,$c2)\n streamed=$streamed\n sim=$sim\n" +
            s" okSim=$okSim okSubset=$okSubset okInCap=$okInCap")
        okSim && okSubset && okInCap
      }
      val r = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(6).withWorkers(1), prop)
      assert(r.passed, r.status.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("timer-finalized sessions flush when the watermark passes the gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      val ms = MemoryStream[(Long, java.sql.Timestamp)]
      val q = graft.streaming.Stateful.sessions(
          ms.toDF().toDF("k", "ts").withWatermark("ts", "0 seconds"),
          "k", "ts", gapSec = 10)
        .writeStream.format("memory").queryName("sess").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_sess").toString)
        .start()
      ms.addData((1L, ts(1)), (1L, ts(2)))       // session 1: 1..2
      q.processAllAvailable()
      ms.addData((1L, ts(100)))                  // watermark -> 100; gap passed
      q.processAllAvailable()
      ms.addData((2L, ts(300)))                  // watermark -> 300; flush user 1's 2nd
      q.processAllAvailable()
      q.stop()
      val got = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3)))
        .toSet
      assert(got.contains((1L, 1L, 2L, 2L)), s"first session missing: $got")
      assert(got.contains((1L, 100L, 100L, 1L)), s"second session missing: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("timer sessions survive a within-gap LATE event across batches") {
    // A late event above the watermark but earlier than the recorded
    // session end (even earlier than the recorded START) must not
    // strand the session: the timer stays at end+gap, and session_start
    // reflects the earliest observed event.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      val ms = MemoryStream[(Long, java.sql.Timestamp)]
      val q = graft.streaming.Stateful.sessions(
          ms.toDF().toDF("k", "ts").withWatermark("ts", "30 seconds"),
          "k", "ts", gapSec = 10)
        .writeStream.format("memory").queryName("sess_late").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_sess_late").toString)
        .start()
      ms.addData((1L, ts(40)))   // session opens: [40, 40], wm -> 10
      q.processAllAvailable()
      ms.addData((1L, ts(35)))   // LATE within gap (40-35=5 <= 10), above wm
      q.processAllAvailable()
      ms.addData((2L, ts(100)))  // wm -> 70; key 1's timer at 50 must fire
      q.processAllAvailable()
      q.stop()
      val got = spark.table("sess_late").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3)))
        .toSet
      assert(got.contains((1L, 35L, 40L, 2L)),
        s"late-extended session must flush with earliest start: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("timer sessions: late event older than start-gap opens its OWN earlier session") {
    // Session-window semantics: a late event above the watermark but more
    // than `gap` BEFORE the open session's start must NOT merge into it
    // (the old single-slot guard `ts - l <= gap` was vacuously true for
    // any late event and dragged session_start arbitrarily far back).
    // It opens a separate earlier session — and a still-later event
    // within gap of THAT session merges into it, not the newer one.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      val ms = MemoryStream[(Long, java.sql.Timestamp)]
      val q = graft.streaming.Stateful.sessions(
          ms.toDF().toDF("k", "ts").withWatermark("ts", "30 seconds"),
          "k", "ts", gapSec = 10)
        .writeStream.format("memory").queryName("sess_earlier").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_sess_earlier").toString)
        .start()
      ms.addData((1L, ts(40)))   // session opens [40, 40]; wm -> 10
      q.processAllAvailable()
      ms.addData((1L, ts(15)))   // LATE, above wm=10, but 40-15 > gap: own session
      q.processAllAvailable()
      ms.addData((1L, ts(20)))   // late again; within gap of the EARLIER session
      q.processAllAvailable()
      ms.addData((2L, ts(100)))  // wm -> 70: flush both of key 1's sessions
      q.processAllAvailable()
      q.stop()
      val got = spark.table("sess_earlier").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3)))
        .toSet
      assert(got.contains((1L, 15L, 20L, 2L)),
        s"earlier session [15,20] with 2 events must flush separately: $got")
      assert(got.contains((1L, 40L, 40L, 1L)),
        s"original session [40,40] must stay un-merged: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("property: streamed timer sessions equal batch sessionization (random lateness + batching)") {
    // ScalaCheck over random event sets, random within-watermark lateness
    // (arrival order = ts + jitter, jitter < watermark delay, which
    // guarantees nothing is ever dropped), and random batch cut points.
    // For every generated scenario, the flushed session rows must equal
    // the batch gap-sessionization of the same events (q35 semantics:
    // merge iff within `gap`, inclusive).
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gapSec = 10L
    def batchSessions(evs: Seq[(Long, Long)]): Set[(Long, Long, Long, Long)] =
      evs.groupBy(_._1).flatMap { case (k, es) =>
        val sess = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
        for (t <- es.map(_._2).sorted) {
          if (sess.nonEmpty && t - sess.last._2 <= gapSec) {
            val (s, _, c) = sess.remove(sess.length - 1); sess += ((s, t, c + 1))
          } else sess += ((t, t, 1L))
        }
        sess.map { case (s, l, c) => (k, s, l, c) }
      }.toSet
    val genCase = for {
      n    <- Gen.choose(5, 40)
      evs  <- Gen.listOfN(n, for {
                k  <- Gen.choose(1L, 3L)
                // ts >= 1: an event at ts == 0 equals the INITIAL watermark
                // and Spark's late-record filter drops ts <= wm rows; every
                // later arrival has ts strictly above the wm by construction
                t  <- Gen.choose(1L, 180L)
                j  <- Gen.choose(0L, 29L) // strictly < 30s delay: never dropped
              } yield (k, t, t + j))
      cuts <- Gen.listOf(Gen.choose(0, n))
    } yield (evs, cuts)
    val trial = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val prop = Prop.forAll(genCase) { case (evs, cuts) =>
        def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
        val arrival = evs.sortBy(e => (e._3, e._2, e._1))
        val bounds = (cuts.toSet + 0 + arrival.length).toSeq.sorted
        val batches = bounds.zip(bounds.tail)
          .map { case (a, b) => arrival.slice(a, b) }.filter(_.nonEmpty)
        val qn = s"sess_prop_${trial.incrementAndGet()}"
        val ms = MemoryStream[(Long, java.sql.Timestamp)]
        val q = graft.streaming.Stateful.sessions(
            ms.toDF().toDF("k", "ts").withWatermark("ts", "30 seconds"),
            "k", "ts", gapSec = gapSec)
          .writeStream.format("memory").queryName(qn).outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(qn).toString)
          .start()
        batches.foreach { b =>
          ms.addData(b.map(e => (e._1, ts(e._2))): _*)
          q.processAllAvailable()
        }
        // sentinel pushes wm past every end+gap so all sessions flush
        ms.addData((999L, ts(400L)))
        q.processAllAvailable()
        q.stop()
        val got = spark.table(qn).collect()
          .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3)))
          .filter(_._1 != 999L).toSet
        val want = batchSessions(evs.map(e => (e._1, e._2)))
        if (got != want)
          println(s"MISMATCH evs=$evs cuts=$cuts got=$got want=$want")
        got == want
      }
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10)
        .withWorkers(1), prop)
      assert(r.passed, r.status.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming heavy hitters: exact under capacity, MG guarantee over it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, String)]
      val q = graft.streaming.Stateful.heavyHitters(
          ms.toDF().toDF("k", "v"), "k", "v", capacity = 3)
        .writeStream.format("memory").queryName("hh").outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_hh").toString)
        .start()
      // key 1: 3 distinct values across two batches -> EXACT counts
      ms.addData((1L, "a"), (1L, "a"), (1L, "b"))
      q.processAllAvailable()
      ms.addData((1L, "a"), (1L, "b"), (1L, "c"))
      q.processAllAvailable()
      // key 2: 5 distinct over capacity 3; "hot" has frequency 6 of 10
      // total -> guaranteed present with count_min >= 6 - max_err
      ms.addData((2L, "hot"), (2L, "hot"), (2L, "x1"), (2L, "hot"), (2L, "x2"))
      q.processAllAvailable()
      // Update-mode memory sink accumulates rows — an EVICTED value's old
      // row never gets overwritten, so "latest per value" misreads the
      // sketch. The current sketch per key is exactly the rows the FINAL
      // batch emits: slice by the pre-batch row count.
      val before = spark.table("hh").count().toInt
      ms.addData((2L, "hot"), (2L, "x3"), (2L, "hot"), (2L, "x4"), (2L, "hot"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("hh").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val k1rows = rows.filter(_._1 == 1L)
      val k1 = k1rows.zipWithIndex.groupBy(_._1._2)
        .map { case (_, vs) => val t = vs.maxBy(_._2)._1; t._2 -> (t._3, t._4) }
      assert(k1 == Map("a" -> (3L, 0L), "b" -> (2L, 0L), "c" -> (1L, 0L)),
        s"under capacity the sketch is exact: $k1")
      val k2 = rows.drop(before).filter(_._1 == 2L)
        .map(t => t._2 -> (t._3, t._4)).toMap
      assert(k2.contains("hot"), s"frequency 6/10 > N/(cap+1)=2.5 must survive: $k2")
      val (cm, me) = k2("hot")
      assert(cm <= 6L && cm + me >= 6L,
        s"count_min <= true <= count_min + max_err violated: cm=$cm err=$me")
      assert(k2.size <= 3, s"state bounded by capacity: $k2")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("StreamHeavyHitters DSL surface chains from mockStream") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Seq(
        """{"user_id":1,"event_type":"view"}""",
        """{"user_id":1,"event_type":"view"}""",
        """{"user_id":1,"event_type":"click"}""").mkString("\n")
      val ctx = ScriptRunner.run(
        s"""set streamName = "hhd";
           |set hhdata = '''$rows''';
           |load jsonStr.`hhdata` as hh_batch;
           |load mockStream.`hh_batch` as hh_stream;
           |run hh_stream as StreamHeavyHitters.`` where capacity="4" as hh_top;
           |save append hh_top as memory.`` where mode="update"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_hhd")}"
           |  and duration="0";""".stripMargin, spark)
      val q = ctx.streams("hhd")
      q.processAllAvailable()
      q.stop()
      val got = spark.table("hhd").collect()
        .map(r => (r.getString(1), r.getLong(2))).toSet
      assert(got == Set(("view", 2L), ("click", 1L)), s"got $got")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("StreamSessions DSL surface: watermark ET chains into timer sessions") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Seq(
        """{"user_id":1,"ts":"2026-01-01 00:00:01"}""",
        """{"user_id":1,"ts":"2026-01-01 00:00:02"}""",
        """{"user_id":1,"ts":"2026-01-01 01:00:00"}""",
        """{"user_id":2,"ts":"2026-01-01 09:00:00"}""").mkString("\n")
      val ctx = ScriptRunner.run(
        s"""set streamName = "ssd";
           |set ssdata = '''$rows''';
           |load jsonStr.`ssdata` as ss_batch;
           |select user_id, cast(ts as timestamp) as ts from ss_batch as ss_b2;
           |load mockStream.`ss_b2` as ss_stream;
           |run ss_stream as WaterMarkInPlace.`` where eventTimeCol="ts"
           |  and delayThreshold="0 seconds" as ss_wm;
           |run ss_wm as StreamSessions.`` where gapSec="10" as ss_sess;
           |save append ss_sess as memory.`` where mode="append"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_ssd")}"
           |  and duration="0";""".stripMargin, spark)
      val q = ctx.streams("ssd")
      q.processAllAvailable()
      q.stop()
      // single batch: only the IN-BATCH gap closure emits (1..2s session);
      // later sessions await watermark advance in subsequent batches
      val got = spark.table("ssd").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got.contains((1L, 2L)), s"in-batch closed session missing: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming funnel matches the batch operator on an in-order stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // same fixture shape as FunnelSpec, split mid-user across batches
    val all = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      (2L, ts(1), "click"), (2L, ts(2), "view"), (2L, ts(5), "click"),
      (3L, ts(1), "view"), (5L, ts(3), "click"), (5L, ts(5), "view"),
      (6L, ts(1), "view"), (6L, ts(1), "click"))
    val (b1, b2) = all.splitAt(5)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Stateful.funnelProgress(
        ms.toDF().toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("sfun").outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_sfun").toString)
      .start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sfun").groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("depth").as("depth"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = graft.operators.temporal.Funnel.analyze(
        all.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(r.length - 1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(batch == Map(1L -> 3, 2L -> 2, 3L -> 1, 5L -> 1, 6L -> 1))
  }

  test("streaming EWMA anomaly detector flags the spike and only the spike") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Stateful.ewmaAnomalies(
        ms.toDF().toDF("k", "ts", "v"), "k", "ts", "v",
        alpha = 0.3, k = 4.0, warmup = 5)
      .writeStream.format("memory").queryName("anom").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_anom").toString)
      .start()
    // noisy-but-stable warmup across two batches, then a spike
    val base = (1 to 12).map(i =>
      (1L, ts(i), 10.0 + (if (i % 2 == 0) 0.5 else -0.5)))
    ms.addData(base.take(6)); q.processAllAvailable()
    ms.addData(base.drop(6) :+ ((1L, ts(13), 50.0)) :+ ((1L, ts(14), 10.0)))
    q.processAllAvailable()
    q.stop()
    val alerts = spark.table("anom").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(5)))
    assert(alerts.length == 1, s"expected one alert, got ${alerts.mkString(";")}")
    val (ats, av, az) = alerts.head
    assert(ats == 13L * 1000000L && av == 50.0 && az > 4.0)
  }

  test("streaming CUSUM alarms equal the batch closed form across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = Stateful.cusumAlarms(
        ms.toDF().toDF("k", "ts", "v"), "k", "ts", "v",
        target = 10.0, slack = 1.0, threshold = 5.0)
      .writeStream.format("memory").queryName("scusum").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_scusum").toString)
      .start()
    // stable around the target, then a small persistent +3 drift that
    // no single point would flag — split across two batches so the
    // (s+, s-) state must survive the batch boundary
    val rows = (1 to 6).map(i => ("a", ts(i), if (i % 2 == 0) 10.5 else 9.5)) ++
      (7 to 12).map(i => ("a", ts(i), 13.0))
    ms.addData(rows.take(8)); q.processAllAvailable()
    ms.addData(rows.drop(8)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scusum").collect()
      .map(r => (r.getLong(1), r.getDouble(2),
        math.round(r.getDouble(3) * 100) / 100.0)).sortBy(_._1).toSeq
    val batch = graft.operators.temporal.Cusum.alarms(
        rows.toDF("k", "ts", "v"), "k", "ts", "ts", "v",
        target = 10.0, slack = 1.0, threshold = 5.0)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Double]("x"), r.getAs[Double]("s_pos"))).sortBy(_._1.getTime)
      .map(t => (t._1.getTime * 1000L, t._2, t._3)).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty && streamed.forall(_._2 == 13.0))
  }

  test("StreamAnomaly DSL surface emits alert rows through the script runner") {
    val rows = ((1 to 8).map(i =>
      s"""{"user_id":1,"ts":"2026-01-01 00:00:0$i","v":${if (i % 2 == 0) 10.5 else 9.5}}""") :+
      s"""{"user_id":1,"ts":"2026-01-01 00:00:09","v":99.0}""").mkString("\n")
    val ctx = ScriptRunner.run(
      s"""set streamName = "sa1";
         |set sadata = '''$rows''';
         |load jsonStr.`sadata` as sa_batch;
         |select user_id, cast(ts as timestamp) as ts, v as value
         |from sa_batch as sa_b2;
         |load mockStream.`sa_b2` as sa_stream;
         |run sa_stream as StreamAnomaly.`` where alpha="0.3" and k="4"
         |  and warmup="5" as sa_al;
         |save append sa_al as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_sa")}"
         |  and duration="0";""".stripMargin, spark)
    val q = ctx.streams("sa1")
    q.processAllAvailable()
    q.stop()
    val alerts = spark.table("sa1").collect()
    assert(alerts.length == 1 && alerts.head.getDouble(2) == 99.0,
      alerts.mkString(";"))
  }

  test("StreamFunnel DSL surface tracks per-user steps in update mode") {
    val rows = Seq(
      """{"user_id":1,"ts":"2026-01-01 00:00:01","event_type":"view"}""",
      """{"user_id":1,"ts":"2026-01-01 00:00:02","event_type":"click"}""",
      """{"user_id":2,"ts":"2026-01-01 00:00:03","event_type":"view"}""").mkString("\n")
    val ctx = ScriptRunner.run(
      s"""set streamName = "sfdsl";
         |set sfdata = '''$rows''';
         |load jsonStr.`sfdata` as sf_batch;
         |select user_id, cast(ts as timestamp) as ts, event_type
         |from sf_batch as sf_b2;
         |load mockStream.`sf_b2` as sf_stream;
         |run sf_stream as StreamFunnel.`` where steps="view,click" as sf_fun;
         |save append sf_fun as memory.`` where mode="update"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_sfd")}"
         |  and duration="0";""".stripMargin, spark)
    val q = ctx.streams("sfdsl")
    q.processAllAvailable()
    q.stop()
    val depths = spark.table("sfdsl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(depths == Map(1L -> 2, 2L -> 1), depths.toString)
  }

  test("StreamCooccur DSL surface emits cross-batch pairs in append mode") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Seq(
        """{"bk":1,"i":10}""", """{"bk":1,"i":20}""",
        """{"bk":2,"i":10}""", """{"bk":2,"i":20}""",
        """{"bk":1,"i":30}""").mkString("\n")
      val ctx = ScriptRunner.run(
        s"""set streamName = "scodsl";
           |set scodata = '''$rows''';
           |load jsonStr.`scodata` as sco_batch;
           |load mockStream.`sco_batch` as sco_stream;
           |run sco_stream as StreamCooccur.`` where basketCol="bk" and itemCol="i" as sco_pairs;
           |save append sco_pairs as memory.`` where mode="append"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_scod")}"
           |  and duration="0";""".stripMargin, spark)
      val q = ctx.streams("scodsl")
      q.processAllAvailable()
      q.stop()
      val weights = spark.table("scodsl").groupBy("a", "b")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(weights == Map((10L, 20L) -> 2L, (20L, 10L) -> 2L,
        (10L, 30L) -> 1L, (30L, 10L) -> 1L, (20L, 30L) -> 1L, (30L, 20L) -> 1L),
        weights.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("StreamHammingScreen DSL surface screens cross-batch near-dups in append mode") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // m1/m2 one bit apart; x far from both — jsonStr longs round-trip
      val rows = Seq(
        """{"id":"m1","h":4096}""", """{"id":"x","h":-6148914691236517206}""",
        """{"id":"m2","h":4097}""").mkString("\n")
      val ctx = ScriptRunner.run(
        s"""set streamName = "hsdsl";
           |set hsdata = '''$rows''';
           |load jsonStr.`hsdata` as hs_batch;
           |load mockStream.`hs_batch` as hs_stream;
           |run hs_stream as StreamHammingScreen.`` where idCol="id" and hashCol="h"
           |  and maxHamming="4" as hs_pairs;
           |save append hs_pairs as memory.`` where mode="append"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_hsd")}"
           |  and duration="0";""".stripMargin, spark)
      val q = ctx.streams("hsdsl")
      q.processAllAvailable()
      q.stop()
      val got = spark.table("hsdsl")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == Set(("m1", "m2", 1)), got.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("statestore source reads a stopped query's state through the DSL") {
    // stateful agg -> checkpoint; then `load statestore.` introspects the
    // state (Spark 4 state reader through the registry's format fallback)
    val ck = java.nio.file.Files.createTempDirectory("ck_ss").toString
    val ctx = ScriptRunner.run(
      s"""set streamName = "ss1";
         |load parquet.`$sf/region.parquet` as r_ss;
         |load mockStream.`r_ss` as r_sss;
         |select r_regionkey % 2 as k, count(*) as n from r_sss group by r_regionkey % 2 as agg_ss;
         |save append agg_ss as memory.`` where mode="complete"
         |  and checkpointLocation="$ck";""".stripMargin,
      spark)
    val q = ctx.streams("ss1")
    q.processAllAvailable(); q.stop()
    val state = ScriptRunner.runToDF(
      s"""load statestore.`$ck` as st;
         |select key.`_groupingexpression` as k, value.count as n
         |from st as state_rows;""".stripMargin, spark)
      .collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    // 5 regions: keys 0,1,2,3,4 -> k=0 {0,2,4}, k=1 {1,3}
    assert(state == Map(0L -> 3L, 1L -> 2L))
    // state-metadata companion format lists the stateful operator
    val meta = ScriptRunner.runToDF(
      s"""load state-metadata.`$ck` as sm;
         |select operatorName from sm as meta_rows;""".stripMargin, spark)
      .collect().map(_.getString(0))
    assert(meta.contains("stateStoreSave"))
  }

  test("streaming dropDuplicates with watermark dedupes across batches") {
    val ctx = ScriptRunner.run(
      s"""set streamName = "s7";
         |load parquet.`$sf/events.parquet` as ev7_raw;
         |select cast(ts as timestamp) as ts, event_id % 100 as dup_key from ev7_raw as ev7_b;
         |load mockStream.`ev7_b` where eventTimeCol="ts" and delayThreshold="1 hour" as ev7_s;""".stripMargin,
      spark)
    // dropDuplicates is a Dataset op; drive it directly over the stream view
    val deduped = spark.table("ev7_s").dropDuplicates("dup_key")
    val q = deduped.writeStream.format("memory").queryName("s7dd")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_s7").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val n = spark.table("s7dd").count()
    assert(n == spark.table("ev7_b").select("dup_key").distinct().count())
  }

  test("stream-stream inner join with watermarks") {
    val ctx = ScriptRunner.run(
      s"""load parquet.`$sf/events.parquet` as ev8_raw;
         |select cast(ts as timestamp) as ts, user_id, event_id from ev8_raw as ev8_b;
         |load mockStream.`ev8_b` where eventTimeCol="ts" and delayThreshold="1 hour" as ev8_left;
         |load mockStream.`ev8_b` where eventTimeCol="ts" and delayThreshold="1 hour" as ev8_right;""".stripMargin,
      spark)
    val l = spark.table("ev8_left").select(col("user_id"), col("ts").as("lts"), col("event_id").as("lid"))
    val r = spark.table("ev8_right").select(col("user_id").as("r_user"), col("ts").as("rts"), col("event_id").as("rid"))
    val joined = l.join(r, l("user_id") === r("r_user") && l("lid") === r("rid"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_ssj").toString)
      .start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("ssj").count() == spark.table("ev8_b").count())
  }

  test("streamJDBC sink end-to-end on embedded Derby: keyed upsert absorbs full re-delivery") {
    // upgraded from the r13 wiring-only test (which could only prove the
    // failure happened inside the batch write): the foreach sink now
    // drives a REAL database. Re-running the whole stream with a fresh
    // checkpoint replays every batch — foreachBatch is at-least-once —
    // and the idCol upsert (Derby: the update-then-insert fallback) must
    // absorb it; the PRIMARY KEY proves no duplicate insert slipped by.
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_stream").toFile
    dbDir.delete()
    val url = s"jdbc:derby:${dbDir.getAbsolutePath};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(
      """CREATE TABLE ST ("k" BIGINT PRIMARY KEY, "v" VARCHAR(32))""")
    finally conn.close()
    def runStream(ck: String): Unit = {
      val ctx = ScriptRunner.run(
        s"""set streamName = "sjd";
           |set sjdata = '''{"k":1,"v":"a"}
           |{"k":2,"v":"b"}
           |{"k":3,"v":"c"}''';
           |load jsonStr.`sjdata` as sj_batch;
           |load mockStream.`sj_batch` as sj_stream;
           |save append sj_stream as streamJDBC.`` where mode="append"
           |  and url="$url" and dbtable="ST" and idCol="k"
           |  and checkpointLocation="$ck";""".stripMargin, spark)
      val q = ctx.streams("sjd")
      try q.processAllAvailable() finally q.stop()
    }
    def readBack(): Seq[(Long, String)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("""SELECT "k", "v" FROM ST ORDER BY "k"""")
        val out = scala.collection.mutable.ListBuffer.empty[(Long, String)]
        while (rs.next()) out += ((rs.getLong(1), rs.getString(2)))
        out.toSeq
      } finally c.close()
    }
    runStream(java.nio.file.Files.createTempDirectory("ck_sjd").toString)
    assert(readBack() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // fresh checkpoint => the source replays everything; same table after
    runStream(java.nio.file.Files.createTempDirectory("ck_sjd2").toString)
    assert(readBack() == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "re-delivered batch must upsert, not duplicate")
  }

  test("rate source loads as a streaming frame") {
    val ctx = ScriptRunner.run(
      """load rate.`` where rowsPerSecond="5" as r_rate;""", spark)
    assert(spark.table("r_rate").isStreaming)
  }

  test("per-row cleaning ETs compose with a stream (PII scrub + repetition on ingest)") {
    // the streaming-ingest shape of the corpus-cleaning pipeline: purely
    // per-row ETs must apply to an unbounded frame with no extra plan
    // surgery — this is how the 100 TB pipeline filters at ingest instead
    // of re-scanning the corpus later
    val ctx = ScriptRunner.run(
      s"""set streamName = "cleanstream";
         |set cs = '''{"doc_id":1,"text":"mail bob@x.org spam spam spam spam spam"}
         |{"doc_id":2,"text":"regular words only here nothing repeats"}''';
         |load jsonStr.`cs` as cs_batch;
         |load mockStream.`cs_batch` as cs_stream;
         |run cs_stream as PiiScrubInPlace.`` as cs_scrubbed;
         |run cs_scrubbed as RepetitionInPlace.`` as cs_stats;
         |save append cs_stats as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_cl")}";""".stripMargin,
      spark)
    val q = ctx.streams("cleanstream")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cleanstream")
      .select("doc_id", "n_emails", "text_scrubbed", "is_repetitive")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) == 1L)
    assert(rows(1L).getString(2).contains("<EMAIL>"))
    assert(rows(1L).getBoolean(3)) // 'spam spam spam ...' repeats
    assert(rows(2L).getLong(1) == 0L && !rows(2L).getBoolean(3))
  }

  test("streaming CorpusStats: exactly-once stats maintenance via foreachBatch batchId") {
    // the streaming face of incremental corpus statistics: each
    // micro-batch folds into the vparquet stats store keyed by its
    // batchId, so Structured Streaming's at-least-once foreachBatch
    // redelivery cannot double-count (the store's txn watermark absorbs
    // replays — same mechanism the CorpusStatsSpec no-op test pins)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.{Dataset, Row}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("cstats_stream")
      .toString + "/state"
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "lang").writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.operators.stats.CorpusStats.update(batch.toDF(),
          Seq("doc_id", "lang"), state, Some(s"stream-$batchId"))
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_cstats").toString)
      .start()
    in.addData((1L, "en"), (2L, "de"))
    q.processAllAvailable()
    in.addData((3L, "en"))
    q.processAllAvailable()
    q.stop()
    val out = graft.operators.stats.CorpusStats.summary(spark, state)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out("doc_id") == ((3L, 3L)))
    assert(out("lang") == ((3L, 2L)))
  }

  test("index-on-ingest: streaming Bm25Index stays exactly-once under full re-delivery") {
    // the streaming face of the incremental retrieval index: each
    // micro-batch appends postings + stats under a (txnAppId, batchId)
    // marker, so at-least-once foreachBatch redelivery — including a
    // fresh-checkpoint FULL replay — cannot double-count a document
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.{Dataset, Row}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bm25_stream")
      .toString + "/idx"
    def ingestRun(data: Seq[Seq[(Long, String)]]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          graft.operators.text.Bm25Index.ingest(batch.toDF(), "doc_id", "text",
            idx, txn = Some(batchId), txnAppId = Some("bm25stream"))
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck_bm25s").toString)
        .start()
      data.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
    }
    val b1 = Seq((1L, "apple banana"), (2L, "banana cherry"))
    val b2 = Seq((3L, "apple apple date"))
    ingestRun(Seq(b1, b2))
    val queries = Seq((1L, "apple")).toDF("qid", "qtext")
    def hits() = graft.operators.text.Bm25Index
      .topK(spark, idx, queries, "qid", "qtext", k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy(_._1).toSeq
    val first = hits()
    assert(first.map(_._1) == Seq(1L, 3L), s"apple lives in docs 1 and 3: $first")
    // fresh checkpoint => Structured Streaming replays batches 0..1 from
    // scratch; the per-table txn ledger must absorb every one of them
    ingestRun(Seq(b1, b2))
    assert(hits() == first, "full re-delivery must not change one score bit")
  }

  test("StreamCusum DSL surface emits drift alarms through the script runner") {
    val rows = ((1 to 6).map(i =>
      s"""{"k":"a","ts":"2026-01-01 00:00:0$i","v":${if (i % 2 == 0) 10.5 else 9.5}}""") ++
      (7 to 9).map(i =>
        s"""{"k":"a","ts":"2026-01-01 00:00:0$i","v":14.0}""")).mkString("\n")
    val ctx = ScriptRunner.run(
      s"""set streamName = "scu1";
         |set scudata = '''$rows''';
         |load jsonStr.`scudata` as scu_batch;
         |select k, cast(ts as timestamp) as ts, v as value from scu_batch as scu_b2;
         |load mockStream.`scu_b2` as scu_stream;
         |run scu_stream as StreamCusum.`` where keyCol="k" and target="10"
         |  and slack="1" and threshold="5" as scu_al;
         |save append scu_al as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_scu")}"
         |  and duration="0";""".stripMargin, spark)
    val q = ctx.streams("scu1")
    q.processAllAvailable()
    q.stop()
    // +3 drift from t=7: s+ = 3, 6, 9 -> alarms at t=8 and t=9
    val alerts = spark.table("scu1").collect()
      .map(r => (r.getLong(1) / 1000000L, r.getDouble(3))).sorted
    assert(alerts.toSeq.map(_._2) == Seq(6.0, 9.0), alerts.mkString(";"))
  }

  test("chunk-on-ingest: DocChunk generator composes with a stream") {
    // chunking is a per-row GENERATE (posexplode of a computed array):
    // legal on an unbounded frame with no watermark/state, so the 100 TB
    // pipeline can chunk at ingest rather than re-scan the corpus later
    val ctx = ScriptRunner.run(
      s"""set streamName = "chunkstream";
         |set dc = '''{"doc_id":1,"text":"abcdefghijklmnopqrstuvwxyz"}
         |{"doc_id":2,"text":"0123456789"}
         |{"doc_id":3,"text":""}''';
         |load jsonStr.`dc` as dc_batch;
         |load mockStream.`dc_batch` as dc_stream;
         |run dc_stream as DocChunk.`` where size="10" and overlap="2" as dc_chunks;
         |save append dc_chunks as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_dc")}";""".stripMargin,
      spark)
    val q = ctx.streams("chunkstream")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chunkstream")
      .select("doc_id", "chunk_id", "chunk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(rows.toSeq == Seq(
      (1L, 0, "abcdefghij"), (1L, 1, "ijklmnopqr"), (1L, 2, "qrstuvwxyz"),
      (1L, 3, "yz"), (2L, 0, "0123456789"), (2L, 1, "89")),
      "stride-8 windows per doc; the empty doc 3 yields no chunks")
  }

  test("incremental curation: change feed -> Gopher filter -> keyed curated table, exactly-once") {
    // the 100 TB curation posture is INCREMENTAL: each ingest commit's new
    // docs are scored as they arrive (change-feed source), only survivors
    // reach the curated table, and the keyed merge sink absorbs
    // re-deliveries — no full-corpus re-scan, ever
    val src = java.nio.file.Files.createTempDirectory("cur_src").resolve("t").toString
    val curated = java.nio.file.Files.createTempDirectory("cur_out").resolve("t").toString
    // mean_word_len must land in [3,10] and ≥2 stopword hits to pass
    val passing1 = "the cats and the dogs sat with the big red foxes"
    val failing1 = "tiny doc" // n_words < 5
    val passing2 = "the birds and the bees fly with the tall green trees"
    def commit(mode: String, rows: String): Unit = ScriptRunner.runToDF(
      s"""set curdata = '''$rows''';
         |load jsonStr.`curdata` as cur_in;
         |save $mode cur_in as vparquet.`$src`;""".stripMargin, spark)
    commit("overwrite", s"""{"doc_id":1,"text":"$passing1"}
                           |{"doc_id":2,"text":"$failing1"}""".stripMargin)
    def runCuration(ck: String): Unit = {
      val ctx = ScriptRunner.run(
        s"""set streamName = "curstream";
           |load vparquet.`$src` where startingVersion="0" as cur_feed;
           |run cur_feed as GopherRules.`` where mode="filter" and minWords="5"
           |  as cur_pass;
           |save append cur_pass as upsertParquet.`$curated` where mode="append"
           |  and idCols="doc_id" and checkpointLocation="$ck";""".stripMargin, spark)
      val q = ctx.streams("curstream")
      try q.processAllAvailable() finally q.stop()
    }
    val ck = java.nio.file.Files.createTempDirectory("ck_cur").toString
    runCuration(ck)
    def curatedIds(): Seq[Long] = ScriptRunner.runToDF(
      s"""load vparquet.`$curated` as cur_back;
         |select doc_id from cur_back order by doc_id as out;""".stripMargin, spark)
      .collect().map(_.getLong(0)).toSeq
    assert(curatedIds() == Seq(1L), "batch 1: only the passing doc is curated")
    // second ingest commit while the stream is down; resume curates ONLY it
    commit("append", s"""{"doc_id":3,"text":"$passing2"}
                        |{"doc_id":4,"text":"nope"}""".stripMargin)
    runCuration(ck)
    assert(curatedIds() == Seq(1L, 3L), "batch 2: new passing doc appended once")
    // full re-delivery (fresh checkpoint replays versions 0..n): the keyed
    // merge absorbs it — same curated content, no duplicates
    runCuration(java.nio.file.Files.createTempDirectory("ck_cur2").toString)
    assert(curatedIds() == Seq(1L, 3L), "re-delivery is idempotent")
  }

  test("streaming boilerplate strip: frozen frequent-line set applied per micro-batch") {
    // the frozen-set posture at 100 TB: the frequent-line set is computed
    // ONCE on the historical corpus (one batch job), persisted, and every
    // ingest micro-batch strips against it as a pure projection — no
    // per-batch frequency recount, no stream-side shuffle
    val src = java.nio.file.Files.createTempDirectory("bp_src").resolve("t").toString
    val curated = java.nio.file.Files.createTempDirectory("bp_out").resolve("t").toString
    val chrome = "SUBSCRIBE TO OUR NEWSLETTER NOW"
    def doc(id: Long, body: String) =
      s"""{"doc_id":$id,"text":"$chrome\\n$body"}"""
    ScriptRunner.runToDF(
      s"""set bpdata = '''${doc(1, "historic body one")}
         |${doc(2, "historic body two")}
         |${doc(3, "historic body three")}''';
         |load jsonStr.`bpdata` as bp_hist_in;
         |save overwrite bp_hist_in as vparquet.`$src`;
         |load vparquet.`$src` as bp_hist;
         |run bp_hist as BoilerplateClean.`` where mode="frequent" and minDocs="3"
         |  as bp_frozen;
         |select * from bp_frozen as bp_frozen;""".stripMargin, spark)
    // new doc arrives AFTER the set was frozen; the stream replays all
    val ctx = ScriptRunner.run(
      s"""set bpdata2 = '''${doc(4, "fresh body four")}''';
         |load jsonStr.`bpdata2` as bp_new;
         |save append bp_new as vparquet.`$src`;
         |set streamName = "bpstream";
         |load vparquet.`$src` where startingVersion="0" as bp_feed;
         |run bp_feed as BoilerplateClean.`` where mode="strip"
         |  and frozenTable="bp_frozen" as bp_clean;
         |save append bp_clean as upsertParquet.`$curated` where mode="append"
         |  and idCols="doc_id" and checkpointLocation="${
           java.nio.file.Files.createTempDirectory("ck_bp")}";""".stripMargin, spark)
    val q = ctx.streams("bpstream")
    try q.processAllAvailable() finally q.stop()
    val out = ScriptRunner.runToDF(
      s"""load vparquet.`$curated` as bp_back;
         |select doc_id, text_clean, n_kept from bp_back order by doc_id as out;""".stripMargin,
      spark).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.forall(r => !r._2.contains(chrome) && r._3 == 1L),
      out.mkString("; "))
    assert(out.find(_._1 == 4L).get._2 == "fresh body four")
  }

  test("streaming web curation end-to-end: change feed -> strip -> dedupDoc -> C4 -> curated, exactly-once") {
    // the s31 batch battery in micro-batch form: every stage after the
    // frozen-set computation is a pure projection, so the whole curation
    // chain rides the change feed with no stream-side shuffle; the keyed
    // sink absorbs re-delivery (fresh-checkpoint replay => same table)
    val src = java.nio.file.Files.createTempDirectory("wc_src").resolve("t").toString
    val curated = java.nio.file.Files.createTempDirectory("wc_out").resolve("t").toString
    val chrome = "SUBSCRIBE TO OUR NEWSLETTER NOW TODAY"
    val good1 = "The quick brown fox jumps over the lazy dog."
    val good2 = "Another good sentence with enough words here."
    def doc(id: Long, lines: String*) =
      s"""{"doc_id":$id,"text":"${(chrome +: lines).mkString("\\n")}"}"""
    ScriptRunner.runToDF(
      s"""set wcdata = '''${doc(1, good1, good1, good2)}
         |${doc(2, "tiny bits")}
         |${doc(3, "Curly braces { are code not prose always.")}''';
         |load jsonStr.`wcdata` as wc_hist_in;
         |save overwrite wc_hist_in as vparquet.`$src`;
         |load vparquet.`$src` as wc_hist;
         |run wc_hist as BoilerplateClean.`` where mode="frequent" and minDocs="3"
         |  as wc_frozen;
         |select * from wc_frozen as wc_frozen;""".stripMargin, spark)
    // a fresh doc lands AFTER the freeze; the stream replays all commits
    def runCuration(ck: String): Unit = {
      val ctx = ScriptRunner.run(
        s"""set streamName = "wcstream";
           |load vparquet.`$src` where startingVersion="0" as wc_feed;
           |run wc_feed as BoilerplateClean.`` where mode="strip"
           |  and frozenTable="wc_frozen" as wc_nb;
           |select doc_id, text_clean as text from wc_nb as wc_nb2;
           |run wc_nb2 as BoilerplateClean.`` where mode="dedupDoc" as wc_dd;
           |select doc_id, text_dedup as text from wc_dd as wc_dd2;
           |run wc_dd2 as C4Rules.`` where minSentences="2" as wc_c4;
           |save append wc_c4 as upsertParquet.`$curated` where mode="append"
           |  and idCols="doc_id" and checkpointLocation="$ck";""".stripMargin, spark)
      val q = ctx.streams("wcstream")
      try q.processAllAvailable() finally q.stop()
    }
    runCuration(java.nio.file.Files.createTempDirectory("ck_wc").toString)
    ScriptRunner.runToDF(
      s"""set wcdata2 = '''${doc(4,
             "Fresh streaming sentences arrive with plenty of words.",
             "They also end with proper punctuation marks today.")}''';
         |load jsonStr.`wcdata2` as wc_new;
         |save append wc_new as vparquet.`$src`;""".stripMargin, spark)
    runCuration(java.nio.file.Files.createTempDirectory("ck_wc2").toString)
    def readBack(): Map[Long, (String, Long, Boolean)] = ScriptRunner.runToDF(
      s"""load vparquet.`$curated` as wc_back;
         |select doc_id, text_c4, n_kept, c4_pass from wc_back
         |order by doc_id as out;""".stripMargin, spark)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val out = readBack()
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // doc 1: chrome stripped, duplicate line deduped, both sentences kept
    assert(out(1L) == ((s"$good1\n$good2", 2L, true)), out(1L))
    // doc 2: nothing survives the line rules -> C4 fail
    assert(out(2L)._2 == 0L && !out(2L)._3, out(2L))
    // doc 3: line survives but the blocked phrase kills the doc
    assert(out(3L)._2 == 1L && !out(3L)._3, out(3L))
    // doc 4 (post-freeze arrival): curated on the later run
    assert(out(4L)._2 == 2L && out(4L)._3, out(4L))
    assert(!out.values.exists(_._1.contains(chrome)), "chrome must be stripped")
    // full re-delivery from a fresh checkpoint: keyed merge is idempotent
    runCuration(java.nio.file.Files.createTempDirectory("ck_wc3").toString)
    assert(readBack() == out, "re-delivery must be idempotent")
  }

  test("streaming tokenize-on-ingest: frozen unigram vocab applied per micro-batch") {
    // the tokenizer-serve posture: vocab trained ONCE on the historical
    // corpus (one batch job), then every ingest micro-batch encodes
    // against the frozen broadcast vocab as a pure projection — no
    // stream-side shuffle, OOV surfaces as n_oov instead of failing
    ScriptRunner.runToDF(
      s"""set tokdata = '''{"doc_id":1,"text":"the cat sat on the mat"}
         |{"doc_id":2,"text":"the cats sat on the mats"}''';
         |load jsonStr.`tokdata` as tok_hist;
         |run tok_hist as UnigramTokenizer.`` where mode="train"
         |  and vocabSize="24" and maxPieceLen="4" and iters="3" as tok_vocab;
         |select * from tok_vocab as tok_vocab;""".stripMargin, spark)
    val ctx = ScriptRunner.run(
      s"""set streamName = "tokstream";
         |set tokdata2 = '''{"doc_id":3,"text":"the cat sat"}
         |{"doc_id":4,"text":"the Zcat sat"}''';
         |load jsonStr.`tokdata2` as tok_new;
         |load mockStream.`tok_new` as tok_feed;
         |run tok_feed as UnigramTokenizer.`` where mode="tokenize"
         |  and vocabTable="tok_vocab" as tok_enc;
         |save append tok_enc as memory.`` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_tok")}";""".stripMargin,
      spark)
    val q = ctx.streams("tokstream")
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("tokstream")
      .select("doc_id", "pieces", "piece_ids", "n_pieces")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1), r.getSeq[Long](2), r.getLong(3)))).toMap
    assert(rows(3L)._1.mkString("") == "thecatsat")
    assert(rows(3L)._2.forall(_ >= 0L), "all in-vocab ids")
    // the unseen Z segments as an OOV piece with id -1; the job survives
    assert(rows(4L)._2.contains(-1L), rows(4L).toString)
    assert(rows.values.forall(t => t._3 == t._1.length.toLong))
  }

  test("streaming dedup-on-ingest: per-batch signature-store dedup, re-delivery yields zero") {
    // rolling ingestion never re-scans history: each micro-batch dedups
    // against the persistent MinHash signature store (within-batch exact +
    // against-store estimate), survivors append, and a re-delivered batch
    // finds its own signatures already committed — zero survivors
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.{Dataset, Row}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sdedup").toString
    val store = s"$base/sigs"
    val curated = s"$base/curated"
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.dedup.SignatureStore
          .dedupAgainst(batch.toDF(), "doc_id", "text", store, threshold = 0.7)
          .write.mode("append").parquet(curated)
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_sd").toString)
      .start()
    val d1 = "the quick brown fox jumps over the lazy dog and runs far away into the night"
    val d2 = "completely different content about spark distributed query engines and caching layers"
    val d3 = d1.replace("night", "day") // near-dup of d1 under 3-gram minhash
    val d4 = "unrelated text about streaming ingestion pipelines and exactly once processing"
    in.addData((1L, d1), (2L, d2))
    q.processAllAvailable()
    in.addData((3L, d3), (4L, d4))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(curated).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L),
      s"near-dup doc 3 must be dropped against the store, got $ids")
    // simulated at-least-once re-delivery of batch 2: its signatures are
    // already in the store, so the SAME rows now yield zero survivors
    val redelivered = graft.operators.dedup.SignatureStore.dedupAgainst(
      Seq((3L, d3), (4L, d4)).toDF("doc_id", "text"),
      "doc_id", "text", store, threshold = 0.7)
    assert(redelivered.count() == 0L, "re-delivered batch must fully dedup")
  }

}
