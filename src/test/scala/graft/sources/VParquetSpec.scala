package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.dsl.ScriptRunner

/** Versioned-parquet table format: snapshot commits, time travel, keyed
  * MERGE with bucket-level rewrite, history/vacuum, and the streaming
  * upsert sink.
  */
class VParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def runDF(script: String) = ScriptRunner.runToDF(script, spark)
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("overwrite/append create versions; versionAsOf time-travels") {
    val t = tmp("vp_basic")
    runDF(s"""select 1 as k, 'a' as v as vp_in;
             |save overwrite vp_in as vparquet.`$t`;""".stripMargin)
    runDF(s"""select 2 as k, 'b' as v as vp_in2;
             |save append vp_in2 as vparquet.`$t`;""".stripMargin)
    val latest = runDF(s"load vparquet.`$t` as cur; select k, v from cur order by k as out;")
    assert(latest.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "a", 2 -> "b"))
    val v0 = runDF(s"""load vparquet.`$t` where versionAsOf="0" as old;
                      |select k, v from old as out;""".stripMargin)
    assert(v0.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("restore rolls the head back to an old version by reference; time travel keeps everything") {
    val t = tmp("vp_restore")
    runDF(s"""select 1 as k, 'a' as v as vr_in;
             |save overwrite vr_in as vparquet.`$t`;""".stripMargin)
    runDF(s"""select 2 as k, 'b' as v as vr_in2;
             |save append vr_in2 as vparquet.`$t`;""".stripMargin)
    runDF(s"""select 3 as k, 'c' as v as vr_in3;
             |save append vr_in3 as vparquet.`$t`;""".stripMargin)
    // restore to v0 -> new head (v3) shows only v0's content
    val r = runDF(s"""!vtable restore $t 0;""")
    assert(r.collect().head.getAs[String]("restored_to_version") == "3")
    val cur = runDF(s"load vparquet.`$t` as vr_cur; select k from vr_cur order by k as out;")
    assert(cur.collect().map(_.getInt(0)).toSeq == Seq(1), "head == v0 snapshot")
    // intermediate versions stay time-travelable after the restore
    val v2 = runDF(s"""load vparquet.`$t` where versionAsOf="2" as vr_v2;
                      |select k from vr_v2 order by k as out;""".stripMargin)
    assert(v2.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // the restore commit is pure metadata: it references v0's FILES
    val m0 = graft.sources.VParquet.readManifest(spark, t, 0L)
    val m3 = graft.sources.VParquet.readManifest(spark, t, 3L)
    assert(m3.op == "restore" && m3.files.map(_.path) == m0.files.map(_.path),
      "restore must carry the target's files by reference, not rewrite")
    // appending after a restore continues history from the restored state
    runDF(s"""select 9 as k, 'z' as v as vr_in4;
             |save append vr_in4 as vparquet.`$t`;""".stripMargin)
    val after = runDF(s"load vparquet.`$t` as vr_a; select k from vr_a order by k as out;")
    assert(after.collect().map(_.getInt(0)).toSeq == Seq(1, 9))
    // restoring past the vacuum horizon fails loudly (manifest is gone)
    runDF(s"""!vtable vacuum $t 2;""")
    val e = intercept[Exception] {
      graft.sources.VParquet.restore(spark, t, 0L)
    }
    assert(e.getMessage != null)
  }

  test("shallow clone: zero-copy snapshot that evolves independently; compact re-materializes") {
    val src = tmp("vp_clone_src")
    val dst = tmp("vp_clone_dst")
    runDF(s"""select 1 as k, 'a' as v as vc_in;
             |save overwrite vc_in as vparquet.`$src`;""".stripMargin)
    runDF(s"""select 2 as k, 'b' as v as vc_in2;
             |save append vc_in2 as vparquet.`$src`;""".stripMargin)
    runDF(s"""!vtable clone $src $dst;""")
    // clone reads back the source head, by reference (absolute paths)
    val got = runDF(s"load vparquet.`$dst` as vc_c; select k from vc_c order by k as out;")
    assert(got.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    val m0 = graft.sources.VParquet.readManifest(spark, dst, 0L)
    // FULLY-QUALIFIED refs: the scheme must survive (ADVICE r14 — a bare
    // '/'-path would re-resolve against whatever FS the reader defaults to)
    assert(m0.op == "clone" && m0.files.forall(_.path.startsWith("file:/")),
      s"clone entries must be fully-qualified source URIs, got ${m0.files.map(_.path)}")
    // all three entry spellings resolve: table-relative, legacy bare-'/'
    // absolute (pre-r15 clones), and scheme-qualified URIs
    assert(VParquet.entryPath("/tab", "data/x.parquet") == "/tab/data/x.parquet")
    assert(VParquet.entryPath("/tab", "/abs/y.parquet") == "/abs/y.parquet")
    assert(VParquet.entryPath("/tab", "file:/abs/z.parquet") == "file:/abs/z.parquet")
    assert(VParquet.entryPath("/tab", "s3a://bkt/k.parquet") == "s3a://bkt/k.parquet")
    // appends to the clone do NOT touch the source
    runDF(s"""select 3 as k, 'c' as v as vc_in3;
             |save append vc_in3 as vparquet.`$dst`;""".stripMargin)
    val srcAfter = runDF(s"load vparquet.`$src` as vc_s; select k from vc_s order by k as out;")
    assert(srcAfter.collect().map(_.getInt(0)).toSeq == Seq(1, 2), "source unchanged")
    val dstAfter = runDF(s"load vparquet.`$dst` as vc_d; select k from vc_d order by k as out;")
    assert(dstAfter.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // compact folds the absolute refs into LOCAL files (re-materialization)
    runDF(s"""!vtable compact $dst 128;""")
    val head = graft.sources.VParquet.latestVersion(spark, dst).get
    val mh = graft.sources.VParquet.readManifest(spark, dst, head)
    assert(mh.files.forall(p => !p.path.startsWith("/") && !p.path.contains(":")),
      s"compacted clone must be standalone (table-relative entries), got ${mh.files.map(_.path)}")
    val dstFinal = runDF(s"load vparquet.`$dst` as vc_f; select k from vc_f order by k as out;")
    assert(dstFinal.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // cloning at an explicit earlier version
    val dst0 = tmp("vp_clone_v0")
    runDF(s"""!vtable clone $src $dst0 0;""")
    val v0 = runDF(s"load vparquet.`$dst0` as vc_0; select k from vc_0 order by k as out;")
    assert(v0.collect().map(_.getInt(0)).toSeq == Seq(1))
    // a clone target with history is refused
    val e = intercept[Exception] {
      graft.sources.VParquet.shallowClone(spark, src, dst)
    }
    assert(e.getMessage.contains("already has committed versions"))
  }

  test("keyed merge upserts; bucketed merge rewrites only touched buckets") {
    val t = tmp("vp_merge")
    import spark.implicits._
    val base = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    VParquet.merge(base, t, Seq("k"), numBuckets = Some(8), orderCol = None)
    val m1 = VParquet.readManifest(spark, t, 0)
    assert(m1.numBuckets == 8)
    assert(m1.files.forall(_.bucket >= 0))

    // update 2 keys → only their buckets rewritten, rest carried by reference
    val batch = Seq((1L, "NEW1"), (2L, "NEW2")).toDF("k", "v")
    VParquet.merge(batch, t, Seq("k"), numBuckets = Some(8), orderCol = None)
    val m2 = VParquet.readManifest(spark, t, 1)
    val carried = m2.files.map(_.path).toSet intersect m1.files.map(_.path).toSet
    assert(carried.nonEmpty, "untouched bucket files must be carried forward by reference")

    val cur = VParquet.loadVersion(spark, t, None, None)
    assert(cur.count() == 100)
    assert(cur.filter($"k" === 1L).head().getString(1) == "NEW1")
    assert(VParquet.loadVersion(spark, t, Some(0L), None)
      .filter($"k" === 1L).head().getString(1) == "v1")

    // mismatched bucket count is a hard error, not silent corruption
    val e = intercept[IllegalArgumentException] {
      VParquet.merge(batch, t, Seq("k"), numBuckets = Some(16), orderCol = None)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("merge picks the newest row per key by orderCol") {
    val t = tmp("vp_order")
    import spark.implicits._
    val batch = Seq((1L, "old", 10L), (1L, "new", 20L)).toDF("k", "v", "ts")
    VParquet.merge(batch, t, Seq("k"), numBuckets = None, orderCol = Some("ts"))
    assert(VParquet.loadVersion(spark, t, None, None).head().getString(1) == "new")
  }

  test("history lists versions; vacuum drops old versions and orphans") {
    val t = tmp("vp_hist")
    runDF(s"""select 1 as k as vh_in; save overwrite vh_in as vparquet.`$t`;""")
    runDF(s"""select 2 as k as vh_in2; save overwrite vh_in2 as vparquet.`$t`;""")
    runDF(s"""select 3 as k as vh_in3; save overwrite vh_in3 as vparquet.`$t`;""")
    val hist = runDF(s"!vtable history $t;")
    assert(hist.columns.toSeq ==
      Seq("version", "op", "ts", "num_buckets", "n_files", "txn", "txn_app_id"))
    assert(hist.collect().map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L))
    // batch commits carry no exactly-once markers
    assert(hist.collect().forall(r => r.isNullAt(5) && r.isNullAt(6)))

    val vac = runDF(s"!vtable vacuum $t 1;")
    assert(vac.head().getString(0) == "2") // versions 0 and 1 dropped
    // latest still readable; old version gone
    assert(VParquet.loadVersion(spark, t, None, None).head().getInt(0) == 3)
    intercept[IllegalArgumentException] {
      VParquet.loadVersion(spark, t, Some(0L), None)
    }
    // all remaining data files are referenced by the surviving manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(t + "/data"), true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    assert(n == VParquet.readManifest(spark, t,
      VParquet.latestVersion(spark, t).get).files.size)
  }

  test("compact folds append-accumulated small files") {
    val t = tmp("vp_compact_a")
    import spark.implicits._
    (0 until 4).foreach { i =>
      VParquet.write(Seq((i.toLong, s"r$i")).toDF("k", "v"), t, overwrite = false)
    }
    val before = VParquet.readManifest(spark, t,
      VParquet.latestVersion(spark, t).get)
    assert(before.files.size >= 4)
    val v = runDF(s"!vtable compact $t 128;")
    assert(v.head().getString(0) == (before.version + 1).toString)
    val after = VParquet.readManifest(spark, t,
      VParquet.latestVersion(spark, t).get)
    assert(after.op == "compact")
    assert(after.files.size == 1, "tiny table folds to a single file")
    assert(VParquet.loadVersion(spark, t, None, None)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("compact preserves bucket layout; merges keep one file per bucket") {
    val t = tmp("vp_compact_b")
    import spark.implicits._
    (0 until 4).foreach { i =>
      val batch = (0 until 20).map(k => (k.toLong, s"r$i-$k")).toDF("k", "v")
      VParquet.merge(batch, t, Seq("k"), numBuckets = Some(4), orderCol = None)
    }
    val before = VParquet.readManifest(spark, t,
      VParquet.latestVersion(spark, t).get)
    // merge repartitions by bucket before writing: never more files than buckets
    assert(before.files.size <= 4)
    val beforeData = VParquet.loadVersion(spark, t, None, None)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    runDF(s"!vtable compact $t 128;")
    val after = VParquet.readManifest(spark, t,
      VParquet.latestVersion(spark, t).get)
    assert(after.numBuckets == 4 && after.keyCols == Seq("k"))
    assert(after.files.size <= 4, "at most one file per bucket after compaction")
    val afterData = VParquet.loadVersion(spark, t, None, None)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(afterData == beforeData)
    // a follow-up merge still locates rows correctly in the compacted layout
    VParquet.merge(Seq((3L, "FINAL")).toDF("k", "v"), t, Seq("k"),
      numBuckets = Some(4), orderCol = None)
    val cur = VParquet.loadVersion(spark, t, None, None)
    assert(cur.count() == 20)
    assert(cur.filter($"k" === 3L).head().getString(1) == "FINAL")
  }

  test("compact keeps a column added by a mergeSchema append (both branches)") {
    import spark.implicits._
    // which data file Spark lists first varies per table (random commit
    // dirs); inferring from it drops `extra` in about half of fresh tables,
    // so eight tables (even: unbucketed, odd: bucketed) make the check stick
    (0 until 8).foreach { i =>
      val t = tmp(s"vp_compact_evolved_$i")
      val base = (0 until 4).map(k => (k.toLong, s"r$k")).toDF("k", "v")
      if (i % 2 == 0) VParquet.write(base, t, overwrite = false)
      else VParquet.merge(base, t, Seq("k"), numBuckets = Some(4), orderCol = None)
      VParquet.write(Seq((9L, "x", 9)).toDF("k", "v", "extra"), t, overwrite = false,
        mergeSchema = true)
      VParquet.compact(spark, t, 128)
      val m = VParquet.readManifest(spark, t, VParquet.latestVersion(spark, t).get)
      assert(m.op == "compact", s"table $i")
      val rows = VParquet.loadVersion(spark, t, None, None)
        .select("k", "extra").as[(Long, Option[Int])].collect().sortBy(_._1).toSeq
      assert(rows == (0 until 4).map(k => (k.toLong, None)) :+ (9L -> Some(9)),
        s"table $i (${if (i % 2 == 0) "unbucketed" else "bucketed"})")
    }
  }

  test("randomized merge/compact sequences equal the in-memory upsert model") {
    import spark.implicits._
    // seeded model check: any sequence of keyed upsert batches (with an
    // occasional compact) must leave the table equal to a Map fold —
    // catches carry-forward, bucket-location, and dedup bugs that a fixed
    // fixture can miss
    for (seed <- Seq(7, 42)) {
      val rnd = new scala.util.Random(seed)
      val t = tmp(s"vp_model_$seed")
      val buckets = if (rnd.nextBoolean()) Some(4) else None
      val model = scala.collection.mutable.Map[Long, String]()
      var seq = 0L
      for (round <- 0 until 4) {
        val updates = (0 until (1 + rnd.nextInt(8))).map { _ =>
          val k = rnd.nextInt(30).toLong
          seq += 1
          (k, s"s$seed-r$round-$seq", seq)
        }
        // model applies in ts order — exactly the orderCol contract
        updates.sortBy(_._3).foreach { case (k, v, _) => model(k) = v }
        VParquet.merge(updates.toDF("k", "v", "ts"), t, Seq("k"),
          buckets, orderCol = Some("ts"))
        if (rnd.nextBoolean())
          VParquet.compact(spark, t, targetFileSizeMB = 128)
        val got = VParquet.loadVersion(spark, t, None, None)
          .select("k", "v").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == model.toMap,
          s"seed=$seed round=$round buckets=$buckets diverged from model")
      }
    }
  }

  test("bucket-count guard survives an intervening plain append") {
    val t = tmp("vp_guard")
    import spark.implicits._
    VParquet.merge(Seq((1L, "a")).toDF("k", "v"), t, Seq("k"),
      numBuckets = Some(8), orderCol = None)
    // plain append must NOT reset the manifest's bucket pin
    VParquet.write(Seq((99L, "x")).toDF("k", "v"), t, overwrite = false)
    assert(VParquet.readManifest(spark, t,
      VParquet.latestVersion(spark, t).get).numBuckets == 8)
    val e = intercept[IllegalArgumentException] {
      VParquet.merge(Seq((1L, "b")).toDF("k", "v"), t, Seq("k"),
        numBuckets = Some(16), orderCol = None)
    }
    assert(e.getMessage.contains("numBuckets"))
    // same-bucket merge absorbs the appended (unbucketed) file correctly
    VParquet.merge(Seq((1L, "b")).toDF("k", "v"), t, Seq("k"),
      numBuckets = Some(8), orderCol = None)
    val rows = VParquet.loadVersion(spark, t, None, None).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq(1L -> "b", 99L -> "x"))
  }

  test("txn makes commits idempotent; empty merge batches are no-ops") {
    val t = tmp("vp_txn")
    import spark.implicits._
    val v0 = VParquet.write(Seq(1L).toDF("k"), t, overwrite = false, txn = Some(0L))
    // at-least-once re-delivery of the same micro-batch: skipped
    val again = VParquet.write(Seq(1L).toDF("k"), t, overwrite = false, txn = Some(0L))
    assert(v0 == 0L && again == 0L)
    assert(VParquet.loadVersion(spark, t, None, None).count() == 1)
    assert(VParquet.write(Seq(2L).toDF("k"), t, overwrite = false, txn = Some(1L)) == 1L)
    // empty merge: no commit on an existing table, -1 on a fresh one
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(VParquet.merge(empty, t, Seq("k"), None, None) == 1L)
    assert(VParquet.latestVersion(spark, t).contains(1L))
    assert(VParquet.merge(empty, tmp("vp_txn2"), Seq("k"), None, None) == -1L)
  }

  test("txn markers are scoped by txnAppId: a new writer's batch 0 is not a re-delivery") {
    val t = tmp("vp_txn_app")
    import spark.implicits._
    // writer A commits its micro-batch 0
    VParquet.merge(Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), None, None,
      txn = Some(0L), txnAppId = Some("ckA"))
    // writer B (fresh checkpoint) also starts at batch 0 — MUST commit
    val vB = VParquet.merge(Seq((2L, "b")).toDF("k", "v"), t, Seq("k"), None, None,
      txn = Some(0L), txnAppId = Some("ckB"))
    assert(vB == 1L)
    assert(VParquet.loadVersion(spark, t, None, None).count() == 2)
    // but B re-delivering ITS batch 0 is skipped
    val dup = VParquet.merge(Seq((2L, "b")).toDF("k", "v"), t, Seq("k"), None, None,
      txn = Some(0L), txnAppId = Some("ckB"))
    assert(dup == 1L)
    assert(VParquet.latestVersion(spark, t).contains(1L))
    // history surfaces the exactly-once markers per committed version
    val marks = VParquet.history(spark, t).orderBy("version")
      .select("version", "txn", "txn_app_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(marks == Seq((0L, 0L, "ckA"), (1L, 0L, "ckB")))
  }

  test("a reserved __bucket__ column is rejected loudly") {
    import spark.implicits._
    val df = Seq((1L, 0)).toDF("k", "__bucket__")
    val e = intercept[IllegalArgumentException] {
      VParquet.write(df, tmp("vp_resv"), overwrite = true)
    }
    assert(e.getMessage.contains("__bucket__"))
  }

  test("concurrent version claim fails loudly instead of corrupting") {
    val t = tmp("vp_race")
    runDF(s"""select 1 as k as vr_in; save overwrite vr_in as vparquet.`$t`;""")
    // two writers that both resolved latest=0 race for version 1: the
    // second create-exclusive claim must fail with the concurrency error
    val m = VParquet.Manifest(1L, "overwrite", 123L, -1, Seq.empty)
    VParquet.writeManifest(spark, t, m)
    val e = intercept[IllegalStateException] {
      VParquet.writeManifest(spark, t, m)
    }
    assert(e.getMessage.contains("concurrent write"))
  }

  test("vparquet sink auto-compacts every N versions") {
    // one sink arm serves both spellings and tableCol routing, so the
    // option applies to each (a routed stream compacts its routed table)
    Seq("vparquet" -> "", "upsertParquet" -> "", "upsertParquet" -> "routed").foreach { case (sink, route) =>
      val name = s"$sink$route"
      val base = tmp(s"vp_ac_$name")
      val t = if (route.isEmpty) base else s"$base/r1"
      val routeOpt = if (route.isEmpty) "" else "and tableCol=\"tbl\""
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, Long)]
      val src = mem.toDF().toDF("k", "v", "ts")
      (if (route.isEmpty) src else src.withColumn("tbl", org.apache.spark.sql.functions.lit("r1")))
        .createOrReplaceTempView(s"ac_stream_$name")
      mem.addData((1L, "a", 1L))
      val ctx = ScriptRunner.run(
        s"""set streamName = "vpac_$name";
           |save append ac_stream_$name as $sink.`$base` where mode="append"
           |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_ac")}"
           |  and duration="0" and idCols="k" and orderCol="ts"
           |  $routeOpt
           |  and autoCompactEvery="2";""".stripMargin, spark)
      val q = ctx.streams(s"vpac_$name")
      try {
        q.processAllAvailable()              // v0: merge ((0+1)%2 != 0)
        mem.addData((2L, "b", 2L))
        q.processAllAvailable()              // v1: merge -> v2: compact
        mem.addData((1L, "a2", 3L))
        q.processAllAvailable()              // v3: merge ((3+1)%2 == 0 -> v4 compact)
      } finally q.stop()
      val ops = VParquet.history(spark, t).orderBy("version")
        .collect().map(_.getString(1)).toSeq
      assert(ops.count(_ == "compact") >= 1, s"$name: expected compactions in $ops")
      // content survives compaction; newest row per key wins
      val cur = VParquet.loadVersion(spark, t, None, None).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(cur == Seq(1L -> "a2", 2L -> "b"))
      // change reads SKIP compaction commits (they rewrite files, not data):
      // no row may carry a compact version's tag
      import org.apache.spark.sql.functions.col
      val compactVersions = VParquet.history(spark, t)
        .filter(col("op") === "compact").collect().map(_.getLong(0)).toSet
      assert(compactVersions.nonEmpty)
      val tagged = VParquet.loadChanges(spark, t, 0,
          VParquet.latestVersion(spark, t).get)
        .select("_commit_version").distinct().collect().map(_.getLong(0)).toSet
      assert((tagged intersect compactVersions).isEmpty,
        s"compact versions $compactVersions leaked into the change feed: $tagged")
    }
  }

  test("re-delivery is recognized even when another writer buried the marker") {
    val t = tmp("vp_buried")
    import spark.implicits._
    // writer A commits batch 0, then writer B commits its own batch 0:
    // A's txn marker is no longer on the LATEST manifest
    VParquet.merge(Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), Some(4), None,
      txn = Some(0L), txnAppId = Some("writerA"))
    VParquet.merge(Seq((2L, "b")).toDF("k", "v"), t, Seq("k"), Some(4), None,
      txn = Some(0L), txnAppId = Some("writerB"))
    assert(VParquet.latestVersion(spark, t).contains(1L))
    // A crash-replays batch 0 — the backward scan must find A's buried
    // marker and skip the duplicate instead of committing version 2
    val v = VParquet.merge(Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), Some(4), None,
      txn = Some(0L), txnAppId = Some("writerA"))
    assert(v == 1L)
    assert(VParquet.latestVersion(spark, t).contains(1L),
      "replayed batch must not create a new version")
    // a genuinely NEW batch from A still commits
    val v2 = VParquet.merge(Seq((3L, "c")).toDF("k", "v"), t, Seq("k"), Some(4), None,
      txn = Some(1L), txnAppId = Some("writerA"))
    assert(v2 == 2L)
    assert(VParquet.loadVersion(spark, t, None, None).count() == 3)
  }

  test("txn ledger: re-delivery is recognized after compact + vacuum removed the marker's manifest") {
    val t = tmp("vp_ledger")
    import spark.implicits._
    // writer A's marker lands in version 0; a pile of other writers and a
    // compact+vacuum then DELETE that manifest from the log
    VParquet.merge(Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), None, None,
      txn = Some(7L), txnAppId = Some("writerA"))
    (0 until 4).foreach { i =>
      VParquet.merge(Seq((10L + i, s"x$i")).toDF("k", "v"), t, Seq("k"), None, None,
        txn = Some(0L), txnAppId = Some(s"other$i"))
    }
    VParquet.compact(spark, t, targetFileSizeMB = 128)
    VParquet.vacuum(spark, t, retainVersions = 2)
    val head = VParquet.latestVersion(spark, t).get
    // the ledger in the HEAD manifest carries every writer's high-water
    // mark, complete — so the check never needs the vacuumed manifests
    val hm = VParquet.readManifest(spark, t, head)
    assert(hm.txnSeenOk)
    assert(hm.txnSeen.get("writerA").contains(7L))
    // A crash-replays txn 7 → no-op, even though v0 is gone
    val v = VParquet.merge(Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), None, None,
      txn = Some(7L), txnAppId = Some("writerA"))
    assert(v == head)
    assert(VParquet.latestVersion(spark, t).contains(head))
    // and A's NEXT batch still commits
    val v2 = VParquet.merge(Seq((2L, "b")).toDF("k", "v"), t, Seq("k"), None, None,
      txn = Some(8L), txnAppId = Some("writerA"))
    assert(v2 == head + 1)
  }

  test("loadChanges refuses a start just above the vacuum horizon") {
    val t = tmp("vp_chg_vac")
    runDF(s"""select 1 as k as cv0; save overwrite cv0 as vparquet.`$t`;""")
    (2 to 5).foreach { i =>
      runDF(s"""select $i as k as cv$i; save append cv$i as vparquet.`$t`;""")
    }
    VParquet.vacuum(spark, t, retainVersions = 2)
    // v3..v4 retained; v3's changes would diff against vacuumed v2 and
    // silently re-deliver the whole table — must refuse instead
    val e = intercept[IllegalArgumentException] {
      VParquet.loadChanges(spark, t, 3, 4).collect()
    }
    assert(e.getMessage.contains("vacuumed"))
    // a fully-retained range still reads
    assert(VParquet.loadChanges(spark, t, 4, 4).count() >= 1)
  }

  test("batch changes read: startingVersion + endingVersion via the DSL") {
    val t = tmp("vp_chg")
    runDF(s"""select 1 as k, 'a' as v as ch0; save overwrite ch0 as vparquet.`$t`;""")
    runDF(s"""select 2 as k, 'b' as v as ch1; save append ch1 as vparquet.`$t`;""")
    runDF(s"""select 3 as k, 'c' as v as ch2; save append ch2 as vparquet.`$t`;""")
    val all = runDF(
      s"""load vparquet.`$t` where startingVersion="0" and endingVersion="2" as chg;
         |select k, _commit_version from chg order by k as out;""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    assert(all == Seq(1 -> 0L, 2 -> 1L, 3 -> 2L))
    // a sub-range excludes commits outside it
    val mid = runDF(
      s"""load vparquet.`$t` where startingVersion="1" and endingVersion="1" as chg1;
         |select k from chg1 as out;""".stripMargin)
      .collect().map(_.getInt(0)).toSeq
    assert(mid == Seq(2))
    // missing versions in the range fail loudly
    val e = intercept[IllegalArgumentException] {
      VParquet.loadChanges(spark, t, 0, 9)
    }
    assert(e.getMessage.contains("not all present"))
  }

  test("concurrent bucketed merges on disjoint buckets both commit (rebase)") {
    val t = tmp("vp_cc")
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    // resolve which bucket each candidate key hashes into, with the same
    // expression the merge uses
    val probe = spark.range(200)
      .select($"id".as("k"), pmod(xxhash64($"id"), lit(4)).cast("int").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    def keysIn(b: Int, n: Int) = probe.filter(_._2 == b).map(_._1).take(n).toSeq
    val seed = (keysIn(2, 5) ++ keysIn(3, 5)).map(k => (k, "seed")).toDF("k", "v")
    VParquet.merge(seed, t, Seq("k"), numBuckets = Some(4), orderCol = None)

    // two writers race for version 1 on DISJOINT buckets: the claim loser
    // must rebase onto the winner's manifest and commit version 2 — both
    // merges succeed, nobody's rows are lost
    val a = keysIn(0, 5).map(k => (k, "A")).toDF("k", "v")
    val b = keysIn(1, 5).map(k => (k, "B")).toDF("k", "v")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fa = Future(VParquet.merge(a, t, Seq("k"), Some(4), None))
    val fb = Future(VParquet.merge(b, t, Seq("k"), Some(4), None))
    val va = Await.result(fa, 180.seconds)
    val vb = Await.result(fb, 180.seconds)
    assert(Set(va, vb) == Set(1L, 2L), s"expected versions {1,2}, got {$va,$vb}")
    val cur = VParquet.loadVersion(spark, t, None, None)
    assert(cur.count() == 20)
    assert(cur.filter($"v" === "A").count() == 5)
    assert(cur.filter($"v" === "B").count() == 5)
    assert(cur.filter($"v" === "seed").count() == 10)
  }

  test("commit on a stale head rebases only where its rule allows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val probe = spark.range(200)
      .select($"id".as("k"), pmod(xxhash64($"id"), lit(4)).cast("int").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    def keysIn(b: Int) = probe.filter(_._2 == b).map(_._1).take(5).toSeq
    // a writer's already-written data files: committed to a side table and
    // referenced by absolute path, as a shallow clone does
    def filesOf(rows: org.apache.spark.sql.DataFrame, buckets: Option[Int]) = {
      val side = tmp("vp_side")
      if (buckets.isDefined) VParquet.merge(rows, side, Seq("k"), buckets, None)
      else VParquet.write(rows, side, overwrite = true)
      VParquet.readManifest(spark, side, 0).files
        .map(e => e.copy(path = VParquet.entryPath(side, e.path)))
    }
    val t = tmp("vp_rebase")
    VParquet.merge((keysIn(2) ++ keysIn(3)).map(k => (k, "seed")).toDF("k", "v"),
      t, Seq("k"), Some(4), None)
    val stale = VParquet.readManifest(spark, t, 0)
    // the winner claims version 1 on bucket 0 while the writers below
    // still hold version 0 as their head
    VParquet.merge(keysIn(0).map(k => (k, "A")).toDF("k", "v"), t, Seq("k"), Some(4), None)
    def mergeOnStale(bucket: Int, label: String, txn: Option[Long] = None,
                     appId: Option[String] = None): Long = {
      val touched = Set(bucket)
      val files = filesOf(keysIn(bucket).map(k => (k, label)).toDF("k", "v"), Some(4))
      VParquet.commit(spark, t, Some(stale), txn, appId, Some(VParquet.mergeRebase(
          t, 4, touched, stale.files.filter(f => f.bucket < 0 || touched(f.bucket))))) { h =>
        VParquet.Manifest(0L, "merge", System.currentTimeMillis(), 4,
          h.get.files.filterNot(f => f.bucket < 0 || touched(f.bucket)) ++ files,
          Seq("k"), txn, appId)
      }
    }
    def snapshot(table: String) = VParquet.loadVersion(spark, table, None, None)
      .groupBy("v").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1. disjoint buckets: the loser rebases onto the winner as version 2
    assert(mergeOnStale(1, "B") == 2L)
    assert(snapshot(t) == Map("seed" -> 10L, "A" -> 5L, "B" -> 5L))
    // 2. overlapping buckets: bucket 0 changed under the stale head → throws
    val e = intercept[VParquet.ConcurrentWriteException](mergeOnStale(0, "C"))
    assert(e.getMessage.contains("cannot rebase"))
    assert(VParquet.latestVersion(spark, t).contains(2L))
    // without a rebase rule a lost claim throws the claim error itself
    val e2 = intercept[VParquet.ConcurrentWriteException] {
      VParquet.commit(spark, t, Some(stale), None, None, rebase = None)(_ =>
        VParquet.Manifest(0L, "append", 0L, 4, stale.files))
    }
    assert(e2.getMessage.contains("already claimed"))
    // 3. a writer whose txn the winner already committed returns the winner's version
    VParquet.merge(Seq((keysIn(1).head, "W")).toDF("k", "v"), t, Seq("k"), Some(4), None,
      txn = Some(5L), txnAppId = Some("ckW"))
    assert(mergeOnStale(1, "W", Some(5L), Some("ckW")) == 3L)
    assert(VParquet.latestVersion(spark, t).contains(3L))
    // 4. a compaction over an interleaved append rebases and carries the append
    val c = tmp("vp_rebase_c")
    VParquet.write(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), c, overwrite = true)
    val base = VParquet.readManifest(spark, c, 0)
    VParquet.write(Seq((3L, "z")).toDF("k", "v"), c, overwrite = false)
    val appended = VParquet.readManifest(spark, c, 1).files.filterNot(base.files.contains)
    val compacted = filesOf(Seq((1L, "x"), (2L, "y")).toDF("k", "v").coalesce(1), None)
    val basePaths = base.files.map(_.path).toSet
    val vc = VParquet.commit(spark, c, Some(base), None, None,
        Some(VParquet.compactRebase(c, base))) { h =>
      VParquet.Manifest(0L, "compact", System.currentTimeMillis(), base.numBuckets,
        compacted ++ h.get.files.filterNot(x => basePaths.contains(x.path)),
        base.keyCols, schemaJson = h.get.schemaJson)
    }
    assert(vc == 2L)
    assert(VParquet.readManifest(spark, c, 2).files.toSet == (compacted ++ appended).toSet)
    assert(VParquet.loadVersion(spark, c, None, None).orderBy("k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq ==
      Seq(1L -> "x", 2L -> "y", 3L -> "z"))
  }

  test("streaming vparquet sink commits one snapshot per micro-batch (CDC)") {
    val t = tmp("vp_stream")
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    mem.toDF().toDF("k", "v", "ts").createOrReplaceTempView("vp_cdc_stream")
    mem.addData((1L, "a", 1L), (2L, "b", 1L))
    val ctx = ScriptRunner.run(
      s"""set streamName = "vps1";
         |save append vp_cdc_stream as vparquet.`$t` where mode="append"
         |  and checkpointLocation="${java.nio.file.Files.createTempDirectory("ck_vp")}"
         |  and duration="0" and idCols="k" and orderCol="ts";""".stripMargin,
      spark)
    val q = ctx.streams("vps1")
    try {
      q.processAllAvailable()
      mem.addData((1L, "a2", 2L)) // second micro-batch: update key 1
      q.processAllAvailable()
      val cur = VParquet.loadVersion(spark, t, None, None).orderBy("k")
      assert(cur.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq(1L -> "a2", 2L -> "b"))
      // each micro-batch was one atomic version commit
      assert(VParquet.latestVersion(spark, t).contains(1L))
      // batch-over-stream bridge: time travel to the first batch's snapshot
      assert(VParquet.loadVersion(spark, t, Some(0L), None)
        .filter($"k" === 1L).head().getString(1) == "a")
    } finally q.stop()
  }
}
