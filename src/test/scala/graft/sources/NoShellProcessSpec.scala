package graft.sources

import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.dsl.ScriptRunner

/** No Hadoop `Shell` process on the batch path. Without the native
  * `libhadoop`, Hadoop's stock local filesystem forks `chmod`, `ls -ld`
  * and `readlink` for file creation, permission reads and renames; the
  * engine's `file:` binding must not. An in-process JFR recording of
  * `jdk.ProcessStart` around each body counts the process starts whose
  * stack holds `org.apache.hadoop.util.Shell`. Other process starts (Spark
  * removing a session's artifact directory from its cleaner thread) are
  * not Hadoop's and are not on the batch path; the stack filter leaves
  * them out.
  */
class NoShellProcessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The `Shell` process starts during `body`, as "command" strings. */
  private def shellStarts(body: => Unit): Seq[String] = {
    spark // session set-up is not what is measured
    Class.forName("org.apache.hadoop.util.Shell") // nor Shell's one-time class set-up probe
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def assertNone(starts: Seq[String]): Unit =
    assert(starts.size == 0, s"Hadoop Shell process starts by command: " +
      starts.groupBy(_.split(" ").head).map { case (c, s) => s"$c x${s.size}" }.mkString(", "))

  test("a keyed vparquet micro-batch of a windowed aggregate starts no Hadoop Shell process") {
    val dir = Files.createTempDirectory("noshell_stream")
    val src = Files.createDirectories(dir.resolve("src"))
    def stage(i: Int): Unit = {
      val tmp = dir.resolve(s"part-$i.json")
      Files.write(tmp, (0 until 20).map(j =>
        s"""{"event_id":${i * 100 + j},"user_id":$j,"ts":"2024-01-01T00:${"%02d".format(i)}:${"%02d".format(j)}Z","amount":$j}""")
        .mkString("\n").getBytes)
      Files.move(tmp, src.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    stage(0)
    val ctx = ScriptRunner.run(
      s"""set streamName = "noshell";
         |load streamjson.`$src` where schema="event_id BIGINT, user_id BIGINT, ts TIMESTAMP, amount BIGINT"
         |  and maxFilesPerTrigger="1" and eventTimeCol="ts" and delayThreshold="30 seconds" as ns_events;
         |select unix_seconds(window.start) AS wstart, COUNT(*) AS cnt, SUM(amount) AS total
         |from ns_events group by window(ts, "30 seconds") as ns_agg;
         |save append ns_agg as upsertparquet.`${dir.resolve("out")}` where mode="update"
         |  and idCols="wstart" and checkpointLocation="${dir.resolve("ck")}";""".stripMargin,
      spark)
    val q = ctx.streams("noshell")
    try {
      q.processAllAvailable() // the first batch creates the checkpoint layout
      val starts = shellStarts { stage(1); q.processAllAvailable() }
      assert(q.lastProgress.batchId >= 1)
      assertNone(starts)
    } finally q.stop()
    val out = VParquet.loadVersion(spark, dir.resolve("out").toString, None, None)
    assert(out.agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == 40L)
  }

  test("a parquet save and load start no Hadoop Shell process") {
    val out = Files.createTempDirectory("noshell_parquet").resolve("t").toString
    var n = 0L
    assertNone(shellStarts {
      ScriptRunner.run(
        s"""select id, id * 2 as v from range(100) as ns_src;
           |save overwrite ns_src as parquet.`$out`;""".stripMargin, spark)
      n = ScriptRunner.runToDF(
        s"""load parquet.`$out` as ns_back;
           |select count(*) as n from ns_back as ns_out;""".stripMargin, spark).head().getLong(0)
    })
    assert(n == 100L)
  }

  test("a vparquet merge starts no Hadoop Shell process") {
    import spark.implicits._
    val t = Files.createTempDirectory("noshell_vp").resolve("t").toString
    VParquet.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, Seq("k"), Some(4), None)
    assertNone(shellStarts {
      VParquet.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), t, Seq("k"), Some(4), None)
    })
    assert(VParquet.loadVersion(spark, t, None, None).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "B", 3L -> "c"))
  }
}
