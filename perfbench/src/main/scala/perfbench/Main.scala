package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import graft.dsl.{Engine, StatementSplitter}

/** The benchmark's JVM side: runs one workload plan (written by
  * `perfbench/run.py`) against the engine's public entry points and
  * writes a raw record — op timings, collected results, listener spans.
  * All statistics and all correctness checks happen in `run.py`.
  *
  * Usage: Main <plan.json> <record.json>
  */
object Main {
  /** Local property naming the op a Spark job belongs to. */
  val OpProperty = "perfbench.op"

  val mapper = new ObjectMapper()

  final case class Script(name: String, text: String)

  /** One timed call: submit → last table collected. */
  final case class Op(id: String, tenant: String, name: String, start: Double, runEnd: Double, end: Double,
                      traced: Boolean, epochChanged: Boolean, probe: Boolean, error: String,
                      result: Int, statements: Int, splitMs: Double)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Any]]).asScala
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = graft.GraftSession.getOrCreate(plan("cores").toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - jvmStartMs) / 1000.0
    val run = new Run(spark, plan)
    run.warmUp()
    val setupS = (Clock.nowMs - jvmStartMs) / 1000.0
    val record = run.measure() ++ Map(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "versions" -> Map("spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString))
    spark.stop()
    Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(toJava(record)))
  }

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  /** A collected value in the shape the checker compares: numbers stay
    * numbers (decimals become doubles), nested values become lists. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell)
    case s: scala.collection.Seq[_] => s.map(cell)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(cell(k), cell(x)) }
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x
  }
}

/** One workload run. `plan` says which scripts to run and how. */
final class Run(spark: SparkSession, plan: scala.collection.Map[String, Any]) {
  import Main._

  private def str(k: String) = plan(k).toString
  private def list(v: Any) = v.asInstanceOf[java.util.List[Any]].asScala.toSeq
  private def obj(v: Any) = v.asInstanceOf[java.util.Map[String, Any]].asScala
  private def scripts(v: Any) = list(v).map(obj).map(m => Script(m("name").toString, m("text").toString))

  private val mode = str("mode")
  private val traced = plan("trace").toString.toBoolean
  private val seconds = plan("seconds").toString.toDouble
  private val tenants = list(plan("tenants")).map(_.toString)
  private val engine = new Engine(spark, str("home"))
  private val sessions = tenants.map(t => engine.sessionFor(t) -> t)
  private val trace = new Trace(s => sessions.find(_._1 eq s).map(_._2).getOrElse("stream"))
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val opSeq = new java.util.concurrent.atomic.AtomicInteger()
  private val streamLog = new StreamLog(trace)
  private var persistedBaseline = 0

  if (traced) trace.install(spark, sessions.map(_._1))
  // queries are managed per session: listen on the tenant's own
  if (mode == "stream") sessions.foreach(_._1.streams.addListener(streamLog))

  /** Set-up work every run pays before it can serve: per-tenant set-up
    * scripts, then one untimed pass of the workload's ops. */
  def warmUp(): Unit = {
    // tenants set up side by side, as concurrent users would
    val threads = tenants.map(t => new Thread(() => {
      scripts(plan("setup")).foreach(s => engine.run(t, s.text))
      if (mode != "stream") scripts(plan("scripts")).foreach(s => runOp(t, s, keep = false))
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (mode == "stream") warmStream()
    ops.clear()
    persistedBaseline = spark.sparkContext.getPersistentRDDs.size
  }

  def measure(): Map[String, Any] = {
    val gc0 = gcMs; val jit0 = jitMs
    val t0 = Clock.nowMs
    val extra = mode match {
      case "closed" => closedLoop(); Map.empty[String, Any]
      case "stream" => stream()
    }
    val t1 = Clock.nowMs
    val gc = gcMs - gc0; val jit = jitMs - jit0
    if (traced && mode == "closed") probe()
    trace.set(false)
    quiesce()
    val leakedRdds = spark.sparkContext.getPersistentRDDs.size - persistedBaseline
    val resultRows = results.asScala.toSeq.sortBy(_._2.intValue).map(_._1)
    Map(
      "window_ms" -> Seq(t0, t1),
      "ops" -> ops.asScala.toSeq.sortBy(_.start).map(o => Map(
        "id" -> o.id, "tenant" -> o.tenant, "name" -> o.name,
        "start" -> o.start, "run_end" -> o.runEnd, "end" -> o.end, "traced" -> o.traced,
        "epoch_changed" -> o.epochChanged, "probe" -> o.probe, "error" -> o.error, "result" -> o.result,
        "statements" -> o.statements, "split_ms" -> o.splitMs)),
      "results" -> resultRows.map(r => mapper.readValue(r, classOf[Object])),
      "spans" -> trace.spans.asScala.toSeq,
      "jvm" -> Map("gc_ms" -> gc, "jit_ms" -> jit),
      "cache" -> Map("peak_storage_bytes" -> trace.peakStorageBytes, "leaked_rdds" -> leakedRdds),
      "peak_rss_mb" -> peakRssMb) ++ extra
  }

  /** Run one script as one op and record it. `keep = false` runs it
    * without recording (warm-up); `probe` marks an op of the traced
    * run's probe pass. */
  private def runOp(tenant: String, s: Script, keep: Boolean = true, probe: Boolean = false): Unit = {
    val id = s"$tenant-${opSeq.incrementAndGet()}"
    val (statements, splitMs) =
      if (trace.on) {
        val a = Clock.nowMs
        val n = StatementSplitter.split(s.text).size
        (n, Clock.nowMs - a)
      } else (0, 0.0)
    val epoch = trace.epoch
    val on = trace.on
    spark.sparkContext.setLocalProperty(OpProperty, id)
    val start = Clock.nowMs
    var runEnd = Double.NaN
    var end = Double.NaN
    var error = ""
    var result = -1
    try {
      val ctx = engine.run(tenant, s.text)
      runEnd = Clock.nowMs
      val df = ctx.lastDataFrame.getOrElse(throw new IllegalStateException("script produced no table"))
      val rows = df.collect()
      end = Clock.nowMs
      // kept for the correctness check, outside the timed interval
      val payload = mapper.writeValueAsString(toJava(Map(
        "columns" -> df.columns.toSeq, "rows" -> rows.toSeq.map(r => r.toSeq.map(cell)))))
      result = results.synchronized(results.computeIfAbsent(payload, _ => results.size))
    } catch {
      case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    } finally spark.sparkContext.setLocalProperty(OpProperty, null)
    if (end.isNaN) end = Clock.nowMs
    if (runEnd.isNaN) runEnd = end
    val op = Op(id, tenant, s.name, start, runEnd, end, on, trace.epoch != epoch,
      probe, error, result, statements, splitMs)
    if (keep) {
      ops.add(op)
      trace.span("client.op", start, end, "op" -> id, "tenant" -> tenant)
      trace.span("dsl.run", start, runEnd, "op" -> id, "tenant" -> tenant)
      trace.span("client.collect", runEnd, end, "op" -> id, "tenant" -> tenant)
    }
  }

  /** Interactive: every tenant runs its rotating script mix in a closed
    * loop — the next script starts when the previous one has returned. */
  private def closedLoop(): Unit = {
    val mix = scripts(plan("scripts"))
    val deadline = Clock.nowMs + seconds * 1000
    val threads = tenants.zipWithIndex.map { case (t, i) =>
      new Thread(() => {
        var k = i * (mix.size / tenants.size)
        while (Clock.nowMs < deadline) { runOp(t, mix(k % mix.size)); k += 1 }
      }, s"client-$t")
    }
    trace.set(traced)
    threads.foreach(_.start())
    if (traced) {
      // alternate traced and untraced slices for the overhead comparison
      val slice = plan("slice_ms").toString.toLong
      while (threads.exists(_.isAlive)) {
        Thread.sleep(slice)
        trace.set(!trace.on)
      }
    }
    threads.foreach(_.join())
  }

  /** Traced runs only, after the measured window: every tenant runs the
    * whole mix once more, wholly traced, starting where it started in the
    * loop. The per-op layer metrics come from this pass, so every script
    * counts the same in every traced run however the trace slices fell. */
  private def probe(): Unit = {
    val mix = scripts(plan("scripts"))
    trace.set(true)
    val threads = tenants.zipWithIndex.map { case (t, i) =>
      new Thread(() => {
        val first = i * (mix.size / tenants.size)
        mix.indices.foreach(k => runOp(t, mix((first + k) % mix.size), probe = true))
      }, s"probe-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private def streamPlan = obj(plan("stream"))

  /** Move staged stream input files into the watched directory, each at
    * its own modification time so the file source orders them. */
  private def release(staged: String, source: String, name: String): Unit = {
    val target = Paths.get(source, name)
    Files.move(Paths.get(staged, name), target, StandardCopyOption.ATOMIC_MOVE)
    target.toFile.setLastModified(System.currentTimeMillis())
  }

  private def warmStream(): Unit = {
    val w = obj(streamPlan("warmup"))
    list(w("files")).foreach(f => release(w("staged_dir").toString, w("source_dir").toString, f.toString))
    val ctx = engine.run(tenants.head, w("start_script").toString)
    val q = ctx.streams(w("query_name").toString)
    q.processAllAvailable()
    q.stop()
    engine.run(tenants.head, w("read_script").toString).lastDataFrame.foreach(_.collect())
  }

  /** Streaming: drain a staged backlog (throughput), then drop one file
    * per fixed interval (latency, open loop). */
  private def stream(): Map[String, Any] = {
    val p = streamPlan
    val staged = p("staged_dir").toString
    val source = p("source_dir").toString
    val backlog = list(p("backlog")).map(_.toString)
    val paced = list(p("paced")).map(_.toString)
    val interval = p("interval_ms").toString.toDouble
    val timeoutMs = p("timeout_ms").toString.toDouble
    backlog.zipWithIndex.foreach { case (f, i) =>
      release(staged, source, f)
      Paths.get(source, f).toFile.setLastModified(System.currentTimeMillis() - 1000L * (backlog.size - i))
    }
    trace.set(traced)
    val started = Clock.nowMs
    val ctx = engine.run(tenants.head, p("start_script").toString)
    val name = p("query_name").toString
    val q = ctx.streams(name)
    def waitBatches(n: Int, until: Double): Boolean = {
      while (streamLog.dataBatches(name) < n && Clock.nowMs < until && q.isActive) Thread.sleep(2)
      streamLog.dataBatches(name) >= n
    }
    val drained = waitBatches(backlog.size, started + timeoutMs)
    val t0 = Clock.nowMs + interval
    val releases = paced.zipWithIndex.map { case (f, k) =>
      val due = t0 + k * interval
      while (Clock.nowMs < due) Thread.sleep(1)
      if (traced) trace.set(k / 2 % 2 == 0)
      val at = Clock.nowMs
      release(staged, source, f)
      Map("file" -> f, "due" -> due, "released" -> at, "traced" -> trace.on)
    }
    val done = waitBatches(backlog.size + paced.size, Clock.nowMs + timeoutMs)
    val error = Option(q.exception.orNull).map(_.getMessage).getOrElse(
      if (!drained || !done) "stream did not consume every file in time" else "")
    q.stop()
    val s = Script("stream_result", p("read_script").toString)
    runOp(tenants.head, s)
    Map("stream" -> Map(
      "started" -> started, "drained" -> drained,
      "releases" -> releases, "error" -> error,
      "progress" -> streamLog.progress.asScala.toSeq.filter(_._2.name == name).map { case (at, pr) =>
        Map("received" -> at, "batch" -> pr.batchId, "rows" -> pr.numInputRows,
          "late_rows" -> pr.stateOperators.headOption.map(_.numRowsDroppedByWatermark).getOrElse(0L))
      }))
  }

  /** Wait until the listener bus has delivered the events of finished
    * jobs: no public call exposes it, so wait for a quiet spell. */
  private def quiesce(): Unit = if (traced) {
    var last = -1
    var n = trace.spans.size
    while (n != last) { last = n; Thread.sleep(150); n = trace.spans.size }
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** High-water resident set size; None where /proc is not available. */
  private def peakRssMb: Option[Double] = {
    val status = new File("/proc/self/status")
    if (!status.exists) None
    else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      finally src.close()
    }
  }
}
