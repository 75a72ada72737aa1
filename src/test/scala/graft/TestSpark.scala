package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (suites run in one forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.getOrCreate("4")

  /** Spark jobs started between two marker jobs around `body`, in listener
    * bus order (one bus queue, so the end marker arriving means every job
    * of `body` has been seen).
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(s"$name-$tag")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("begin")
      val out = body
      marker("end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"end-$tag") && System.nanoTime() < deadline) Thread.sleep(10)
      val order = seen.asScala.toSeq
      assert(order.contains(s"end-$tag"), "end marker never reached the listener")
      (out, order.indexOf(s"end-$tag") - order.indexOf(s"begin-$tag") - 1)
    } finally sc.removeSparkListener(l)
  }
}
