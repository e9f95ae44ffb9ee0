package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (one JVM across the test run). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs started while `body` runs, counted off the drained
    * listener bus. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }

  /** All messages down the cause chain, newline-joined — execution-time
    * guards (raise_error in a task) surface wrapped in Spark's
    * job-failure exception, so asserting on the surface message alone
    * would miss the guard's text.
    */
  def chainMessages(t: Throwable): String = {
    val seen = scala.collection.mutable.ListBuffer.empty[String]
    var c: Throwable = t
    while (c != null && seen.size < 20) {
      seen += Option(c.getMessage).getOrElse("")
      c = c.getCause
    }
    seen.mkString("\n")
  }
}
