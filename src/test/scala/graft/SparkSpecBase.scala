package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (one JVM across the test run). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

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
