package graft

import org.apache.spark.sql.SparkSession

/** The one local-session shape the harness mains and the specs share. */
object Sessions {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time zone
    * and the UI off; `extraConf` is applied last, in order, so a caller
    * can override any of these. Log level WARN.
    */
  def local(cpus: String,
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
