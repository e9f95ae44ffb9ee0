package graft

/** Throwaway local probe (not part of the library surface).
  *
  * No args: run the flagship `entry` and print its row count.
  * With args: print the formatted physical plan of each named query
  * (plan-quality audit — check PushedFilters, broadcast joins,
  * WholeStageCodegen spans).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if (args.isEmpty) {
      val e = SparkEntry.entry(spark)
      e.show(truncate = false)
      println("entry rows=" + e.count())
    } else {
      val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
      val time = sys.env.contains("SPARK_GRAFT_TIME")
      args.foreach { name =>
        println(s"===== $name =====")
        if (time) {
          (1 to 3).foreach { i =>
            val t0 = System.nanoTime()
            val n = SparkEntry.queries(name)(spark, sf).count()
            println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
            spark.catalog.clearCache()
          }
        } else SparkEntry.queries(name)(spark, sf).explain("formatted")
      }
    }
    spark.stop()
  }
}
