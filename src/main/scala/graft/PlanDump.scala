package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for registered queries to text files —
  * the optimization rounds' plan-evidence artifacts
  * (`plans/r{N}/<query>_{before,after}.txt`). Usage:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [name,name,...]
  *
  * Writes `<outDir>/<name>_<suffix>.txt` per query. The session mirrors
  * Bench's (same master/shuffle-partition shape from SPARK_GRAFT_CPUS),
  * so the captured plan is the one the bench actually times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <sfDir> <outDir> <suffix> [name,name,...]")
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.orderedQueries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
        // as in Verify and Bench: no key's plan may read an earlier
        // key's InMemoryRelation
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
