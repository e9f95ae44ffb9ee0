package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name,name,...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated subset for local iteration; the driver
    // always runs the full surface (no third arg)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // config-robustness knobs (SCALE.md round-15): the correctness
    // contract must not depend on the harness's default session shape,
    // so the driver-equivalent run can be repeated with AQE off or an
    // adversarial shuffle-partition count and compared to the same
    // oracles. Format: SPARK_GRAFT_EXTRA_CONF="k=v;k=v".
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      }
    val spark = Sessions.local(cpus,
      ("spark.sql.shuffle.partitions" -> shufflePartitions) +: extraConf.toSeq)
    new java.io.File(outDir).mkdirs()
    // a failed query must leave a visible record, not a silent hole:
    // round 9's artifact shrank 229→99 entries with zero err fields
    // because failures wrote nothing at all. Each failure gets a
    // `<name>/_ERROR` marker (the driver's parquet read of that dir then
    // fails → recorded as err) plus a row in errors.json.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(500)
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"),
          errors(name) + "\n")
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure summary alongside the per-query markers
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
