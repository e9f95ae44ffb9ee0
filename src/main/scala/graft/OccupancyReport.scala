package graft

import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, Similarity}

/** Bucket-occupancy histogram for the two r16-`weak` dedup operators on
  * DRIVER-SHAPED data (VERDICT r16 task 1's evidence artifact): runs the
  * registered queries' exact input constructions at a given sfDir and
  * reports, per operator, the occupancy distribution the pair self-join
  * faces — max / p99 / mean bucket, the Σ C(n_b,2) candidate count, and
  * the r16-geometry counterfactual (fixed 8 bits, uncentered) so the
  * before/after is in one artifact.
  *
  * Usage: runMain graft.OccupancyReport <sfDir> [out.json]
  */
object OccupancyReport {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OccupancyReport <sfDir> [out.json]")
    val sfDir = args(0)
    val out = if (args.length > 1) args(1) else "occupancy_report.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val load1Before = HostLoad.load1()
    val stealBefore = HostLoad.stealSeconds()
    val spark = Sessions.local(cpus)

    // `cap`: when given, the registered query's maxBucketSize is
    // recorded alongside how many buckets EXCEED it — VERDICT r17
    // task 7: the phash block's natural (pre-cap) occupancy read cold
    // as if the cap binds at sf10; `"cap":4096,"capped_buckets":0`
    // states explicitly that the guarded registered form clears it.
    def stats(occ: org.apache.spark.sql.DataFrame,
        cap: Option[Int] = None): String = {
      val r = occ.agg(
        count(lit(1)).as("buckets"),
        max(col("n")).as("max_occ"),
        expr("approx_percentile(n, 0.99)").as("p99_occ"),
        avg(col("n")).as("mean_occ"),
        sum(expr("n * (n - 1) DIV 2")).as("candidates"),
        sum(when(col("n") > cap.getOrElse(Int.MaxValue), 1L)
          .otherwise(0L)).as("capped_buckets")).head()
      val capField = cap.map(c =>
        s""","cap":$c,"capped_buckets":${r.getLong(5)}""").getOrElse("")
      f"""{"buckets":${r.getLong(0)},"max_occ":${r.getLong(1)},""" +
        f""""p99_occ":${r.getLong(2)},"mean_occ":${r.getDouble(3)}%.1f,""" +
        f""""candidates":${r.getLong(4)}$capField}"""
    }

    // the registered dedup_embedding_cosine input: embeddings plus
    // exact duplicates planted under shifted ids
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = e.unionByName(e.withColumn("id", col("id") + 1000000L))
    val cosineNow = stats(Similarity.cosineLshOccupancy(planted))
    val cosineR16 = stats(Similarity.cosineLshOccupancy(planted,
      nBits = 8, tables = 4, center = false, autoBits = false))

    // the registered mm_phash_dedup input
    val payload = Multimodal.asPayload(
      Tables.documents(spark, sfDir), col("doc_id"), col("text"))
    val phash = stats(Multimodal.phashOccupancy(payload),
      cap = Some(4096)) // the registered mm_phash_dedup maxBucketSize

    val json = s"""{"sf":"$sfDir","cosine":{"now":$cosineNow,""" +
      s""""r16_geometry":$cosineR16},"phash":$phash,""" +
      s""""host":${HostLoad.json(load1Before, stealBefore)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
