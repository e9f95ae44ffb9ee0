package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf0.1 → sfN testdata upsampler for the scaling
  * measurement (SCALE.md "measured exponents" table). NOT a general
  * generator: it replicates the driver's sf0.1 tables K× with
  * key-space shifts that mimic how the driver itself scales —
  * 10× rows ⇒ 10× users/docs over the SAME 30-day span (observed
  * 150 → 1500 users sf0.01 → sf0.1), embeddings grow 4× per 10×.
  *
  * Copy-k perturbations keep per-copy statistics identical while
  * preventing CROSS-copy artifacts that would bend the exponent:
  *  - `documents.text`: every token gets a copy suffix (`tok~k`), so
  *    token sets across copies are disjoint — otherwise every doc
  *    would have K−1 exact duplicates and near-dup pair output would
  *    grow quadratically in K instead of linearly in rows;
  *  - `embeddings.embedding`: rotated by k positions — same norm and
  *    coordinate distribution, but a vector and its rotation are not
  *    near-neighbors, so ANN/cosine output stays ~linear;
  *  - ids shift by a copy stride small enough to stay under the 10^6
  *    planted-dup offset the dedup queries reserve.
  *
  * `events.ts` passes through in whatever physical encoding the source
  * carries (nanosecond INT64 generations replicate as plain longs,
  * microsecond-timestamp generations as timestamp[us]):
  * `Tables.loadEvents` branches on the written dtype, so the read path
  * under test matches the driver's layout either way.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <destDir> [factor=10]
  */
object ScaleUp {

  private def replicate(df: DataFrame, k: Int)(
      copy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(i => copy(df, i)).reduce(_ unionByName _)

  /** The fixed copy strides below are sized for an sf0.1-shaped source.
    * Chaining from a larger source (sf1 → sf10) would silently overlap
    * id ranges across copies and corrupt every dedup / distinct-count
    * scaling measurement — so refuse loudly instead.
    */
  private def assertStride(df: DataFrame, idCol: String, stride: Long): Unit = {
    val mx = df.agg(max(col(idCol)).cast("long")).head().getLong(0)
    require(mx < stride,
      s"ScaleUp copy stride $stride for '$idCol' does not cover the " +
        s"source's max id $mx — chain from the sf0.1 source (or raise " +
        "the stride) so copies stay disjoint")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <destDir> [factor]")
    val (src, dest) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    // Not Sessions.local: pins 32 shuffle partitions whatever the core
    // count, and sets no session time zone.
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // events: K× users over the same span; ts passes through untouched
    // in whatever physical encoding the source carries (nanosAsLong set
    // above so a TIMESTAMP(NANOS) file reads as raw longs; a
    // timestamp[us] file reads natively — either way the column is
    // copied verbatim and the adaptive Tables.events read path handles
    // the output)
    val ev = spark.read.parquet(s"$src/events.parquet")
    assertStride(ev, "event_id", 10000000L)
    assertStride(ev, "user_id", 100000L)
    replicate(ev, factor) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k.toLong * 10000000L))
        .withColumn("user_id", col("user_id") + lit(k.toLong * 100000L))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$dest/events.parquet")

    // documents: disjoint token spaces per copy; n_chars re-derived so
    // the length column stays consistent with the perturbed text
    val docs = spark.read.parquet(s"$src/documents.parquet")
    assertStride(docs, "doc_id", 10000L)
    replicate(docs, factor) { (d, k) =>
      val text = if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ")
      d.withColumn("doc_id", col("doc_id") + lit(k.toLong * 10000L))
        .withColumn("text", text)
        .withColumn("n_chars", length(text).cast("long"))
    }.repartition(8).write.mode("overwrite")
      .parquet(s"$dest/documents.parquet")

    // embeddings: driver grows these ~4× per 10× sf — rotate by k so
    // copies are not mutual near-neighbors
    val embFactor = math.max(1, (factor * 4) / 10)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    assertStride(emb, "vec_id", 10000L)
    replicate(emb, embFactor) { (d, k) =>
      val rot = if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, 64 - k),
          slice(col("embedding"), 1, k))
      d.withColumn("vec_id", col("vec_id") + lit(k.toLong * 10000L))
        .withColumn("embedding", rot)
    }.repartition(8).write.mode("overwrite")
      .parquet(s"$dest/embeddings.parquet")

    // lineitem: row-linear scan/sink workloads; orderkey shifted to keep
    // the key space growing like the row count
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    assertStride(li, "l_orderkey", 10000000L)
    replicate(li, factor) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 10000000L))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$dest/lineitem.parquet")

    // dims pass through unscaled (copied so the dest dir is complete)
    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      }
    System.err.println(s"[scaleup] wrote $dest at factor $factor " +
      s"(embeddings ${embFactor}x)")
    spark.stop()
  }
}
