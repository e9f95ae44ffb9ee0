package graft

import org.apache.spark.sql.functions.{col, sum}

/** Driver-contract invariants over the WHOLE query surface — the net
  * under every future batch addition:
  *  - no duplicate keys (a dup would silently collapse in the Map and
  *    drop a query from the driver's correctness artifact);
  *  - every query has an oracle (`Q` requires one, so this guards that
  *    `queries` and `oracleSql` cover the same keys, with no orphans);
  *  - each `graft.queries` family registers exactly the key prefixes
  *    this spec assigns it;
  *  - every query BUILDS against the sf0.001 tables (plan analysis
  *    resolves; eager queries — sinks, streams, collect-backed builds —
  *    also execute here, so a wiring break in any of the 300 surfaces
  *    in `sbt test`, not first in the driver's round artifact).
  */
class ContractSpec extends SparkSpecBase {

  test("no duplicate query keys across batches") {
    val keys = SparkEntry.orderedQueries.map(_._1)
    val dups = keys.groupBy(identity).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"duplicate keys: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === keys.length)
  }

  test("every query is oracle-checked") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without an oracle (rows-only check): ${missing.mkString(", ")}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracles without a query: ${orphans.mkString(", ")}")
  }

  test("every query builds against sf0.001") {
    val d = sf()
    val broken = SparkEntry.orderedQueries.flatMap { case (name, fn) =>
      try { fn(spark, d).schema; None }
      catch { case e: Throwable =>
        Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
      }
    }
    assert(broken.isEmpty, s"broken queries:\n${broken.mkString("\n")}")
  }

  test("the flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the flagship entry counts every lineitem row of its sf directory") {
    Seq("sf0.001", "sf0.01").foreach { dir =>
      val d = sf(dir)
      val n = SparkEntry.entry(spark, d).agg(sum(col("n"))).head().getLong(0)
      assert(n === Tables.lineitem(spark, d).count(), dir)
    }
  }

  /** Key prefix (the text before the first `_`) per family object. */
  private val familyPrefixes: Seq[(String, Seq[queries.Q], Set[String])] = Seq(
    ("RelationalQueries", queries.RelationalQueries.queries,
      Set("scan", "sink", "filter", "project", "limit", "sort", "set",
        "union", "join", "merge", "sql", "sample")),
    ("AggQueries", queries.AggQueries.queries, Set("agg")),
    ("WindowQueries", queries.WindowQueries.queries, Set("win", "downsample")),
    ("FeatureQueries", queries.FeatureQueries.queries,
      Set("f", "feature", "split", "ml", "rollup")),
    ("QualityQueries", queries.QualityQueries.queries, Set("dq")),
    ("StreamQueries", queries.StreamQueries.queries, Set("stream")),
    ("TextQueries", queries.TextQueries.queries, Set("text")),
    ("DedupQueries", queries.DedupQueries.queries, Set("dedup", "pipeline")),
    ("MediaQueries", queries.MediaQueries.queries, Set("mm", "emb", "ann")),
    ("GraphQueries", queries.GraphQueries.queries, Set("graph")))

  test("each family registers only its own key prefixes") {
    val prefixes = familyPrefixes.flatMap(_._3.toSeq)
    assert(prefixes.distinct.size === prefixes.size,
      s"a prefix maps to two families: ${prefixes.diff(prefixes.distinct)}")
    familyPrefixes.foreach { case (family, qs, own) =>
      val stray = qs.map(_.key).filterNot(k => own(k.takeWhile(_ != '_')))
      assert(stray.isEmpty, s"$family registers foreign keys: ${stray.mkString(", ")}")
    }
    assert(familyPrefixes.flatMap(_._2.map(_.key)) ===
      SparkEntry.orderedQueries.map(_._1))
  }
}
