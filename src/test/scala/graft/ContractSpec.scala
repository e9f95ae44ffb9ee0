package graft

/** Driver-contract invariants over the WHOLE query surface — the net
  * under every future batch addition:
  *  - no duplicate keys (a dup would silently collapse in the Map and
  *    drop a query from the driver's correctness artifact);
  *  - every query has an oracle (the correctness gate is only as wide
  *    as oracleSql — a missing entry demotes a query to rows-only);
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
}
