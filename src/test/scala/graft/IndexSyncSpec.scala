package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** INDEX.md (the generated user-facing operator index,
  * `tools/gen_index.py`) must stay in sync with the actual query
  * surface — adding or renaming a `SparkEntry.queries` key without
  * regenerating the index fails here, so the index can be trusted as
  * navigation instead of rotting like hand-maintained docs do.
  */
class IndexSyncSpec extends AnyFunSuite {

  private lazy val indexKeys: Set[String] = {
    val p = java.nio.file.Paths.get("INDEX.md")
    assert(java.nio.file.Files.exists(p),
      "INDEX.md missing — run `python3 tools/gen_index.py`")
    java.nio.file.Files.readAllLines(p).asScala
      .flatMap("""^\| `([a-z0-9_]+)` \|""".r
        .findFirstMatchIn(_).map(_.group(1)))
      .toSet
  }

  test("INDEX.md lists exactly the registered query keys") {
    val registered = SparkEntry.queries.keySet
    val missing = registered -- indexKeys
    val stale = indexKeys -- registered
    assert(missing.isEmpty && stale.isEmpty,
      s"INDEX.md out of sync — regenerate with `python3 tools/gen_index.py`" +
        (if (missing.nonEmpty) s"; missing: ${missing.toSeq.sorted.take(10).mkString(", ")}" else "") +
        (if (stale.nonEmpty) s"; stale: ${stale.toSeq.sorted.take(10).mkString(", ")}" else ""))
  }

  test("INDEX.md's registration lines point at real Q(\"key\" sites") {
    // spot-integrity: every `<file>.scala:N` reference must have the
    // key's registration on that exact line of that file, so the index's
    // line numbers can be trusted as clickable navigation
    val rowRe = """^\| `([a-z0-9_]+)` \| ([\w/]+\.scala):(\d+) \|""".r
    val rows = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("INDEX.md")).asScala
      .flatMap(rowRe.findFirstMatchIn(_)
        .map(m => (m.group(1), m.group(2), m.group(3).toInt)))
    assert(rows.nonEmpty)
    val files = rows.map(_._2).distinct.map { f =>
      f -> java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"src/main/scala/graft/$f"))
    }.toMap
    rows.foreach { case (key, file, ln) =>
      val src = files(file)
      assert(ln >= 1 && ln <= src.size && src.get(ln - 1).contains(s"""Q("$key""""),
        s"INDEX.md says $key is registered at $file:$ln but " +
          "that line does not contain its registration — regenerate the index")
    }
  }
}
