package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract completeness: the correctness gate only checks queries
  * that HAVE an oracle, so a query accidentally shipped without one
  * silently downgrades to a rows-only check. This spec makes the
  * rows-only set an explicit allowlist.
  */
class ContractSpec extends AnyFunSuite {

  /** Deliberately un-oracled (cross-engine hash-unstable by nature);
    * each is documented at its SparkEntry definition site.
    *
    * Round 5 emptied it: the four former members (q_approx_distinct,
    * q_approx_percentile, q_hll_merge, q_simsearch_cosine) now compute
    * approx AND exact in one job and emit exact values plus a bounded-
    * error verdict the oracle asserts TRUE — "rows + bounded error"
    * instead of rows-only.
    */
  private val rowsOnly = Set.empty[String]

  test("every query has an oracle or is an allowlisted rows-only check") {
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty,
      s"queries without oracle SQL (add one or allowlist): $missing")
  }

  test("no orphan oracles (oracle SQL without a query)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries with no query: $orphans")
  }

  test("SURVEY.md §2.3 inventory count matches SparkEntry.queries.size " +
       "(the count drifted twice inside round 8 — fail loud on drift)") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val text = try survey.mkString finally survey.close()
    val m = """Every `SparkEntry\.queries` entry \((\d+) as of round"""
      .r.findFirstMatchIn(text)
    assert(m.isDefined,
      "SURVEY.md no longer carries the inventory-count sentence " +
        "(\"Every `SparkEntry.queries` entry (N as of round ...\")")
    val stated = m.get.group(1).toInt
    assert(stated == SparkEntry.queries.size,
      s"SURVEY.md §2.3 states $stated queries but SparkEntry.queries " +
        s"has ${SparkEntry.queries.size} — update the doc")
  }

  test("SURVEY.md §2.3 inventory has no duplicate rows (q_audio_wav " +
       "was listed twice through round 9) and every row names a real query") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val lines = try survey.getLines().toList finally survey.close()
    val names = lines.collect {
      case l if l.startsWith("| q_") || l.startsWith("| ingest_") =>
        l.drop(2).takeWhile(_ != ' ')
    }
    val dups = names.groupBy(identity).filter(_._2.size > 1).keySet
    assert(dups.isEmpty, s"duplicate inventory rows: $dups")
    // compound rows ("q_sql_tpch2/9/11/16") cover several queries; the
    // leading name before the first "/" must still be real
    val ghosts = names.map(_.takeWhile(_ != '/')).toSet --
      SparkEntry.queries.keySet
    assert(ghosts.isEmpty, s"inventory rows with no query entry: $ghosts")
  }

  /** Expand one inventory-row name cell into the queries it covers:
    * "a / b / c" lists full names; "a / _x / _y" suffixes replace the
    * first name's last `_segment`; "q_sql_tpch2/9/11/16" expands
    * numeric suffixes onto the digit-stripped stem.
    */
  private def expandRow(cell: String): Seq[String] = {
    val parts = cell.split(" / ").map(_.trim).toSeq
    val first = parts.head
    val firstExpanded =
      if (first.contains("/")) {
        val segs = first.split("/").toSeq
        val stem = segs.head.reverse.dropWhile(_.isDigit).reverse
        segs.head +: segs.tail.map(stem + _)
      } else Seq(first)
    firstExpanded ++ parts.tail.map { p =>
      if (p.startsWith("_")) first.take(first.lastIndexOf('_')) + p
      else p
    }
  }

  test("SURVEY.md §2.3 inventory COVERS every query (compound rows " +
       "expanded) — the count gate alone let q_audio_adpcm and " +
       "q_video_mjpeg ship uninventoried in round 10") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val lines = try survey.getLines().toList finally survey.close()
    val cells = lines.collect {
      case l if l.startsWith("| q_") || l.startsWith("| q1") ||
                l.startsWith("| ingest_") =>
        l.drop(2).takeWhile(_ != '|').trim
    }
    val covered = cells.flatMap(expandRow).toSet
    val missing = SparkEntry.queries.keySet -- covered
    assert(missing.isEmpty,
      s"queries with no SURVEY §2.3 inventory row: $missing")
    val ghosts = covered -- SparkEntry.queries.keySet
    assert(ghosts.isEmpty,
      s"inventory rows naming nonexistent queries after expansion: $ghosts")
  }

  test("src/main's entry points are exactly the four CLIs, the data " +
       "generator and the profiler (no one-off probe mains)") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sources = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally files.close()
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val mains = sources.flatMap { path =>
      val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val pkg = """(?m)^package\s+([\w.]+)""".r
        .findFirstMatchIn(text).map(_.group(1) + ".").getOrElse("")
      val objects = objectDecl.findAllMatchIn(text).toList
      // each `def main(` belongs to the nearest object declared above it
      """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        pkg + objects.filter(_.start < m.start).last.group(1)
      }
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Explain", "graft.Run",
      "graft.Verify", "graft.tools.GenData", "graft.tools.Profile"), mains)
  }

  test("rows-only allowlist stays minimal (everything in it exists)") {
    val stale = rowsOnly -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlisted names no longer exist: $stale")
    assert((rowsOnly & SparkEntry.oracleSql.keySet).isEmpty,
      "allowlisted queries now HAVE oracles — remove from the allowlist")
  }
}
