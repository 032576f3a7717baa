package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract wiring: a typo'd oracle key silently weakens the
  * correctness gate (the driver records rows-only instead of a hash
  * compare), so pin the key sets against each other. */
class ContractSpec extends AnyFunSuite {

  /** Queries intentionally without SQL oracles — EMPTY since round 8:
    * t05/m02 graduated in round 3 (DuckDB hex byte-walk); the five ANN
    * queries in round 5 (md5-parity hyperplanes + fold-exact dot mirrors
    * + unrolled Lloyd iterations in SQL); the CMS in round 7
    * (Murmur3_x86_32 spelled out in UBIGINT SQL — `Oracles.CmsSql`); and
    * the two HLL entries in round 8, reshaped to exact counts + within-ε
    * booleans the oracle asserts TRUE (the register layout itself stays
    * engine-specific — the bound is what is checkable). */
  private val rowsOnly = Set.empty[String]

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles with no query: $orphans")
  }

  test("every query is oracle-checked or explicitly rows-only") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(unchecked.isEmpty, s"queries silently missing oracles: $unchecked")
    val stale = rowsOnly -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows-only allowlist entries with no query: $stale")
    val both = rowsOnly & SparkEntry.oracleSql.keySet
    assert(both.isEmpty, s"rows-only entries that now have oracles: $both")
  }

  test("every bench headline name is a registered query") {
    val unknown = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"headline entries with no query: $unknown")
    // the driver's stdout-tail capture is ~2000 chars; the emitted JSON
    // line must fit with room for sbt's trailing [success] line. Mirrors
    // Bench's actual format: per-query values rounded to 4dp, plus the
    // totals/failed/spread trailer fields.
    val worstCaseLine = Bench.headline
      .map(n => s""""$n":123.4568""").mkString(
        """{"metric":"total","value":1234.567890123,"unit":"sec","queries":{""",
        ",",
        """},"total_all":1234.567890123,"n_all":130,"n_failed":0,"failed":[],""" +
          """"reps":3,"spread_max":12.3456,"spread_med":0.1234,"sf":"/root/testdata/sf0.1"}""")
    // budget 1900 of the ~2000-char capture: the r15 headline extension
    // (43 → 53 queries, the r14 verdict's additions-only ask) outgrew the
    // earlier 1500 pin, whose slack existed for sbt's [success] banner —
    // suppressed since round 1 (Global/showSuccess := false) — and for
    // log noise after the line — impossible since Bench prints after
    // spark.stop() as the final statement. Every value here is padded
    // (123.4568 = an 8-char 123-second query; real warm values are 6
    // chars), so the real line runs ~100 chars shorter than this bound.
    assert(worstCaseLine.length < 1900,
      s"bench JSON line too long for driver tail capture: ${worstCaseLine.length}")
  }

  test("oracle SQL references only tables the driver provides") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val known = tables ++ Set("prep") // the CTE
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      // lookbehind excludes SQL's `IS DISTINCT FROM x` comparisons
      val froms = """(?i)(?<!DISTINCT )\bFROM\s+([a-z_]+)\b""".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // the optional (col, ...) list covers recursive CTEs: `reach(node, lab) AS (`
      val cteNames = """(?i)([a-z_]+)\s*(?:\([a-z_,\s]*\))?\s+AS\s*\(""".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = froms -- known -- cteNames
      assert(unknown.isEmpty, s"$k references unknown relations: $unknown")
    }
  }

  /** Every file under `dir`, relative to it. */
  private def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(root.relativize).toList
    finally walk.close()
  }

  private def scalaSources(dir: String): Seq[(String, String)] =
    files(dir).filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readString(Paths.get(dir).resolve(p)))

  test("sessions are built only by graft.Session and serve.ServeMain") {
    val sources = scalaSources("src/main/scala")
    def filesWith(needle: String): Set[String] =
      sources.collect { case (f, text) if text.contains(needle) => f }.toSet
    // ServeMain takes its session from Session.serving
    assert(filesWith("SparkSession.builder") == Set("graft/Session.scala"))
    assert(filesWith("SPARK_GRAFT_CPUS") == Set("graft/Session.scala"))
  }

  test("one reader per source format: no registered connector, no JDBC read, one CSV reader") {
    val services = files("src/main").map(_.toString)
      .filter(f => f.contains("META-INF/services/") && f.endsWith("DataSourceRegister"))
    assert(services.isEmpty, s"a second scan path registered as a data source: $services")
    val sources = scalaSources("src/main/scala")
    val formats = sources.collect {
      case (f, text) if Seq("format(\"jdbc\")", "format(\"ftl-csv\")").exists(text.contains) => f
    }
    assert(formats.isEmpty, s"read through FtlIngest's readers, not another format: $formats")
    assert(sources.collect { case (f, text) if text.contains(".csv(") => f }.toSet ==
      Set("graft/sources/FtlIngest.scala"), "FtlIngest.readCsv is the one CSV reader")
  }

  /** Object-level defs in `graft/operators` and `graft/sources` that no
    * `src/main` or perfbench code names, each with the spec that uses
    * it. Only three kinds belong here: the expected value a spec
    * compares a running path against, a source reader kept for its
    * format (one reader per format; ROADMAP direction 5), and a test
    * hook that releases a memo between cases. */
  private val specForms = Map(
    // expected values
    "wordShinglesHof" -> "graft/DedupSpec.scala",         // ≡ native distinct_shingles
    "cosine" -> "graft/DedupSpec.scala",                  // s09's all-pairs superset
    "nearDupPairsSingleTable" -> "graft/DedupSpec.scala", // s09 banded ⊇ single-table
    "knnLshSingleProbe" -> "graft/StorageSpec.scala",     // s06 multiprobe recall ≥ it
    "packSequencesWindow" -> "graft/PackingSpec.scala",   // ≡ p12's packSequences
    "interArrivalRaw" -> "graft/StatsSpec.scala",         // ≡ the facade's mean gaps
    "attachBmpMedia" -> "graft/MultimodalSpec.scala",     // ≡ buildBmp
    "buildPngAdam7From" -> "graft/MultimodalSpec.scala",  // decodePng input
    "buildPngGrayAlpha" -> "graft/MultimodalSpec.scala",  // decodePng input
    // source readers and layouts
    "readCsvSplit" -> "graft/sources/CsvMutationSpec.scala",
    "probeRange" -> "graft/FtlIngestSpec.scala",
    "writeDatePartitioned" -> "graft/serve/ServeLoadSpec.scala", // ServeMain's layout
    // test hooks
    "releaseCaches" -> "graft/DedupSpec.scala")

  /** `text` without its comments; string and char literals are kept, so a
    * `//` inside a literal does not start a comment. */
  private def code(text: String): String =
    """(?s)\"{3}.*?\"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*.*?\*/""".r
      .replaceAllIn(text, m =>
        if (m.matched.startsWith("/")) "" else java.util.regex.Matcher.quoteReplacement(m.matched))

  test("every operator and source def is named by src/main or perfbench, or is a listed spec form") {
    val main = scalaSources("src/main/scala").map { case (f, t) => f -> code(t) }
    val bench = scalaSources("perfbench/src").map(p => code(p._2))
    val objectDef = """(?m)^  (?:(?:private|protected)(?:\[\w+\])? )?(?:final )?def\s+(\w+)""".r
    val defs = main.filter(_._1.matches("graft/(operators|sources)/[^/]+\\.scala"))
      .flatMap { case (f, t) => objectDef.findAllMatchIn(t).map(m => m.group(1) -> f) }
    def named(n: String): Boolean = {
      val use = s"(?<!def\\s{1,9})\\b$n\\b".r
      main.exists(p => use.findFirstIn(p._2).isDefined) ||
        bench.exists(use.findFirstIn(_).isDefined)
    }
    val unreached = defs.filterNot { case (n, _) => specForms.contains(n) || named(n) }
    assert(unreached.isEmpty,
      s"delete these, or list the spec that uses each as an expected value: $unreached")
    val stale = specForms.filterNot { case (n, spec) =>
      defs.exists(_._1 == n) && !named(n) &&
        Files.readString(Paths.get("src/test/scala", spec)).contains(n)
    }
    assert(stale.isEmpty, s"spec forms that src/main now names, or no longer defined or used: $stale")
  }

  test("no code changes a built session's planner, optimizer or function registry") {
    val mutation = """experimental\.extra\w+\s*=(?!=)|registerFunction\(""".r
    val hits = (scalaSources("src/main/scala") ++ scalaSources("src/test/scala")).collect {
      case (f, text) if mutation.findFirstIn(text).isDefined => f
    }
    assert(hits.isEmpty, s"install planner extensions when the session is built: $hits")
  }
}
