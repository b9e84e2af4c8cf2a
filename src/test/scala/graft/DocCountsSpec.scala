package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Published counts must equal the code (three rounds of doc drift say a
  * human won't keep them in sync). Every count a doc states is asserted
  * against its single source of truth: `SparkEntry.queries`/`oracleSql`,
  * the test sources themselves, and `BenchHeavy.HEAVY_QUERIES`. Fails →
  * fix the doc (or regenerate the BENCHNOTES artifact), never the spec.
  */
class DocCountsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root: Path =
    Seq("README.md", "/root/repo/README.md").map(Paths.get(_))
      .find(Files.exists(_)).map(p => Option(p.toAbsolutePath.getParent).get)
      .getOrElse(fail("repo root not found"))

  private def read(name: String): String =
    new String(Files.readAllBytes(root.resolve(name)), "UTF-8")

  private def captured(text: String, re: String, where: String): Int = {
    val r = re.r
    r.findFirstMatchIn(text).map(_.group(1).toInt)
      .getOrElse(fail(s"$where: no match for '$re' — keep the phrasing greppable"))
  }

  private lazy val testSources: Seq[String] =
    Files.list(root.resolve("src/test/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toSeq

  test("README test/suite counts match the test sources") {
    val tests = testSources.map("(?m)^\\s*test\\(".r.findAllIn(_).size).sum
    val suites = testSources.map("(?m)^class \\w+ extends".r.findAllIn(_).size).sum
    val readme = read("README.md")
    assert(captured(readme, """# (\d+) tests""", "README") === tests)
    assert(captured(readme, """tests / (\d+) suites""", "README") === suites)
  }

  test("README query count matches SparkEntry.queries") {
    assert(captured(read("README.md"), """all (\d+) queries""", "README")
      === SparkEntry.queries.size)
  }

  test("HEAVY_QUERIES has no duplicates (a dup double-times a query and skews .size)") {
    val q = graft.tools.BenchHeavy.HEAVY_QUERIES
    val dups = q.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicated heavy queries: ${dups.mkString(", ")}")
  }

  test("README heavy-tier count matches BenchHeavy.HEAVY_QUERIES") {
    assert(captured(read("README.md"), """(\d+) heaviest queries""", "README")
      === graft.tools.BenchHeavy.HEAVY_QUERIES.size)
  }

  test("SURVEY oracle-checked count matches SparkEntry.oracleSql") {
    assert(captured(read("SURVEY.md"), """(\d+) oracle-checked queries""", "SURVEY")
      === SparkEntry.oracleSql.size)
  }

  /** Query names in a BENCHNOTES table: first cell of each data row.
    * Diffing name SETS (not counts) makes a drift failure name the
    * missing/extra query — round 6's "19 did not equal 20" cost a bisect
    * to attribute to l3j_rerank_topk. */
  private def tableQueries(file: String): Set[String] = {
    // the MAIN bench table only: from its `| query |` header to the next
    // section heading (the recall/streaming tables have their own headers
    // and their own registries)
    val text = read(file)
    val start = text.indexOf("| query |")
    assert(start >= 0, s"$file: no '| query |' table header")
    val rest = text.substring(start)
    val table = "(?s)^(.*?)(\n#|\\z)".r.findFirstMatchIn(rest).get.group(1)
    // first cell only — no constraint on the second cell's shape, so a row
    // whose wall time rendered as "—" (failed run) or in scientific
    // notation still counts toward the drift check instead of silently
    // vanishing from it; the header names itself "query" and the |---|
    // separator has no word cell, so both self-exclude
    """(?m)^\| (\w+) \|""".r
      .findAllMatchIn(table).map(_.group(1)).filterNot(_ == "query").toSet
  }

  private def assertSameQueries(file: String, expected: Set[String]): Unit = {
    val actual = tableQueries(file)
    val missing = expected -- actual
    val extra = actual -- expected
    assert(missing.isEmpty && extra.isEmpty,
      s"$file table drift — missing from table: ${missing.toSeq.sorted.mkString(", ")}; " +
        s"not in registry: ${extra.toSeq.sorted.mkString(", ")} (regenerate the artifact)")
  }

  test("BENCHNOTES covers every declared query (regenerate after adding one)") {
    assert(captured(read("BENCHNOTES.md"), """over (\d+) queries""", "BENCHNOTES")
      === SparkEntry.queries.size)
    assertSameQueries("BENCHNOTES.md", SparkEntry.queries.keySet)
  }

  // the variants BenchHeavy constructs locally (not SparkEntry queries):
  // bucketed q2/q3/w1, the sized-width ANN forms, and the index builds
  private val heavyLocal = Set("q2_bucketed", "q3_bucketed", "w1_bucketed",
    "l3e_sized", "l3g_sized", "l3h_sized", "l3m_sized", "l3n_sized",
    "l31_sized", "l34_sized", "ann_build_sq8", "ann_build_ivf", "ann_build_vecs")

  test("BENCHNOTES_HEAVY covers the heavy tier plus bucketed and ANN-sized variants") {
    assert(captured(read("BENCHNOTES_HEAVY.md"), """over (\d+) queries""", "BENCHNOTES_HEAVY")
      === graft.tools.BenchHeavy.HEAVY_QUERIES.size + heavyLocal.size)
    assertSameQueries("BENCHNOTES_HEAVY.md",
      graft.tools.BenchHeavy.HEAVY_QUERIES.toSet ++ heavyLocal)
  }

  test("CROSSOVER sections match BenchStar's swept queries") {
    // one `## <query>` section per swept query (q2/q3 with bucketed
    // columns, the solo sweeps without); drift = a sweep ran but the regen
    // was skipped, or a section survived a query's removal
    val text = read("CROSSOVER.md")
    // single-\w+ headings are exactly the query sections (the prose
    // headings "## Reading the trend" / "## Beyond ..." contain spaces)
    val sections = """(?m)^## (\w+)$""".r.findAllMatchIn(text)
      .map(_.group(1)).toSet
    val expected = Set("q2_shipping_priority", "q3_revenue_by_nation",
      "a13_exact_percentiles", "q1_pricing_summary")
    assert(sections === expected,
      s"CROSSOVER.md drift — sections: ${sections.toSeq.sorted.mkString(", ")}")
  }

  test("BENCHNOTES_SF25 covers the sf25 subset plus the isolated ANN runs") {
    assert(captured(read("BENCHNOTES_SF25.md"), """over (\d+) queries""", "BENCHNOTES_SF25")
      === graft.tools.BenchHeavy.SF25_QUERIES.size
        + graft.tools.BenchHeavy.SF25_ANN.size)
    assertSameQueries("BENCHNOTES_SF25.md",
      graft.tools.BenchHeavy.SF25_QUERIES.toSet
        ++ graft.tools.BenchHeavy.SF25_ANN)
  }

  test("BENCHNOTES_SF50 covers the dedup/decontam scale-sweep subset") {
    assert(captured(read("BENCHNOTES_SF50.md"), """over (\d+) queries""", "BENCHNOTES_SF50")
      === graft.tools.BenchHeavy.SF50_QUERIES.size)
    assertSameQueries("BENCHNOTES_SF50.md",
      graft.tools.BenchHeavy.SF50_QUERIES.toSet)
  }

  test("README Running lists exactly the mains under src/main") {
    // a new probe main cannot land undocumented, and a retired one cannot
    // linger in the docs. Mains = top-level objects declaring `def main`
    val decl = """(?m)^(?:(?:private|final|sealed|abstract|case)\S* )*(object|class|trait) (\w+)""".r
    val mains = Files.walk(root.resolve("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1))
          .getOrElse(fail(s"$p: no package clause"))
        val ds = decl.findAllMatchIn(src).toSeq
        ds.zip(ds.drop(1).map(_.start) :+ src.length).collect {
          case (d, end) if d.group(1) == "object" &&
              src.substring(d.start, end).contains("def main(") => s"$pkg.${d.group(2)}"
        }
      }.toSet
    val readme = read("README.md")
    val start = readme.indexOf("\n## Running")
    assert(start >= 0, "README: no '## Running' section")
    val running = "(?s)^(.*?)(\n## |\\z)".r
      .findFirstMatchIn(readme.substring(start + 1)).get.group(1)
    val documented = """runMain (graft\.[\w.]+)""".r.findAllMatchIn(running)
      .map(_.group(1)).toSet
    assert(mains.contains("graft.Bench"), s"main scan missed graft.Bench: $mains")
    assert(documented === mains,
      s"undocumented mains: ${(mains -- documented).toSeq.sorted.mkString(", ")}; " +
        s"documented but gone: ${(documented -- mains).toSeq.sorted.mkString(", ")}")
  }
}
