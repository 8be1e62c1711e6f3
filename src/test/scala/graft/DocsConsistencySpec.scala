package graft

import scala.jdk.CollectionConverters._

/** Pins the hand-written docs to the runtime registry so counts can't
  * drift (r9 verdict: COVERAGE.md said 410 while the suite was 422).
  * The query count has exactly one source of truth —
  * `SparkEntry.queries.size` — and the docs must quote it.
  */
class DocsConsistencySpec extends org.scalatest.funsuite.AnyFunSuite {

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  test("COVERAGE.md header quotes the live query count") {
    val n = SparkEntry.queries.size
    val txt = read("COVERAGE.md")
    val m = """(\d+) queries total""".r.findFirstMatchIn(txt)
    assert(m.isDefined, "COVERAGE.md must state 'NNN queries total'")
    assert(m.get.group(1).toInt == n,
      s"COVERAGE.md says '${m.get.group(1)} queries total' but SparkEntry.queries has $n — " +
        "update the doc header (single source of truth is the registry)")
  }

  test("README quotes the live query count as its oracle tally") {
    val n = SparkEntry.queries.size
    val m = """(\d+)/(\d+)""".r.findFirstMatchIn(read("README.md"))
    assert(m.isDefined, "README.md must state the oracle tally as 'NNN/NNN'")
    assert(m.get.group(1).toInt == n && m.get.group(2).toInt == n,
      s"README.md says '${m.get.matched}' but SparkEntry.queries has $n — update the README")
  }

  /** (names in README "Settings" table rows, names quoted as string
    * literals in src/main), both matching `name`.
    */
  private def settingsVsCode(name: String): (Set[String], Set[String]) = {
    val settings = read("README.md").split("\n## ").find(_.startsWith("Settings")).get
    val documented = ("(?m)^\\| `(" + name + ")`").r.findAllMatchIn(settings).map(_.group(1)).toSet
    val inCode = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => ("\"(" + name + ")\"").r.findAllMatchIn(read(p.toString)).map(_.group(1))).toSet
    (documented, inCode)
  }

  test("README's Settings table lists exactly the SPARK_GRAFT_* variables src/main reads") {
    val (documented, inCode) = settingsVsCode("""SPARK_GRAFT_\w+""")
    assert(inCode.nonEmpty && documented == inCode,
      s"README Settings rows only: ${documented -- inCode}; read in src/main only: ${inCode -- documented}")
  }

  test("README's Settings table lists exactly the spark.graft.* confs src/main reads") {
    val (documented, inCode) = settingsVsCode("""spark\.graft\.[\w.]+""")
    assert(inCode.nonEmpty && documented == inCode,
      s"README Settings rows only: ${documented -- inCode}; read in src/main only: ${inCode -- documented}")
  }

  test("a query name declared twice fails the registry, by name") {
    val plan: Q = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(Query("q_a", plan, "SELECT 1"), Query("q_b", plan, "SELECT 2"),
        Query("q_a", plan, "SELECT 3")))
    }
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
    assert(SparkEntry.registry(Seq(Query("q_a", plan, "SELECT 1"))).keySet == Set("q_a"))
  }
}
