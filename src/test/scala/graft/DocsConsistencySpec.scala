package graft

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

  test("every query has an oracle, every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).toSeq.sorted.take(5)}")
    assert((q -- o).isEmpty, s"queries without oracles: ${(q -- o).toSeq.sorted.take(5)}")
  }
}
