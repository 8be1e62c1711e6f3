package graft

/** The harness bootstrap: a session from GraftSession carries graft's
  * SQL functions and the confs Bench runs with, so every entry point
  * (Bench, Verify, the tools, these specs) plans the same way.
  */
class GraftSessionSpec extends SparkSpec {

  test("a fresh session resolves all six native SQL functions without GraftRegistry.register") {
    val s = spark.newSession()
    val r = s.sql(
      """SELECT graft_jw('MARTHA', 'MARHTA') AS jw, graft_luhn('79927398713') AS luhn,
        |  graft_logit(0.5) AS logit, graft_dot(array(1D, 2D), array(3D, 4D)) AS dot,
        |  graft_hilbert(1, 2, 4) AS hilbert""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 0.9611) < 1e-3)
    assert(r.getBoolean(1))
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 11.0)
    assert(!r.isNullAt(4))
    val shingles = s.sql("SELECT explode_shingles('a b c d', 2)").collect().map(_.getString(0))
    assert(shingles.toSeq == Seq("a b", "b c", "c d"))
  }

  test("the session carries the harness confs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == Tuning.codegenCacheConf)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    graft.sources.Bucketing.sessionConfs.foreach { case (k, v) => assert(conf.get(k) == v, k) }
  }

  test("query selection is name-ordered and keeps only the given prefixes") {
    val all = SparkEntry.selected(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val some = SparkEntry.selected(Some("q00_,q01")).map(_._1)
    assert(some.nonEmpty)
    assert(some == all.filter(n => n.startsWith("q00_") || n.startsWith("q01")))
  }
}
