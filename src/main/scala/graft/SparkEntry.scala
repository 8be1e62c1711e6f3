package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.queries._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query: the reference's Criteo/DLRM dense-feature pipeline
    * (/root/reference/axolotls/demo/criteo.py:30-51) re-expressed
    * Spark-first: fill_null(0) → (x+3) → ln → logit(1/(x+3)), fused by
    * whole-stage codegen into a single scan-transform pass.
    * Runs on sf0.001; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    criteoPipeline(spark, "/root/testdata/sf0.001")

  /** The Criteo pipeline as an oracle-checked query: a synthetic nullable
    * column (the harness tables have no NULLs) is null-filled then pushed
    * through the reference's numeric chain.
    */
  private val criteoPipeline: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val dense = when(col("l_linenumber") =!= 3, col("l_quantity")) // NULL at linenumber=3
    val filled = fillNull(dense, 0.0)
    li.select(
        col("l_orderkey"), col("l_linenumber"),
        round(log(filled + lit(3.0)), 6).as("dense_log"),
        round(logit(lit(1.0) / (filled + lit(3.0))), 6).as("dense_logit"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val criteoOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  round(ln(coalesce(CASE WHEN l_linenumber <> 3 THEN l_quantity END, 0.0) + 3.0), 6) AS dense_log,
      |  round(ln((1.0 / (coalesce(CASE WHEN l_linenumber <> 3 THEN l_quantity END, 0.0) + 3.0)) /
      |    (1.0 - (1.0 / (coalesce(CASE WHEN l_linenumber <> 3 THEN l_quantity END, 0.0) + 3.0)))), 6) AS dense_logit
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Every module's query list, q00 first. A new module goes here. */
  private def modules: Seq[Seq[Query]] = Seq(
    Seq(Query("q00_criteo_pipeline", criteoPipeline, criteoOracle)),
    Relational.queries, Functions.queries, TextAnalysis.queries, TextAnalysis2.queries,
    DedupSim.queries, TimeWindows.queries, Extended.queries, Relational2.queries,
    SqlAndSources.queries, PipelineOps.queries, Curation.queries, Curation3.queries,
    Curation4.queries, Curation5.queries, Curation6.queries, Curation7.queries,
    Curation8.queries, Curation9.queries, Curation10.queries, Curation11.queries,
    Curation12.queries, Curation13.queries, Curation14.queries, Curation15.queries,
    Curation16.queries, Curation17.queries, Curation18.queries, Curation19.queries,
    Curation20.queries, Curation21.queries, Curation22.queries, Curation23.queries,
    Curation24.queries, Curation25.queries, Curation26.queries, Curation27.queries,
    Curation28.queries, Curation29.queries, Curation30.queries, Curation31.queries,
    Curation32.queries, Curation33.queries, Curation34.queries, Curation35.queries,
    Curation36.queries, Curation37.queries, Curation38.queries, Curation39.queries,
    Curation40.queries, Curation41.queries, Curation42.queries, Curation43.queries,
    Curation44.queries, Curation45.queries, Curation46.queries, Curation47.queries,
    Curation48.queries, Curation49.queries, Curation50.queries, Curation51.queries,
    Curation52.queries, Curation53.queries, Curation54.queries, Curation55.queries,
    Curation56.queries, Curation57.queries, Curation58.queries, Curation59.queries,
    Curation60.queries, Curation61.queries, Curation62.queries, Curation63.queries,
    Curation64.queries, Curation65.queries, Curation66.queries, Curation67.queries)

  /** The entries by name. A name declared twice fails here, naming it:
    * a `Map ++ Map` would keep the later entry without a word.
    */
  private[graft] def registry(entries: Seq[Query]): Map[String, Query] = {
    val twice = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> e).toMap
  }

  private lazy val byName: Map[String, Query] = registry(modules.flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Q] = byName.map { case (n, e) => n -> e.plan }

  /** The queries in name order, keeping only names that start with one
    * of the comma-separated `prefixes` when given (local iteration on a
    * subset). Name order is deterministic:
    * hash-map order shifts when queries are added, which once let an
    * order-dependent session-state bug hide.
    */
  def selected(prefixes: Option[String]): Seq[(String, Q)] = {
    val keep = prefixes.map(_.split(",").toSeq)
    queries.toSeq.sortBy(_._1).filter { case (name, _) => keep.forall(_.exists(name.startsWith)) }
  }

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables.
    */
  lazy val oracleSql: Map[String, String] = byName.map { case (n, e) => n -> e.oracle }
}
