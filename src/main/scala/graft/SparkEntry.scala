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

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    Map[String, Q]("q00_criteo_pipeline" -> criteoPipeline) ++
      Relational.defs ++ Functions.defs ++ TextAnalysis.defs ++ TextAnalysis2.defs ++ DedupSim.defs ++ TimeWindows.defs ++ Extended.defs ++ Relational2.defs ++ SqlAndSources.defs ++ PipelineOps.defs ++ Curation.defs ++ Curation3.defs ++ Curation4.defs ++ Curation5.defs ++ Curation6.defs ++ Curation7.defs ++ Curation8.defs ++ Curation9.defs ++ Curation10.defs ++ Curation11.defs ++ Curation12.defs ++ Curation13.defs ++ Curation14.defs ++ Curation15.defs ++ Curation16.defs ++ Curation17.defs ++ Curation18.defs ++ Curation19.defs ++ Curation20.defs ++ Curation21.defs ++ Curation22.defs ++ Curation23.defs ++ Curation24.defs ++ Curation25.defs ++ Curation26.defs ++ Curation27.defs ++ Curation28.defs ++ Curation29.defs ++ Curation30.defs ++ Curation31.defs ++ Curation32.defs ++ Curation33.defs ++ Curation34.defs ++ Curation35.defs ++ Curation36.defs ++ Curation37.defs ++ Curation38.defs ++ Curation39.defs ++ Curation40.defs ++ Curation41.defs ++ Curation42.defs ++ Curation43.defs ++ Curation44.defs ++ Curation45.defs ++ Curation46.defs ++ Curation47.defs ++ Curation48.defs ++ Curation49.defs ++ Curation50.defs ++ Curation51.defs ++ Curation52.defs ++ Curation53.defs ++ Curation54.defs ++ Curation55.defs ++ Curation56.defs ++ Curation57.defs ++ Curation58.defs ++ Curation59.defs ++ Curation60.defs ++ Curation61.defs ++ Curation62.defs ++ Curation63.defs ++ Curation64.defs ++ Curation65.defs ++ Curation66.defs ++ Curation67.defs

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
    * same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    Map("q00_criteo_pipeline" -> criteoOracle) ++
      Relational.oracles ++ Functions.oracles ++ TextAnalysis.oracles ++ TextAnalysis2.oracles ++ DedupSim.oracles ++ TimeWindows.oracles ++ Extended.oracles ++ Relational2.oracles ++ SqlAndSources.oracles ++ PipelineOps.oracles ++ Curation.oracles ++ Curation3.oracles ++ Curation4.oracles ++ Curation5.oracles ++ Curation6.oracles ++ Curation7.oracles ++ Curation8.oracles ++ Curation9.oracles ++ Curation10.oracles ++ Curation11.oracles ++ Curation12.oracles ++ Curation13.oracles ++ Curation14.oracles ++ Curation15.oracles ++ Curation16.oracles ++ Curation17.oracles ++ Curation18.oracles ++ Curation19.oracles ++ Curation20.oracles ++ Curation21.oracles ++ Curation22.oracles ++ Curation23.oracles ++ Curation24.oracles ++ Curation25.oracles ++ Curation26.oracles ++ Curation27.oracles ++ Curation28.oracles ++ Curation29.oracles ++ Curation30.oracles ++ Curation31.oracles ++ Curation32.oracles ++ Curation33.oracles ++ Curation34.oracles ++ Curation35.oracles ++ Curation36.oracles ++ Curation37.oracles ++ Curation38.oracles ++ Curation39.oracles ++ Curation40.oracles ++ Curation41.oracles ++ Curation42.oracles ++ Curation43.oracles ++ Curation44.oracles ++ Curation45.oracles ++ Curation46.oracles ++ Curation47.oracles ++ Curation48.oracles ++ Curation49.oracles ++ Curation50.oracles ++ Curation51.oracles ++ Curation52.oracles ++ Curation53.oracles ++ Curation54.oracles ++ Curation55.oracles ++ Curation56.oracles ++ Curation57.oracles ++ Curation58.oracles ++ Curation59.oracles ++ Curation60.oracles ++ Curation61.oracles ++ Curation62.oracles ++ Curation63.oracles ++ Curation64.oracles ++ Curation65.oracles ++ Curation66.oracles ++ Curation67.oracles
}
