package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampType}

import graft.{Q, Query}
import graft.operators.Materialize
import graft.sources.Tables

/** Round-5 wave 2: corpus lifecycle operations — release diffing,
  * schema-evolution ingest, temporal snapshots, cohort retention.
  */
object Curation6 {

  import graft.functions.TextFunctions.mdHash

  /** Corpus release diff (dataset versioning): v2 is derived from v1 by
    * deterministic rules (drop every doc_id ≡ 0 mod 101, edit every
    * doc_id ≡ 0 mod 97, add a shifted copy of every doc_id ≡ 0 mod 89)
    * and the diff classifies every id as added / removed / changed /
    * unchanged via one full-outer join on content hashes — the churn
    * report published with every corpus release. Hash-compare, not
    * text-compare: the join ships 8-byte digests, never documents.
    */
  private val q187CorpusDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v1 = docs.select(col("doc_id"), col("source").as("s1"),
      mdHash(col("text")).as("h1"))
    val v2 = docs.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"), col("source").as("s2"),
        mdHash(when(col("doc_id") % 97 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h2"))
      .unionByName(docs.filter(col("doc_id") % 89 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source").as("s2"),
          mdHash(concat(col("text"), lit(" new"))).as("h2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(coalesce(col("s1"), col("s2")).as("source"),
        when(col("h1").isNull, "added").when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed").otherwise("unchanged")
          .as("status"))
      .groupBy("source", "status").agg(count(lit(1)).as("n"))
      .orderBy("source", "status")
  }

  /** Schema-evolution ingest: two parquet generations of the same
    * table — an old writer without the `priority` column and a new
    * writer with it — land in one directory and are read back through
    * `mergeSchema`, the unified scan null-filling the missing column.
    * This is how a 100 TB table absorbs a schema change without
    * rewriting history; the aggregate proves the union + null-fill by
    * re-deriving the expected totals from the base table. DECIMAL sums
    * keep the check order-independent.
    */
  private val q188SchemaEvolution: Q = (s, d) => {
    val dir = Materialize.jvmScratch(s"schemaevo_${new java.io.File(d).getName}")
    val o = Tables.orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/part1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").as("priority"))
      .write.mode("overwrite").parquet(s"$dir/part2")
    s.read.option("mergeSchema", "true").parquet(s"$dir/part1", s"$dir/part2")
      .groupBy(col("priority").isNotNull.as("has_priority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType), 2)
          .as("total"),
        countDistinct(col("priority")).as("n_priorities"))
      .orderBy("has_priority")
  }

  /** Temporal snapshot (AS OF): reconstruct every user's state at a
    * cutoff instant from the event log — the latest (ts, event_id)
    * event at or before the cutoff carries the value; later events are
    * only counted. One partial-aggregable max-struct shuffle per user,
    * no window, no log replay — the SCD/point-in-time read at any log
    * size.
    */
  private val q189SnapshotAsof: Q = (s, d) => {
    val cutoff = lit("2024-01-15 12:00:00").cast(TimestampType)
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        max(when(col("ts") <= cutoff,
          struct(col("ts"), col("event_id"), col("value")))).as("cur"),
        sum(when(col("ts") > cutoff, 1L).otherwise(0L)).as("n_later"),
        count(lit(1)).as("n_total"))
      .select(col("user_id"), col("cur.event_id").as("asof_id"),
        round(col("cur.value"), 6).as("asof_value"),
        col("n_later"), col("n_total"))
      .orderBy("user_id")
  }

  /** Cohort retention: users are grouped by first-activity day and the
    * matrix counts distinct users active again at day offsets
    * 0/1/7/14 — the standard engagement readout. The per-user cohort
    * table is a keyed aggregate joined back on user_id (co-keyed
    * shuffle at scale); distinct counting shuffles (cohort, offset,
    * user) once.
    */
  private val q190CohortRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, "user_id")
      .withColumn("day_off", datediff(col("day"), col("cohort_day")))
      .filter(col("day_off").isin(0, 1, 7, 14))
      .groupBy("cohort_day", "day_off")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_off")
  }

  val queries: Seq[Query] = Seq(
    Query("q187_corpus_diff", q187CorpusDiff,
      """WITH v1 AS (SELECT doc_id, source s1,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT h1 FROM documents),
        |v2 AS (SELECT doc_id, source s2,
        |    ('0x' || substr(md5(CASE WHEN doc_id % 97 = 0 THEN text || ' v2'
        |      ELSE text END), 1, 15))::BIGINT h2
        |  FROM documents WHERE doc_id % 101 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, source,
        |    ('0x' || substr(md5(text || ' new'), 1, 15))::BIGINT
        |  FROM documents WHERE doc_id % 89 = 0)
        |SELECT coalesce(s1, s2) AS source,
        |  CASE WHEN h1 IS NULL THEN 'added' WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed' ELSE 'unchanged' END AS status,
        |  count(*) AS n
        |FROM v1 FULL JOIN v2 USING (doc_id)
        |GROUP BY 1, 2 ORDER BY source, status""".stripMargin),
    Query("q188_schema_evolution", q188SchemaEvolution,
      """SELECT (o_orderkey % 2 = 1) AS has_priority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
        |  CAST(count(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
        |    AS BIGINT) AS n_priorities
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q189_snapshot_asof", q189SnapshotAsof,
      """WITH pre AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) rn
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'),
        |agg AS (SELECT user_id,
        |    count(*) FILTER (WHERE ts > TIMESTAMP '2024-01-15 12:00:00') n_later,
        |    count(*) n_total
        |  FROM events GROUP BY user_id)
        |SELECT a.user_id, p.event_id AS asof_id, round(p.value, 6) AS asof_value,
        |  CAST(n_later AS BIGINT) AS n_later, n_total
        |FROM agg a LEFT JOIN (SELECT * FROM pre WHERE rn = 1) p USING (user_id)
        |ORDER BY user_id""".stripMargin),
    Query("q190_cohort_retention", q190CohortRetention,
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_off,
        |  count(DISTINCT user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |WHERE date_diff('day', cohort_day, day) IN (0, 1, 7, 14)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_off""".stripMargin))
}
