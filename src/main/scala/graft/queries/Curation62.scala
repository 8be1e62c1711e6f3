package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, Mod60}
import graft.sources.Tables

/** Round-11 wave 31: order-independent table fingerprints, a join-key
  * skew advisor, regression-discontinuity estimation, and mediation
  * (Sobel) analysis.
  */
object Curation62 {

  /** q458: order-independent table fingerprint — the dataset-version
    * checksum a 100 TB migration verifies with: each row canonicalizes
    * to a string, hashes through the md5 channel, and the COMMUTATIVE
    * decimal sum (mod 2^60) is partition-order-free, so any
    * row-preserving rewrite (repartition, sort, compaction, engine
    * swap) reproduces it bit-for-bit while a single mutated cell
    * changes it. Three variants prove both directions: the base scan,
    * a repartitioned copy (must match), and a one-cell mutation (must
    * differ). One map pass + one aggregate per variant.
    */
  private val q458TableFingerprint: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    def rowStr(qty: org.apache.spark.sql.Column) = concat_ws("|",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      col("l_partkey").cast("string"), qty.cast(LongType).cast("string"),
      col("l_shipdate").cast("string"))
    def fp(df: org.apache.spark.sql.DataFrame, qty: org.apache.spark.sql.Column,
        name: String) =
      df.select(mdHash(rowStr(qty)).cast(DecimalType(38, 0)).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h")) % Mod60).cast(LongType).as("fingerprint"))
        .select(lit(name).as("variant"), col("n_rows"), col("fingerprint"))
    val base = fp(li, col("l_quantity"), "base")
    val shuffled = fp(li.repartition(7, col("l_partkey")), col("l_quantity"), "shuffled")
    val mutated = fp(li, when(col("l_orderkey") === 1 && col("l_linenumber") === 1,
      col("l_quantity") + 1).otherwise(col("l_quantity")), "mutated")
    val b = broadcast(base.select(col("fingerprint").as("base_fp")))
    base.unionByName(mutated).unionByName(shuffled)
      .crossJoin(b)
      .select(col("variant"), col("n_rows"), col("fingerprint"),
        (col("fingerprint") === col("base_fp")).as("matches_base"))
      .orderBy("variant")
  }

  /** q459: join-key skew advisor — for each candidate shuffle key of
    * the fact table, the distribution facts a salting decision needs:
    * key cardinality, the hottest key's row count and share, the
    * p50/p99 of per-key counts read DETERMINISTICALLY off a bounded
    * log2-bucket histogram (exact global quantiles over millions of
    * keys would themselves be a skew-prone global sort), and the
    * recommended salt factor ceil(parallelism · max/n) that splits the
    * hottest key to ≤ an average core's share. One count-per-key
    * aggregate + one ≤64-row histogram per candidate.
    */
  private val q459SkewAdvisor: Q = (s, d) => {
    // spread once: the three advise() branches and their three count()
    // scans all consume the SAME round-robin exchange (ReusedExchange),
    // so the single-row-group scan runs once and every per-key groupBy
    // maps at the fan-out width
    val li = graft.operators.Kernels.fanOut(Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")))
    def advise(key: String) = {
      val counts = li.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        .select(col("c"), floor(log2(col("c"))).cast(LongType).as("bkt"))
      val hist = counts.groupBy("bkt").agg(count(lit(1)).as("nk"), max(col("c")).as("mx"))
      val tot = hist.agg(sum(col("nk")).as("n_keys"), max(col("mx")).as("max_c"))
      // deterministic bucket quantiles on the bounded histogram
      val cum = hist.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("nk")).over(
          org.apache.spark.sql.expressions.Window.orderBy("bkt")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
      val p50 = cum.filter(col("cum") * 2 >= col("n_keys"))
        .agg(min(col("bkt")).as("p50_bucket"))
      val p99 = cum.filter(col("cum") * 100 >= col("n_keys") * 99)
        .agg(min(col("bkt")).as("p99_bucket"))
      val nrows = li.agg(count(lit(1)).as("n_rows"))
      nrows.crossJoin(tot).crossJoin(p50).crossJoin(p99)
        .select(lit(key).as("join_key"), col("n_rows"), col("n_keys"),
          col("max_c").as("max_key_rows"),
          round(col("max_c").cast(DoubleType) / col("n_rows"), 6).as("top_share"),
          col("p50_bucket"), col("p99_bucket"),
          greatest(lit(1L), ceil(lit(32.0) * col("max_c") / col("n_rows"))
            .cast(LongType)).as("recommended_salt"))
    }
    advise("l_orderkey").unionByName(advise("l_partkey"))
      .unionByName(advise("l_suppkey"))
      .orderBy("join_key")
  }

  /** q460: regression discontinuity — the local-linear jump estimate
    * at a price cutoff: orders within the bandwidth fit one OLS per
    * side of the cutoff (exact decimal moments, closed forms), the
    * effect is the difference of the two intercepts AT the cutoff, and
    * the SE combines the two conventional intercept SEs. The outcome
    * (items per order) is causally flat across the synthetic cutoff,
    * so the readout doubles as a placebo check — jump ≈ 0 with honest
    * error bars. One keyed count join + one bounded two-sided
    * aggregate.
    */
  private val q460RegDiscontinuity: Q = (s, d) => {
    val cutoff = 150000.0
    val bw = 50000.0
    val ni = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("ok"))
      .agg(count(lit(1)).as("y"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        (round(col("o_totalprice"), 2).cast(DecimalType(18, 2)) -
          lit(cutoff).cast(DecimalType(18, 2))).as("x"))
      .filter(col("x") >= -bw && col("x") <= bw)
      .join(ni, col("o_orderkey") === col("ok"))
      .select(when(col("x") < 0, lit("left")).otherwise(lit("right")).as("side"),
        col("x"), col("y"))
    val m = o.groupBy("side").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum((col("x") * col("x")).cast(DecimalType(38, 4))).as("sxx"),
      sum(col("y")).as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 2))).as("sxy"),
      sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy"))
    val n = col("n").cast(DoubleType)
    val det = n * col("sxx").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sx").cast(DoubleType)
    val beta = (n * col("sxy").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) / det
    val alpha = (col("sy").cast(DoubleType) - beta * col("sx").cast(DoubleType)) / n
    val rss = col("syy").cast(DoubleType) - alpha * col("sy").cast(DoubleType) -
      beta * col("sxy").cast(DoubleType)
    val sigma2 = rss / (n - 2)
    val seA = sqrt(sigma2 * col("sxx").cast(DoubleType) / det)
    val sided = m.select(col("side"), col("n"),
      round(alpha, 9).as("a"), round(beta, 9).as("b"), round(seA, 9).as("se"))
    val l = sided.filter(col("side") === "left")
      .select(col("n").as("n_left"), col("a").as("al"), col("se").as("sel"))
    val r = sided.filter(col("side") === "right")
      .select(col("n").as("n_right"), col("a").as("ar"), col("se").as("ser"))
    l.crossJoin(r).select(col("n_left"), col("n_right"),
      round(col("ar") - col("al"), 6).as("jump"),
      round(sqrt(col("sel") * col("sel") + col("ser") * col("ser")), 6).as("se"),
      round((col("ar") - col("al")) /
        sqrt(col("sel") * col("sel") + col("ser") * col("ser")), 6).as("t_stat"))
  }

  /** q461: mediation analysis (Sobel) — how much of a treatment's
    * effect routes THROUGH a mediator: a seeded-hash treatment shifts
    * the mediator by construction (+5), the outcome loads on the
    * mediator (+3·m), and the product-of-coefficients a·b with the
    * Sobel SE √(a²σ_b² + b²σ_a²) decomposes total into indirect +
    * direct. Path b comes from the two-predictor OLS closed form (2×2
    * normal equations, exact decimal moments — the q447 discipline).
    * One aggregate over the corpus; all algebra on the 1-row moment
    * frame.
    */
  private val q461Mediation: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"),
      round(col("value"), 2).cast(DecimalType(18, 2)).as("v"))
      .withColumn("t", (mdHash(lit("med"), col("event_id")) % 2).cast(LongType))
      .withColumn("m", (col("v") + lit(5) * col("t")).cast(DecimalType(18, 2)))
      // integer coefficients only: a halved decimal always lands on an
      // exact .xx5 rounding boundary where double-vs-decimal rounding
      // diverges across engines
      .withColumn("y", (col("v") + lit(3) * col("m")).cast(DecimalType(18, 2)))
    val mo = ev.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
      sum(col("m")).as("sm"), sum(col("y")).as("sy"),
      sum((col("t") * col("m")).cast(DecimalType(38, 2))).as("stm"),
      sum((col("t") * col("y")).cast(DecimalType(38, 2))).as("sty"),
      sum((col("m") * col("m")).cast(DecimalType(38, 4))).as("smm"),
      sum((col("m") * col("y")).cast(DecimalType(38, 4))).as("smy"),
      sum((col("y") * col("y")).cast(DecimalType(38, 4))).as("syy"))
    val n = col("n").cast(DoubleType)
    def d2(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    // centered moments
    val ctt = d2(col("st")) - d2(col("st")) * d2(col("st")) / n
    val ctm = d2(col("stm")) - d2(col("st")) * d2(col("sm")) / n
    val cty = d2(col("sty")) - d2(col("st")) * d2(col("sy")) / n
    val cmm = d2(col("smm")) - d2(col("sm")) * d2(col("sm")) / n
    val cmy = d2(col("smy")) - d2(col("sm")) * d2(col("sy")) / n
    val cyy = d2(col("syy")) - d2(col("sy")) * d2(col("sy")) / n
    // path a: m ~ t
    val a = ctm / ctt
    val rssA = cmm - a * ctm
    val seA2 = rssA / (n - 2) / ctt
    // paths (b, direct): y ~ m + t via the 2x2 normal equations
    val det = cmm * ctt - ctm * ctm
    val b = (ctt * cmy - ctm * cty) / det
    val dir = (cmm * cty - ctm * cmy) / det
    val rssY = cyy - b * cmy - dir * cty
    val seB2 = rssY / (n - 3) * ctt / det
    val total = cty / ctt
    mo.select(col("n"),
      round(a, 6).as("path_a"), round(b, 6).as("path_b"),
      round(dir, 6).as("direct"), round(a * b, 6).as("indirect"),
      round(total, 6).as("total_effect"),
      round(sqrt(a * a * seB2 + b * b * seA2), 6).as("sobel_se"),
      round(a * b / sqrt(a * a * seB2 + b * b * seA2), 6).as("sobel_z"))
  }

  val queries: Seq[Query] = Seq(
    Query("q458_table_fingerprint", q458TableFingerprint,
      s"""WITH rows_ AS (SELECT l_orderkey, l_linenumber,
        |    ('0x' || substr(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR
        |      || '|' || l_partkey::VARCHAR || '|'
        |      || CAST(l_quantity AS BIGINT)::VARCHAR
        |      || '|' || l_shipdate::VARCHAR), 1, 15))::BIGINT h,
        |    ('0x' || substr(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR
        |      || '|' || l_partkey::VARCHAR || '|'
        |      || CAST(CASE WHEN l_orderkey = 1 AND l_linenumber = 1
        |        THEN l_quantity + 1 ELSE l_quantity END AS BIGINT)::VARCHAR
        |      || '|' || l_shipdate::VARCHAR), 1, 15))::BIGINT hm
        |  FROM lineitem),
        |base AS (SELECT count(*) n_rows, CAST(sum(h) % $Mod60 AS BIGINT) fingerprint
        |  FROM rows_),
        |mut AS (SELECT count(*) n_rows, CAST(sum(hm) % $Mod60 AS BIGINT) fingerprint
        |  FROM rows_)
        |SELECT variant, n_rows, fingerprint,
        |  fingerprint = (SELECT fingerprint FROM base) AS matches_base
        |FROM (SELECT 'base' variant, n_rows, fingerprint FROM base
        |  UNION ALL SELECT 'mutated', n_rows, fingerprint FROM mut
        |  UNION ALL SELECT 'shuffled', n_rows, fingerprint FROM base)
        |ORDER BY variant""".stripMargin),
    Query("q459_skew_advisor", q459SkewAdvisor,
      """WITH keys(join_key) AS (VALUES ('l_orderkey'), ('l_partkey'), ('l_suppkey')),
        |counts AS (
        |  SELECT 'l_orderkey' jk, count(*) c FROM lineitem GROUP BY l_orderkey
        |  UNION ALL SELECT 'l_partkey', count(*) FROM lineitem GROUP BY l_partkey
        |  UNION ALL SELECT 'l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey),
        |bk AS (SELECT jk, CAST(floor(log2(c)) AS BIGINT) bkt, c FROM counts),
        |hist AS (SELECT jk, bkt, count(*) nk, max(c) mx FROM bk GROUP BY jk, bkt),
        |tot AS (SELECT jk, sum(nk) n_keys, max(mx) max_c FROM hist GROUP BY jk),
        |cum AS (SELECT h.jk, h.bkt, t.n_keys,
        |    sum(h.nk) OVER (PARTITION BY h.jk ORDER BY h.bkt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |  FROM hist h JOIN tot t ON h.jk = t.jk),
        |p50 AS (SELECT jk, min(bkt) p50_bucket FROM cum
        |  WHERE cum * 2 >= n_keys GROUP BY jk),
        |p99 AS (SELECT jk, min(bkt) p99_bucket FROM cum
        |  WHERE cum * 100 >= n_keys * 99 GROUP BY jk),
        |nr AS (SELECT count(*) n_rows FROM lineitem)
        |SELECT jk AS join_key, n_rows, n_keys::BIGINT AS n_keys,
        |  max_c::BIGINT AS max_key_rows,
        |  round(CAST(max_c AS DOUBLE) / n_rows, 6) AS top_share,
        |  p50_bucket, p99_bucket,
        |  greatest(1, CAST(ceil(32.0 * max_c / n_rows) AS BIGINT))
        |    AS recommended_salt
        |FROM tot JOIN p50 USING (jk) JOIN p99 USING (jk), nr
        |ORDER BY join_key""".stripMargin),
    Query("q460_reg_discontinuity", q460RegDiscontinuity,
      """WITH ni AS (SELECT l_orderkey ok, count(*) y FROM lineitem GROUP BY l_orderkey),
        |o AS (SELECT CASE WHEN x < 0 THEN 'left' ELSE 'right' END side, x, y
        |  FROM (SELECT CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
        |      - CAST(150000.0 AS DECIMAL(18,2)) x, o_orderkey FROM orders)
        |  JOIN ni ON o_orderkey = ok
        |  WHERE x >= -50000 AND x <= 50000),
        |m AS (SELECT side, count(*) n, sum(x) sx,
        |    sum(CAST(x * x AS DECIMAL(38,4))) sxx, sum(y) sy,
        |    sum(CAST(x * y AS DECIMAL(38,2))) sxy,
        |    sum(CAST(y * y AS DECIMAL(38,0))) syy
        |  FROM o GROUP BY side),
        |f AS (SELECT side, n,
        |    round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE), 9) a,
        |    round(sqrt((CAST(syy AS DOUBLE)
        |      - ((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
        |        / CAST(n AS DOUBLE)) * CAST(sy AS DOUBLE)
        |      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sxy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 2) * CAST(sxx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 9) se
        |  FROM m)
        |SELECT l.n AS n_left, r.n AS n_right,
        |  round(r.a - l.a, 6) AS jump,
        |  round(sqrt(l.se * l.se + r.se * r.se), 6) AS se,
        |  round((r.a - l.a) / sqrt(l.se * l.se + r.se * r.se), 6) AS t_stat
        |FROM (SELECT * FROM f WHERE side = 'left') l,
        |  (SELECT * FROM f WHERE side = 'right') r""".stripMargin),
    Query("q461_mediation", q461Mediation,
      """WITH ev AS (SELECT
        |    CAST(round(value, 2) AS DECIMAL(18,2)) v,
        |    ('0x' || substr(md5('med|' || event_id::VARCHAR), 1, 15))::BIGINT % 2 t
        |  FROM events),
        |ev2 AS (SELECT t, CAST(v + 5 * t AS DECIMAL(18,2)) m,
        |    CAST(v + 3 * CAST(v + 5 * t AS DECIMAL(18,2)) AS DECIMAL(18,2)) y
        |  FROM ev),
        |mo AS (SELECT count(*) n, sum(t) st, sum(m) sm, sum(y) sy,
        |    sum(CAST(t * m AS DECIMAL(38,2))) stm,
        |    sum(CAST(t * y AS DECIMAL(38,2))) sty,
        |    sum(CAST(m * m AS DECIMAL(38,4))) smm,
        |    sum(CAST(m * y AS DECIMAL(38,4))) smy,
        |    sum(CAST(y * y AS DECIMAL(38,4))) syy
        |  FROM ev2),
        |c AS (SELECT n,
        |    CAST(st AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / CAST(n AS DOUBLE) ctt,
        |    CAST(stm AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / CAST(n AS DOUBLE) ctm,
        |    CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) cty,
        |    CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / CAST(n AS DOUBLE) cmm,
        |    CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) cmy,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) cyy
        |  FROM mo),
        |e AS (SELECT n, ctm / ctt a,
        |    (cmm - (ctm / ctt) * ctm) / (CAST(n AS DOUBLE) - 2) / ctt sea2,
        |    (ctt * cmy - ctm * cty) / (cmm * ctt - ctm * ctm) b,
        |    (cmm * cty - ctm * cmy) / (cmm * ctt - ctm * ctm) dir,
        |    (cyy - ((ctt * cmy - ctm * cty) / (cmm * ctt - ctm * ctm)) * cmy
        |      - ((cmm * cty - ctm * cmy) / (cmm * ctt - ctm * ctm)) * cty)
        |      / (CAST(n AS DOUBLE) - 3) * ctt / (cmm * ctt - ctm * ctm) seb2,
        |    cty / ctt total FROM c)
        |SELECT n, round(a, 6) AS path_a, round(b, 6) AS path_b,
        |  round(dir, 6) AS direct, round(a * b, 6) AS indirect,
        |  round(total, 6) AS total_effect,
        |  round(sqrt(a * a * seb2 + b * b * sea2), 6) AS sobel_se,
        |  round(a * b / sqrt(a * a * seb2 + b * b * sea2), 6) AS sobel_z
        |FROM e""".stripMargin))
}
