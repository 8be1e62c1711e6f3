package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 18: forecasting hierarchies, absorbing chains, GBDT
  * internals, and multivariate two-sample testing — bottom-up vs
  * top-down forecast reconciliation, expected time-to-absorption,
  * seasonal-naive MASE backtesting, histogram-based split finding
  * (the LightGBM kernel), and the energy-distance two-sample test.
  */
object Curation48 {

  /** q401: hierarchical forecast reconciliation — nation series roll
    * up to regions, and the classic question is whether to forecast
    * bottom-up (nation means summed to regions, coherent by
    * construction) or top-down (region mean allocated by historical
    * share). Both run on the bounded dense (nation × month) grid (one
    * keyed pass + broadcast domains); per-region test MAE for each
    * method, decimal-summed. Exact integer monthly counts; every
    * forecast is a quotient of decimal sums.
    */
  private val q401HierarchicalReconcile: Q = (s, d) => {
    val natRegion = Tables.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("nk"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))), "nk")
    val nm = Tables.orders(s, d).join(natRegion, "o_custkey")
      .select(col("nk"), col("rk"), (year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).as("ym"))
      .groupBy("nk", "rk", "ym").agg(count(lit(1)).as("x"))
    val months = nm.select(col("ym")).distinct()
    val nats = natRegion.select(col("nk"), col("rk")).distinct()
    val grid = months.crossJoin(broadcast(nats))
      .join(nm, Seq("nk", "rk", "ym"), "left")
      .select(col("nk"), col("rk"), col("ym"), coalesce(col("x"), lit(0L)).as("x"))
    val train = grid.filter(col("ym") < 199901)
    val test = grid.filter(col("ym") >= 199901)
    val natFc = train.groupBy("nk", "rk")
      .agg((sum(col("x")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("fn"))
    val regTot = natFc.groupBy("rk")
      .agg(sum(dec(col("fn"))).cast(DoubleType).as("fr"))
    val shares = natFc.join(broadcast(regTot), "rk")
      .select(col("nk"), col("rk"), col("fn"),
        (col("fn") / col("fr")).as("share"), col("fr"))
    val scored = test.join(broadcast(shares), Seq("nk", "rk"))
      .select(col("rk"),
        abs(col("x").cast(DoubleType) - col("fn")).as("ebu"),
        abs(col("x").cast(DoubleType) - col("share") * col("fr")).as("etd"))
    scored.groupBy("rk")
      .agg(count(lit(1)).as("n_test_cells"),
        round(sum(dec(col("ebu"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mae_bottom_up"),
        round(sum(dec(col("etd"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mae_top_down"))
      .orderBy("rk")
      .withColumnRenamed("rk", "regionkey")
  }

  /** q402: expected time-to-absorption per funnel state — the
    * fundamental-matrix readout for q362's chain: t(s) = 1 +
    * Σ_{k transient} P(s,k)·t(k), iterated 15 rounds driver-side on
    * the bounded transition matrix (same bounded-model contract and
    * decimal-rounded arithmetic as q362; the oracle replays identical
    * unrolled rounds). Paired with the absorption probability so each
    * state reads "how likely to convert, and how long it takes".
    */
  private val q402AbsorbingTime: Q = (s, d) => {
    import s.implicits._
    val wUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val numbered = Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "purchase", "CONV").otherwise(col("event_type"))
          .as("st"), row_number().over(wUser).as("rn"))
    val ev = numbered
      .withColumn("prn", min(when(col("st") === "CONV", col("rn")))
        .over(Window.partitionBy("user_id")))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
    val steps = ev
      .withColumn("prev", coalesce(
        lag(col("st"), 1).over(Window.partitionBy("user_id").orderBy("rn")),
        lit("START")))
      .select(col("prev").as("src"), col("st").as("dst"))
    val tails = ev.filter(col("prn").isNull)
      .withColumn("mx", max(col("rn")).over(Window.partitionBy("user_id")))
      .filter(col("rn") === col("mx"))
      .select(col("st").as("src"), lit("NULL").as("dst"))
    val cnt = steps.union(tails).groupBy("src", "dst").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("src").agg(sum(col("c")).as("t"))
    val mat = cnt.join(tot, "src")
      .select(col("src"), col("dst"),
        (col("c").cast(DoubleType) / col("t").cast(DoubleType)).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    val srcs = mat.map(_._1).distinct
    var tMap: Map[String, Double] = srcs.map(_ -> 0.0).toMap
    var vMap: Map[String, Double] = srcs.map(_ -> 0.0).toMap
    for (_ <- 1 to 15) {
      tMap = mat.groupBy(_._1).map { case (src, rows) =>
        src -> (d15(1.0) + rows.map { case (_, dst, p) =>
          d15(p * (if (dst == "CONV" || dst == "NULL") 0.0
            else tMap.getOrElse(dst, 0.0)))
        }.sum).toDouble
      }
      vMap = mat.groupBy(_._1).map { case (src, rows) =>
        src -> rows.map { case (_, dst, p) =>
          d15(p * (if (dst == "CONV") 1.0 else if (dst == "NULL") 0.0
            else vMap.getOrElse(dst, 0.0)))
        }.sum.toDouble
      }
    }
    srcs.sorted.toSeq.map(st => (st, vMap(st), tMap(st)))
      .toDF("state", "pc", "ts")
      .select(col("state"), round(col("pc"), 6).as("p_conv"),
        round(col("ts"), 6).as("expected_steps"))
      .orderBy("state")
  }

  /** q403: MASE backtest of the seasonal-naive forecast — the
    * scale-free forecast metric (Hyndman & Koehler): errors on the
    * test half scaled by the train-period mean absolute seasonal
    * (lag-7) difference. The corpus collapses to the bounded daily
    * grid; lags are window functions over it; both numerator and
    * denominator are decimal-summed exact |integer| differences.
    */
  private val q403MaseBacktest: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.orderBy("day") // bounded day domain
    val lagged = daily
      .select(col("day"), col("y"), lag(col("y"), 7).over(w).as("y7"),
        row_number().over(w).as("rn"))
      .filter(col("y7").isNotNull)
    val cutN = 20
    val train = lagged.filter(col("rn") <= cutN)
    val test = lagged.filter(col("rn") > cutN)
    val scale = train.agg(count(lit(1)).as("n_train"),
      (sum(dec(abs(col("y") - col("y7")).cast(DoubleType))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("scale"))
    val mae = test.agg(count(lit(1)).as("n_test"),
      (sum(dec(abs(col("y") - col("y7")).cast(DoubleType))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("mae"))
    mae.crossJoin(broadcast(scale))
      .select(col("n_train"), col("n_test"), round(col("mae"), 6).as("mae"),
        round(col("scale"), 6).as("scale"),
        round(col("mae") / col("scale"), 6).as("mase"))
  }

  /** q404: histogram-based split finding — the inner kernel of every
    * distributed GBDT (LightGBM/XGBoost hist mode): bin the feature
    * into 20 equal-width histogram bins with (n, positives) in ONE
    * corpus pass, then score all 19 candidate splits from cumulative
    * sums on the bounded grid (Gini impurity reduction, exact integer
    * arithmetic until the final quotients). Output: the 3 best splits
    * — the per-feature work a tree layer does, made oracle-checkable.
    */
  private val q404StumpSplitFinding: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("value"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val b = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val bins = ev.crossJoin(broadcast(b))
      .select(least(floor((col("value") - col("lo")) * 20 /
        (col("hi") - col("lo"))), lit(19)).cast("long").as("bin"), col("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val w = Window.orderBy("bin") // bounded: ≤20 rows
    val cum = bins.select(col("bin"), sum(col("n")).over(w).as("cn"),
      sum(col("pos")).over(w).as("cp"))
    val tot = bins.agg(sum(col("n")).as("nt"), sum(col("pos")).as("pt"))
    val splits = cum.crossJoin(broadcast(tot))
      .filter(col("cn") > 0 && col("cn") < col("nt"))
      .select(col("bin"), col("cn"), col("cp"), col("nt"), col("pt"),
        (col("cp").cast(DoubleType) / col("cn").cast(DoubleType)).as("pl"),
        ((col("pt") - col("cp")).cast(DoubleType) /
          (col("nt") - col("cn")).cast(DoubleType)).as("pr"),
        (col("pt").cast(DoubleType) / col("nt").cast(DoubleType)).as("pp"))
      .select(col("bin"), col("cn"), col("pl"), col("pr"),
        ((lit(2.0) * col("pp") * (lit(1.0) - col("pp"))) -
          (col("cn").cast(DoubleType) / col("nt").cast(DoubleType)) *
            (lit(2.0) * col("pl") * (lit(1.0) - col("pl"))) -
          ((col("nt") - col("cn")).cast(DoubleType) / col("nt").cast(DoubleType)) *
            (lit(2.0) * col("pr") * (lit(1.0) - col("pr")))).as("gain"))
    splits.select(col("bin").as("split_bin"), col("cn").as("n_left"),
        round(col("pl"), 6).as("rate_left"), round(col("pr"), 6).as("rate_right"),
        round(col("gain") * 1000, 6).as("gini_gain_x1000"))
      .orderBy(col("gain").desc, col("split_bin")).limit(3)
  }

  /** q405: energy-distance two-sample test between label-0 and label-1
    * embeddings (Székely & Rizzo) — 2·E|X−Y| − E|X−X'| − E|Y−Y'| over
    * coordinated 100-point samples per label (the q343 bounded-sample
    * device: fixed pair budget at any corpus size). Distances ride the
    * codegen'd native dot kernel; the three pair means are decimal
    * sums over the bounded pair sets. Complements q327's MMD with the
    * metric-space (non-kernel) statistic.
    */
  private val q405EnergyDistance: Q = (s, d) => {
    import graft.functions.GraftFunctions.{dotNative, normSqNative}
    val wsamp = Window.partitionBy("lbl").orderBy(mdHash(col("vec_id")), col("vec_id"))
    val samp = Tables.embeddings(s, d)
      .select(col("vec_id"), (col("label") % 2).as("lbl"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("rn", row_number().over(wsamp))
      .filter(col("rn") <= 100)
      .withColumn("nrm", normSqNative(col("v")))
      .persist()
    def pairs(la: Int, lb: Int, strict: Boolean) = {
      val a = samp.filter(col("lbl") === la).select(col("vec_id").as("ia"),
        col("v").as("va"), col("nrm").as("na"))
      val b = samp.filter(col("lbl") === lb).select(col("vec_id").as("ib"),
        col("v").as("vb"), col("nrm").as("nb"))
      val j = a.crossJoin(b)
      val f = if (strict) j.filter(col("ia") < col("ib")) else j
      f.select(sqrt(greatest(lit(0.0),
        col("na") + col("nb") - lit(2.0) * dotNative(col("va"), col("vb"))))
        .as("dist"))
        .agg(count(lit(1)).as("np"),
          sum(dec(col("dist"))).cast(DoubleType).as("sd"))
        .select((col("sd") / col("np").cast(DoubleType)).as("m"), col("np"))
    }
    val dxy = pairs(0, 1, strict = false).select(col("m").as("mxy"), col("np").as("nxy"))
    val dxx = pairs(0, 0, strict = true).select(col("m").as("mxx"))
    val dyy = pairs(1, 1, strict = true).select(col("m").as("myy"))
    val out = dxy.crossJoin(broadcast(dxx)).crossJoin(broadcast(dyy))
      .select(col("nxy").as("n_cross_pairs"),
        round(col("mxy"), 6).as("mean_cross_dist"),
        round(col("mxx"), 6).as("mean_within_0"),
        round(col("myy"), 6).as("mean_within_1"),
        round(lit(2.0) * col("mxy") - col("mxx") - col("myy"), 6).as("energy_dist"))
    graft.operators.Materialize.spillRelease(out, samp)
  }

  val queries: Seq[Query] = Seq(
    Query("q401_hierarchical_reconcile", q401HierarchicalReconcile,
      """WITH nr AS (SELECT c.c_custkey, c.c_nationkey nk, n.n_regionkey rk
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |nm AS (SELECT nr.nk, nr.rk,
        |    year(o.o_orderdate) * 100 + month(o.o_orderdate) ym, count(*) x
        |  FROM orders o JOIN nr ON nr.c_custkey = o.o_custkey GROUP BY 1, 2, 3),
        |months AS (SELECT DISTINCT ym FROM nm),
        |nats AS (SELECT DISTINCT nk, rk FROM nr),
        |grid AS (SELECT na.nk, na.rk, m.ym, coalesce(nm.x, 0) x
        |  FROM months m CROSS JOIN nats na
        |  LEFT JOIN nm ON nm.nk = na.nk AND nm.ym = m.ym),
        |train AS (SELECT * FROM grid WHERE ym < 199901),
        |test AS (SELECT * FROM grid WHERE ym >= 199901),
        |natfc AS (SELECT nk, rk, sum(x)::DOUBLE / count(*)::DOUBLE fn
        |  FROM train GROUP BY nk, rk),
        |regtot AS (SELECT rk,
        |    CAST(sum(CAST(fn AS DECIMAL(38,15))) AS DOUBLE) fr
        |  FROM natfc GROUP BY rk),
        |shares AS (SELECT natfc.nk, natfc.rk, fn, fn / fr shr, fr
        |  FROM natfc JOIN regtot USING (rk)),
        |scored AS (SELECT t.rk,
        |    abs(t.x::DOUBLE - s.fn) ebu,
        |    abs(t.x::DOUBLE - s.shr * s.fr) etd
        |  FROM test t JOIN shares s ON s.nk = t.nk AND s.rk = t.rk)
        |SELECT rk AS regionkey, count(*)::BIGINT AS n_test_cells,
        |  round(CAST(sum(CAST(ebu AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS mae_bottom_up,
        |  round(CAST(sum(CAST(etd AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS mae_top_down
        |FROM scored GROUP BY rk ORDER BY rk""".stripMargin),
    Query("q402_absorbing_time", q402AbsorbingTime, {
      val tRounds = (2 to 15).map { i =>
        s"""t$i AS (SELECT ps.src state,
           |    CAST(sum(CAST(ps.p * (CASE WHEN ps.dst IN ('CONV', 'NULL') THEN 0.0
           |      ELSE coalesce(pt.v, 0.0) END) AS DECIMAL(38,15)))
           |      + CAST(1.0 AS DECIMAL(38,15)) AS DOUBLE) v
           |  FROM p ps LEFT JOIN t${i - 1} pt
           |    ON pt.state = ps.dst GROUP BY ps.src)""".stripMargin
      }.mkString(",\n")
      val vRounds = (2 to 15).map { i =>
        s"""v$i AS (SELECT ps.src state,
           |    CAST(sum(CAST(ps.p * (CASE WHEN ps.dst = 'CONV' THEN 1.0
           |      WHEN ps.dst = 'NULL' THEN 0.0
           |      ELSE coalesce(pv.v, 0.0) END) AS DECIMAL(38,15))) AS DOUBLE) v
           |  FROM p ps LEFT JOIN v${i - 1} pv
           |    ON pv.state = ps.dst GROUP BY ps.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH numbered AS (SELECT user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END st,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
        |  FROM events),
        |ev AS (SELECT user_id, st, rn,
        |    min(CASE WHEN st = 'CONV' THEN rn END) OVER (PARTITION BY user_id) prn
        |  FROM numbered
        |  QUALIFY prn IS NULL OR rn <= prn),
        |steps AS (SELECT coalesce(lag(st) OVER
        |      (PARTITION BY user_id ORDER BY rn), 'START') src, st dst FROM ev),
        |tails AS (SELECT st src, 'NULL' dst FROM (
        |    SELECT st, rn, max(rn) OVER (PARTITION BY user_id) mx
        |    FROM ev WHERE prn IS NULL) WHERE rn = mx),
        |cnt AS (SELECT src, dst, count(*) c
        |  FROM (SELECT * FROM steps UNION ALL SELECT * FROM tails) GROUP BY 1, 2),
        |tot AS (SELECT src, sum(c) t FROM cnt GROUP BY src),
        |p AS (SELECT cnt.src, cnt.dst, cnt.c::DOUBLE / tot.t::DOUBLE p
        |  FROM cnt JOIN tot USING (src)),
        |t1 AS (SELECT src state,
        |    CAST(CAST(1.0 AS DECIMAL(38,15)) AS DOUBLE) v FROM tot),
        |$tRounds,
        |v1 AS (SELECT ps.src state,
        |    CAST(sum(CAST(ps.p * (CASE WHEN ps.dst = 'CONV' THEN 1.0
        |      ELSE 0.0 END) AS DECIMAL(38,15))) AS DOUBLE) v
        |  FROM p ps GROUP BY ps.src),
        |$vRounds
        |SELECT t15.state, round(v15.v, 6) AS p_conv,
        |  round(t15.v, 6) AS expected_steps
        |FROM t15 JOIN v15 USING (state) ORDER BY state""".stripMargin
    }),
    Query("q403_mase_backtest", q403MaseBacktest,
      """WITH daily AS (SELECT CAST(ts AS DATE) dy, count(*) y FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |lagged AS (SELECT dy, y, lag(y, 7) OVER (ORDER BY dy) y7,
        |    row_number() OVER (ORDER BY dy) rn
        |  FROM daily
        |  QUALIFY y7 IS NOT NULL),
        |train AS (SELECT * FROM lagged WHERE rn <= 20),
        |test AS (SELECT * FROM lagged WHERE rn > 20),
        |sc AS (SELECT count(*) n_train,
        |    CAST(sum(CAST(abs(y - y7)::DOUBLE AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE scale FROM train),
        |ma AS (SELECT count(*) n_test,
        |    CAST(sum(CAST(abs(y - y7)::DOUBLE AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE mae FROM test)
        |SELECT n_train::BIGINT AS n_train, n_test::BIGINT AS n_test,
        |  round(mae, 6) AS mae, round(scale, 6) AS scale,
        |  round(mae / scale, 6) AS mase
        |FROM ma CROSS JOIN sc""".stripMargin),
    Query("q404_stump_split_finding", q404StumpSplitFinding,
      """WITH ev AS (SELECT value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y FROM events),
        |b AS (SELECT min(value) lo, max(value) hi FROM ev),
        |bins AS (SELECT least(floor((value - lo) * 20 / (hi - lo)), 19)::BIGINT bin,
        |    count(*) n, sum(y) pos
        |  FROM ev CROSS JOIN b GROUP BY 1),
        |cum AS (SELECT bin, sum(n) OVER (ORDER BY bin) cn,
        |    sum(pos) OVER (ORDER BY bin) cp FROM bins),
        |tot AS (SELECT sum(n) nt, sum(pos) pt FROM bins),
        |splits AS (SELECT bin, cn,
        |    cp::DOUBLE / cn::DOUBLE pl,
        |    (pt - cp)::DOUBLE / (nt - cn)::DOUBLE pr,
        |    pt::DOUBLE / nt::DOUBLE pp, cn::DOUBLE / nt::DOUBLE wl,
        |    (nt - cn)::DOUBLE / nt::DOUBLE wr
        |  FROM cum CROSS JOIN tot WHERE cn > 0 AND cn < nt),
        |gains AS (SELECT bin, cn, pl, pr,
        |    (2.0 * pp * (1.0 - pp)) - wl * (2.0 * pl * (1.0 - pl)) -
        |      wr * (2.0 * pr * (1.0 - pr)) gain
        |  FROM splits)
        |SELECT bin AS split_bin, cn::BIGINT AS n_left,
        |  round(pl, 6) AS rate_left, round(pr, 6) AS rate_right,
        |  round(gain * 1000, 6) AS gini_gain_x1000
        |FROM gains ORDER BY gain DESC, split_bin LIMIT 3""".stripMargin),
    Query("q405_energy_distance", q405EnergyDistance,
      s"""WITH samp AS (SELECT vec_id, label % 2 lbl, embedding v
         |  FROM (SELECT vec_id, label, embedding,
         |      row_number() OVER (PARTITION BY label % 2
         |        ORDER BY ${mdHashSql("vec_id::VARCHAR")}, vec_id) rn
         |    FROM embeddings) WHERE rn <= 100),
         |dxy AS (SELECT count(*) np,
         |    CAST(sum(CAST(sqrt(greatest(0.0,
         |      list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v) -
         |      2.0 * list_dot_product(a.v, b.v))) AS DECIMAL(38,15))) AS DOUBLE) sd
         |  FROM samp a JOIN samp b ON a.lbl = 0 AND b.lbl = 1),
         |dxx AS (SELECT count(*) np,
         |    CAST(sum(CAST(sqrt(greatest(0.0,
         |      list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v) -
         |      2.0 * list_dot_product(a.v, b.v))) AS DECIMAL(38,15))) AS DOUBLE) sd
         |  FROM samp a JOIN samp b
         |  ON a.lbl = 0 AND b.lbl = 0 AND a.vec_id < b.vec_id),
         |dyy AS (SELECT count(*) np,
         |    CAST(sum(CAST(sqrt(greatest(0.0,
         |      list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v) -
         |      2.0 * list_dot_product(a.v, b.v))) AS DECIMAL(38,15))) AS DOUBLE) sd
         |  FROM samp a JOIN samp b
         |  ON a.lbl = 1 AND b.lbl = 1 AND a.vec_id < b.vec_id)
         |SELECT dxy.np::BIGINT AS n_cross_pairs,
         |  round(dxy.sd / dxy.np::DOUBLE, 6) AS mean_cross_dist,
         |  round(dxx.sd / dxx.np::DOUBLE, 6) AS mean_within_0,
         |  round(dyy.sd / dyy.np::DOUBLE, 6) AS mean_within_1,
         |  round(2.0 * dxy.sd / dxy.np::DOUBLE - dxx.sd / dxx.np::DOUBLE -
         |    dyy.sd / dyy.np::DOUBLE, 6) AS energy_dist
         |FROM dxy CROSS JOIN dxx CROSS JOIN dyy""".stripMargin))
}
