package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SkylineOps
import graft.operators.SkylineOps._

/** Skyline-family driver queries (the reference's whole surface) with DuckDB
  * oracles.
  *
  * Oracle strategy: skyline in 2D has an O(n log n) window formulation (used
  * on the full table); in 3D/4D the oracle is the textbook `NOT EXISTS`
  * dominance anti-join, run on deterministic key-sampled subsets so DuckDB's
  * quadratic check stays cheap. All outputs are either raw input values
  * (exact doubles) or integer counts cast to BIGINT — no cross-engine float
  * summation anywhere (the one scalar metric is rounded to 9 decimals).
  */
object SkylineQueries {

  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** orders reads natively (o_orderdate is micros TIMESTAMP, unlike the
    * nanos events table). */
  private def ords(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")

  /** `b` dominates `a` (minimization) over columns named `cs` — SQL fragment. */
  private def domSql(cs: Seq[String]): String = {
    val le = cs.map(c => s"b.$c <= a.$c").mkString(" AND ")
    val lt = cs.map(c => s"b.$c < a.$c").mkString(" OR ")
    s"$le AND ($lt)"
  }

  /** O(n log n) 2D skyline oracle: per distinct x keep min y, a row survives
    * iff it attains min-y for its x and no strictly-smaller x has y ≤ it.
    */
  private def sky2dSql(x: String, y: String, from: String): String =
    s"""WITH pts AS (SELECT $x AS x, $y AS y FROM $from),
       |d AS (SELECT x, MIN(y) AS my FROM pts GROUP BY x),
       |r AS (SELECT x, my, MIN(my) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d)
       |SELECT p.x AS $x, p.y AS $y FROM pts p JOIN r ON p.x = r.x
       |WHERE p.y = r.my AND (r.pm IS NULL OR r.pm > p.y)""".stripMargin

  // Partitioner constants (reference runs use a single scalar domain max —
  // `FlinkSkyline.java:72-76`; we pick one spanning l_extendedprice).
  private val MaxPrice = 120000.0
  private val NPart    = 8
  private val Dims2    = Seq("l_extendedprice", "l_discount")

  private def dimPidSql(expr: String, maxVal: Double, n: Int): String =
    s"LEAST(${n - 1}, GREATEST(0, CAST(TRUNC($expr / (${maxVal} / $n)) AS INTEGER)))"

  // Grid/angle pid SQL over (l_discount, l_tax) — the exact expressions the
  // hash-green mrgrid_hist / mrangle_hist oracles replay, shared here so the
  // per-strategy optimality oracles partition identically to the Spark side.
  private val gridPidSql: String =
    s"""((CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END)
       | + (CASE WHEN l_tax >= 0.06 THEN 2 ELSE 0 END)) % $NPart""".stripMargin

  private val anglePidSql: String =
    s"""LEAST(${NPart - 1}, GREATEST(0, CAST(TRUNC(
       |  (ATAN2(SQRT(l_tax * l_tax), l_discount) / (PI() / 2)) * $NPart) AS INTEGER)))""".stripMargin

  /** Spark-side grid/angle pid columns matching the SQL above. */
  private def gridPid  = SkylineOps.gridPartitionCol(
    array(col("l_discount"), col("l_tax")), 2, 0.12, NPart)
  private def anglePid = SkylineOps.anglePartitionCol(
    array(col("l_discount"), col("l_tax")), 2, NPart)

  // sky_topdom: distinct 2D frontier points (the O(n log n) min-y /
  // prefix-min formulation yields them directly) scored by strict-
  // dominance counts over the whole table, ranked (count desc, dims asc).
  private val skyTopdomSql: String =
    """WITH pts AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
      |d AS (SELECT x, MIN(y) AS my FROM pts GROUP BY x),
      |w AS (SELECT x, my, MIN(my) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d),
      |sky AS (SELECT x, my AS y FROM w WHERE pm IS NULL OR pm > my),
      |c AS (SELECT s.x, s.y, COUNT(p.x) AS dom_cnt
      |  FROM sky s LEFT JOIN pts p
      |    ON s.x <= p.x AND s.y <= p.y AND (s.x < p.x OR s.y < p.y)
      |  GROUP BY s.x, s.y),
      |r AS (SELECT x, y, dom_cnt,
      |  ROW_NUMBER() OVER (ORDER BY dom_cnt DESC, x, y) AS rnk FROM c)
      |SELECT x AS l_quantity, y AS l_extendedprice, CAST(dom_cnt AS BIGINT) AS dom_cnt,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 10""".stripMargin

  // sky_layers: the min-y/prefix-min 2D skyline applied twice — layer 2
  // runs on the rows whose (x, y) is NOT a layer-1 point (anti join), and
  // each layer re-joins pts to restore duplicate rows.
  private val skyLayersSql: String =
    """WITH pts AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
      |d1 AS (SELECT x, MIN(y) AS my FROM pts GROUP BY x),
      |w1 AS (SELECT x, my, MIN(my) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d1),
      |s1 AS (SELECT x, my AS y FROM w1 WHERE pm IS NULL OR pm > my),
      |rest AS (SELECT p.x, p.y FROM pts p ANTI JOIN s1 ON p.x = s1.x AND p.y = s1.y),
      |d2 AS (SELECT x, MIN(y) AS my FROM rest GROUP BY x),
      |w2 AS (SELECT x, my, MIN(my) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d2),
      |s2 AS (SELECT x, my AS y FROM w2 WHERE pm IS NULL OR pm > my)
      |SELECT p.x AS l_quantity, p.y AS l_extendedprice, CAST(1 AS BIGINT) AS layer
      |  FROM pts p JOIN s1 ON p.x = s1.x AND p.y = s1.y
      |UNION ALL
      |SELECT r.x AS l_quantity, r.y AS l_extendedprice, CAST(2 AS BIGINT) AS layer
      |  FROM rest r JOIN s2 ON r.x = s2.x AND r.y = s2.y""".stripMargin

  // sky_skyband: textbook distinct-dominator count (quadratic — cheap on
  // the deterministic key sample), rows dominated by < 3 distinct points.
  private val skySkybandSql: String =
    s"""WITH t AS (SELECT l_quantity, l_extendedprice, l_discount FROM lineitem WHERE l_orderkey % 20 = 0),
       |d AS (SELECT DISTINCT l_quantity, l_extendedprice, l_discount FROM t),
       |c AS (SELECT a.l_quantity, a.l_extendedprice, a.l_discount,
       |  (SELECT COUNT(*) FROM d b
       |   WHERE ${domSql(Seq("l_quantity", "l_extendedprice", "l_discount"))}) AS dom_cnt
       |  FROM d a)
       |SELECT t.l_quantity, t.l_extendedprice, t.l_discount,
       |  CAST(c.dom_cnt AS BIGINT) AS dom_cnt
       |FROM t JOIN c USING (l_quantity, l_extendedprice, l_discount)
       |WHERE c.dom_cnt < 3""".stripMargin

  // Lazy: the oracle SQL interpolates helpers declared below this list.
  lazy val gates: Seq[Gate] = Seq(
    Gate("sky2d", (s, d) => skylineRows(li(s, d), Dims2),
      sky2dSql("l_extendedprice", "l_discount", "lineitem")),

    Gate("sky2d_dup", (s, d) => skylineRows(li(s, d), Seq("l_quantity", "l_discount")),
      sky2dSql("l_quantity", "l_discount", "lineitem")),

    // Top-10 dominating skyline points: each distinct frontier point
    // scored by the rows it strictly dominates — "which Pareto options
    // matter most". Dims chosen for a MULTI-point frontier at fixture
    // scale (3 points with distinct counts at sf0.01), so rank order,
    // tiebreaks, and counts are genuinely compared cross-engine.
    Gate("sky_topdom", (s, d) =>
      SkylineOps.topDominatingSkyline(li(s, d),
        Seq("l_quantity", "l_extendedprice"), 10),
      skyTopdomSql),

    // First two skyline layers (onion peeling) — layer 1 = the frontier,
    // layer 2 = the frontier of the rest; duplicate rows keep their layer.
    Gate("sky_layers", (s, d) =>
      SkylineOps.skylineLayerRows(li(s, d),
        Seq("l_quantity", "l_extendedprice"), 2),
      skyLayersSql),

    // 3-skyband on the sky3d sample: every row dominated by < 3 distinct
    // points, tagged with its dominator count — the top-k-safe relaxation
    // of the frontier (skyline = 1-skyband).
    Gate("sky_skyband", (s, d) =>
      SkylineOps.skybandRows(li(s, d).filter(col("l_orderkey") % 20 === 0),
        Seq("l_quantity", "l_extendedprice", "l_discount"), 3),
      skySkybandSql),

    // DEPLOY-LANE consumers of the shared SkylineModel artifact (one
    // materialized onion peel, point-table joins per consumer — never a
    // re-peel): each gate builds the model then answers through the
    // *From consumer, and reuses the re-peeling gate's oracle verbatim
    // (the consumers are row-for-row equal by construction —
    // SkylineOpsEdgeSpec pins it; these gates make the DRIVER check it).
    Gate("sky_layers_from", (s, d) =>
      SkylineOps.layerRowsFrom(
        SkylineOps.skylineModel(li(s, d),
          Seq("l_quantity", "l_extendedprice"), 2),
        li(s, d)),
      skyLayersSql),

    Gate("sky_skyband_from", (s, d) => {
      val t = li(s, d).filter(col("l_orderkey") % 20 === 0)
      SkylineOps.skybandRowsFrom(
        SkylineOps.skylineModel(t,
          Seq("l_quantity", "l_extendedprice", "l_discount"), 3),
        t, 3)
    },
      skySkybandSql),

    Gate("sky_topdom_from", (s, d) =>
      SkylineOps.topDominatingFrom(
        SkylineOps.skylineModel(li(s, d),
          Seq("l_quantity", "l_extendedprice"), 1),
        li(s, d), 10),
      skyTopdomSql),

    Gate("sky3d", (s, d) =>
      skylineRows(li(s, d).filter(col("l_orderkey") % 20 === 0),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      s"""WITH t AS (SELECT l_quantity, l_extendedprice, l_discount FROM lineitem WHERE l_orderkey % 20 = 0)
         |SELECT * FROM t a WHERE NOT EXISTS (SELECT 1 FROM t b
         |WHERE ${domSql(Seq("l_quantity", "l_extendedprice", "l_discount"))})""".stripMargin),

    Gate("sky4d", (s, d) =>
      skylineRows(li(s, d).filter(col("l_orderkey") % 40 === 0),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      s"""WITH t AS (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem WHERE l_orderkey % 40 = 0)
         |SELECT * FROM t a WHERE NOT EXISTS (SELECT 1 FROM t b
         |WHERE ${domSql(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))})""".stripMargin),

    // Denser 3D coverage (4× sky3d's sample): the high-dim scale path gated
    // at the largest size the quadratic DuckDB NOT-EXISTS oracle tolerates.
    Gate("sky3d_dense", (s, d) =>
      skylineRows(li(s, d).filter(col("l_orderkey") % 5 === 0),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      s"""WITH t AS (SELECT l_quantity, l_extendedprice, l_discount FROM lineitem WHERE l_orderkey % 5 = 0)
         |SELECT * FROM t a WHERE NOT EXISTS (SELECT 1 FROM t b
         |WHERE ${domSql(Seq("l_quantity", "l_extendedprice", "l_discount"))})""".stripMargin),

    // Denser 4D coverage (8× sky4d's sample): 4D is the reference's
    // frontier-blow-up regime (BASELINE.md 4D row, ~717 s at 500k records),
    // so the gate density here is bounded by the quadratic DuckDB oracle,
    // not by the Spark side (~4 s at sf0.01 for the NOT-EXISTS check).
    Gate("sky4d_dense", (s, d) =>
      skylineRows(li(s, d).filter(col("l_orderkey") % 5 === 0),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      s"""WITH t AS (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem WHERE l_orderkey % 5 = 0)
         |SELECT * FROM t a WHERE NOT EXISTS (SELECT 1 FROM t b
         |WHERE ${domSql(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))})""".stripMargin),

    Gate("sky_grouped", (s, d) =>
      groupedSkylineRows(li(s, d).filter(col("l_orderkey") % 20 === 0),
        Seq("l_returnflag"), Seq("l_extendedprice", "l_discount")),
      s"""WITH t AS (SELECT l_returnflag, l_extendedprice, l_discount FROM lineitem WHERE l_orderkey % 20 = 0)
         |SELECT * FROM t a WHERE NOT EXISTS (SELECT 1 FROM t b
         |WHERE b.l_returnflag = a.l_returnflag AND ${domSql(Seq("l_extendedprice", "l_discount"))})""".stripMargin),

    // Time-windowed skyline AFTER an equi-join: per order month (a tumbling
    // calendar window), the price/discount frontier — the reference's
    // QoS-over-time shape as a batch gate, and the only gate where the
    // skyline consumes a big-big join (lineitem ⋈ orders on orderkey:
    // shuffle join, AQE free to pick the strategy).
    // sky_monthly: the O(n log n) per-group 2D formulation (min-y per x +
    // prefix-min over x, partitioned by month) after the orderkey join.
    Gate("sky_monthly", (s, d) => {
      val mon = col("o_orderdate")
      val j = li(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ords(s, d).select(col("o_orderkey"),
          (year(mon) * 100 + month(mon)).cast("long").as("mon")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("mon"), col("l_extendedprice"), col("l_discount"))
      groupedSkylineRows(j, Seq("mon"), Seq("l_extendedprice", "l_discount"))
    },
      """WITH j AS (SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS mon,
        |  l.l_extendedprice AS x, l.l_discount AS y
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |d AS (SELECT mon, x, MIN(y) AS my FROM j GROUP BY mon, x),
        |r AS (SELECT mon, x, my, MIN(my) OVER (PARTITION BY mon ORDER BY x
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d)
        |SELECT CAST(p.mon AS BIGINT) AS mon, p.x AS l_extendedprice, p.y AS l_discount
        |FROM j p JOIN r ON p.mon = r.mon AND p.x = r.x
        |WHERE p.y = r.my AND (r.pm IS NULL OR r.pm > p.y)""".stripMargin),

    // Grouped skyline on a side table (FIXTURES §3: part/orders are the
    // grouped-skyline fixtures) — cheapest-smallest part per brand.
    Gate("sky_grouped_part", (s, d) =>
      groupedSkylineRows(s.read.parquet(s"$d/part.parquet"),
        Seq("p_brand"), Seq("p_retailprice", "p_size")),
      s"""WITH t AS (SELECT p_brand, p_retailprice, p_size FROM part)
         |SELECT * FROM t a WHERE NOT EXISTS (SELECT 1 FROM t b
         |WHERE b.p_brand = a.p_brand AND ${domSql(Seq("p_retailprice", "p_size"))})""".stripMargin),

    // MR-parity: explicit two-phase (geometric partition → local skyline →
    // global merge) must equal the single-phase skyline for every strategy.
    Gate("mrdim_sky2d", (s, d) => {
      val df = li(s, d)
      mrSkylinePoints(df, Dims2,
        dimPartitionCol(array(Dims2.map(col): _*), MaxPrice, NPart))
    },
      sky2dSql("l_extendedprice", "l_discount", "lineitem")),

    Gate("mrgrid_sky2d", (s, d) => {
      val df = li(s, d)
      mrSkylinePoints(df, Dims2,
        gridPartitionCol(array(Dims2.map(col): _*), 2, MaxPrice, NPart))
    },
      sky2dSql("l_extendedprice", "l_discount", "lineitem")),

    Gate("mrangle_sky2d", (s, d) => {
      val df = li(s, d)
      mrSkylinePoints(df, Dims2,
        anglePartitionCol(array(Dims2.map(col): _*), 2, NPart))
    },
      sky2dSql("l_extendedprice", "l_discount", "lineitem")),

    // Partition-assignment histograms (the partitioners as first-class ops).
    Gate("mrdim_hist", (s, d) =>
      li(s, d)
        .select(dimPartitionCol(array(col("l_extendedprice")), MaxPrice, NPart)
          .cast("long").as("pid"))
        .groupBy("pid").agg(count(lit(1)).as("cnt")),
      s"""SELECT CAST(${dimPidSql("l_extendedprice", MaxPrice, NPart)} AS BIGINT) AS pid,
         |CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1""".stripMargin),

    Gate("mrgrid_hist", (s, d) =>
      li(s, d)
        .select(gridPartitionCol(
            array(col("l_discount"), col("l_tax")), 2, 0.12, NPart)
          .cast("long").as("pid"))
        .groupBy("pid").agg(count(lit(1)).as("cnt")),
      s"""SELECT CAST(((CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END)
         | + (CASE WHEN l_tax >= 0.06 THEN 2 ELSE 0 END)) % $NPart AS BIGINT) AS pid,
         |CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1""".stripMargin),

    Gate("mrangle_hist", (s, d) =>
      li(s, d)
        .select(anglePartitionCol(
            array(col("l_discount"), col("l_tax")), 2, NPart)
          .cast("long").as("pid"))
        .groupBy("pid").agg(count(lit(1)).as("cnt")),
      s"""SELECT CAST(LEAST(${NPart - 1}, GREATEST(0, CAST(TRUNC(
         |  (ATAN2(SQRT(l_tax * l_tax), l_discount) / (PI() / 2)) * $NPart) AS INTEGER))) AS BIGINT) AS pid,
         |CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1""".stripMargin),

    // The reference's (disabled) grid dominance pre-filter, enabled in batch.
    Gate("grid_prefilter", (s, d) =>
      SkylineOps.gridPrefilter(li(s, d), Seq("l_quantity", "l_extendedprice"), MaxPrice)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt")),
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
         |WHERE l_quantity < ${MaxPrice / 2} OR l_extendedprice < ${MaxPrice / 2}
         |GROUP BY l_returnflag""".stripMargin),

    // Optimality metric (reference: FlinkSkyline.java:590-608, caveat D4).
    Gate("opt_stats_mrdim", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      partitionSkylineStats(df,
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          dimPartitionCol(array(col("l_quantity")), 60.0, NPart))
        .select(col("pid").cast("long").as("pid"), col("c_local"), col("c_surv"))
    },
      (optStatsBase + optStatsSelect)),

    Gate("opt_scalar_mrdim", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      optimality(df, Seq("l_quantity", "l_extendedprice", "l_discount"),
        dimPartitionCol(array(col("l_quantity")), 60.0, NPart), NPart)
    },
      (optStatsBase +
      s"""SELECT ROUND(SUM(CAST(COALESCE(c_surv, 0) AS DOUBLE) / CAST(c_local AS DOUBLE)) / $NPart.0, 9) AS optimality
         |FROM loc LEFT JOIN srv ON loc.pid = srv.pid""".stripMargin)),

    // Per-strategy optimality (the reference's headline experiment compares
    // strategies by this metric — BASELINE.md optimality rows): identical
    // stats pipeline under the grid / angle partitioners.
    Gate("opt_stats_mrgrid", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      partitionSkylineStats(df,
          Seq("l_quantity", "l_extendedprice", "l_discount"), gridPid)
        .select(col("pid").cast("long").as("pid"), col("c_local"), col("c_surv"))
    },
      (optStatsSql("l_orderkey % 20 = 0", gridPidSql) + optStatsSelect)),

    Gate("opt_stats_mrangle", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      partitionSkylineStats(df,
          Seq("l_quantity", "l_extendedprice", "l_discount"), anglePid)
        .select(col("pid").cast("long").as("pid"), col("c_local"), col("c_surv"))
    },
      (optStatsSql("l_orderkey % 20 = 0", anglePidSql) + optStatsSelect)),

    // The reference's emitted JSON result record (byte layout of
    // FlinkSkyline.java:625-650, incl. divergence D3 — no query_latency_ms).
    // Timings pinned to 0: deterministic batch semantics.
    Gate("metrics_json", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      SkylineOps.metricsJson(df, Seq("l_quantity", "l_extendedprice", "l_discount"),
        dimPartitionCol(array(col("l_quantity")), 60.0, NPart), NPart, "1")
    },
      (optStatsBase + metricsRecordSql("1"))),

    // Emitted-record parity under a non-dim partitioner: proves the metrics
    // path is strategy-agnostic, not MR-Dim-only.
    Gate("metrics_json_mrgrid", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      SkylineOps.metricsJson(df, Seq("l_quantity", "l_extendedprice", "l_discount"),
        gridPid, NPart, "1")
    },
      (optStatsSql("l_orderkey % 20 = 0", gridPidSql) + metricsRecordSql("1"))),

    // O22 driver surface: the reference's worst-case distribution generated
    // distributedly (partition-invariant spark.range generator), skyline'd.
    // The generator's uniform draws are md5-derived (DataGen.u), so the
    // oracle replays the EXACT stream in DuckDB — full hash gate, not
    // rows-only; distribution envelopes additionally asserted in
    // DataGenSourceSpec.
    Gate("datagen_sky2d", (s, d) =>
      graft.sources.DataGenSource.pointsDF(s, "anti_correlated", 42L,
          100000L, 2, 0, 10000, 32)
        .agg(graft.functions.SkylineAgg.skyline_agg(col("values")).as("sky"))
        .select(explode(col("sky")).as("p"))
        .select(col("p")(0).as("x"), col("p")(1).as("y")),
      datagenSkySql),

    // O23: auto-trigger cadence emulation — one metrics record per barrier
    // prefix (query ids 1..n like the producer's counter).
    Gate("cadence_metrics", (s, d) => {
      val df = li(s, d).filter(col("l_orderkey") % 20 === 0)
      SkylineOps.triggerCadence(df, "l_orderkey",
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        dimPartitionCol(array(col("l_quantity")), 60.0, NPart), NPart,
        CadenceBarriers)
    },
      CadenceBarriers.zipWithIndex.map { case (b, i) =>
      "SELECT json FROM (\n" +
        optStatsSql(s"l_orderkey % 20 = 0 AND l_orderkey <= $b") +
        metricsRecordSql((i + 1).toString) + "\n)"
    }.mkString("\nUNION ALL\n"))
  )

  private def optStatsSql(where: String,
                          pidSql: String = dimPidSql("l_quantity", 60.0, NPart)): String = {
    val dims = Seq("q", "p", "dd")
    s"""WITH t AS (SELECT l_quantity AS q, l_extendedprice AS p, l_discount AS dd,
       |  $pidSql AS pid
       |  FROM lineitem WHERE $where),
       |loc AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS c_local FROM t a
       |  WHERE NOT EXISTS (SELECT 1 FROM t b WHERE b.pid = a.pid AND ${domSql(dims)}) GROUP BY pid),
       |srv AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS c_surv FROM t a
       |  WHERE NOT EXISTS (SELECT 1 FROM t b WHERE ${domSql(dims)}) GROUP BY pid)
       |""".stripMargin
  }

  private val optStatsBase: String = optStatsSql("l_orderkey % 20 = 0")

  /** The per-pid stats SELECT appended after [[optStatsSql]]'s WITH prefix. */
  private val optStatsSelect: String =
    """SELECT CAST(loc.pid AS BIGINT) AS pid, c_local, COALESCE(c_surv, 0) AS c_surv
      |FROM loc LEFT JOIN srv ON loc.pid = srv.pid""".stripMargin

  /** One emitted-JSON-record SELECT (shared by metrics_json and the cadence
    * oracle); appended after [[optStatsSql]]'s WITH prefix. */
  private def metricsRecordSql(qid: String): String =
    s"""SELECT '{"query_id": "$qid", "record_count": ' || (SELECT COUNT(*) FROM t)
       | || ', "skyline_size": ' || CAST(SUM(COALESCE(c_surv, 0)) AS BIGINT)
       | || ', "optimality": ' || printf('%.4f', SUM(CAST(COALESCE(c_surv, 0) AS DOUBLE) / CAST(c_local AS DOUBLE)) / $NPart.0)
       | || ', "ingestion_time_ms": 0, "local_processing_time_ms": 0, "global_processing_time_ms": 0, "total_processing_time_ms": 0}' AS json
       |FROM loc LEFT JOIN srv ON loc.pid = srv.pid""".stripMargin

  private val CadenceBarriers = Seq(5000L, 10000L, 20000L)

  // ---- datagen_sky2d oracle: replay DataGen's md5-derived stream in SQL.
  // Draw k of record id = first 13 md5 hex chars of "seed:id:k" as a 52-bit
  // integer (13-term hex-char polynomial, BIGINT weights — INT32 literals
  // would trap DuckDB's checked multiply) over 2^52. The double constants
  // (slack, mean−slack) are computed HERE with the same IEEE ops as
  // DataGen.antiCorrelated and embedded as strings: a string→DOUBLE cast is
  // correctly rounded, where a DECIMAL literal might not round-trip.
  private val DgSeed = 42L
  private val DgN    = 100000L
  private val DgDims = 2
  private val DgMin  = 0
  private val DgMax  = 10000
  private val DgSlack = 0.0005 * (DgMax - DgMin).toDouble * DgDims
  private val DgBase  = (DgMin + DgMax) / 2.0 * DgDims - DgSlack

  private def hexPolySql(h: String, start: Int): String =
    (0 until 13).map { j =>
      val c = s"substr($h,${start + j},1)"
      s"(ascii($c) - CASE WHEN ascii($c) >= 97 THEN 87 ELSE 48 END) * CAST(${1L << (4 * (12 - j))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Draw k replays [[graft.core.DataGen.u]]: digest "seed:id:k/2", hex
    * chars 1–13 for even k, 14–26 for odd k. */
  private def uSql(k: Int): String =
    s"${hexPolySql(s"md5('$DgSeed:' || CAST(id AS VARCHAR) || ':${k >> 1}')", if ((k & 1) == 0) 1 else 14)} / CAST('4503599627370496' AS DOUBLE)"

  private def dgClampSql(v: String): String =
    s"GREATEST(CAST('$DgMin' AS DOUBLE), LEAST(CAST('$DgMax' AS DOUBLE), TRUNC($v)))"

  private val datagenSkySql: String =
    s"""WITH uu AS (SELECT range AS id FROM range(0, $DgN)),
       |du AS (SELECT id, ${uSql(0)} AS u0, ${uSql(1)} AS u1, ${uSql(2)} AS u2 FROM uu),
       |sc AS (SELECT u0, u1,
       |  CASE WHEN (u0 + u1) <> CAST('0' AS DOUBLE)
       |       THEN (CAST('$DgBase' AS DOUBLE) + (u2 * CAST('2' AS DOUBLE)) * CAST('$DgSlack' AS DOUBLE)) / (u0 + u1)
       |       ELSE CAST('1' AS DOUBLE) END AS s FROM du),
       |pts AS (SELECT ${dgClampSql("u0 * s")} AS x, ${dgClampSql("u1 * s")} AS y FROM sc),
       |d AS (SELECT x, MIN(y) AS my FROM pts GROUP BY x),
       |r AS (SELECT x, my, MIN(my) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM d)
       |SELECT p.x AS x, p.y AS y FROM pts p JOIN r ON p.x = r.x
       |WHERE p.y = r.my AND (r.pm IS NULL OR r.pm > p.y)""".stripMargin
}
