package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PartitionStats, SkylineStats}
import graft.functions.SkylineAgg.skyline_agg
import graft.functions.SkylineStats.skyline_stats

/** DataFrame-level skyline operators.
  *
  * The centerpiece pattern: the skyline (Pareto frontier, minimization on
  * every dimension — reference: `java/org.main/ServiceTuple.java:53-77`) is
  * computed by the native `graft_skyline_agg` aggregate
  * ([[graft.functions.SkylineAggExpr]]), whose partial/merge decomposition
  * IS the reference's MR two-phase design (local skyline per input
  * partition, only local skylines cross the shuffle in the aggregate's own
  * binary buffer, global merge — reference:
  * `java/org.main/FlinkSkyline.java:162-174`). The MR statistics run the
  * same way through `graft_skyline_stats`
  * ([[graft.functions.SkylineStatsExpr]]).
  *
  * Scale design (100 TB): every operator that turns the aggregate's
  * frontier into rows ([[skylineRows]], [[groupedSkylineRows]],
  * [[frontier]], [[mrSkylinePoints]], and the streaming
  * [[graft.streaming.EventWindows.windowedFrontier]]) runs ONE body: one
  * input scan, map-side partial aggregation (O(local skyline) shuffle
  * bytes per partition), then the merged frontier multiset — duplicates
  * included — exploded and cast back to the input column types. That is
  * the reference's answer path: the global phase emits the result
  * (`FlinkSkyline.java:162-174`), no input row is re-read. The cast back
  * is exact because [[vec]] admits only values a double carries exactly.
  *
  * The onion extensions (layers, k-skyband, top-k dominating) share ONE
  * shape. One peel builds the first k layers as a DISTINCT point table
  * (k frontier scans, each layer's points anti-joined out of the rest
  * before the next). One body per query then answers from that point table
  * with a single corpus scan: the `*From` consumers over a
  * [[SkylineModel]]'s persisted table, the one-shot operators over an
  * unpersisted peel. No full-data shuffle anywhere; every scan is a
  * codegen'd column pipeline.
  */
object SkylineOps {

  /** The skyline aggregates' input vector: `array(dims...)` cast to double,
    * and the one place that makes the cast exact, so every frontier point
    * casts back to the very input value it came from.
    *   - A non-numeric dimension fails here, when the plan is built
    *     (`IllegalArgumentException` naming the column and its type).
    *   - A null coordinate fails the query (`raise_error` naming the
    *     column); it would otherwise read as 0.0 and dominate real rows.
    *   - `long`, and decimals of precision above 15, are checked per row:
    *     the double must cast back to the original value, or the query
    *     fails naming the column. Every other numeric type is always exact.
    */
  private[graft] def vec(df: DataFrame, dims: Seq[String]): Column =
    array(dims.zip(dimTypes(df, dims)).map { case (d, t) =>
      require(t.isInstanceOf[NumericType],
        s"skyline dimension `$d` must be numeric, not ${t.simpleString}")
      val v = coalesce(col(d), raise_error(lit(s"skyline dimension `$d` is null")))
        .cast(DoubleType)
      val exact = t match {
        case LongType => false
        case dt: DecimalType => dt.precision <= 15
        case _ => true
      }
      if (exact) v
      else when(v.try_cast(t) === col(d), v).otherwise(raise_error(lit(
        s"skyline dimension `$d` holds a ${t.simpleString} value that a " +
          "double cannot carry exactly")))
    }: _*)

  private def dimTypes(df: DataFrame, dims: Seq[String]): Seq[DataType] =
    df.select(dims.map(col): _*).schema.fields.toSeq.map(_.dataType)

  /** The one body behind every operator that turns `skyline_agg`'s array
    * into rows: one input scan grouped by `keys` (none = one global group),
    * the aggregate's frontier multiset exploded — every duplicate of a
    * frontier point stays — and each coordinate cast back to its input
    * column type. Output: the key columns, then `dims`. */
  private[graft] def skylineOf(df: DataFrame, keys: Seq[Column],
                               dims: Seq[String]): DataFrame = {
    val sky = graft.plans.GraftFunctions.on(df).groupBy(keys: _*)
      .agg(skyline_agg(vec(df, dims)).as("graft_sky"))
    val keyCols = sky.columns.init.toSeq.map(col)
    sky.select(keyCols :+ explode(col("graft_sky")).as("graft_p"): _*)
      .select(keyCols ++ dims.zip(dimTypes(df, dims)).zipWithIndex.map {
        case ((d, t), i) => col("graft_p")(i).cast(t).as(d)
      }: _*)
  }

  /** Distinct frontier points of `df` over `dims`, one column per dim, in
    * `df`'s column types. */
  def frontier(df: DataFrame, dims: Seq[String]): DataFrame =
    skylineOf(df, Nil, dims).distinct()

  /** All non-dominated rows of `df` over `dims` (duplicates of frontier
    * points all survive — SURVEY §1.2), in `df`'s column types. Equivalent
    * to the SQL anti-join `WHERE NOT EXISTS (dominating row)`, answered in
    * one scan by [[skylineOf]].
    */
  def skylineRows(df: DataFrame, dims: Seq[String]): DataFrame =
    skylineOf(df, Nil, dims)

  /** Rows of alias `b` dominate rows of alias `a` over `dims`: ≤ on every
    * dimension and < on at least one (minimization). */
  private def dominates(b: String, a: String, dims: Seq[String]): Column =
    dims.map(c => col(s"$b.$c") <= col(s"$a.$c")).reduce(_ && _) &&
      dims.map(c => col(s"$b.$c") < col(s"$a.$c")).reduce(_ || _)

  /** The onion peel: the first `layers` skyline layers of `df`'s DISTINCT
    * points as one unpersisted table (dims..., layer). Layer l is the
    * frontier of what layers 1..l−1 left behind: one [[frontier]]
    * aggregation scan (O(frontier) shuffle bytes) after anti-joining the
    * earlier layers' points out. Layers are disjoint, so the union needs
    * no dedup. `layers` is a small constant by use case (the onion is
    * walked a few levels deep, never peeled to exhaustion), which bounds
    * the anti-join chain. */
  private def peel(df: DataFrame, dims: Seq[String], layers: Int): DataFrame = {
    var rest = df.select(dims.map(col): _*)
    (1 to layers).map { l =>
      val sky = frontier(rest, dims)
      if (l < layers) rest = rest.join(sky, dims, "left_anti")
      sky.withColumn("layer", lit(l.toLong))
    }.reduce(_ unionAll _)
  }

  /** TOP-K DOMINATING skyline points (the frontier restriction of the
    * top-k dominating query, Yiu & Mamoulis, VLDB'07 — "which Pareto
    * options matter MOST"): each DISTINCT skyline point scored by the
    * number of input rows it strictly dominates, ranked by (score desc,
    * dims asc). Output: dims..., dom_cnt, rnk ≤ k.
    *
    * Scale shape: [[topDominatingFrom]] over a one-layer peel, i.e. the
    * frontier in one scan, then one corpus scan to score it. */
  def topDominatingSkyline(df: DataFrame, dims: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"topDominatingSkyline needs k >= 1: k=$k")
    topDominatingFrom(SkylineModel(dims, 1, peel(df, dims, 1)), df, k)
  }

  /** SKYLINE LAYERS (onion peeling): layer 1 is the frontier, layer i the
    * frontier of what the first i−1 layers left behind — the ranked
    * fallback structure a recommender walks when the Pareto set is too
    * small ("next-best options"). Output: dims..., layer ∈ 1..layers, with
    * duplicate rows of a layer point all tagged with that layer
    * (SURVEY §1.2 duplicate semantics per layer).
    *
    * Scale shape: [[layerRowsFrom]] over an unpersisted peel — `layers`
    * frontier scans build the point table, then one corpus scan joins to
    * it. */
  def skylineLayerRows(df: DataFrame, dims: Seq[String], layers: Int): DataFrame = {
    require(layers >= 1 && layers <= 8,
      s"layers must be in 1..8 (peel-to-exhaustion is not the use case): $layers")
    layerRowsFrom(SkylineModel(dims, layers, peel(df, dims, layers)), df)
  }

  /** k-SKYBAND: all rows dominated by FEWER than `k` distinct points — the
    * relaxation of the skyline (= the 1-skyband) that answers "every option
    * that could enter some user's top-k under a monotone preference"
    * (Papadias et al., TODS'05 §6). Output: dims..., dom_cnt (< k), with
    * duplicate rows of a skyband point all kept (SURVEY §1.2 semantics).
    *
    * Scale shape — never an all-pairs dominator count: dominance strictly
    * decreases the onion layer, so (a) the k-skyband is contained in the
    * first k skyline layers, and (b) every dominator of a first-k-layers
    * point lies in those same layers. So this is [[skybandRowsFrom]] over
    * a k-layer [[skylineModel]]: the corpus is touched by the k peel scans
    * and one duplicate-recovering join, and the quadratic dominator count
    * runs on the candidate POINT set only. The model is persisted (its
    * points feed both sides of the dominator join); release it via
    * [[graft.core.Caches.releaseAll]] after consuming the result.
    */
  def skybandRows(df: DataFrame, dims: Seq[String], k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in 1..8 (the top-k use case): $k")
    skybandRowsFrom(skylineModel(df, dims, k), df, k)
  }

  /** Grouped skyline: non-dominated rows within each group, one scan and
    * one shuffle on the group keys (partial-aggregated map-side). A null
    * key is its own group, as in SQL `GROUP BY`. Output: groupCols, then
    * dims, in `df`'s column types.
    */
  def groupedSkylineRows(df: DataFrame, groupCols: Seq[String], dims: Seq[String]): DataFrame =
    skylineOf(df, groupCols.map(col), dims)

  /** The skyline family's shared DEPLOY artifact: the first `layers`
    * onion layers as one DISTINCT point table (dims…, layer). Built by
    * [[skylineModel]] it is persisted ONCE, and the per-query consumers
    * ([[layerRowsFrom]], [[skybandRowsFrom]], [[topDominatingFrom]]) are
    * then point-table joins and one corpus scan each, never a re-peel.
    * The one-shot operators run the same consumers over an unpersisted
    * peel. Point tables are frontier-scale (they SHRINK as dominance gets
    * easier). Release via [[graft.core.Caches.releaseAll]] after the
    * consumers finish. */
  final case class SkylineModel(dims: Seq[String], layers: Int,
                                pts: DataFrame)

  /** Build a [[SkylineModel]]: the onion peel's `layers` [[frontier]]
    * aggregation scans (each O(frontier) shuffle bytes), persisted. */
  def skylineModel(df: DataFrame, dims: Seq[String],
                   layers: Int): SkylineModel = {
    require(layers >= 1 && layers <= 8,
      s"layers must be in 1..8 (the onion-walk use case): $layers")
    SkylineModel(dims, layers,
      graft.core.Caches.persistTracked(peel(df, dims, layers)))
  }

  /** Layer rows from a model: ONE corpus scan equi-joined to the point
    * table, so every duplicate row of a layer point comes back tagged with
    * that layer. No hint is forced: AQE picks the join (the point table
    * broadcasts when small). */
  def layerRowsFrom(m: SkylineModel, df: DataFrame): DataFrame =
    df.select(m.dims.map(col): _*)
      .join(m.pts, m.dims)
      .select(m.dims.map(col) :+ col("layer"): _*)

  /** k-skyband from a model (`k` ≤ the model's layers): the distinct-
    * dominator count runs over the first-k-layers point set (point-scale,
    * the dominator side broadcast; a left join keeps dominated-by-nobody
    * points at count 0), then one corpus equi-join recovers duplicates
    * (AQE picks its strategy). The k-skyband is contained in the first k
    * layers, and so are all its dominators. */
  def skybandRowsFrom(m: SkylineModel, df: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= m.layers,
      s"k=$k needs a model with >= k layers (built ${m.layers})")
    val pts = m.pts.filter(col("layer") <= k)
      .select(m.dims.map(col): _*)
    val counted = pts.as("a")
      .join(broadcast(pts.as("b")), dominates("b", "a", m.dims), "left")
      .groupBy(m.dims.map(c => col(s"a.$c").as(c)): _*)
      .agg(count(col(s"b.${m.dims.head}")).as("dom_cnt"))
      .filter(col("dom_cnt") < k)
    df.select(m.dims.map(col): _*)
      .join(counted, m.dims)
      .select(m.dims.map(col) :+ col("dom_cnt"): _*)
  }

  /** Top-k dominating from a model: the scoring join streams the corpus
    * once through the model's layer-1 frontier (broadcast), then ranks
    * frontier-scale rows. Skyline points dominating nothing re-enter with
    * a zero count via a frontier-sized left join afterwards — a left-outer
    * scoring join would have to preserve the broadcast side, which Spark
    * (rightly) refuses to plan as a broadcast. If a (high-dimensional)
    * frontier ever outgrows broadcast, pre-filter with [[gridPrefilter]]
    * before scoring. */
  def topDominatingFrom(m: SkylineModel, df: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topDominatingFrom needs k >= 1: k=$k")
    val sky = m.pts.filter(col("layer") === 1)
      .select(m.dims.map(col): _*)
    val scored = df.select(m.dims.map(col): _*).as("r")
      .join(broadcast(sky.as("s")), dominates("s", "r", m.dims))
      .groupBy(m.dims.map(c => col(s"s.$c").as(c)): _*)
      .agg(count(lit(1)).as("dom_cnt"))
    val w = Window.orderBy(col("dom_cnt").desc +: m.dims.map(col): _*)
    sky.join(scored, m.dims, "left")
      .select(m.dims.map(col) :+ coalesce(col("dom_cnt"), lit(0L)).as("dom_cnt"): _*)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(m.dims.map(col) :+ col("dom_cnt") :+
        col("rnk").cast("long").as("rnk"): _*)
  }

  // ---------------------------------------------------------------- MR parity

  /** MR-Dim partition id as a column expression: range-partition on dim 0,
    * slice width maxVal/n, truncated toward zero, clamped to [0, n-1]
    * (reference: `java/org.main/FlinkSkyline.java:706-712`; math mirrors
    * [[graft.core.GeoPartitioners.dimPartition]]).
    */
  def dimPartitionCol(values: Column, maxVal: Double, n: Int): Column =
    greatest(lit(0), least(lit(n - 1), (values(0) / (maxVal / n)).cast("int")))

  /** MR-Grid partition id: hyper-octant bitmask (bit i ⇔ v_i ≥ maxVal/2),
    * taken mod n (divergence D1 resolved per the report — SURVEY §2.3;
    * reference: `java/org.main/FlinkSkyline.java:773-789`).
    */
  def gridPartitionCol(values: Column, dims: Int, maxVal: Double, n: Int): Column = {
    val mid = maxVal / 2.0
    val mask = (0 until dims)
      .map(i => when(values(i) >= mid, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
    mask % n
  }

  /** MR-Angle partition id: hyperspherical angles
    * φ_i = atan2(‖v_{i+1..d}‖, v_i) normalized by π/2, averaged, scaled to n,
    * truncated, clamped (reference: `java/org.main/FlinkSkyline.java:826-875`;
    * math mirrors [[graft.core.GeoPartitioners.anglePartition]]).
    */
  def anglePartitionCol(values: Column, dims: Int, n: Int): Column = {
    if (dims < 2) return lit(0)
    val angles = (0 until dims - 1).map { i =>
      val restSq = (i + 1 until dims).map(j => values(j) * values(j)).reduce(_ + _)
      atan2(sqrt(restSq), values(i)) / lit(math.Pi / 2.0)
    }
    val avg = angles.reduce(_ + _) / lit(dims - 1)
    greatest(lit(0), least(lit(n - 1), (avg * n).cast("int")))
  }

  /** The reference's (disabled) grid dominance pre-filter, safe in batch:
    * keep rows with at least one dimension < maxVal/2 — any all-≥-mid point
    * is dominated by the mid-corner unless the top octant is empty; the
    * reference keeps rows where NOT all dims ≥ mid
    * (reference: `java/org.main/FlinkSkyline.java:716-734`).
    */
  def gridPrefilter(df: DataFrame, dims: Seq[String], maxVal: Double): DataFrame = {
    val mid = maxVal / 2.0
    df.filter(dims.map(d => col(d) < mid).reduce(_ || _))
  }

  /** Explicit two-phase MR skyline (parity demonstration): geometric
    * partition → per-partition local skyline → merge of local skylines →
    * global skyline, i.e. [[skylineOf]] over [[skylineOf]] keyed by the
    * partition id. Emits the duplicate-preserving global multiset (each
    * partition's local phase keeps its own duplicates; equal vectors never
    * dominate, so the merge keeps all of them) — identical row multiset
    * and column types to [[skylineRows]].
    */
  def mrSkylinePoints(df: DataFrame, dims: Seq[String], pid: Column): DataFrame =
    skylineOf(
      skylineOf(df.withColumn("graft_pid", pid), Seq(col("graft_pid")), dims),
      Nil, dims)

  /** Per-partition skyline statistics for the optimality metric
    * (reference formula: `java/org.main/FlinkSkyline.java:590-608`, caveat
    * D4): for each logical partition, `c_local` = rows on the partition's
    * local skyline (duplicates counted), `c_surv` = rows on the global
    * skyline (all of which are necessarily on their local skyline).
    */
  def partitionSkylineStats(df: DataFrame, dims: Seq[String], pid: Column): DataFrame =
    partitionSkylineStatsFull(df, dims, pid)
      .select(col("pid"), col("c_local"), col("c_surv"))

  /** [[partitionSkylineStats]] plus `c_rows` (total rows per partition),
    * in ONE input scan: the `skyline_stats` aggregate folds every row into
    * its partition's local skyline map-side and merges the local skylines,
    * tagged by partition id, in `finish`. */
  def partitionSkylineStatsFull(df: DataFrame, dims: Seq[String], pid: Column): DataFrame =
    statsOf(df, dims, pid).toDF("st")
      .select(explode(col("st")).as("s"))
      .select(Seq("pid", "c_rows", "c_local", "c_surv").map(c => col(s"s.$c").as(c)): _*)

  /** The stats pipeline behind every MR statistic, generalized to extra
    * leading group keys (used by [[triggerCadence]] to compute every
    * barrier's stats in ONE pass): `tagged` carries `keys ++ "pid" ++ dims`.
    * One `skyline_stats` aggregate per key group (a single global group when
    * `keys` is empty) as column `st`, every pid's [[PartitionStats]] sorted
    * by pid. Only local skylines cross the shuffle — the MR design's own
    * cost model; no input row is shuffled or joined.
    */
  private def statsByKeys(tagged: DataFrame, dims: Seq[String],
                          keys: Seq[String]): DataFrame =
    graft.plans.GraftFunctions.on(tagged).groupBy(keys.map(col): _*)
      .agg(skyline_stats(col("pid").cast("int"), vec(tagged, dims)).as("st"))

  /** Every partition's [[PartitionStats]] of `df`, as one row (empty for an
    * empty input). */
  private def statsOf(df: DataFrame, dims: Seq[String],
                      pid: Column): Dataset[Array[PartitionStats]] = {
    import df.sparkSession.implicits._
    statsByKeys(df.select((pid.as("pid") +: dims.map(col)): _*), dims, Nil)
      .as[Array[PartitionStats]]
  }

  /** The reference's emitted result record, one row in column `json`:
    * [[graft.functions.SkylineStats.record]] over the partitions' stats,
    * with `record_count` the input row count. An empty input emits a
    * zeroed record. Batch semantics: the caller supplies the timings (the
    * barrier/ingestion clock is a streaming concept); the driver-facing
    * query pins them to 0 for determinism.
    */
  def metricsJson(df: DataFrame, dims: Seq[String], pid: Column, partitions: Int,
                  queryId: String, ingestMs: Long = 0L, localMs: Long = 0L,
                  globalMs: Long = 0L, totalMs: Long = 0L): DataFrame = {
    import df.sparkSession.implicits._
    statsOf(df, dims, pid).map(st => SkylineStats.record(queryId,
        st.map(_.c_rows).sum.toString, st.toSeq, partitions,
        ingestMs, localMs, globalMs, totalMs))
      .toDF("json")
  }

  /** O23 parity: the producer's auto-trigger cadence — "query every N
    * records" (`python/unified_producer.py:25,180-187`) — emulated in batch:
    * one [[metricsJson]]-format record per barrier over the prefix
    * `idCol ≤ b`, query ids numbered from 1 like the producer's counter.
    *
    * One scan family, not one per barrier: each row is tagged with EVERY
    * barrier prefix it belongs to (an explode whose ≤ B fanout is absorbed
    * by the map-side partial aggregation), then the shared stats pipeline
    * runs once grouped by barrier (one `skyline_stats` buffer per barrier,
    * keyed inside by pid). At the reference's real cadence
    * (a trigger every 1M records → hundreds of barriers over a long stream)
    * this stays O(1) input scans where the naive per-barrier plan is O(B).
    * Barriers whose prefix is empty still emit a zeroed record (the same
    * empty-input rule as [[metricsJson]]).
    */
  def triggerCadence(df: DataFrame, idCol: String, dims: Seq[String], pid: Column,
                     partitions: Int, barriers: Seq[Long]): DataFrame = {
    require(barriers.nonEmpty, "triggerCadence needs at least one barrier")
    import df.sparkSession.implicits._
    val qids = filter(
      array(barriers.zipWithIndex.map { case (b, i) =>
        when(col(idCol) <= b, lit(i + 1)) }: _*),
      q => q.isNotNull)
    val tagged = df.select(
      explode(qids).as("qid") +: pid.as("pid") +: dims.map(col): _*)
    // Left join against the full barrier list: a barrier with an empty
    // prefix has no tagged rows at all, so it must be re-introduced here.
    df.sparkSession.range(1, barriers.size + 1)
      .select(col("id").cast("int").as("qid"))
      .join(statsByKeys(tagged, dims, Seq("qid")), Seq("qid"), "left")
      .orderBy("qid")
      .as[(Int, Array[PartitionStats])]
      .map { case (qid, st) =>
        val stats = Option(st).getOrElse(Array.empty[PartitionStats])
        SkylineStats.record(qid.toString, stats.map(_.c_rows).sum.toString,
          stats.toSeq, partitions, 0L, 0L, 0L, 0L)
      }
      .toDF("json")
  }

  /** Scalar optimality per the reference's exact formula (D4,
    * [[graft.functions.SkylineStats.optimality]]), rounded half-up to 9
    * decimals like SQL `ROUND`: the final small-vector sum is the one place
    * an engine's double summation order could differ. Null for an empty
    * input, which has no partition to average. */
  def optimality(df: DataFrame, dims: Seq[String], pid: Column, partitions: Int): DataFrame = {
    import df.sparkSession.implicits._
    statsOf(df, dims, pid).map(st =>
      if (st.isEmpty) None
      else Some(java.math.BigDecimal.valueOf(SkylineStats.optimality(st.toSeq, partitions))
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()))
      .toDF("optimality")
  }
}
