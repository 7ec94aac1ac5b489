package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Kernel}

/** The reference's full operator surface (SURVEY.md §2.1–§2.7), re-expressed
  * as declarative DataFrame plans so Catalyst gets predicate pushdown, column
  * pruning and map-side partial aggregation for free.
  *
  * Scale notes (100 TB): catalog lookups (walk/find/hasNode) touch ONLY the
  * O(#metrics) metadata table — never point data. Read-path operators are a
  * single pruned scan + at most one shuffle on (metric, ts-bucket) plus
  * broadcast joins against metadata. Nothing collects to the driver.
  */
object SeriesOps {

  import Catalog.Step

  /** Fixed query window used by the oracle-checked range queries:
    * [2024-01-05 00:00, 2024-01-12 00:00] UTC. Reference read semantics
    * (`ceres.py` CeresNode.read ≈L470) round `until` UP one full step even
    * when already aligned — `until - until%step + step` — so the effective
    * window is [From, Until + Step). */
  val From = 1704412800L
  val Until = 1705017600L

  // ———————————————————————————— catalog (§2.1) ————————————————————————————

  /** `CeresTree.walk` (ceres.py ≈L125): enumerate all nodes. Served from the
    * metadata table — at scale a metric listing must be O(#metrics), not a
    * points-table job. */
  def walkTree(spark: SparkSession, dir: String): DataFrame =
    Catalog.metricsMeta(spark).select("metric").orderBy("metric")

  /** `CeresTree.find` (ceres.py ≈L210): glob-pattern node resolution.
    * `*`/`?` match within one path segment (never across `.`). */
  def findGlob(spark: SparkSession, dir: String, glob: String): DataFrame =
    Catalog.metricsMeta(spark)
      .select("metric")
      .where(col("metric").rlike(Kernel.globToRegex(glob)))
      .orderBy("metric")

  /** `CeresTree.find` with the optional data-interval filter
    * (ceres.py ≈L210–233: `find(pattern, fromTime, untilTime)` filters
    * matches through `hasDataForInterval`): glob resolution on metadata,
    * then an overlap semi-join against per-metric data extents. */
  def findInterval(spark: SparkSession, dir: String, glob: String,
                   from: Long, until: Long): DataFrame =
    findIntervalFrom(Catalog.pointsCached(spark, dir),
      Catalog.metricsMeta(spark), glob, from, until)

  /** [[findInterval]] over explicit points/meta tables. */
  def findIntervalFrom(points: DataFrame, meta: DataFrame, glob: String,
                       from: Long, until: Long): DataFrame = {
    val matches = meta
      .select("metric")
      .where(col("metric").rlike(Kernel.globToRegex(glob)))
    val extents = points
      .groupBy("metric")
      // per-row step: a coarse rolled-up row covers [ts, ts + its step)
      .agg(min("ts").as("earliest"), max(col("ts") + col("step")).as("latest"))
    matches.join(extents, Seq("metric"))
      .where(lit(from) < col("latest") && lit(until) > col("earliest"))
      .select("metric")
      .orderBy("metric")
  }

  /** `CeresTree.hasNode` (ceres.py ≈L165): existence probe against the
    * metadata table (limit(1) — no full count, no point data). */
  def hasNode(spark: SparkSession, dir: String, metric: String): DataFrame =
    Catalog.metricsMeta(spark)
      .where(col("metric") === metric)
      .limit(1)
      .agg((count(lit(1)) > 0).as("has_node"))

  /** `CeresNode.slice_info` / `readSlices` (ceres.py ≈L375, ≈L430): physical
    * extent per (node, resolution). This one legitimately summarizes point
    * data; at scale it reads parquet footer stats, not rows. */
  def sliceInfo(spark: SparkSession, dir: String): DataFrame =
    Catalog.pointsCached(spark, dir)
      .groupBy("metric", "step")
      .agg(min("ts").as("start_ts"),
           (max("ts") + col("step")).as("end_ts"),
           count(lit(1)).as("npoints"))
      .select("metric", "step", "start_ts", "end_ts", "npoints")
      .orderBy("metric", "step")

  /** `CeresNode.hasDataForInterval` (ceres.py ≈L455): overlap predicate
    * `(from < latestData) && (until > earliestData)`. */
  def hasDataInterval(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long): DataFrame =
    Catalog.pointsCached(spark, dir)
      .where(col("metric") === metric)
      .agg(((min("ts") < until) &&
        (max(col("ts") + col("step")) > from)).as("has_data"))

  // ———————————————————————————— read path (§2.2) ——————————————————————————

  /** The per-window inputs of the read cores ([[reconcileOf]],
    * [[densifyGridFrom]], [[metricGrid]]) besides the points: the
    * step-aligned window [f, u) as plan-time values (scan bounds, the
    * degenerate-window guard), the reconcile anchor and first grid slot
    * (`from`), the last grid slot (`last`), and each metric's
    * aggregation method — either the node table, joined by broadcast on
    * `metric` (`Left`), or a method column (`Right`).
    *
    * Two sources, one body per core:
    *  - [[ReadInputs.literals]] — plan-time literals and the broadcast
    *    metadata join: every registry face and whole-store read;
    *  - [[ReadInputs.mapped]] — lookups into ONE per-request map literal
    *    (metric → method, anchor, last slot) built from node rows the
    *    caller already holds (`graft.Engine`): no metadata broadcast,
    *    and no window-dependent code after the scan. Spark's codegen
    *    inlines Long literals into the generated Java but references map
    *    and string literals, so with these inputs only the scan stage's
    *    code (its literal ts filter, which keeps the pushed filters)
    *    depends on the window, and a new window reuses every other
    *    compiled stage. The lookups are keyed on the `metric` COLUMN,
    *    after the scan: `ConstantPropagation` folds a lookup that shares
    *    a filter with `metric = 'm'` back into an inlined literal. */
  private[graft] final case class ReadInputs(
      f: Long, u: Long, from: Column, last: Column,
      method: Either[DataFrame, Column]) {

    /** Lookups into the map, keyed on a `metric` column (class doc). */
    def mapped: Boolean = method.isRight

    /** The dense render grid over [f, u) at `step` as a sequence column,
      * exploded by every densify core. PLAN-TIME degenerate-window guard
      * (r18 ADVICE): `sequence` with a positive step THROWS at runtime
      * when u - 1 < f — reachable because `until < from` survives
      * Kernel.align/alignUntil — where the pre-r18 `spark.range(f, u,
      * step)` grid returned an empty frame. f and u are always known
      * when the plan is built, so the guard is a Scala `if`: the
      * valid-window plan is the bare sequence, and a degenerate window
      * explodes an empty array (zero grid rows, the old behavior). */
    def grid(step: Column): Column =
      if (u - 1 >= f) sequence(from, last, step)
      else array().cast("array<bigint>")
  }

  private[graft] object ReadInputs {

    /** Plan-time literals and the broadcast join of `meta`. */
    def literals(meta: DataFrame, from: Long, until: Long): ReadInputs = {
      val (f, u) = aligned(from, until)
      ReadInputs(f, u, lit(f), lit(u - 1), Left(meta))
    }

    /** Lookups into one map literal over `methods` (metric → aggregation
      * method; null for a metric without a node, read as 'average'),
      * keyed on the `metric` column. Every metric the read's points can
      * hold must be a key: the anchor and grid bounds come from the
      * same entry. */
    def mapped(methods: Seq[(String, String)], from: Long,
               until: Long): ReadInputs = {
      val (f, u) = aligned(from, until)
      val keys = typedLit(methods.map { case (m, method) =>
        m -> ((method, f, u - 1)) }.toMap)
      def at(field: String): Column =
        element_at(keys, col("metric")).getField(field)
      ReadInputs(f, u, at("_2"), at("_3"), Right(at("_1")))
    }
  }

  /** The step-aligned read window [f, u) of [from, until]: `CeresNode.read`'s
    * bounds ([[Kernel.align]], [[Kernel.alignUntil]]). */
  private def aligned(from: Long, until: Long): (Long, Long) =
    (Kernel.align(from, Step), Kernel.alignUntil(until, Step))

  /** Every metric's points in the aligned window: the one scan of each
    * cross-series window read (the selection family, percentiles,
    * regressions, per-slot rollups). */
  private def windowPoints(spark: SparkSession, dir: String, from: Long,
                           until: Long): DataFrame = {
    val (f, u) = aligned(from, until)
    Catalog.pointsCached(spark, dir).where(col("ts") >= f && col("ts") < u)
  }

  /** The aligned window's slot grid, one `ts` row per step: the padding
    * of the per-slot rollups ([[seriesCount]], [[seriesRangeOfSeries]],
    * [[seriesStddevSeries]]). */
  private def slotGrid(spark: SparkSession, from: Long,
                       until: Long): DataFrame = {
    val (f, u) = aligned(from, until)
    spark.range(f, u, Step).toDF("ts")
  }

  /** Per-metric aggregation-method dispatch used by the read-path reconcile
    * and the rollup: one codegen'd when-chain over pre-computed candidate
    * aggregates (a few extra accumulators per group beats per-method scans). */
  private def dispatch(method: Column): Column =
    when(method === "average", col("v_avg"))
      .when(method === "sum", col("v_sum"))
      .when(method === "min", col("v_min"))
      .when(method === "max", col("v_max"))
      .otherwise(col("v_last"))

  /** Multi-resolution read reconcile (`ceres.py` CeresNode.read ≈L490–510):
    * when a range spans rows at several steps (fine recent data + coarse
    * rolled-up history), aggregate everything onto the COARSEST step present
    * per metric, using the node's aggregationMethod — before densification.
    *
    * Shape (r18 opt, guide §2.4): the per-metric coarsest step is a
    * window max over the SAME metric-keyed exchange the bucket rollup
    * needs (hash(metric) satisfies the (metric, step, bucket) grouping:
    * partitioning on a key subset clusters every group), so the former
    * separate max(step) aggregate + broadcast-join round-trip — one
    * extra shuffle stage and one broadcast build per read — collapses
    * into the one shuffle this reconcile always paid. Same integers,
    * one exchange. On a single-step store every group has exactly one
    * row, so all five candidate aggregates degenerate to the value
    * itself — semantics are unchanged.
    */
  def reconcileToCoarsest(pts: DataFrame, meta: DataFrame,
                          anchor: Long = 0L): DataFrame =
    reconcileOf(pts, Left(meta), lit(anchor))

  /** THE reconcile body, with the anchor and the method source as
    * [[ReadInputs]] give them: `Left(meta)` joins the node table by
    * broadcast (the registry plan), `Right(method)` is a per-row column
    * (an `Engine` request's map lookup, no join). */
  private def reconcileOf(pts: DataFrame, method: Either[DataFrame, Column],
                          anchor: Column): DataFrame = {
    val windowed = pts
      .withColumn("target_step",
        max("step").over(Window.partitionBy("metric")))
    // left join (or a null mapped method) + reference default: a metric
    // without metadata aggregates as 'average' (the reference's DEFAULT
    // metadata value) instead of silently vanishing from results
    method.fold(
        meta => windowed.join(
          broadcast(meta.select("metric", "aggregationMethod")),
          Seq("metric"), "left"),
        m => windowed.withColumn("aggregationMethod", m))
      .withColumn("aggregationMethod",
        coalesce(col("aggregationMethod"), lit("average")))
      // buckets anchor at the WINDOW START (the reference's aggregateSeries
      // chunks positionally from the in-window data), so no reconciled
      // timestamp can fall below the requested `from`
      .withColumn("bts", col("ts") -
        pmod(col("ts") - anchor, col("target_step")))
      .groupBy("metric", "target_step", "bts")
      .agg(first("aggregationMethod").as("method"),
           avg("value").as("v_avg"),
           sum("value").as("v_sum"),
           min("value").as("v_min"),
           max("value").as("v_max"),
           max_by(col("value"), col("ts")).as("v_last"))
      .select(col("metric"), col("target_step").as("step"),
              col("bts").as("ts"), dispatch(col("method")).as("value"))
  }

  /** `CeresNode.read` (ceres.py ≈L470): THE core read — time-range scan of
    * one series. Bounds: `from -= from%step`; `until = until - until%step
    * + step` (always up one step — reference-faithful, see [[Kernel.alignUntil]]).
    * Returns sparse (ts, value) rows at the reconciled resolution;
    * densification is a separate composable op. */
  def fetchRange(spark: SparkSession, dir: String, metric: String,
                 from: Long, until: Long,
                 metaOpt: Option[DataFrame] = None): DataFrame =
    fetchRangeFrom(Catalog.pointsCached(spark, dir),
      metaOpt.getOrElse(Catalog.metricsMeta(spark)), metric, from, until)

  /** [[fetchRange]] over an explicit points table — the general read: on a
    * multi-resolution store (fine recent rows + coarse rolled-up history)
    * the reconcile aggregates everything onto the coarsest step present for
    * the metric before the result is shaped. */
  def fetchRangeFrom(points: DataFrame, meta: DataFrame, metric: String,
                     from: Long, until: Long): DataFrame =
    fetchRangeFrom(points, ReadInputs.literals(meta, from, until), metric)

  /** [[fetchRangeFrom]] with its window and methods from `in`. */
  private[graft] def fetchRangeFrom(points: DataFrame, in: ReadInputs,
                                    metric: String): DataFrame = {
    val pts = points.where(col("metric") === metric &&
      col("ts") >= in.f && col("ts") < in.u)
    reconcileOf(pts, in.method, in.from)
      .select("ts", "value")
      .orderBy("ts")
  }

  /** Result densification (ceres.py CeresNode.read padding + TimeSeriesData
    * ≈L840): one row per grid point in [from', until'), null where no data.
    *
    * r18 opt (guide §2.4): the former `spark.range ⟕ series` sort-merge
    * join (two exchanges + two sorts for a render-window-sized frame)
    * is replaced by packing the reconciled series into ONE (ts → value)
    * map row — the series is O(one metric × one window) by the read
    * contract, the same bound the old plan's join already accepted —
    * and exploding the grid out of that row with an `element_at` lookup
    * per slot. Missing slots read null from the map exactly as the left
    * join produced them; values are byte-identical. Join gone, no
    * exchange after the reconcile. */
  def densifyGrid(spark: SparkSession, dir: String, metric: String,
                  from: Long, until: Long,
                  metaOpt: Option[DataFrame] = None): DataFrame = {
    val in = ReadInputs.literals(
      metaOpt.getOrElse(Catalog.metricsMeta(spark)), from, until)
    val pts = Catalog.pointsCached(spark, dir).where(col("metric") === metric &&
      col("ts") >= in.f && col("ts") < in.u)
    reconcileOf(pts, in.method, in.from)
      .agg(map_from_entries(
        collect_list(struct(col("ts"), col("value")))).as("m"))
      .select(explode(in.grid(lit(Step))).as("ts"),
        col("m"))
      .select(col("ts"), element_at(col("m"), col("ts")).as("value"))
      .orderBy("ts")
  }

  /** [[densifyGrid]] over an explicit points table, with the grid at the
    * RECONCILED step (the reference's TimeSeriesData is emitted at the
    * coarsest resolution read — `ceres.py` CeresNode.read ≈L490–510): one
    * row per reconciled-step grid point in [from', until'), null where no
    * data (including windows the rollup's xff gate suppressed). The grid
    * step comes from a one-row aggregate of the reconciled series
    * (sequence-exploded, as in [[mergeSeriesFrom]]); on a single-step store
    * this degenerates to [[densifyGrid]]'s fixed-step `spark.range` grid,
    * which stays the registered plan for that case.
    *
    * r18 opt (guide §2.4): the gstep aggregate, the grid explode and the
    * value lookup all ride ONE one-row aggregate of the reconciled
    * series — `max(step)` and the packed (ts → value) map come out of
    * the same pass, so the series has exactly one consumer and the
    * former eager `localCheckpoint` (a blocking extra job per query,
    * there only to keep two consumers from re-running the reconcile)
    * is no longer needed at all. The map row is O(one metric × one
    * window) — the bound the old join plan already accepted — and the
    * store is still scanned exactly once (pinned by PlanSpec).
    *
    * With [[ReadInputs.mapped]] inputs the one-row aggregate also carries
    * the metric (`coalesce(first("metric"), lit(metric))`: an empty
    * window has no rows), so the grid bounds look up by the column. */
  def densifyGridFrom(points: DataFrame, meta: DataFrame, metric: String,
                      from: Long, until: Long): DataFrame =
    densifyGridFrom(points, ReadInputs.literals(meta, from, until), metric)

  /** [[densifyGridFrom]] with its window and methods from `in`. */
  private[graft] def densifyGridFrom(points: DataFrame, in: ReadInputs,
                                     metric: String): DataFrame = {
    val pts = points.where(col("metric") === metric &&
      col("ts") >= in.f && col("ts") < in.u)
    val key =
      if (in.mapped) Seq(coalesce(first("metric"), lit(metric)).as("metric"))
      else Nil
    reconcileOf(pts, in.method, in.from)
      .agg(coalesce(max("step"), lit(Step)).as("gstep"),
        map_from_entries(
          collect_list(struct(col("ts"), col("value")))).as("m") +: key: _*)
      .select(explode(in.grid(col("gstep"))).as("ts"),
        col("m"))
      .select(col("ts"), element_at(col("m"), col("ts")).as("value"))
      .orderBy("ts")
  }

  /** Multi-series PATTERN read — the graphite-web render path (one call,
    * every glob match): each metric matching `pattern` reconciled to its
    * own coarsest step and densified onto its own grid, as one
    * (metric, ts, value) frame with nulls where absent. The read shape a
    * dashboard panel issues; the per-metric [[fetchRange]] contract,
    * with the metric axis as the parallelism axis.
    *
    * Scale: matches resolve from METADATA only (rlike on the glob's
    * regex); ONE window-filtered scan serves all matches; the reconcile
    * is the multi-metric (metric, bucket) rollup; grids are per-metric
    * sequence explodes — O(matches × window), result-sized. */
  def fetchPattern(spark: SparkSession, dir: String, pattern: String,
                   from: Long, until: Long): DataFrame =
    fetchPatternFrom(Catalog.pointsCached(spark, dir),
      Catalog.metricsMeta(spark), pattern, from, until)

  /** [[fetchPattern]] over explicit points/meta (the whole-store read;
    * `graft.Engine`, which serves the `fetch_pattern_store` face, calls
    * [[fetchForMetrics]] with its held node rows). */
  def fetchPatternFrom(points: DataFrame, meta: DataFrame, pattern: String,
                       from: Long, until: Long): DataFrame = {
    val rx = Kernel.globToRegex(pattern)
    fetchForMetrics(points, meta,
      meta.where(col("metric").rlike(rx)).select("metric"), from, until)
  }

  /** The multi-series read core shared by [[fetchPatternFrom]], the
    * series-selection faces ([[selected]]) and `graft.Engine.fetchPattern`:
    * every requested metric reconciled to its own coarsest step and
    * densified onto its own grid, one (metric, ts, value) frame; a
    * requested metric without points in the window reads the all-null
    * grid at `Step`. Here the requested metrics are a metadata-sized
    * (metric) relation `matched`, joined onto the scan by broadcast and
    * onto the packed grids by a left join. */
  private[graft] def fetchForMetrics(points: DataFrame, meta: DataFrame,
                                     matched: DataFrame,
                                     from: Long, until: Long): DataFrame =
    metricGrid(points, ReadInputs.literals(meta, from, until), Left(matched))
      .orderBy("metric", "ts")

  /** [[fetchForMetrics]] of a metric list (a `graft.Engine` pattern read,
    * its window and methods from `in`): no match relation, no join. The
    * grid comes out of one one-row aggregate, so it is ONE partition and
    * its closing sort is a local sort, not a range exchange. */
  private[graft] def fetchForMetrics(points: DataFrame, in: ReadInputs,
                                     metrics: Seq[String]): DataFrame =
    metricGrid(points, in, Right(metrics)).sortWithinPartitions("metric", "ts")

  /** [[fetchForMetrics]] before its closing sort: the one place the
    * (metric, ts, value) multi-metric grid is built, over the metrics of
    * a (metric) relation (`Left`) or of a list (`Right`). */
  private def metricGrid(points: DataFrame, in: ReadInputs,
                         requested: Either[DataFrame, Seq[String]])
      : DataFrame = {
    val pts = requested
      .fold(m => points.join(broadcast(m), "metric"),
        ms => points.where(col("metric").isin(ms: _*)))
      .where(col("ts") >= in.f && col("ts") < in.u)
    // r18 opt (guide §2.4): pack each metric's reconciled window into one
    // (gstep, ts → value map) row — O(#matched) rows, each bounded by the
    // render window — instead of the former eager-checkpoint + two
    // sort-merge joins (grid-step attach + value attach: four exchanges
    // and an extra blocking job per read).
    val packed = reconcileOf(pts, in.method, in.from)
      .groupBy("metric")
      .agg(max("step").as("gstep"),
        map_from_entries(
          collect_list(struct(col("ts"), col("value")))).as("m"))
    // Absent metrics (no points in the window) get the all-null grid at
    // `Step`: gstep defaults, every lookup nulls.
    val perMetric = requested match {
      // r19 (VERDICT r18 item 1): the packed side is O(#matched metrics)
      // ROWS but each row holds a full render-window map, i.e. #matched ×
      // window POINTS of payload — result-sized, not metadata-sized — so
      // the left join is deliberately UNHINTED: AQE broadcasts it from
      // observed stats when it is genuinely small and degrades to a
      // shuffle join at scale instead of pushing the query result
      // through the driver's 8 GB broadcast cap. `packed` is already
      // hash(metric)-partitioned by its groupBy, so the at-scale plan
      // adds no exchange on the big side.
      case Left(m) => m.join(packed, Seq("metric"), "left")
      // a list: every packed metric is one entry of ONE one-row map (as
      // densifyGridFrom's one-row aggregate), and the requested metrics
      // explode out of it — the answer is collected on the driver anyway
      case Right(ms) => packed
        .agg(map_from_entries(collect_list(struct(col("metric"),
          struct(col("gstep"), col("m"))))).as("g"))
        .select(explode(typedLit(ms)).as("metric"), col("g"))
        .select(col("metric"), element_at(col("g"), col("metric")).as("e"))
        .select(col("metric"), col("e.gstep").as("gstep"), col("e.m").as("m"))
    }
    perMetric
      .withColumn("gstep", coalesce(col("gstep"), lit(Step)))
      .select(col("metric"),
        explode(in.grid(col("gstep"))).as("ts"),
        col("m"))
      .select(col("metric"), col("ts"),
        element_at(col("m"), col("ts")).as("value"))
  }

  /** The multi-metric DENSE GRID every `*_multi` transform face runs on
    * — the render path's real call shape (glob → N series → transform
    * each): [[metricGrid]] over every cataloged metric, unsorted.
    * O(metrics × window) — result-sized.
    *
    * KEYED TRANSFORMS: each graphite transform with a multi-metric face
    * is written once, as a private `…Of(grid, by, …)` over a dense grid
    * and its series key `by` — `Nil` for one metric's [[densifyGrid]]
    * grid, [[ByMetric]] for this one. The key leads every window
    * partition ([[keyWindow]]), grouping, join key, selected column list
    * and final sort ([[keyed]]). `Window.partitionBy()` with no columns
    * is `Window.orderBy`'s spec and `groupBy().agg` is `Dataset.agg`, so
    * each public face compiles to the plan its hand-written body had:
    * the single face sorts one metric's result-sized grid in one
    * partition (bounded by the render window, never by the store), the
    * multi face partitions every window by metric. Pairs whose faces
    * differ in more than the key keep two bodies
    * ([[seriesOutlierMadMulti]], [[seriesTheilSenMulti]]). */
  private[graft] def denseGridAll(spark: SparkSession, dir: String,
                                  from: Long, until: Long): DataFrame = {
    val meta = Catalog.metricsMeta(spark)
    metricGrid(Catalog.pointsCached(spark, dir),
      ReadInputs.literals(meta, from, until), Left(meta.select("metric")))
  }

  /** The series key of [[denseGridAll]]'s grid. */
  private val ByMetric = Seq("metric")

  /** The series key `by` as columns, ahead of `cs`. */
  private def keyed(by: Seq[String], cs: Column*): Seq[Column] =
    by.map(col) ++ cs

  /** A window partitioned by the series key `by` (then `cs`). */
  private def keyWindow(by: Seq[String], cs: Column*): WindowSpec =
    Window.partitionBy(keyed(by, cs: _*): _*)

  // ——————————————————— read-path analytics (graphite functions) ———————————

  /** `derivative` / `perSecond` analog (graphite-web render/functions.py —
    * the functions layer every ceres deployment reads through; ceres
    * itself stores, graphite-web transforms): per grid point, the delta
    * to the previous grid value and, where non-negative, the per-second
    * rate over the step — the counter-to-rate read every monitoring query
    * starts with. Null where either endpoint is a gap (graphite's None
    * semantics), and the negative branch nulls the rate (counter reset,
    * `nonNegativeDerivative`).
    *
    * Scale: runs ON TOP of the densified read grid, so the window input
    * is result-sized (one metric × one query range — O(output), the same
    * contract [[densifyGrid]] already holds), and the unpartitioned
    * window sort is over that bounded grid, never over store data; the
    * multi-metric face ([[seriesDerivativeMulti]], registered as
    * `series_derivative_multi`) partitions the window by metric. Deltas and
    * rates are single IEEE ops on identical doubles — deterministic
    * across engines, no rounding needed. */
  def seriesDerivative(spark: SparkSession, dir: String, metric: String,
                       from: Long, until: Long): DataFrame =
    derivativeOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesDerivative]] over every cataloged metric. */
  def seriesDerivativeMulti(spark: SparkSession, dir: String,
                            from: Long, until: Long): DataFrame =
    derivativeOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def derivativeOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    val w = keyWindow(by).orderBy("ts")
    grid
      .withColumn("delta", col("value") - lag("value", 1).over(w))
      .withColumn("rate_per_s",
        when(col("delta") >= 0, col("delta") / lit(Step.toDouble)))
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `movingAverage(series, n)` analog (graphite-web render/functions.py):
    * per grid point, the mean of the non-gap values in the trailing
    * `points`-slot window (current slot inclusive); null where the whole
    * window is gaps. Gaps still emit their grid row (graphite keeps the
    * timeline dense).
    *
    * Scale: same O(output) contract as [[seriesDerivative]] — the window
    * runs over the result-sized densified grid. Parity: a sliding SUM of
    * doubles is order-sensitive (DuckDB's segment-tree moving aggregate
    * sums in a different order than Spark's incremental frame), so the
    * window sums INTEGER MICRO-UNITS — `floor(value·1e6 + 0.5)` per
    * slot, exact at any summation order, one closing division — the
    * engine's standard decimal-half defense (see `doc_entropy`). */
  def seriesMovingAvg(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long, points: Int = 6): DataFrame =
    movingAvgOf(densifyGrid(spark, dir, metric, from, until), Nil, points)

  /** [[seriesMovingAvg]] over every cataloged metric. */
  def seriesMovingAvgMulti(spark: SparkSession, dir: String,
                           from: Long, until: Long,
                           points: Int = 6): DataFrame =
    movingAvgOf(denseGridAll(spark, dir, from, until), ByMetric, points)

  private def movingAvgOf(grid: DataFrame, by: Seq[String],
                          points: Int): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-(points - 1), 0)
    grid
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .withColumn("ma",
        sum("vm").over(w).cast("double") / count("vm").over(w) / lit(1e6))
      .select(keyed(by, col("ts"), col("value"), col("ma")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `summarize(series, interval, func)` analog (graphite-web
    * render/functions.py): the dense grid re-bucketed onto a coarser
    * `bucket`-second interval anchored at the aligned window start (the
    * reference's summarize aligns buckets to the requested range), with
    * the per-bucket non-gap count and sum/avg/min/max — the "show me this
    * week at 4h resolution" dashboard read. All-gap buckets keep their
    * row with null aggregates (the timeline stays dense).
    *
    * Scale: the input is the result-sized densified grid (O(output), the
    * [[densifyGrid]] contract) and the rollup is a map-side-combinable
    * groupBy onto even fewer rows. Parity: sums of doubles are
    * order-sensitive across engines, so the bucket sums INTEGER
    * MICRO-UNITS (`floor(v·1e6+0.5)` — the engine's standard decimal-half
    * defense); min/max/count are order-independent; avg is the exact
    * integer sum with one fixed closing division sequence. */
  def seriesSummarize(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long,
                      bucket: Long = 14400): DataFrame =
    summarizeOf(densifyGrid(spark, dir, metric, from, until), Nil,
      from, bucket)

  /** [[seriesSummarize]] over every cataloged metric: the rollup keyed
    * (metric, bucket), still windowless and map-side combinable. */
  def seriesSummarizeMulti(spark: SparkSession, dir: String,
                           from: Long, until: Long,
                           bucket: Long = 14400): DataFrame =
    summarizeOf(denseGridAll(spark, dir, from, until), ByMetric,
      from, bucket)

  private def summarizeOf(grid: DataFrame, by: Seq[String], from: Long,
                          bucket: Long): DataFrame = {
    val f = Kernel.align(from, Step)
    grid
      .withColumn("bts", col("ts") - pmod(col("ts") - lit(f), lit(bucket)))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .groupBy(keyed(by, col("bts").as("ts")): _*)
      .agg(count(col("vm")).as("n_slots"),
           (sum("vm").cast("double") / lit(1e6)).as("v_sum"),
           (sum("vm").cast("double") / count("vm") / lit(1e6)).as("v_avg"),
           min("value").as("v_min"),
           max("value").as("v_max"))
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `hitcount(series, interval)` analog (graphite-web render/functions.py):
    * integral-preserving re-bucketing — each non-gap slot contributes
    * `value × step` "hits" and the coarse bucket sums them, so a rate
    * series (events/sec) re-buckets to TOTAL events per bucket rather
    * than an average. Differs from [[seriesSummarize]]'s `sum` exactly by
    * the per-slot step weighting (and graphite keeps them as distinct
    * functions for that reason). All-gap buckets keep their row with a
    * null total.
    *
    * Scale: input is the result-sized densified grid (the [[densifyGrid]]
    * O(output) contract), the rollup map-side combinable. Parity: per-slot
    * micro-unit integers × the step are exact longs; the bucket total is
    * an order-independent integer sum with one closing division. */
  def seriesHitcount(spark: SparkSession, dir: String, metric: String,
                     from: Long, until: Long,
                     bucket: Long = 14400): DataFrame =
    hitcountOf(densifyGrid(spark, dir, metric, from, until), Nil,
      from, bucket)

  /** [[seriesHitcount]] over every cataloged metric, keyed
    * (metric, bucket). */
  def seriesHitcountMulti(spark: SparkSession, dir: String,
                          from: Long, until: Long,
                          bucket: Long = 14400): DataFrame =
    hitcountOf(denseGridAll(spark, dir, from, until), ByMetric,
      from, bucket)

  private def hitcountOf(grid: DataFrame, by: Seq[String], from: Long,
                         bucket: Long): DataFrame = {
    val f = Kernel.align(from, Step)
    grid
      .withColumn("bts", col("ts") - pmod(col("ts") - lit(f), lit(bucket)))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(keyed(by, col("bts").as("ts")): _*)
      .agg(count(col("vm")).as("n_slots"),
           (sum(col("vm") * lit(Step)).cast("double") / lit(1e6)).as("hits"))
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `holtWintersConfidenceBands`-style aberration read (graphite-web
    * render/functions.py simplifies to a deviation-band check; this is
    * the moving-window form): per grid point, the trailing-`points`
    * mean ± `nSigma` population standard deviations, and an `aberrant`
    * flag where the observed value escapes the band — the "is this
    * metric behaving" read monitoring dashboards overlay on every graph.
    * Null bands until the window holds ≥ 2 known values (no deviation
    * estimate from one point).
    *
    * Parity: mean and deviation derive from EXACT integer window sums in
    * MILLI-units (n, Σv, Σv² — n·Σv² − (Σv)² ≤ ~3.5e13 for this value
    * range, exact in both engines' integer windows; the builtin `stddev`
    * is avoided, its incremental accumulation is order-dependent), then
    * one fixed sequence of IEEE ops both engines replicate bit-for-bit —
    * so even the band COMPARISON (unrounded doubles) agrees exactly.
    * Scale: the window runs over the result-sized densified grid, the
    * same O(output) contract as every read-path transform here. */
  def seriesBands(spark: SparkSession, dir: String, metric: String,
                  from: Long, until: Long, points: Int = 12,
                  nSigma: Double = 2.0): DataFrame =
    bandsOf(densifyGrid(spark, dir, metric, from, until), Nil,
      points, nSigma)

  /** [[seriesBands]] over every cataloged metric. */
  def seriesBandsMulti(spark: SparkSession, dir: String,
                       from: Long, until: Long, points: Int = 12,
                       nSigma: Double = 2.0): DataFrame =
    bandsOf(denseGridAll(spark, dir, from, until), ByMetric,
      points, nSigma)

  private def bandsOf(grid: DataFrame, by: Seq[String], points: Int,
                      nSigma: Double): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-(points - 1), 0)
    grid
      .withColumn("vk", floor(col("value") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("n", count("vk").over(w))
      .withColumn("s1", sum("vk").over(w))
      .withColumn("s2", sum(col("vk") * col("vk")).over(w))
      .withColumn("mean", col("s1").cast("double") / col("n") / lit(1e3))
      .withColumn("sd",
        when(col("n") > 1,
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double"))
            / col("n") / lit(1e3)))
      .withColumn("upper", col("mean") + lit(nSigma) * col("sd"))
      .withColumn("lower", col("mean") - lit(nSigma) * col("sd"))
      .withColumn("aberrant",
        col("value").isNotNull && col("sd").isNotNull &&
          (col("value") > col("upper") || col("value") < col("lower")))
      .select(keyed(by, col("ts"), col("value"), q6(col("mean")).as("mean"),
        q6(col("sd")).as("sd"), q6(col("upper")).as("upper"),
        q6(col("lower")).as("lower"), col("aberrant")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `keepLastValue(series, limit)` analog (graphite-web
    * render/functions.py): gaps forward-filled with the most recent
    * non-gap value at most `limit` slots back — the "hold the last
    * reading over a short scrape outage" display read. A slot more than
    * `limit` slots past the last real value stays null (a long outage
    * must LOOK like an outage; graphite's limit gates on full gap-run
    * length, this windowed form fills the first `limit` slots of a longer
    * run — same intent, one window).
    *
    * Scale: one bounded-frame window over the result-sized grid
    * (O(output)); values are COPIED, never recomputed — parity is
    * trivial. */
  def seriesKeepLast(spark: SparkSession, dir: String, metric: String,
                     from: Long, until: Long, limit: Int = 3): DataFrame =
    keepLastOf(densifyGrid(spark, dir, metric, from, until), Nil, limit)

  /** [[seriesKeepLast]] over every cataloged metric. */
  def seriesKeepLastMulti(spark: SparkSession, dir: String,
                          from: Long, until: Long,
                          limit: Int = 3): DataFrame =
    keepLastOf(denseGridAll(spark, dir, from, until), ByMetric, limit)

  private def keepLastOf(grid: DataFrame, by: Seq[String],
                         limit: Int): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-limit, 0)
    grid
      .withColumn("filled", last("value", ignoreNulls = true).over(w))
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `integral(series)` analog (graphite-web render/functions.py): the
    * running total of the series over the window (gaps contribute
    * nothing but keep their row, carrying the total) — the
    * "cumulative volume so far this week" read.
    *
    * Scale: one unbounded-preceding window over the result-sized grid
    * (O(output)). Parity: a running SUM of doubles is order-sensitive
    * (DuckDB's segment-tree cumulative aggregate vs Spark's incremental
    * frame), so the accumulation is over INTEGER MICRO-UNITS with one
    * closing division. */
  def seriesIntegral(spark: SparkSession, dir: String, metric: String,
                     from: Long, until: Long): DataFrame =
    integralOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesIntegral]] over every cataloged metric. */
  def seriesIntegralMulti(spark: SparkSession, dir: String,
                          from: Long, until: Long): DataFrame =
    integralOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def integralOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    val w = keyWindow(by).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .withColumn("integral", sum("vm").over(w).cast("double") / lit(1e6))
      .select(keyed(by, col("ts"), col("value"), col("integral")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `timeShift(series, -interval)` comparison read (graphite-web
    * render/functions.py): the window's values joined with the same
    * metric `shift` seconds earlier, plus the delta — the
    * day-over-day / week-over-week dashboard overlay. Null where either
    * side is a gap.
    *
    * Scale: TWO pruned store scans (the shifted range is pushed down
    * like the primary's), each reconciled to a result-sized series, then
    * one O(output) join on the grid — no window function at all. The
    * delta is a single IEEE subtraction on identical doubles. */
  def seriesTimeShift(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long,
                      shift: Long = 86400L): DataFrame = {
    val shifted = fetchRange(spark, dir, metric, from - shift, until - shift)
      .select((col("ts") + lit(shift)).as("ts"),
              col("value").as("value_shifted"))
    densifyGrid(spark, dir, metric, from, until)
      .join(shifted, Seq("ts"), "left")
      .withColumn("delta", col("value") - col("value_shifted"))
      .orderBy("ts")
  }

  // ————— series selection (highest / lowest / sortBy / filterSeries) —————
  //
  // graphite-web writes this family once: `highestMax`, `lowestCurrent`
  // and the rest are `highest`/`lowest(seriesList, n, func)`, and
  // `averageAbove`, `maximumBelow` and the rest are `filterSeries(
  // seriesList, func, operator, threshold)`. So here: one window scan
  // ([[windowPoints]]), one per-metric statistic per `func`, and one of
  // two tails — [[ranked]] or [[filtered]]. Scale: the statistic is a
  // map-side-combinable groupBy(metric) onto O(#metrics) rows; the rank
  // window and the gate run on that rollup only, never on point data.
  //
  // Each statistic maps the window to one row per metric. Means and
  // totals sum INTEGER MICRO-UNITS and σ sums MILLI-unit moments
  // (micro-unit squares would overflow a long): exact at any summation
  // order, so near-tied ranks and gates agree across engines. Extremes,
  // the newest point and counts are comparison-only.

  /** The mean, `avg_value`. */
  private def avgValue(pts: DataFrame): DataFrame =
    pts.withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .groupBy("metric")
      .agg((sum("vm").cast("double") / count("vm") / lit(1e6)).as("avg_value"))

  /** The newest point: `current_value` at `current_ts`, the max ts (the
    * compacted store holds one value per (metric, ts), so the pick is
    * unique). */
  private def currentValue(pts: DataFrame): DataFrame =
    pts.groupBy("metric")
      .agg(max_by(col("value"), col("ts")).as("current_value"),
        max("ts").as("current_ts"))

  /** The peak, `max_value`. */
  private def maxValue(pts: DataFrame): DataFrame =
    pts.groupBy("metric").agg(max("value").as("max_value"))

  /** The trough, `min_value`. */
  private def minValue(pts: DataFrame): DataFrame =
    pts.groupBy("metric").agg(min("value").as("min_value"))

  /** The sum, `total_value`. */
  private def totalValue(pts: DataFrame): DataFrame =
    pts.withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("metric")
      .agg((sum("vm").cast("double") / lit(1e6)).as("total_value"))

  /** The population standard deviation, `sigma` = √(n·s2 − s1²)/n: one
    * fixed closing IEEE sequence from the exact milli-unit sums. */
  private def sigma(pts: DataFrame): DataFrame =
    pts.withColumn("km", floor(col("value") * lit(1e3) + lit(0.5)).cast("long"))
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), sum("km").as("s1"),
        sum(col("km") * col("km")).as("s2"))
      .withColumn("sigma",
        q6(sqrt((col("n") * col("s2") - col("s1") * col("s1"))
          .cast("double")) / col("n") / lit(1e3)))

  /** The present-point count, `present` (a present point IS a non-null
    * slot: gaps are absent rows). */
  private def present(pts: DataFrame): DataFrame =
    pts.groupBy("metric").agg(count(lit(1)).as("present"))

  /** graphite's `highest` / `lowest` / `sortBy`: the window's metrics
    * ranked by `order` over their statistic `stat`, ties to the metric
    * name, the first `n` when given — (rnk, metric, shown…). `rnk` is
    * cast to long: Spark's row_number is INT, DuckDB's BIGINT, and the
    * driver compares schemas. */
  private def ranked(spark: SparkSession, dir: String, from: Long,
                     until: Long)(stat: DataFrame => DataFrame, order: Column,
                                  n: Option[Int], shown: String*): DataFrame = {
    val r = stat(windowPoints(spark, dir, from, until))
      .withColumn("rnk", row_number().over(
        Window.orderBy(order, col("metric"))).cast("long"))
    n.fold(r)(k => r.where(col("rnk") <= k))
      .select("rnk", "metric" +: shown: _*)
      .orderBy("rnk")
  }

  /** graphite's `filterSeries`: the window's metrics whose statistic
    * `stat` passes `keep`, read through [[selected]]. */
  private def filtered(spark: SparkSession, dir: String, from: Long,
                       until: Long)(stat: DataFrame => DataFrame,
                                    keep: Column): DataFrame =
    selected(spark, dir, stat(windowPoints(spark, dir, from, until))
      .where(keep).select("metric"), from, until)

  /** The dense grids of the metrics in `kept`, a metadata-sized (metric)
    * relation: the render path's multi-series read core
    * ([[fetchForMetrics]]), so a selection cannot drift from
    * `fetch_pattern`. */
  private def selected(spark: SparkSession, dir: String, kept: DataFrame,
                       from: Long, until: Long): DataFrame =
    fetchForMetrics(Catalog.pointsCached(spark, dir),
      Catalog.metricsMeta(spark), kept, from, until)

  /** `highestAverage(seriesList, n)` (graphite-web): the n metrics with
    * the highest in-window mean — "which services are hottest this
    * week". */
  def seriesTopMetrics(spark: SparkSession, dir: String,
                       from: Long, until: Long, n: Int = 3): DataFrame =
    ranked(spark, dir, from, until)(avgValue, desc("avg_value"), Some(n),
      "avg_value")

  /** `lowestAverage(seriesList, n)` (graphite-web): the n metrics with
    * the lowest in-window mean — "which services went quiet". */
  def seriesLowestAverage(spark: SparkSession, dir: String,
                          from: Long, until: Long, n: Int = 3): DataFrame =
    ranked(spark, dir, from, until)(avgValue, col("avg_value"), Some(n),
      "avg_value")

  /** `highestCurrent(seriesList, n)` (graphite-web): the n metrics whose
    * newest in-window value is highest — "what's hot right now". */
  def seriesHighestCurrent(spark: SparkSession, dir: String,
                           from: Long, until: Long, n: Int = 3): DataFrame =
    ranked(spark, dir, from, until)(currentValue, desc("current_value"),
      Some(n), "current_ts", "current_value")

  /** `lowestCurrent(seriesList, n)` (graphite-web): the n metrics whose
    * newest in-window value is lowest — "what went quiet just now". */
  def seriesLowestCurrent(spark: SparkSession, dir: String,
                          from: Long, until: Long, n: Int = 3): DataFrame =
    ranked(spark, dir, from, until)(currentValue, col("current_value"),
      Some(n), "current_ts", "current_value")

  /** `highestMax(seriesList, n)` (graphite-web): the n metrics with the
    * largest in-window peak — "which services spiked hardest". */
  def seriesHighestMax(spark: SparkSession, dir: String,
                       from: Long, until: Long, n: Int = 3): DataFrame =
    ranked(spark, dir, from, until)(maxValue, desc("max_value"), Some(n),
      "max_value")

  /** `sortByMaxima(seriesList)` (graphite-web): every metric ranked by
    * its in-window peak, descending (the panel ordering function). */
  def seriesSortByMaxima(spark: SparkSession, dir: String,
                         from: Long, until: Long): DataFrame =
    ranked(spark, dir, from, until)(maxValue, desc("max_value"), None,
      "max_value")

  /** `sortByMinima(seriesList)` (graphite-web): every metric ranked by
    * its in-window trough, ascending. */
  def seriesSortByMinima(spark: SparkSession, dir: String,
                         from: Long, until: Long): DataFrame =
    ranked(spark, dir, from, until)(minValue, col("min_value"), None,
      "min_value")

  /** `sortByTotal(seriesList)` (graphite-web): every metric ranked by its
    * in-window sum, descending — "who consumed the most this week". */
  def seriesSortByTotal(spark: SparkSession, dir: String,
                        from: Long, until: Long): DataFrame =
    ranked(spark, dir, from, until)(totalValue, desc("total_value"), None,
      "total_value")

  /** `mostDeviant(seriesList, n)` (graphite-web): the n metrics with the
    * largest in-window standard deviation — "which metrics are the
    * noisiest". */
  def seriesMostDeviant(spark: SparkSession, dir: String,
                        from: Long, until: Long, n: Int = 3): DataFrame =
    ranked(spark, dir, from, until)(sigma, desc("sigma"), Some(n), "sigma")

  // The filter faces keep graphite's comparators: `averageAbove` and
  // `currentAbove` keep at `>=`, `maximumAbove` and `minimumAbove` at
  // `>`, every `…Below` at `<=` — so a metric exactly at the threshold
  // passes both mean gates and both current gates, but only the Below
  // gate of the max and min pairs.

  /** `averageAbove(seriesList, n)` (graphite-web): the metrics whose
    * in-window mean is at least `threshold`. */
  def seriesAverageAbove(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(avgValue, col("avg_value") >= threshold)

  /** `averageBelow(seriesList, n)` (graphite-web): the metrics whose
    * in-window mean is at most `threshold`. */
  def seriesAverageBelow(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(avgValue, col("avg_value") <= threshold)

  /** `currentAbove(seriesList, n)` (graphite-web): the metrics whose
    * newest in-window value is at least `threshold` — "hide what's idle
    * right now". */
  def seriesCurrentAbove(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(currentValue,
      col("current_value") >= threshold)

  /** `currentBelow(seriesList, n)` (graphite-web): the metrics whose
    * newest in-window value is at most `threshold`. */
  def seriesCurrentBelow(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(currentValue,
      col("current_value") <= threshold)

  /** `maximumAbove(seriesList, n)` (graphite-web): the metrics whose
    * in-window peak exceeds `threshold` — "anything that peaked". */
  def seriesMaximumAbove(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(maxValue, col("max_value") > threshold)

  /** `maximumBelow(seriesList, n)` (graphite-web): the metrics whose
    * in-window peak stays at or below `threshold` — "what never
    * spiked". */
  def seriesMaximumBelow(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(maxValue, col("max_value") <= threshold)

  /** `minimumAbove(seriesList, n)` (graphite-web): the metrics whose
    * in-window trough stays strictly above `threshold` — "what never
    * dipped". */
  def seriesMinimumAbove(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(minValue, col("min_value") > threshold)

  /** `minimumBelow(seriesList, n)` (graphite-web): the metrics whose
    * in-window trough dips to or below `threshold` — "anything that
    * bottomed out". */
  def seriesMinimumBelow(spark: SparkSession, dir: String,
                         from: Long, until: Long,
                         threshold: Double): DataFrame =
    filtered(spark, dir, from, until)(minValue, col("min_value") <= threshold)

  /** `removeEmptySeries(seriesList, xFilesFactor)` (graphite-web): the
    * metrics whose present-slot fraction of the window grid is at least
    * `xff` — the sparse-series cleanup a dashboard glob runs before
    * aggregation (the xff semantics of [[rollupTier]]'s write-side
    * gate). */
  def seriesRemoveEmpty(spark: SparkSession, dir: String,
                        from: Long, until: Long,
                        xff: Double): DataFrame = {
    val (f, u) = aligned(from, until)
    filtered(spark, dir, from, until)(present,
      col("present") * lit(1.0) >= lit(xff) * lit(((u - f) / Step).toDouble))
  }

  /** `useSeriesAbove(seriesList, value, search, replace)` (graphite-web):
    * for every metric whose in-window peak exceeds `value`, the regex
    * `search → replace` rewrite of its name is read INSTEAD — graphite's
    * indirection that swaps a panel onto a sibling metric only where the
    * gate fired. Only rewritten names in the catalog are served (graphite
    * drops fetches that resolve to nothing); the catalog is
    * metadata-sized, so it joins by broadcast. */
  def seriesUseSeriesAbove(spark: SparkSession, dir: String,
                           value: Double, search: String, replace: String,
                           from: Long, until: Long): DataFrame =
    selected(spark, dir,
      maxValue(windowPoints(spark, dir, from, until))
        .where(col("max_value") > value)
        .select(regexp_replace(col("metric"), search, replace).as("metric"))
        .distinct()
        .join(broadcast(Catalog.metricsMeta(spark).select("metric")),
          Seq("metric")),
      from, until)

  /** `averageOutsidePercentile(seriesList, n)` (graphite-web): the
    * metrics whose in-window mean falls outside the [p(100−n), p(n)] band
    * of the per-metric means — "show me the outlier replicas". The band
    * edges are NEAREST-RANK picks over the sorted means (the mean at rank
    * ⌈q·cnt⌉: an exact pick, no interpolation arithmetic) riding the
    * rank's one whole-partition window, and graphite keeps a series when
    * its mean is ≤ low or ≥ high (band-edge series are OUTSIDE — `not
    * low < avg < high`); an empty rollup has a null band and keeps
    * nothing. */
  def seriesAverageOutsidePercentile(spark: SparkSession, dir: String,
                                     from: Long, until: Long,
                                     n: Int = 80): DataFrame = {
    val hi = math.max(n, 100 - n) / 100.0
    val lo = math.min(n, 100 - n) / 100.0
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    def edge(q: Double): Column =
      max(when(col("r") === ceil(lit(q) * col("cnt")), col("avg_value")))
        .over(all)
    filtered(spark, dir, from, until)(pts => avgValue(pts)
        .withColumn("r", row_number().over(
          Window.orderBy(col("avg_value"), col("metric"))))
        .withColumn("cnt", count(lit(1)).over(all))
        .withColumn("band_lo", edge(lo))
        .withColumn("band_hi", edge(hi)),
      col("avg_value") <= col("band_lo") || col("avg_value") >= col("band_hi"))
  }

  /** `exclude(seriesList, pattern)` (graphite-web): the metrics whose
    * path does NOT match the regex (an unanchored search in both
    * engines), selected on the O(#metrics) catalog. */
  def seriesExclude(spark: SparkSession, dir: String, pattern: String,
                    from: Long, until: Long): DataFrame =
    selected(spark, dir, Catalog.metricsMeta(spark)
      .where(!col("metric").rlike(pattern)).select("metric"), from, until)

  /** `grep(seriesList, pattern)` (graphite-web): the keep dual of
    * [[seriesExclude]] — the metrics whose path matches the regex. */
  def seriesGrep(spark: SparkSession, dir: String, pattern: String,
                 from: Long, until: Long): DataFrame =
    selected(spark, dir, Catalog.metricsMeta(spark)
      .where(col("metric").rlike(pattern)).select("metric"), from, until)

  /** Exact per-metric value percentiles over the window (graphite
    * `percentileOfSeries` / the latency-dashboard p50/p90/p99 read),
    * linear-interpolated — the SECOND multi-metric read.
    *
    * Scale: delegates to the engine's sort-based exact-quantile core
    * ([[TextOps.exactQuantilesOf]]): a rank window per metric (spills;
    * never Spark's value-buffering `percentile`, whose per-group
    * aggregation buffer OOMs on a whale metric) + metadata-sized
    * broadcast rank lookups. */
  def seriesPercentiles(spark: SparkSession, dir: String,
                        from: Long, until: Long,
                        ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    TextOps.exactQuantilesOf(
      windowPoints(spark, dir, from, until).select("metric", "value"),
      "metric", "value", ps)

  /** Per-metric LEAST-SQUARES trend over the window (graphite
    * `linearRegression` / `aliasByNode(linearRegression(...))` — the
    * capacity-planning read: "at this slope, when does the disk fill").
    * x is the SLOT INDEX ((ts-from)/step, small integers), y the value;
    * outputs slope per slot, per second, and the intercept (value at
    * slot 0).
    *
    * Scale: one pruned scan, one map-side-combinable groupBy(metric)
    * onto the O(#metrics) summary — no window function over point data.
    * Parity: all five regression sums (n, Σx, Σy, Σx², Σxy) are EXACT
    * INTEGERS (y in micro-units, x ≤ window slots — Σxy bounded by
    * slots²·maxVal·1e6 ≪ Long.Max), so both engines divide the same two
    * integers; the closing divisions are a fixed sequence. */
  def seriesLinReg(spark: SparkSession, dir: String,
                   from: Long, until: Long): DataFrame = {
    val vm = floor(col("value") * lit(1e6) + lit(0.5)).cast("long")
    val x = ((col("ts") - lit(Kernel.align(from, Step))) / lit(Step))
      .cast("long")
    val slopeMicro = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    windowPoints(spark, dir, from, until)
      .select(col("metric"), x.as("x"), vm.as("vm"))
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("vm").as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("x") * col("vm")).as("sxy"))
      .withColumn("slope_m", slopeMicro)
      .select(col("metric"), col("n"),
        q6(col("slope_m") / lit(1e6)).as("slope_per_slot"),
        // 9-dp display via the engine-stable floor-half-up (the q6
        // convention at nano precision — round(, 9) on a rational ratio
        // could land on a half-boundary at an unvisited SF)
        (floor((col("slope_m") / lit(1e6) / lit(Step.toDouble))
          * 1e9 + 0.5) / 1e9).as("slope_per_s"),
        q6((col("sy").cast("double") - col("slope_m") *
          col("sx").cast("double")) / col("n").cast("double") / lit(1e6))
          .as("intercept"))
      .orderBy("metric")
  }

  /** Trailing moving STDDEV over the densified grid (graphite
    * `stdev(series, points)` — the volatility band a burn-rate alert
    * draws): sample standard deviation of the non-gap values in the
    * trailing `points`-slot window; null where the window holds < 2
    * values. Gaps keep their grid row.
    *
    * Scale: one bounded-frame window over the result-sized grid
    * (O(output), the [[densifyGrid]] contract). Parity: the window
    * sums value MILLI-units and their squares — milli (not the
    * engine-standard micro) because the SQUARED sums must also stay
    * exact in a long (n·Σk² for micro-units would overflow at
    * maxVal ≈ 560); variance = (n·Σk²−(Σk)²)/(n·(n−1)) is then a ratio
    * of exact integers and the closing sqrt is a single correctly
    * rounded IEEE op in both engines. */
  def seriesMovingStdev(spark: SparkSession, dir: String, metric: String,
                        from: Long, until: Long,
                        points: Int = 6): DataFrame =
    movingStdevOf(densifyGrid(spark, dir, metric, from, until), Nil, points)

  /** [[seriesMovingStdev]] over every cataloged metric. */
  def seriesStdevMulti(spark: SparkSession, dir: String,
                       from: Long, until: Long,
                       points: Int = 6): DataFrame =
    movingStdevOf(denseGridAll(spark, dir, from, until), ByMetric, points)

  private def movingStdevOf(grid: DataFrame, by: Seq[String],
                            points: Int): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-(points - 1), 0)
    grid
      .withColumn("km", floor(col("value") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("n", count("km").over(w))
      .withColumn("s1", sum("km").over(w))
      .withColumn("s2", sum(col("km") * col("km")).over(w))
      .select(keyed(by, col("ts"), col("value"),
        when(col("n") >= 2, q6(
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double")) / lit(1e3)))
          .as("stdev")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** Exponentially weighted moving average over the densified grid
    * (graphite `exponentialMovingAverage`): α = 1/2, truncated at
    * `taps` trailing slots, normalized over the non-gap slots actually
    * present (a gap contributes neither weight nor value).
    *
    * Parity: α = 1/2 makes every weight a POWER OF TWO, so with values
    * in micro-units both the weighted numerator and the weight
    * denominator are EXACT INTEGER window sums — an EWMA with exact
    * cross-engine equality, which a float-weight formulation cannot
    * give (pow+sum accumulate in engine-specific order). The weights
    * attach by explicit `lag` taps (16 codegen'd column refs), not a
    * frame scan, so each slot's weight is fixed by its offset.
    * Scale: O(output) — `taps` lag columns over the result-sized grid.
    *
    * taps ≤ 24 bounds the exact-integer numerator: the largest term is
    * `vm · 2^(taps−1)` and the tap sum ≤ `vm_max · 2^taps`, so at 24
    * taps micro-unit values up to ~5×10^11 (raw ~5×10^5) stay inside
    * Long — beyond that the old 32-tap bound could overflow silently.
    *
    * RELEASE NOTE (r15, intentional breaking change): the accepted range
    * narrowed [1,32] → [1,24]. Callers passing 25–32 previously got a
    * result that could silently overflow the Long numerator; they now
    * get IllegalArgumentException. Loud rejection over silent corruption
    * is the deliberate trade; widths 25–32 are served by
    * [[seriesEwmaWide]] (r16), which keeps the exact-integer contract by
    * quantizing to milli-units instead of micro-units. */
  def seriesEwma(spark: SparkSession, dir: String, metric: String,
                 from: Long, until: Long, taps: Int = 16): DataFrame =
    microEwma(densifyGrid(spark, dir, metric, from, until), Nil, taps)

  /** [[seriesEwma]] over every cataloged metric (same taps ≤ 24 bound). */
  def seriesEwmaMulti(spark: SparkSession, dir: String,
                      from: Long, until: Long, taps: Int = 16): DataFrame =
    microEwma(denseGridAll(spark, dir, from, until), ByMetric, taps)

  /** [[ewmaOf]] in micro-units, within the taps ≤ 24 bound. */
  private def microEwma(densified: DataFrame, by: Seq[String],
                        taps: Int): DataFrame = {
    require(taps >= 1 && taps <= 24, s"taps must be in [1,24]: $taps")
    ewmaOf(densified, by, taps, 1e6,
      floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
  }

  /** THE exact-integer EWMA of [[seriesEwma]], [[seriesEwmaMulti]] and
    * [[seriesEwmaWide]]: `vm`, the value quantized to `1 / scale` units
    * as a Long, weighted by `taps` power-of-two `lag` taps; the exact
    * weighted and weight sums divide back to value units once. */
  private def ewmaOf(densified: DataFrame, by: Seq[String], taps: Int,
                     scale: Double, vm: Column): DataFrame = {
    val w = keyWindow(by).orderBy("ts")
    def tap(k: Int): Column =
      if (k == 0) col("vm") else lag(col("vm"), k).over(w)
    val weighted = (0 until taps).map { k =>
      coalesce(tap(k) * lit(1L << (taps - 1 - k)), lit(0L))
    }.reduce(_ + _)
    val weightSum = (0 until taps).map { k =>
      when(tap(k).isNotNull, lit(1L << (taps - 1 - k))).otherwise(lit(0L))
    }.reduce(_ + _)
    densified
      .withColumn("vm", vm)
      .withColumn("num", weighted)
      .withColumn("den", weightSum)
      .select(keyed(by, col("ts"), col("value"),
        when(col("den") > 0, q6(
          col("num").cast("double") / col("den").cast("double") / lit(scale)))
          .as("ewma")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** WIDE-tap sibling of [[seriesEwma]]: taps in [25,32], the range the
    * r15 overflow fix removed from the core face. The exact-integer
    * numerator bound that caps the micro-unit face at 24 taps
    * (`vm_max · 2^taps` must fit a Long) is restored by trading one
    * decimal of precision: values quantize to MILLI-units (the
    * [[seriesMostDeviant]] / anomaly-STL precedent), so at 32 taps the
    * tap sum is ≤ `vm_max · 2^32` ≈ 8.6×10^18 for raw values up to
    * 2×10^6 — inside Long with the same α = 1/2 power-of-two weight
    * scheme, still an EXACT integer window sum in both engines. The
    * closing double division converts the SAME exact Long in both
    * engines (one IEEE op), then q6 display quantization.
    *
    * This face is the documented serving path for the 25–32 widths the
    * core face now rejects (see the RELEASE NOTE on [[seriesEwma]]).
    * Scale: identical O(output) shape — `taps` codegen'd lag columns
    * over the result-sized grid. */
  def seriesEwmaWide(spark: SparkSession, dir: String, metric: String,
                     from: Long, until: Long, taps: Int = 32): DataFrame = {
    require(taps >= 25 && taps <= 32,
      s"taps must be in [25,32] (use seriesEwma below 25): $taps")
    // the docstring's exactness bound, ENFORCED: the tap sum is ≤
    // vm_max · 2^taps, so any |vm| above Long.MaxValue >> taps could
    // silently wrap the Long numerator — fail loudly instead (the same
    // loud-rejection principle the r15 fix adopted for the core face,
    // which rejects via the taps range; here the range is the point, so
    // the guard moves to the value magnitude). Checked once per row.
    val vmBound = Long.MaxValue >> taps
    val vmRaw = floor(col("value") * lit(1e3) + lit(0.5)).cast("long")
    ewmaOf(densifyGrid(spark, dir, metric, from, until), Nil, taps, 1e3,
      when(abs(vmRaw) > lit(vmBound),
        raise_error(concat(
          lit(s"seriesEwmaWide: |milli-quantized value| exceeds " +
            s"Long.MaxValue >> $taps ($vmBound): "),
          vmRaw.cast("string")))).otherwise(vmRaw))
  }

  /** Per-slot SHARE of each metric in the all-metric total (graphite
    * `asPercent(seriesList)` — the stacked-percent dashboard read):
    * for every (ts, metric) in the window, value / Σ_metrics value at
    * that ts, in percent. The second multi-metric grid read.
    *
    * Scale: one pruned scan; the slot total is a window sum PARTITIONED
    * BY ts (point-data-wide but keyed on the grid slot — at 1000
    * executors this is one shuffle on ts, each slot's group is
    * O(#metrics)). Parity: totals sum INTEGER MICRO-UNITS; the share is
    * one fixed division sequence of exact integers. */
  def seriesAsPercent(spark: SparkSession, dir: String,
                      from: Long, until: Long): DataFrame = {
    val w = Window.partitionBy("ts")
    windowPoints(spark, dir, from, until)
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("tot", sum("vm").over(w))
      .select(col("metric"), col("ts"), col("value"),
        q6(col("vm") * lit(100.0) / col("tot").cast("double"))
          .as("pct"))
      .orderBy("metric", "ts")
  }

  /** `removeBetweenPercentile(seriesList, n)` (graphite-web): keep the
    * metrics that EVER leave the cross-series percentile band — at each
    * grid slot the values across all metrics are ranked and graphite's
    * NON-interpolating percentile pick taken at n and 100−n (n ≥ 50);
    * a metric is kept iff any of its points falls OUTSIDE the OPEN band
    * (low, high) — graphite keeps when `not (low < val < high)`, so a
    * point EQUAL to a band edge counts as outside (the band-edge-is-
    * outside convention [[seriesAverageOutsidePercentile]] documents;
    * since low/high are rank-SELECTED from the actual values, an
    * edge-equal series exists at every slot, so the strict/inclusive
    * choice is visible on every input). The "which series ever broke
    * from the pack" gate, the cross-SERIES complement of the
    * within-series percentile gates ([[seriesRemoveAbovePercentile]]
    * and its dual). `n < 50` mirrors to `100 − n` (upstream accepts
    * both orientations of the same band).
    *
    * Parity: graphite's `_getPercentile(points, p, interpolate=False)`
    * picks `sortedPoints[clamp(ceil(p·(N+1)/100)) − 1]` — a pure rank
    * SELECTION, no arithmetic on values at all, so the whole operator
    * is comparison-only. The rank `ceil(p·(N+1)/100)` is computed in
    * INTEGER arithmetic (`(p·(N+1) + 99) div 100`) — a float `ceil`
    * lands engine-specifically when p·(N+1) divides 100. Value ties
    * rank by (value, metric), deterministic in both engines.
    *
    * Scale: one pruned scan; the rank windows partition BY ts (each
    * slot's group is O(#metrics) — the [[seriesAsPercent]] shuffle
    * shape), then one map-side-combinable groupBy(metric) rollup; the
    * final kept flag joins the O(#metrics) catalog. */
  def seriesRemoveBetweenPercentile(spark: SparkSession, dir: String,
                                    from: Long, until: Long,
                                    n: Int = 60): DataFrame =
    removeBetweenPercentileCore(windowPoints(spark, dir, from, until),
      Catalog.metricsMeta(spark).select("metric"), n)

  /** [[seriesRemoveBetweenPercentile]]'s band/selection core over an
    * explicit (metric, ts, value) frame — split out so the REMOVE path
    * is testable: a live 5-metric catalog with fluctuating ranks keeps
    * every metric (each is sometimes extreme), so only a constructed
    * always-mid-rank series exercises the `kept = false` branch. */
  private[graft] def removeBetweenPercentileCore(points: DataFrame,
                                                 metrics: DataFrame,
                                                 nRaw: Int): DataFrame = {
    require(nRaw >= 1 && nRaw < 100, s"n must be in [1,100): $nRaw")
    // upstream mirrors n < 50 to 100 − n (same band, either orientation)
    val n = if (nRaw < 50) 100 - nRaw else nRaw
    val wRank = Window.partitionBy("ts").orderBy(col("value"), col("metric"))
    val wSlot = Window.partitionBy("ts")
    val ranked = points
      .where(col("value").isNotNull)
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("cnt", count(lit(1)).over(wSlot))
    // graphite's non-interpolating rank, clamped to [1, N]; integer
    // ceil-division — float ceil(p·(N+1)/100) is engine-specific when
    // the product divides 100
    def pick(p: Int): Column =
      least(greatest(expr(s"(${p}L * (cnt + 1) + 99) div 100"), lit(1L)),
        col("cnt"))
    val bands = ranked
      .withColumn("lo_rn", pick(100 - n))
      .withColumn("hi_rn", pick(n))
      .groupBy("ts")
      .agg(min(when(col("rn") === col("lo_rn"), col("value"))).as("low"),
        min(when(col("rn") === col("hi_rn"), col("value"))).as("high"))
    val outside = ranked
      .join(bands, Seq("ts"))
      .groupBy("metric")
      .agg(sum(when(col("value") <= col("low") ||
        col("value") >= col("high"), 1L).otherwise(0L)).as("n_outside"))
    metrics
      .join(outside, Seq("metric"), "left")
      .select(col("metric"),
        coalesce(col("n_outside"), lit(0L)).as("n_outside"),
        (coalesce(col("n_outside"), lit(0L)) > 0).as("kept"))
      .orderBy("metric")
  }

  /** Trailing moving MEDIAN over the densified grid (graphite
    * `movingMedian(series, n)` — the spike-robust smoother `movingAverage`
    * is not): median of the non-gap values in the trailing `points`-slot
    * window; null where the window is all gaps.
    *
    * Spark has no median window function; rather than a rank-window
    * subquery per slot, the trailing window materializes as `points`
    * explicit lag taps → null-filtered sorted array → middle element
    * (odd) or the mean of the two middles (even) — all codegen, O(points
    * log points) per slot on the O(output) grid. Parity: values are
    * COPIED from the grid, the even-count interpolation is one
    * identical IEEE add+halve in both engines (DuckDB's windowed
    * `median` interpolates the same way). */
  def seriesMovingMedian(spark: SparkSession, dir: String, metric: String,
                         from: Long, until: Long,
                         points: Int = 6): DataFrame =
    movingMedianOf(densifyGrid(spark, dir, metric, from, until), Nil, points)

  /** [[seriesMovingMedian]] over every cataloged metric. */
  def seriesMovingMedianMulti(spark: SparkSession, dir: String,
                              from: Long, until: Long,
                              points: Int = 6): DataFrame =
    movingMedianOf(denseGridAll(spark, dir, from, until), ByMetric, points)

  private def movingMedianOf(grid: DataFrame, by: Seq[String],
                             points: Int): DataFrame = {
    require(points >= 1 && points <= 64, s"points must be in [1,64]: $points")
    val w = keyWindow(by).orderBy("ts")
    val lags = (0 until points).map { k =>
      if (k == 0) col("value") else lag(col("value"), k).over(w)
    }
    val arr = array_sort(filter(array(lags: _*), v => v.isNotNull))
    val n = size(arr)
    val half = ((n + lit(1)) / lit(2)).cast("int")
    val lo = (n / lit(2)).cast("int")
    val med = when(n === 0, lit(null).cast("double"))
      .when(n % 2 === 1, element_at(arr, half))
      .otherwise(
        (element_at(arr, lo) + element_at(arr, lo + 1)) / lit(2.0))
    grid
      .select(keyed(by, col("ts"), col("value"), med.as("median")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** Percentile CLIP over the window (graphite `removeAbovePercentile`
    * — the outlier-removal read before a mean is trustworthy): per
    * metric, drop points strictly above the exact in-window p-quantile;
    * survivors keep their rows, the threshold rides along.
    *
    * Scale: thresholds come from the engine's sort-based exact-quantile
    * core ([[TextOps.exactQuantilesOf]] — spills, never value-buffering
    * `percentile`) and join back as an O(#metrics) BROADCAST; one scan,
    * one spillable rank window, no second shuffle of point data.
    * Parity: the quantile is hash-equal across engines (the
    * `series_percentiles` contract), values are copied, and the gate
    * compares the same rounded threshold against identical doubles. */
  def seriesClipPercentile(spark: SparkSession, dir: String,
                           from: Long, until: Long,
                           p: Double = 0.9): DataFrame = {
    val pts = windowPoints(spark, dir, from, until)
      .select("metric", "ts", "value")
    val thresholds = TextOps.exactQuantilesOf(
      pts.select("metric", "value"), "metric", "value", Seq(p))
      .select(col("metric"), col("q").as("threshold"))
    pts.join(broadcast(thresholds), "metric")
      .where(col("value") <= col("threshold"))
      .select("metric", "ts", "value", "threshold")
      .orderBy("metric", "ts")
  }

  /** Aggregate series BY METRIC-PATH NODE (graphite
    * `groupByNode(seriesList, n, 'sum')` / `aliasByNode` — the wildcard
    * rollup behind every `sumSeries(app.*.requests)` dashboard panel):
    * series grouped by the `nodeIdx`-th dot-segment of their path, each
    * group summed per grid slot, with the contributing-series count.
    *
    * Scale: one pruned scan; the rollup keys on (segment, ts) — map-side
    * combinable, output O(#groups × #slots). The path split is a codegen
    * string op; no metadata join needed. Parity: per-cell sums run over
    * INTEGER MICRO-UNITS, one closing division. */
  def seriesGroupByNode(spark: SparkSession, dir: String,
                        nodeIdx: Int = 1,
                        from: Long, until: Long): DataFrame =
    windowPoints(spark, dir, from, until)
      .withColumn("node",
        element_at(split(col("metric"), "\\."), nodeIdx + 1))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("node", "ts")
      .agg(count(lit(1)).as("n_series"),
           (sum("vm").cast("double") / lit(1e6)).as("value"))
      .orderBy("node", "ts")

  /** `groupByNodes(seriesList, 'avg', *nodes)` (graphite-web
    * render/functions.py): the multi-node, any-callback generalization
    * of [[seriesGroupByNode]] — the grouping key is the SELECTED path
    * segments re-joined with '.' in the CALLER'S node order (graphite
    * honors reordering, so `groupByNodes(.., 1, 0)` keys
    * "purchase.events"), and the per-(key, slot) callback here is the
    * mean. Same scale shape as the single-node face: one pruned scan,
    * (key, ts)-keyed map-side-combinable rollup, O(#groups × #slots)
    * output, codegen string split — no metadata join. Parity: means are
    * exact integer micro-unit sums with one closing division (the
    * `top_metrics` contract). */
  def seriesGroupByNodes(spark: SparkSession, dir: String,
                         nodes: Seq[Int],
                         from: Long, until: Long): DataFrame = {
    val segs = nodes.map(i => element_at(split(col("metric"), "\\."), i + 1))
    windowPoints(spark, dir, from, until)
      .withColumn("node", concat_ws(".", segs: _*))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("node", "ts")
      .agg(count(lit(1)).as("n_series"),
           (sum("vm").cast("double") / count("vm") / lit(1e6)).as("value"))
      .orderBy("node", "ts")
  }

  // ——————————————————————— multi-resolution store —————————————————————————

  /** Split point for the deterministic mixed-step store: 2024-01-08 00:00
    * UTC (day-aligned, inside the [[From]]/[[Until]] read window so a read
    * spans both tiers). */
  val MultiresSplit = 1704672000L

  /** A deterministic multi-resolution points store: hourly rows at and
    * after [[MultiresSplit]], the xff-gated daily rollup of everything
    * before it — exactly the shape maintenance leaves behind (fine recent
    * data + coarse history), built from the harness store so the DuckDB
    * oracle can reproduce it row-for-row. Session-cached: both multires
    * read queries share one build. */
  def multiresStore(spark: SparkSession, dir: String): DataFrame =
    Catalog.appCached(spark, s"multires:$dir") {
      val pts = Catalog.pointsCached(spark, dir)
      val meta = Catalog.metricsMeta(spark)
      val fine = pts
        .where(col("ts") >= MultiresSplit)
        .select("metric", "step", "ts", "value")
      val coarse = rollupTier(pts.where(col("ts") < MultiresSplit), meta,
          Step, 86400L)
        .select(col("metric"), lit(86400L).as("step"), col("ts"), col("value"))
      fine.unionByName(coarse)
    }

  // ———————————————————————————— aggregations (§2.3) ———————————————————————

  /** The five aggregation methods over a series range (ceres.py `aggregate`
    * ≈L930–950). All skip nulls; `last` = value at max ts (ceres: last
    * non-None in time order). Rounded to 6 dp where re-association could
    * drift across engines. */
  def aggRange(spark: SparkSession, dir: String, method: String): DataFrame = {
    // reconcile first: aggregating raw rows of a multi-resolution store
    // would weight tiers unequally; ceres aggregates the reconciled series
    val pts = Catalog.pointsCached(spark, dir)
      .where(col("ts") >= From && col("ts") < Until)
    val base = reconcileToCoarsest(pts, Catalog.metricsMeta(spark), anchor = From)
      .groupBy("metric")
    val agged = method match {
      case "average" => base.agg(q6(avg("value")).as("agg_value"))
      case "sum"     => base.agg(q6(sum("value")).as("agg_value"))
      case "min"     => base.agg(min("value").as("agg_value"))
      case "max"     => base.agg(max("value").as("agg_value"))
      case "last"    => base.agg(max_by(col("value"), col("ts")).as("agg_value"))
      case m => throw new IllegalArgumentException(s"Unknown aggregation method: $m")
    }
    agged.orderBy("metric")
  }

  /** `aggregateSeries` (ceres.py ≈L955): fixed-factor downsample. On the
    * dense aligned grid, positional chunks of factor = new/old are exactly
    * tumbling time buckets — a plain groupBy, fully map-side combinable. */
  def aggregateSeriesDf(spark: SparkSession, dir: String, metric: String,
                        method: String, newStep: Long): DataFrame = {
    val bucket = (col("ts") - pmod(col("ts"), lit(newStep))).as("ts")
    val pts = Catalog.pointsCached(spark, dir)
      .where(col("metric") === metric && col("ts") >= From && col("ts") < Until)
    val base = reconcileToCoarsest(pts, Catalog.metricsMeta(spark), anchor = From)
      .groupBy(bucket)
    val agged = method match {
      case "average" => base.agg(q6(avg("value")).as("value"))
      case "sum"     => base.agg(q6(sum("value")).as("value"))
      case "min"     => base.agg(min("value").as("value"))
      case "max"     => base.agg(max("value").as("value"))
      case "last"    => base.agg(max_by(col("value"), col("ts")).as("value"))
      case m => throw new IllegalArgumentException(s"Unknown aggregation method: $m")
    }
    agged.orderBy("ts")
  }

  // ———————————————————————————— merge (§2.4) ——————————————————————————————

  /** `TimeSeriesData.merge` (ceres.py ≈L870–888): point-wise coalesce with
    * self-precedence on the primary series' dense grid. Both sides are READ
    * series (reconciled); the grid step is the PRIMARY's reconciled step
    * (ceres: other's timestamps align to self's grid, and when several
    * finer `other` points land in one self cell the earliest fills — merge
    * iterates other.points in time order and only fills empty slots). */
  def mergeSeries(spark: SparkSession, dir: String, primary: String,
                  secondary: String, from: Long, until: Long): DataFrame =
    mergeSeriesFrom(Catalog.pointsCached(spark, dir),
      Catalog.metricsMeta(spark), primary, secondary, from, until)

  /** [[mergeSeries]] over an explicit points table (multi-res testable).
    * The reconciled series is consumed THREE times below (primary rows,
    * grid-step aggregate, secondary rows), so it is `localCheckpoint`ed —
    * materialized once, result-sized — rather than re-running the
    * reconcile shuffle per consumer (see [[densifyGridFrom]]). The
    * checkpoint is eager: it runs as its own blocking job when the plan
    * is built, and every consumer reads the blocks. */
  def mergeSeriesFrom(points: DataFrame, meta: DataFrame, primary: String,
                      secondary: String, from: Long, until: Long): DataFrame = {
    val in = ReadInputs.literals(meta, from, until)
    val f = in.f
    val pts = points
      .where(col("ts") >= f && col("ts") < in.u)
      .where(col("metric").isin(primary, secondary))
    val series = reconcileOf(pts, in.method, in.from).localCheckpoint()
    val a = series.where(col("metric") === primary)
      .select(col("ts"), col("value").as("va"))
    // grid at the primary's reconciled step (one-row aggregate -> sequence
    // explode; the grid is O(range/step) rows, same as spark.range)
    val aStep = series.where(col("metric") === primary)
      .agg(coalesce(max("step"), lit(Step)).as("gstep"))
    val grid = aStep.select(
      explode(in.grid(col("gstep"))).as("ts"),
      col("gstep"))
    // align secondary onto the primary grid; earliest value per cell wins
    val b = series.where(col("metric") === secondary)
    val bAligned = grid.select("gstep").limit(1)
      .crossJoin(b)
      .withColumn("bts", col("ts") - pmod(col("ts") - f, col("gstep")))
      .groupBy(col("bts").as("ts"))
      .agg(min_by(col("value"), col("ts")).as("vb"))
    grid.select("ts")
      .join(a, Seq("ts"), "left")
      .join(bAligned, Seq("ts"), "left")
      .select(col("ts"), coalesce(col("va"), col("vb")).as("value"))
      .orderBy("ts")
  }

  // ———————————————————————————— write path (§2.6) —————————————————————————

  /** `CeresNode.compact` (ceres.py ≈L605–650) surfaced as a query: the
    * ingest-normalization result — align, drop nulls, max-value tie-break
    * per (metric, aligned ts) (tuple-sort semantics, see [[Kernel.compact]]).
    * This IS the canonical points table; exposed so the oracle pins its
    * semantics. */
  def compactDedup(spark: SparkSession, dir: String): DataFrame =
    Catalog.pointsCached(spark, dir)
      .select("metric", "ts", "value")
      .orderBy("metric", "ts")

  /** `CeresNode.write` slice dispatch (ceres.py ≈L545–600) surfaced as a
    * query: per metric, how the compacted points split into step-contiguous
    * runs (the reference's "sequences" — each run maps to one slice write).
    * A run starts wherever ts != prev + step.
    *
    * Scale: per-metric window sort — this is a storage-layout summary
    * (slice listing analog), a maintenance-side job over one metric's
    * partition, not a hot-path query. */
  def storeWriteRuns(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("metric").orderBy("ts")
    Catalog.pointsCached(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_run",
        when(col("prev_ts").isNull || col("ts") =!= col("prev_ts") + col("step"), 1L)
          .otherwise(0L))
      .groupBy("metric")
      .agg(sum("new_run").as("n_runs"),
           count(lit(1)).as("n_points"),
           min("ts").as("first_ts"),
           max("ts").as("last_ts"))
      .orderBy("metric")
  }

  // ———————————————————————————— maintenance (§2.7) ————————————————————————

  /** One tier pair of the multi-tier xFilesFactor rollup
    * (plugins/maintenance/rollup.py `node_found`/`do_rollup`): fine → coarse,
    * per-metric aggregation method dispatched from metadata, window emitted
    * only when known/expected >= xFilesFactor.
    *
    * Denominator: expected grid points per coarse window
    * (= coarseStep/fineStep). The reference divides by fine datapoints
    * *observed* in NaN-padded slices, which equals the expected count within
    * a covered run; on our null-free compacted points the observed count
    * would make the gate vacuous, so expected-count is the faithful reading.
    *
    * Scale: one broadcast join (meta is O(#metrics)) + one shuffle on
    * (metric, window) with map-side partial aggregation. Method dispatch is
    * a codegen'd when-chain, not a per-method union of scans.
    *
    * The full retention chain (tier bands anchored at "now", adjacent-pair
    * rollup, final-tier expiry) lives in graft.streaming.Maintenance, which
    * derives its tier list from `metrics_meta.retentions` and calls this per
    * pair. */
  def xffRollup(spark: SparkSession, dir: String, fineStep: Long,
                coarseStep: Long): DataFrame =
    rollupTier(
      Catalog.pointsCached(spark, dir), Catalog.metricsMeta(spark),
      fineStep, coarseStep)

  /** STL STRENGTH summary (Hyndman & Athanasopoulos): trend strength
    * F_T = max(0, 1 − Var(R)/Var(T+R)) and seasonal strength
    * F_S = max(0, 1 − Var(R)/Var(S+R)) over the
    * [[seriesSeasonalDecompose]] components — ONE row answering "is this
    * series trend-dominated, rhythm-dominated, or noise".
    *
    * Parity: T+R = value − seasonal and S+R = value − trend quantize to
    * MILLI-units (the squared-sum overflow bound) alongside R; each
    * variance ratio is (n·s2 − s1²)-form INTEGER arithmetic with one
    * closing division per strength. Scale: the decompose plan + one
    * O(1)-row moment aggregate. */
  def seriesStlStrength(spark: SparkSession, dir: String, metric: String,
                        from: Long, until: Long, season: Int = 24,
                        half: Int = 12): DataFrame =
    stlStrengthOf(seriesSeasonalDecompose(spark, dir, metric, from, until,
      season, half), Nil).select(lit(metric).as("metric"), col("*"))

  /** [[seriesStlStrength]] over every cataloged metric: one row per
    * metric. */
  def seriesStlStrengthMulti(spark: SparkSession, dir: String,
                             from: Long, until: Long, season: Int = 24,
                             half: Int = 12): DataFrame =
    stlStrengthOf(seriesSeasonalDecomposeMulti(spark, dir, from, until,
      season, half), ByMetric)

  /** The strength ratios of a decomposition, one row per series key. */
  private def stlStrengthOf(decomposed: DataFrame,
                            by: Seq[String]): DataFrame = {
    val dec = decomposed
      .where(col("value").isNotNull && col("trend").isNotNull &&
        col("seasonal").isNotNull)
      .withColumn("rm",
        floor(col("residual") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("tm", floor((col("value") - col("seasonal")) * lit(1e3) +
        lit(0.5)).cast("long"))
      .withColumn("sm", floor((col("value") - col("trend")) * lit(1e3) +
        lit(0.5)).cast("long"))
    def varNum(c: String) =
      count(lit(1)) * sum(col(c) * col(c)) - sum(col(c)) * sum(col(c))
    dec.groupBy(keyed(by): _*)
      .agg(count(lit(1)).as("n"),
        varNum("rm").as("vr"), varNum("tm").as("vt"), varNum("sm").as("vs"))
      .select(keyed(by, col("n"),
        // the zero-variance branch closes to an explicit 0.0 on BOTH
        // engines (a constant T+R/S+R window means "no strength"):
        // greatest()'s NULL handling is engine-specific and must never
        // carry the parity contract
        q6(greatest(lit(0.0), when(col("vt") > 0,
          lit(1.0) - col("vr").cast("double") / col("vt").cast("double"))
          .otherwise(lit(0.0)))).as("trend_strength"),
        q6(greatest(lit(0.0), when(col("vs") > 0,
          lit(1.0) - col("vr").cast("double") / col("vs").cast("double"))
          .otherwise(lit(0.0)))).as("seasonal_strength")): _*)
      .orderBy(keyed(by): _*)
  }

  /** FORECAST QA: per-metric MAE and WAPE of [[seriesHoltWintersMulti]]'s
    * one-step forecasts against the actuals — the number that says
    * whether the smoother is trustworthy enough to alert on
    * ([[seriesHoltWintersBands]]' aberration read presumes it is).
    *
    * Parity: value and (already 6-dp-rounded) forecast re-quantize to
    * integer micro-units, so the error sums are order-independent
    * integers with two closing divisions. Scale: the multi-forecast's
    * per-metric plan + one O(#metrics) rollup. */
  def seriesForecastError(spark: SparkSession, dir: String,
                          from: Long, until: Long,
                          season: Int = 24): DataFrame =
    seriesHoltWintersMulti(spark, dir, from, until, season)
      .where(col("value").isNotNull && col("forecast").isNotNull)
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("fm",
        floor(col("forecast") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        sum(abs(col("vm") - col("fm"))).as("se"),
        sum(abs(col("vm"))).as("sa"))
      .select(col("metric"), col("n"),
        // floor-quantized display: both metrics are integer ratios —
        // round(x,6)'s half-boundary is engine-specific
        (floor(col("se").cast("double") / col("n") / lit(1e6) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("mae"),
        when(col("sa") > 0,
          floor(col("se").cast("double") / col("sa") * lit(1e6) + lit(0.5))
            / lit(1e6)).as("wape"))
      .orderBy("metric")

  /** ROLLUP PLAN observability: what one [[xffRollup]] tier pass WOULD
    * do, per metric — fine rows in, coarse windows touched, windows the
    * xff gate emits vs suppresses, and the row-reduction factor. The
    * dry-run a capacity planner reads before changing a retention ladder
    * (the reference's maintenance logs these per node; rollup.py prints
    * "coarse window suppressed" — this is that, relational).
    *
    * Parity: pure integer counts off the SAME grouped windows as the
    * rollup; the only division is the closing reduction ratio. Scale:
    * identical plan shape to [[rollupTier]] minus the value aggregates —
    * one map-side-combinable (metric, window) rollup, then an O(#metrics)
    * rollup of the rollup. */
  def rollupPlan(spark: SparkSession, dir: String, fineStep: Long,
                 coarseStep: Long): DataFrame = {
    require(coarseStep % fineStep == 0,
      s"coarse step $coarseStep must be a multiple of fine step $fineStep")
    val expected = (coarseStep / fineStep).toDouble
    val m = Catalog.metricsMeta(spark).select("metric", "xFilesFactor")
    Catalog.pointsCached(spark, dir)
      .where(col("step") === fineStep)
      .join(broadcast(m), "metric")
      .withColumn("w", col("ts") - pmod(col("ts"), lit(coarseStep)))
      .groupBy("metric", "w")
      .agg(count("value").as("known"), first("xFilesFactor").as("xff"))
      .groupBy("metric")
      .agg(sum("known").as("n_fine"),
        count(lit(1)).as("n_windows"),
        sum(when(col("known") / expected >= col("xff"), 1L).otherwise(0L))
          .as("n_emitted"))
      .withColumn("n_suppressed", col("n_windows") - col("n_emitted"))
      .withColumn("reduction",
        when(col("n_emitted") > 0,
          q6(col("n_fine") / col("n_emitted"))))
      .orderBy("metric")
  }

  /** Pure-DataFrame form of one rollup tier pair (testable without the
    * harness catalog). Input schema: (metric, step, ts, value). */
  def rollupTier(points: DataFrame, meta: DataFrame, fineStep: Long,
                 coarseStep: Long): DataFrame = {
    require(coarseStep % fineStep == 0,
      s"coarse step $coarseStep must be a multiple of fine step $fineStep")
    val expected = (coarseStep / fineStep).toDouble
    val m = meta.select("metric", "aggregationMethod", "xFilesFactor")
    points
      .where(col("step") === fineStep)
      .join(broadcast(m), "metric")
      .withColumn("w", col("ts") - pmod(col("ts"), lit(coarseStep)))
      .groupBy("metric", "w")
      .agg(
        count("value").as("known"),
        first("aggregationMethod").as("method"),
        first("xFilesFactor").as("xff"),
        q6(avg("value")).as("v_avg"),
        q6(sum("value")).as("v_sum"),
        min("value").as("v_min"),
        max("value").as("v_max"),
        max_by(col("value"), col("ts")).as("v_last"))
      .where(col("known") / expected >= col("xff"))
      .select(col("metric"), col("w").as("ts"),
        dispatch(col("method")).as("value"),
        col("known"))
      .orderBy("metric", "ts")
  }

  /** Store-integrity check — the engine's `bin/slicecheck`: per metric,
    * count (a) duplicate (step, ts) cells (a grid cell must hold exactly
    * one value), (b) misaligned timestamps (ts % step != 0 — the
    * reference's slice files are aligned by construction), and
    * (c) overlapping intervals (two cells of one metric whose [ts, ts+step)
    * ranges intersect — distinct resolutions double-covering a window, the
    * slice-overlap corruption slicecheck scans for). All-zero rows = a
    * healthy store.
    *
    * Scale shape: one map-side-combinable groupBy to the distinct cells,
    * then ONE window pass per metric — overlap detection via a running max
    * of interval ends over the (ts, step)-sorted cells (an interval overlaps
    * some earlier one iff its start precedes the running max end), never a
    * range self-join. */
  def storeCheck(points: DataFrame): DataFrame = {
    val cells = points.groupBy("metric", "step", "ts")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("metric").orderBy("ts", "step")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("dup_rows", col("cnt") - 1)
      .withColumn("misaligned",
        when(pmod(col("ts"), col("step")) =!= 0, 1L).otherwise(0L))
      .withColumn("prev_end", max(col("ts") + col("step")).over(w))
      .withColumn("overlap",
        when(col("prev_end").isNotNull && col("ts") < col("prev_end"), 1L)
          .otherwise(0L))
      .groupBy("metric")
      .agg(sum("dup_rows").as("n_dup_rows"),
           sum("misaligned").as("n_misaligned"),
           sum("overlap").as("n_overlap"))
      .orderBy("metric")
  }

  /** Retention expiry (`CeresSlice.deleteBefore` ≈L795, rollup.py's final
    * tier): rows surviving a cutoff. Side-effect-free summary form for the
    * oracle; graft.streaming.Maintenance applies it as a partition-pruned
    * rewrite. */
  def retentionDelete(spark: SparkSession, dir: String, cutoff: Long): DataFrame =
    Catalog.pointsCached(spark, dir)
      .where(col("ts") >= cutoff)
      .groupBy("metric")
      .agg(count(lit(1)).as("surviving"), min("ts").as("min_ts"))
      .orderBy("metric")

  /** `divideSeries(dividendSeries, divisorSeries)` analog (graphite-web
    * render/functions.py): the two metrics' densified grids joined on the
    * slot, ratio per slot — the "conversion rate per hour" dashboard read
    * (e.g. purchases / views). Null where either side is a gap or the
    * divisor is zero (graphite emits None for both cases).
    *
    * Scale: both inputs are the O(output) [[densifyGrid]] contract over
    * the session-cached points table (one pruned scan feeds both sides);
    * the join keys the result-sized grid on `ts` — never point data.
    * Parity: one IEEE division + round(6) per slot, identical in both
    * engines. */
  def seriesDivide(spark: SparkSession, dir: String, dividend: String,
                   divisor: String, from: Long, until: Long): DataFrame = {
    val num = densifyGrid(spark, dir, dividend, from, until)
      .select(col("ts"), col("value").as("dividend"))
    val den = densifyGrid(spark, dir, divisor, from, until)
      .select(col("ts"), col("value").as("divisor"))
    num.join(den, Seq("ts"))
      .select(col("ts"), col("dividend"), col("divisor"),
        when(col("divisor") =!= 0.0,
          q6(col("dividend") / col("divisor"))).as("ratio"))
      .orderBy("ts")
  }

  /** Pearson correlation between two metrics over the query window — the
    * "do these two signals move together" dashboard read (graphite has no
    * closed-form analog; it is the `pearsonClosest` family's core).
    * One row: the co-present slot count and r over those slots.
    *
    * Scale: two O(output) grids joined on `ts`, then ONE metadata-sized
    * aggregate — never point data. Parity: all five moment sums run over
    * exact integer micro-units in DECIMAL(38,0) (value ≤ ~1e3 → micro
    * ~1e9 → squared products ~1e18 would overflow a summed long; decimal
    * in Spark / HUGEINT in DuckDB are both exact), with the identical
    * cast-to-double + sqrt closing sequence in both engines. */
  def seriesCorrelation(spark: SparkSession, dir: String, metricA: String,
                        metricB: String, from: Long, until: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val a = densifyGrid(spark, dir, metricA, from, until)
      .select(col("ts"), col("value").as("va"))
    val b = densifyGrid(spark, dir, metricB, from, until)
      .select(col("ts"), col("value").as("vb"))
    a.join(b, Seq("ts"))
      .where(col("va").isNotNull && col("vb").isNotNull)
      .withColumn("am", floor(col("va") * lit(1e6) + lit(0.5)).cast(dec))
      .withColumn("bm", floor(col("vb") * lit(1e6) + lit(0.5)).cast(dec))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum("am").as("sa"), sum("bm").as("sb"),
        sum(col("am") * col("bm")).as("sab"),
        sum(col("am") * col("am")).as("saa"),
        sum(col("bm") * col("bm")).as("sbb"))
      .select(lit(metricA).as("metric_a"), lit(metricB).as("metric_b"),
        col("n").cast("long").as("n_slots"),
        q6((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
          / sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")
            * (col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))).as("r"))
  }

  /** `integralByInterval(series, interval)` analog (graphite-web
    * render/functions.py): the running total that RESETS at each
    * `bucket`-second boundary anchored at the aligned window start — the
    * "cumulative count so far today" read, vs [[seriesIntegral]]'s
    * window-wide total. Gap slots keep their grid row (the bucket's
    * running value carries through them, like seriesIntegral).
    *
    * Scale: the window function runs over the O(output) densified grid
    * partitioned by bucket — more, smaller window partitions than the
    * single-partition seriesIntegral, so it parallelizes BETTER at scale.
    * Parity: exact integer micro-unit window sums, one closing division
    * (the engine's standard decimal-half defense). */
  def seriesIntegralByInterval(spark: SparkSession, dir: String,
                               metric: String, from: Long, until: Long,
                               bucket: Long): DataFrame =
    integralByIntervalOf(densifyGrid(spark, dir, metric, from, until), Nil,
      from, bucket)

  /** [[seriesIntegralByInterval]] over every cataloged metric, the window
    * partitioned by (metric, bucket). */
  def seriesIntegralByIntervalMulti(spark: SparkSession, dir: String,
                                    from: Long, until: Long,
                                    bucket: Long = 14400): DataFrame =
    integralByIntervalOf(denseGridAll(spark, dir, from, until), ByMetric,
      from, bucket)

  private def integralByIntervalOf(grid: DataFrame, by: Seq[String],
                                   from: Long, bucket: Long): DataFrame = {
    val f = Kernel.align(from, Step)
    val w = keyWindow(by, col("bucket")).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("bucket",
        col("ts") - pmod(col("ts") - lit(f), lit(bucket)))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .withColumn("integral", sum("vm").over(w).cast("double") / lit(1e6))
      .select(keyed(by, col("ts"), col("value"), col("integral")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `holtWintersForecast(series)` analog (graphite-web
    * render/functions.py): additive triple-exponential smoothing over
    * the densified grid — per slot, the one-step-ahead forecast from
    * level + trend + the slot's daily seasonal offset. The recursion is
    * inherently SEQUENTIAL (no window/aggregate decomposition exists),
    * so it runs as ONE native-expression call over the series' slot
    * array ([[graft.functions.GraftFunctions.holtWinters]], a codegen'd
    * primitive-double loop) — series are independent, so at cluster
    * scale the parallelism axis is metrics, and within a metric the
    * O(slots) pass runs on the executor holding the (result-sized)
    * grid, never on the driver.
    *
    * Parity: α=1/2, β=1/4, γ=1/2 are exact binary fractions and the
    * recursion's operation order is fixed, so the DuckDB oracle's
    * recursive CTE replays bit-identical doubles (rounded 6 dp for
    * display on both sides). */
  def seriesHoltWinters(spark: SparkSession, dir: String, metric: String,
                        from: Long, until: Long,
                        season: Int = 24): DataFrame =
    holtWintersOf(densifyGrid(spark, dir, metric, from, until), Nil, season)

  /** [[seriesHoltWinters]] over every cataloged metric: one
    * `collect_list` and one native call per metric, so the sequential
    * recursion never crosses a partition and the smoother parallelizes
    * across the catalog like any per-metric aggregate. */
  def seriesHoltWintersMulti(spark: SparkSession, dir: String,
                             from: Long, until: Long,
                             season: Int = 24): DataFrame =
    holtWintersOf(denseGridAll(spark, dir, from, until), ByMetric, season)

  private def holtWintersOf(grid: DataFrame, by: Seq[String],
                            season: Int): DataFrame = {
    val arr = grid
      .groupBy(keyed(by): _*)
      .agg(sort_array(collect_list(struct(col("ts"), col("value"))))
        .as("rows"))
      .select(keyed(by,
        expr("transform(rows, r -> r.ts)").as("ts_arr"),
        graft.functions.GraftFunctions.holtWinters(
          expr("transform(rows, r -> r.value)"), season).as("f_arr"),
        expr("transform(rows, r -> r.value)").as("v_arr")): _*)
    arr
      .select(keyed(by,
        explode(arrays_zip(col("ts_arr"), col("v_arr"), col("f_arr")))
          .as("z")): _*)
      .select(keyed(by, col("z.ts_arr").as("ts"), col("z.v_arr").as("value"),
        q6(col("z.f_arr")).as("forecast")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `holtWintersConfidenceBands` + `holtWintersAberration` analog
    * (graphite-web render/functions.py): the [[seriesHoltWinters]] walk
    * also tracks a per-season-slot absolute-residual deviation, and each
    * slot's bands are forecast ± `k`·deviation with the PRIOR deviation
    * (the observation never widens its own band). `aberration` is the
    * out-of-band excess (positive above, negative below, 0 in-band) —
    * the alerting number graphite pages on.
    *
    * Same execution/parity contract as [[seriesHoltWinters]]: one native
    * expression call per series ([[graft.functions.GraftFunctions
    * .holtWintersBands]] — the SAME walk emitting (forecast, deviation)
    * structs, so the two reads can never desynchronize), bit-identical
    * doubles vs the oracle's recursive CTE. */
  def seriesHoltWintersBands(spark: SparkSession, dir: String,
                             metric: String, from: Long, until: Long,
                             season: Int = 24, k: Double = 3.0): DataFrame =
    holtWintersBandsOf(densifyGrid(spark, dir, metric, from, until), Nil,
      season, k)

  /** [[seriesHoltWintersBands]] over every cataloged metric: the
    * alerting read for a whole dashboard glob in one plan. */
  def seriesHoltWintersBandsMulti(spark: SparkSession, dir: String,
                                  from: Long, until: Long,
                                  season: Int = 24,
                                  k: Double = 3.0): DataFrame =
    holtWintersBandsOf(denseGridAll(spark, dir, from, until), ByMetric,
      season, k)

  private def holtWintersBandsOf(grid: DataFrame, by: Seq[String],
                                 season: Int, k: Double): DataFrame = {
    val arr = grid
      .groupBy(keyed(by): _*)
      .agg(sort_array(collect_list(struct(col("ts"), col("value"))))
        .as("rows"))
      .select(keyed(by,
        expr("transform(rows, r -> r.ts)").as("ts_arr"),
        graft.functions.GraftFunctions.holtWintersBands(
          expr("transform(rows, r -> r.value)"), season).as("st_arr"),
        expr("transform(rows, r -> r.value)").as("v_arr")): _*)
    arr
      .select(keyed(by,
        explode(arrays_zip(col("ts_arr"), col("v_arr"), col("st_arr")))
          .as("z")): _*)
      .select(keyed(by, col("z.ts_arr").as("ts"), col("z.v_arr").as("value"),
        col("z.st_arr.f").as("f"), col("z.st_arr.dev").as("dev")): _*)
      .withColumn("lower", col("f") - lit(k) * col("dev"))
      .withColumn("upper", col("f") + lit(k) * col("dev"))
      .select(keyed(by, col("ts"), col("value"),
        q6(col("f")).as("forecast"),
        q6(col("lower")).as("lower"),
        q6(col("upper")).as("upper"),
        q6(when(col("value").isNull || col("f").isNull, lit(null))
          .when(col("value") > col("upper"), col("value") - col("upper"))
          .when(col("value") < col("lower"), col("value") - col("lower"))
          .otherwise(lit(0.0))).as("aberration")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** Classical SEASONAL DECOMPOSITION (STL-lite) of one series: trend =
    * centered ±`half`-slot moving average; seasonal = per slot-of-day
    * mean of the detrended values; residual = value − trend − seasonal
    * — the "is this spike load growth, daily rhythm, or a real anomaly"
    * read, and the analysis-side complement of [[seriesHoltWinters]]'s
    * forecast.
    *
    * Parity discipline: the trend is one integer micro-unit window sum
    * (exact at any frame order) with one closing division; detrended
    * values are then RE-QUANTIZED to integer micro-units before the
    * per-slot seasonal mean, so the seasonal aggregation is again an
    * order-independent integer sum — no float accumulates across rows
    * anywhere. Scale: O(output) windows over the result-sized grid +
    * one O(season) broadcast join. */
  def seriesSeasonalDecompose(spark: SparkSession, dir: String,
                              metric: String, from: Long, until: Long,
                              season: Int = 24,
                              half: Int = 12): DataFrame =
    decomposeOf(densifyGrid(spark, dir, metric, from, until), Nil,
      from, season, half)

  /** [[seriesSeasonalDecompose]] over every cataloged metric, seasonal
    * means keyed (metric, slot-of-day). The anomaly/strength multi faces
    * consume this plan — one decomposition definition, three reads. */
  def seriesSeasonalDecomposeMulti(spark: SparkSession, dir: String,
                                   from: Long, until: Long,
                                   season: Int = 24,
                                   half: Int = 12): DataFrame =
    decomposeOf(denseGridAll(spark, dir, from, until), ByMetric,
      from, season, half)

  private def decomposeOf(grid: DataFrame, by: Seq[String], from: Long,
                          season: Int, half: Int): DataFrame = {
    val f = Kernel.align(from, Step)
    val w = keyWindow(by).orderBy("ts").rowsBetween(-half, half)
    val withTrend = grid
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("trend",
        when(count("vm").over(w) >= 1,
          sum("vm").over(w).cast("double") / count("vm").over(w) / lit(1e6)))
      .withColumn("slot",
        expr(s"pmod((ts - $f) div $Step, $season)").cast("long"))
      .withColumn("dm",
        when(col("value").isNotNull && col("trend").isNotNull,
          floor((col("value") - col("trend")) * lit(1e6) + lit(0.5))
            .cast("long")))
    val seasonal = withTrend
      .groupBy(keyed(by, col("slot")): _*)
      .agg((sum("dm").cast("double") / count("dm") / lit(1e6)).as("seasonal"))
      .where(col("seasonal").isNotNull)
    // display quantization: floor(x·1e6 + 0.5)/1e6, NOT round(x, 6) —
    // round()'s half-boundary is decided on the decimal STRING and is
    // engine-specific (the multi fixture hits -16.3762135 exactly, and
    // sf0.001 hits one on events.purchase); floor is one IEEE op both
    // engines replicate bit-for-bit
    withTrend
      .join(broadcast(seasonal), by :+ "slot", "left")
      .select(keyed(by, col("ts"), col("value"),
        q6(col("trend")).as("trend"),
        q6(col("seasonal")).as("seasonal"),
        q6(when(col("value").isNotNull && col("trend").isNotNull
            && col("seasonal").isNotNull,
          col("value") - col("trend") - col("seasonal"))).as("residual")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** SEASONAL-AWARE anomaly read: z-scores over [[seriesSeasonalDecompose]]'s
    * residuals — a spike at rush hour is judged against "rush hour is
    * always high", catching anomalies the raw [[seriesZscore]] absorbs
    * into the daily rhythm (and not flagging the rhythm itself).
    *
    * Parity: residuals (already hash-stable from the decompose contract)
    * are quantized to MILLI-units — squared micro sums would overflow a
    * long (the [[seriesStdev]] bound) — and the mean/σ are one integer
    * moment pass with the [[seriesZscore]] closing sequence. Scale:
    * decompose's O(output) plan + whole-partition moment windows. */
  def seriesAnomalyStl(spark: SparkSession, dir: String, metric: String,
                       from: Long, until: Long, season: Int = 24,
                       half: Int = 12, sigma: Double = 3.0): DataFrame =
    anomalyStlOf(seriesSeasonalDecompose(spark, dir, metric, from, until,
      season, half), Nil, sigma)

  /** [[seriesAnomalyStl]] over every cataloged metric. */
  def seriesAnomalyStlMulti(spark: SparkSession, dir: String,
                            from: Long, until: Long, season: Int = 24,
                            half: Int = 12, sigma: Double = 3.0): DataFrame =
    anomalyStlOf(seriesSeasonalDecomposeMulti(spark, dir, from, until,
      season, half), ByMetric, sigma)

  private def anomalyStlOf(decomposed: DataFrame, by: Seq[String],
                           sigma: Double): DataFrame = {
    // the three moment scalars are whole-partition window aggregates
    // over the decomposition: no separate rollup job and no broadcast
    // join-back per query (Timeit: the multi face runs 5 jobs this way,
    // 9 as a per-metric rollup + broadcast join)
    val all = keyWindow(by).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    decomposed
      .select(keyed(by, col("ts"), col("value"), col("residual")): _*)
      .withColumn("rm",
        floor(col("residual") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("n", count("rm").over(all))
      .withColumn("s1", sum("rm").over(all))
      .withColumn("s2", sum(col("rm") * col("rm")).over(all))
      .withColumn("sd",
        when(col("n") >= 2,
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double")) / lit(1e3)))
      .withColumn("z",
        when(col("rm").isNotNull && col("sd") > 0, q6(
          (col("rm").cast("double") / lit(1e3) -
            col("s1").cast("double") / col("n").cast("double") / lit(1e3)) /
            col("sd"))))
      .select(keyed(by, col("ts"), col("value"), col("residual"), col("z"),
        when(col("z").isNotNull, abs(col("z")) > lit(sigma)).as("anomaly")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** Trailing-window Z-SCORE anomaly read: each slot scored against the
    * mean/stddev of the `points` PRIOR non-gap slots (current slot
    * excluded — the baseline must not contain the observation it judges),
    * with the |z| > `sigma` flag — the alerting read the dashboard
    * overlays draw (`series_bands` is the global-σ cousin; this is the
    * local/rolling one).
    *
    * Parity: the window sums INTEGER MILLI-UNITS (exact at any frame
    * evaluation order — the `seriesMovingStdev` defense); mean, sample
    * stddev, and z are then ONE fixed closing double expression from
    * those integers, identical in both engines. Null where the value is
    * a gap or the baseline has n < 2 or zero variance. Scale: O(output)
    * — one window over the result-sized densified grid. */
  def seriesZscore(spark: SparkSession, dir: String, metric: String,
                   from: Long, until: Long, points: Int = 6,
                   sigma: Double = 2.0): DataFrame =
    zscoreOf(densifyGrid(spark, dir, metric, from, until), Nil,
      points, sigma)

  /** [[seriesZscore]] over every cataloged metric. */
  def seriesZscoreMulti(spark: SparkSession, dir: String,
                        from: Long, until: Long, points: Int = 6,
                        sigma: Double = 2.0): DataFrame =
    zscoreOf(denseGridAll(spark, dir, from, until), ByMetric, points, sigma)

  private def zscoreOf(grid: DataFrame, by: Seq[String], points: Int,
                       sigma: Double): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-points, -1)
    grid
      .withColumn("km", floor(col("value") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("n", count("km").over(w))
      .withColumn("s1", sum("km").over(w))
      .withColumn("s2", sum(col("km") * col("km")).over(w))
      .withColumn("sd",
        when(col("n") >= 2,
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double")) / lit(1e3)))
      .withColumn("z",
        when(col("km").isNotNull && col("sd") > 0, q6(
          (col("km").cast("double") / lit(1e3) -
            col("s1").cast("double") / col("n").cast("double") / lit(1e3)) /
            col("sd"))))
      .select(keyed(by, col("ts"), col("value"), col("z"),
        when(col("z").isNotNull, abs(col("z")) > lit(sigma)).as("anomaly")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** Linear gap INTERPOLATION over the densified grid (graphite
    * `interpolate()`): interior gaps filled on the straight line between
    * the nearest non-gap neighbors; leading/trailing gaps (no neighbor on
    * one side) stay null; real values pass through, with the `filled`
    * flag marking synthesized slots.
    *
    * Parity: both engines see the same (prev ts, prev value, next ts,
    * next value) longs/doubles — carried by ignore-null struct windows —
    * and the fill is ONE closing double expression in identical
    * operation order. Scale: O(output) — two windows (one forward, one
    * reverse frame) over the result-sized grid; at cluster scale the
    * grid is per-metric partitioned by the multi-metric variants'
    * contract. */
  def seriesInterpolate(spark: SparkSession, dir: String, metric: String,
                        from: Long, until: Long): DataFrame =
    interpolateOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesInterpolate]] over every cataloged metric (a metric's
    * leading/trailing gaps never see another metric's neighbors). */
  def seriesInterpolateMulti(spark: SparkSession, dir: String,
                             from: Long, until: Long): DataFrame =
    interpolateOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def interpolateOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    val wPrev = keyWindow(by).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = keyWindow(by).orderBy("ts")
      .rowsBetween(1, Window.unboundedFollowing)
    val obs = when(col("value").isNotNull,
      struct(col("ts").as("t"), col("value").as("v")))
    grid
      .withColumn("p", last(obs, ignoreNulls = true).over(wPrev))
      .withColumn("nx", first(obs, ignoreNulls = true).over(wNext))
      .withColumn("interp",
        when(col("value").isNotNull, col("value"))
          .otherwise(when(col("p").isNotNull && col("nx").isNotNull,
            col("p.v") + (col("nx.v") - col("p.v")) *
              ((col("ts") - col("p.t")) / (col("nx.t") - col("p.t"))))))
      .select(keyed(by, col("ts"), col("value"), col("interp"),
        (col("value").isNull && col("interp").isNotNull).as("filled")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** CUSUM mean-shift CHANGEPOINT detection: the cumulative sum of
    * deviations from the whole-window mean, with the |S|-maximizing slot
    * flagged as the most likely level-shift point (Page's classic
    * offline CUSUM read — "when did this metric's level actually
    * change").
    *
    * Parity discipline: the mean is never materialized as a double —
    * each present slot contributes the INTEGER `n·vm − total` (micro-unit
    * value scaled by the count, minus the micro-unit sum), so the
    * running sum is order-independent integer math with ONE closing
    * division per row. The argmax flag compares those same integers.
    * Scale: O(output) — one grid, one O(1)-row total broadcast, one
    * running-sum window over the result-sized grid, one O(1)-row argmax
    * broadcast back. */
  def seriesChangepoint(spark: SparkSession, dir: String, metric: String,
                        from: Long, until: Long): DataFrame =
    changepointOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesChangepoint]] over every cataloged metric. */
  def seriesChangepointMulti(spark: SparkSession, dir: String,
                             from: Long, until: Long): DataFrame =
    changepointOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def changepointOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    // r18 opt (guide §2.4): total/count, the running CUSUM and the
    // |S|-argmax are all windows over the key's partition of the grid —
    // the former checkpoint + two 1-row aggregates + two broadcast
    // cross-joins (the three-consumer DAG split) become one window
    // chain, zero extra exchanges, identical integers throughout.
    val all = keyWindow(by).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = keyWindow(by).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("total", sum("vm").over(all))
      .withColumn("n", count("vm").over(all))
      .withColumn("dev",
        when(col("vm").isNotNull, col("n") * col("vm") - col("total")))
      .withColumn("csm", sum("dev").over(wRun))
      // the peak pick is max over the SAME (|S|, latest-ts) struct order
      // the former max_by aggregate used
      .withColumn("pk",
        max(when(col("csm").isNotNull && col("n") >= 2,
          struct(abs(col("csm")).as("a"), (-col("ts")).as("nt")))).over(all))
      .select(keyed(by, col("ts"), col("value"),
        // floor-quantized display: csm/n is an integer ratio, exact
        // half-boundaries occur whenever n's reduced factor is 2
        (floor(when(col("n") >= 1,
          col("csm").cast("double") / col("n") / lit(1e6)) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("cusum"),
        when(col("csm").isNotNull && col("n") >= 2,
          col("ts") === (-col("pk.nt"))).as("changepoint")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** Sample AUTOCORRELATION function (ACF): per lag k in [1, maxLag],
    * the Pearson correlation between the series and its k-slot shift
    * over the slots where BOTH ends are present — the "is there a daily
    * / weekly rhythm, and how strong" read that picks the season length
    * [[seriesSeasonalDecompose]] and [[seriesHoltWinters]] consume.
    *
    * Parity: per-lag moment sums in DECIMAL(38,0) micro-units (squared
    * micro-values overflow a long — the [[seriesCorrelation]] contract)
    * with one closing double sequence per lag. Scale: O(maxLag · output)
    * — the lag table is a generated O(maxLag) relation broadcast against
    * the result-sized grid; the moment aggregation is map-side
    * combinable on the lag key. */
  def seriesAutocorrelation(spark: SparkSession, dir: String,
                            metric: String, from: Long, until: Long,
                            maxLag: Int = 48): DataFrame =
    autocorrelationOf(densifyGrid(spark, dir, metric, from, until), Nil,
      maxLag)

  /** [[seriesAutocorrelation]] over every cataloged metric: the moment
    * rollup keyed (metric, lag), still window-free. */
  def seriesAutocorrelationMulti(spark: SparkSession, dir: String,
                                 from: Long, until: Long,
                                 maxLag: Int = 48): DataFrame =
    autocorrelationOf(denseGridAll(spark, dir, from, until), ByMetric,
      maxLag)

  private def autocorrelationOf(densified: DataFrame, by: Seq[String],
                                maxLag: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val grid = densified
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast(dec))
      .where(col("vm").isNotNull)
    val lags = densified.sparkSession.range(1, maxLag + 1).toDF("lag")
    val pairs = grid.select(keyed(by, col("ts"), col("vm").as("am")): _*)
      .crossJoin(broadcast(lags))
      .withColumn("ts_prev", col("ts") - lit(Step) * col("lag"))
      .join(grid.select(keyed(by, col("ts").as("ts_prev"),
        col("vm").as("bm")): _*), by :+ "ts_prev")
    pairs
      .groupBy(keyed(by, col("lag")): _*)
      .agg(count(lit(1)).cast(dec).as("n"),
        sum("am").as("sa"), sum("bm").as("sb"),
        sum(col("am") * col("bm")).as("sab"),
        sum(col("am") * col("am")).as("saa"),
        sum(col("bm") * col("bm")).as("sbb"))
      .withColumn("d1",
        (col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
      .withColumn("d2",
        (col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))
      .select(keyed(by, col("lag"), col("n").cast("long").as("n_pairs"),
        when(col("d1") > 0 && col("d2") > 0, q6(
          (col("n") * col("sab") - col("sa") * col("sb")).cast("double")
            / sqrt(col("d1") * col("d2")))).as("r")): _*)
      .orderBy(keyed(by, col("lag")): _*)
  }

  /** THEIL–SEN robust trend estimate: the median of all pairwise slopes
    * over the window's present slots — the capacity-planning slope that
    * survives the outliers least-squares ([[seriesLinreg]]) absorbs.
    * One summary row: point/pair counts and the per-slot slope.
    *
    * Parity: each slope is ONE fixed double sequence from exact integer
    * (Δmicro-value, Δslot) pairs; the median is an order statistic over
    * those doubles (even count = one IEEE add + halve), never a float
    * accumulation. Scale: O(w²) pairs for a w-slot read window — bounded
    * by the window the caller asked for (169² here), never by corpus
    * size; the rank window spills like every sort in the engine. */
  def seriesTheilSen(spark: SparkSession, dir: String, metric: String,
                     from: Long, until: Long): DataFrame = {
    val f = Kernel.align(from, Step)
    // localCheckpoint (r18 opt; eager — it runs its own job): the
    // window-sized grid feeds three subtrees (both pair sides + the point
    // count) — materialize once instead of re-running the read per
    // consumer
    val g = densifyGrid(spark, dir, metric, from, until)
      .where(col("value").isNotNull)
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("x", expr(s"(ts - $f) div $Step"))
      .select("x", "vm")
      .localCheckpoint()
    // broadcast the right pair side: it is O(render window) rows by the
    // single-metric face's contract, and without the hint Spark plans
    // the non-equi self-join as a CartesianProduct (the one node the
    // CartesianRailSpec registry rail forbids) instead of a
    // BroadcastNestedLoopJoin over the window-sized build
    val sl = g.select(col("x").as("xa"), col("vm").as("va"))
      .join(broadcast(g.select(col("x").as("xb"), col("vm").as("vb"))),
        col("xa") < col("xb"))
      .select(((col("vb") - col("va")).cast("double") /
        (col("xb") - col("xa")).cast("double") / lit(1e6)).as("slope"))
    // r18 opt: the pair count rides the same whole-partition window as
    // the slope rank instead of a 1-row aggregate + broadcast cross-join
    val med = sl
      .withColumn("r", row_number().over(Window.orderBy("slope")).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg((sum(
        when(col("m") % 2 === 1,
          when(col("r") === expr("(m + 1) div 2"), col("slope") * 2))
          .otherwise(when(col("r") === expr("m div 2") ||
            col("r") === expr("m div 2 + 1"), col("slope")))) / lit(2.0))
        .as("slope"),
        max("m").as("n_pairs"))
    val np = g.agg(count(lit(1)).as("n_points"))
    med.crossJoin(broadcast(np))
      .select(lit(metric).as("metric"), col("n_points"), col("n_pairs"),
        // floor-quantized display (round(x,6) is engine-specific at
        // half-boundaries, and dx=2 slope pairs produce exact halves)
        (floor(col("slope") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("slope_per_slot"))
  }

  /** [[seriesTheilSen]] over EVERY cataloged metric — the robust-trend
    * pairwise-slope median with the pair join keyed on metric (each
    * metric's O(w²) pairs build where its slots live), the slope-rank
    * window partitioned by metric, and the O(#metrics) count relations
    * broadcast-joined back. One summary row per metric. A separate
    * body, not a keyed one: the single face's non-equi self-join needs
    * its broadcast hint (CartesianRailSpec), this one is a metric
    * equi-join. */
  def seriesTheilSenMulti(spark: SparkSession, dir: String,
                          from: Long, until: Long): DataFrame = {
    val f = Kernel.align(from, Step)
    // localCheckpoint (eager: one extra job) — three consumers, one
    // materialization (the single face's argument, metric-keyed)
    val g = denseGridAll(spark, dir, from, until)
      .where(col("value").isNotNull)
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("x", expr(s"(ts - $f) div $Step"))
      .select("metric", "x", "vm")
      .localCheckpoint()
    val sl = g.select(col("metric"), col("x").as("xa"), col("vm").as("va"))
      .join(g.select(col("metric"), col("x").as("xb"), col("vm").as("vb")),
        Seq("metric"))
      .where(col("xa") < col("xb"))
      .select(col("metric"), ((col("vb") - col("va")).cast("double") /
        (col("xb") - col("xa")).cast("double") / lit(1e6)).as("slope"))
    // r18 opt: per-metric pair count as a window over the rank's own
    // partitioning instead of a rollup + broadcast join-back
    val med = sl
      .withColumn("r", row_number().over(
        Window.partitionBy("metric").orderBy("slope")).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("metric")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy("metric")
      .agg((sum(
        when(col("m") % 2 === 1,
          when(col("r") === expr("(m + 1) div 2"), col("slope") * 2))
          .otherwise(when(col("r") === expr("m div 2") ||
            col("r") === expr("m div 2 + 1"), col("slope")))) / lit(2.0))
        .as("slope"),
        max("m").as("n_pairs"))
    val np = g.groupBy("metric").agg(count(lit(1)).as("n_points"))
    med.join(broadcast(np), Seq("metric"))
      .select(col("metric"), col("n_points"), col("n_pairs"),
        (floor(col("slope") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("slope_per_slot"))
      .orderBy("metric")
  }

  /** Robust OUTLIER flagging via the modified z-score (Iglewicz–Hoaglin
    * 0.6745·(x−median)/MAD): each slot scored against the whole-window
    * EXACT median and median-absolute-deviation — the read that survives
    * the very outliers a mean/stddev baseline would absorb (complement
    * of [[seriesZscore]]).
    *
    * Parity discipline: both medians are exact order statistics kept in
    * DOUBLED integer micro-units (an even-count median is the sum of the
    * two middle values — never a float average), deviations are
    * `|2·vm − med2|` integers, and the score is ONE closing double
    * expression `0.6745·2·(2·vm − med2)/mad4`. Scale: O(output) — two
    * rank windows over the result-sized grid (the multi-metric contract
    * partitions them per metric), two O(1)-row broadcasts. */
  def seriesOutlierMad(spark: SparkSession, dir: String, metric: String,
                       from: Long, until: Long,
                       cutoff: Double = 3.5): DataFrame = {
    // r18 opt (guide §2.4): both exact medians are whole-partition
    // window picks over the single-partition grid — rank the column
    // (nulls last, so present ranks are unchanged), then take the
    // doubled middle (odd count) or the sum of the two middles (even)
    // as max(when(rank = k)) aggregates over the full frame. The former
    // shape (checkpoint + per-median rank window, count broadcast and
    // 1-row aggregate, cross-joined back — ~18 jobs per query) becomes
    // one window chain with zero extra exchanges; the integers and the
    // closing double expression are identical.
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    def med2Col(df: DataFrame, c: String, out: String): DataFrame = {
      val tagged = df.withColumn("r", row_number().over(
          Window.orderBy(col(c).asc_nulls_last, col("ts"))))
        .withColumn("n", count(col(c)).over(all))
      tagged.withColumn(out,
          when(col("n") % 2 === 1,
            max(when(col("r") === (col("n") + 1) / 2, col(c))).over(all) * 2)
            .otherwise(
              max(when(col("r") === col("n") / 2, col(c))).over(all) +
              max(when(col("r") === col("n") / 2 + 1, col(c))).over(all)))
        .drop("r", "n")
    }
    val devs = med2Col(
        densifyGrid(spark, dir, metric, from, until)
          .withColumn("vm",
            floor(col("value") * lit(1e6) + lit(0.5)).cast("long")),
        "vm", "med2")
      .withColumn("dev",
        when(col("vm").isNotNull, abs(col("vm") * 2 - col("med2"))))
    med2Col(devs, "dev", "mad4")
      .withColumn("z",
        when(col("vm").isNotNull && col("mad4") > 0, q6(
          lit(0.6745) * 2 * (col("vm") * 2 - col("med2")).cast("double") /
            col("mad4"))))
      .select(col("ts"), col("value"), col("z"),
        when(col("z").isNotNull, abs(col("z")) > lit(cutoff)).as("outlier"))
      .orderBy("ts")
  }

  /** [[seriesOutlierMad]] over EVERY cataloged metric — the modified
    * z-score gate with BOTH median passes run as per-metric rank
    * windows and the medians/counts joined back as O(#metrics)
    * broadcast relations (the single face's 1-row cross joins,
    * metric-keyed): exact doubled-integer median/MAD order statistics,
    * one closing double expression per slot. A separate body, not a
    * keyed one: this face drops all-gap metrics (`npres > 0`), the
    * single face keeps an all-gap window's rows. */
  def seriesOutlierMadMulti(spark: SparkSession, dir: String,
                            from: Long, until: Long,
                            cutoff: Double = 3.5): DataFrame = {
    // r18 opt: the single face's window-pick medians, partitioned by
    // metric — one exchange establishes hash(metric) and every rank /
    // whole-frame pick chains on it; the former checkpoint + two
    // (rank + count-broadcast + rollup + join-back) median round-trips
    // are gone. An all-gap metric keeps n = 0 and is dropped by the
    // closing filter — exactly the rows the former INNER med join
    // dropped.
    val all = Window.partitionBy("metric")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def med2Col(df: DataFrame, c: String, out: String): DataFrame =
      df.withColumn("r", row_number().over(Window.partitionBy("metric")
          .orderBy(col(c).asc_nulls_last, col("ts"))))
        .withColumn("n", count(col(c)).over(all))
        .withColumn(out,
          when(col("n") % 2 === 1,
            max(when(col("r") === (col("n") + 1) / 2, col(c))).over(all) * 2)
            .otherwise(
              max(when(col("r") === col("n") / 2, col(c))).over(all) +
              max(when(col("r") === col("n") / 2 + 1, col(c))).over(all)))
        .drop("r")
    val devs = med2Col(
        denseGridAll(spark, dir, from, until)
          .withColumn("vm",
            floor(col("value") * lit(1e6) + lit(0.5)).cast("long")),
        "vm", "med2")
      .withColumn("npres", col("n"))
      .withColumn("dev",
        when(col("vm").isNotNull, abs(col("vm") * 2 - col("med2"))))
    med2Col(devs.drop("n"), "dev", "mad4")
      .where(col("npres") > 0)
      .withColumn("z",
        when(col("vm").isNotNull && col("mad4") > 0, q6(
          lit(0.6745) * 2 * (col("vm") * 2 - col("med2")).cast("double") /
            col("mad4"))))
      .select(col("metric"), col("ts"), col("value"), col("z"),
        when(col("z").isNotNull, abs(col("z")) > lit(cutoff)).as("outlier"))
      .orderBy("metric", "ts")
  }

  // ————————————— graphite functions, round-12 wave —————————————

  /** `movingSum` / `movingMin` / `movingMax` (graphite-web
    * render/functions.py) in ONE trailing-window read: per grid slot,
    * the sum, min and max of the current + previous `window − 1` slots'
    * non-gap values. Sum parity via exact micro-unit integer window sums
    * (the moving_avg contract — order-independent at any frame
    * evaluation strategy); min/max are order-free by nature. Scale:
    * O(output) window over the densified grid, partitioned per metric in
    * the multi-metric composition. */
  def seriesMovingSum(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long, window: Int = 6): DataFrame =
    movingSumOf(densifyGrid(spark, dir, metric, from, until), Nil, window)

  /** [[seriesMovingSum]] over every cataloged metric. */
  def seriesMovingSumMulti(spark: SparkSession, dir: String,
                           from: Long, until: Long,
                           window: Int = 6): DataFrame =
    movingSumOf(denseGridAll(spark, dir, from, until), ByMetric, window)

  private def movingSumOf(grid: DataFrame, by: Seq[String],
                          window: Int): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-(window - 1), 0)
    grid
      .withColumn("vm",
        floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
      .select(keyed(by, col("ts"), col("value"),
        q6(sum("vm").over(w) / lit(1e6)).as("msum"),
        min("value").over(w).as("mmin"),
        max("value").over(w).as("mmax")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `logarithm(series, base=10)` (graphite-web): pointwise log, null
    * where the value is not strictly positive (graphite emits None
    * there). One IEEE op per slot, rounded for display on both
    * engines. */
  def seriesLog(spark: SparkSession, dir: String, metric: String,
                from: Long, until: Long): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        when(col("value") > 0, q6(log10(col("value")))).as("log10"))
      .orderBy("ts")

  /** The pointwise transform family — `absolute` / `offset` / `scale` /
    * `invert` (graphite-web render/functions.py) — in one read: each is
    * a single IEEE op per slot, so one grid scan serves all four
    * overlay columns (invert nulls at 0, graphite's safeDiv). */
  def seriesAbsolute(spark: SparkSession, dir: String, metric: String,
                     from: Long, until: Long, offsetBy: Double = 10.0,
                     scaleBy: Double = 2.0): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        abs(col("value")).as("abs"),
        q6(col("value") + lit(offsetBy)).as("offset"),
        q6(col("value") * lit(scaleBy)).as("scaled"),
        when(col("value") =!= 0.0,
          q6(lit(1.0) / col("value"))).as("inverted"))
      .orderBy("ts")

  /** `minMax` normalization (graphite-web): (v − min)/(max − min) over
    * the read window, 0 for a constant series (graphite's zero-range
    * branch). The min/max run as an unpartitioned window over the
    * RESULT-sized grid — O(window slots) rows, never the store — and
    * the normalization is one fixed IEEE sequence on identical doubles
    * in both engines. */
  def seriesMinMax(spark: SparkSession, dir: String, metric: String,
                   from: Long, until: Long): DataFrame =
    minMaxOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesMinMax]] over every cataloged metric. */
  def seriesMinMaxMulti(spark: SparkSession, dir: String,
                        from: Long, until: Long): DataFrame =
    minMaxOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def minMaxOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    val w = keyWindow(by)
    grid
      .withColumn("mn", min("value").over(w))
      .withColumn("mx", max("value").over(w))
      .select(keyed(by, col("ts"), col("value"),
        when(col("value").isNotNull,
          when(col("mx") > col("mn"),
            q6((col("value") - col("mn")) / (col("mx") - col("mn"))))
            .otherwise(lit(0.0))).as("norm")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** The window's interpolated `p`-quantile of one series' non-gap
    * values as a 1-row relation — the shared core of [[seriesNPercentile]]
    * and [[seriesRemoveAbovePercentile]]: rank the present values (ties
    * broken by ts — the quantile value is tie-order-independent), take
    * the linear interpolation between the floor/ceil ranks of
    * h = p·(n−1). The same definition as the registered
    * `series_percentiles` core, inlined for a single group. */
  /** r18 opt (guide §2.4): the former 1-row relation (rank window +
    * count broadcast + rank-filter aggregate, then broadcast-joined
    * back onto the grid — four extra plan stages per face) is now a
    * COLUMN over the grid itself: the grid arrives single-partition
    * from [[densifyGrid]]'s packed-map explode, so one ordered
    * row_number pass and whole-partition max(when(rank = k)) picks
    * compute the identical interpolation with zero additional
    * exchanges and no checkpoint. Nulls rank after every present value,
    * so present ranks are unchanged; an all-gap window leaves both
    * picks null and the line null — the old LEFT-join semantics. */
  private def withPline(grid: DataFrame, p: Double): DataFrame = {
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("rn",
        row_number().over(
          Window.orderBy(col("value").asc_nulls_last, col("ts"))) - 1)
      .withColumn("n", count(col("value")).over(all))
      .withColumn("h", lit(p) * (col("n") - 1))
      .withColumn("lo", floor(col("h")).cast("long"))
      .withColumn("hi", ceil(col("h")).cast("long"))
      .withColumn("vlo",
        max(when(col("rn") === col("lo"), col("value"))).over(all))
      .withColumn("vhi",
        max(when(col("rn") === col("hi"), col("value"))).over(all))
      .withColumn("pline", q6(col("vlo") +
        (col("vhi") - col("vlo")) * (col("h") - col("lo").cast("double"))))
  }

  /** `nPercentile(series, p)` (graphite-web): the flat percentile line
    * graphite overlays on a panel — every grid slot carries the
    * window's interpolated p-quantile. Scale: one result-sized rank
    * window + a 1-row broadcast onto the grid. The overlay is a LEFT
    * join (r12 ADVICE): an all-gap window keeps its dense timeline with
    * a null pline — graphite's None semantics, consistent with the
    * sibling grid ops (seriesMinMax, seriesLog) — instead of the cross
    * join's empty result. */
  def seriesNPercentile(spark: SparkSession, dir: String, metric: String,
                        from: Long, until: Long,
                        p: Double = 0.95): DataFrame =
    withPline(densifyGrid(spark, dir, metric, from, until), p)
      .select(col("ts"), col("value"), col("pline"))
      .orderBy("ts")

  /** `removeAbovePercentile(series, p)` (graphite-web): slots above the
    * window's interpolated p-quantile are nulled (graphite emits None),
    * the threshold itself reported alongside. Same machinery (and same
    * left-join empty-window contract) as [[seriesNPercentile]]. */
  def seriesRemoveAbovePercentile(spark: SparkSession, dir: String,
                                  metric: String, from: Long, until: Long,
                                  p: Double = 0.9): DataFrame =
    withPline(densifyGrid(spark, dir, metric, from, until), p)
      .select(col("ts"), col("value"), col("pline"),
        when(col("value") <= col("pline"), col("value")).as("kept"))
      .orderBy("ts")

  /** `removeBelowPercentile(series, p)` (graphite-web): the exact dual
    * of [[seriesRemoveAbovePercentile]] — slots BELOW the window's
    * interpolated p-quantile are nulled, keeping only the top of the
    * distribution (the "show me just the spikes" read). Same
    * percentile machinery, same left-join empty-window contract, the
    * comparison flipped. */
  def seriesRemoveBelowPercentile(spark: SparkSession, dir: String,
                                  metric: String, from: Long, until: Long,
                                  p: Double = 0.1): DataFrame =
    withPline(densifyGrid(spark, dir, metric, from, until), p)
      .select(col("ts"), col("value"), col("pline"),
        when(col("value") >= col("pline"), col("value")).as("kept"))
      .orderBy("ts")

  /** `aggregateLine(series, func)` (graphite-web): the flat overlay
    * lines at the window's average/min/max — the constant-reference
    * sibling of [[seriesNPercentile]], all three emitted from ONE 1-row
    * aggregate broadcast onto the grid. The mean runs in exact
    * micro-unit integers (the top_metrics contract); min/max are exact
    * doubles. */
  def seriesAggregateLine(spark: SparkSession, dir: String, metric: String,
                          from: Long, until: Long): DataFrame = {
    // r18 opt: the three overlay scalars ride whole-partition window
    // aggregates over the single-partition grid — the former eager
    // checkpoint + 1-row aggregate + broadcast cross-join (three extra
    // jobs per query) collapse into the grid's own pass
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    densifyGrid(spark, dir, metric, from, until)
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .select(col("ts"), col("value"),
        q6(sum("vm").over(all).cast("double") /
          count("vm").over(all) / lit(1e6)).as("avg_line"),
        min("value").over(all).as("min_line"),
        max("value").over(all).as("max_line"))
      .orderBy("ts")
  }

  /** `changed(series)` (graphite-web): 1 where the slot's value differs
    * from the previous slot's, else 0 — gaps and series starts emit 0
    * (graphite's None handling). One lag window over the dense grid. */
  def seriesChanged(spark: SparkSession, dir: String, metric: String,
                    from: Long, until: Long): DataFrame =
    changedOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesChanged]] over every cataloged metric. */
  def seriesChangedMulti(spark: SparkSession, dir: String,
                         from: Long, until: Long): DataFrame =
    changedOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def changedOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    val w = keyWindow(by).orderBy("ts")
    grid
      .withColumn("prev", lag("value", 1).over(w))
      .select(keyed(by, col("ts"), col("value"),
        when(col("value").isNotNull && col("prev").isNotNull &&
          col("value") =!= col("prev"), 1L).otherwise(0L).as("changed")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `multiplySeries(a, b)` (graphite-web): the slot-wise product of two
    * metrics' dense grids — [[seriesDivide]]'s join shape with a product
    * instead of a guarded ratio. */
  def seriesMultiply(spark: SparkSession, dir: String, a: String,
                     b: String, from: Long, until: Long): DataFrame = {
    val av = densifyGrid(spark, dir, a, from, until)
      .select(col("ts"), col("value").as("a_value"))
    val bv = densifyGrid(spark, dir, b, from, until)
      .select(col("ts"), col("value").as("b_value"))
    av.join(bv, Seq("ts"))
      .select(col("ts"), col("a_value"), col("b_value"),
        q6(col("a_value") * col("b_value")).as("product"))
      .orderBy("ts")
  }

  /** `movingMin` + `movingMax` (graphite-web) in one read: per grid
    * slot, the min and max of the non-gap values in the trailing
    * `points`-slot window (current inclusive); null where the whole
    * window is gaps. No arithmetic beyond comparison — extremes of
    * identical doubles are bit-stable in any engine, no quantization
    * needed. Scale: the O(output) densified-grid window contract of the
    * sibling transforms. */
  def seriesMovingMinmax(spark: SparkSession, dir: String, metric: String,
                         from: Long, until: Long,
                         points: Int = 6): DataFrame =
    movingMinmaxOf(densifyGrid(spark, dir, metric, from, until), Nil, points)

  /** [[seriesMovingMinmax]] over every cataloged metric. */
  def seriesMovingMinmaxMulti(spark: SparkSession, dir: String,
                              from: Long, until: Long,
                              points: Int = 6): DataFrame =
    movingMinmaxOf(denseGridAll(spark, dir, from, until), ByMetric, points)

  private def movingMinmaxOf(grid: DataFrame, by: Seq[String],
                             points: Int): DataFrame = {
    val w = keyWindow(by).orderBy("ts").rowsBetween(-(points - 1), 0)
    grid
      .withColumn("mv_min", min("value").over(w))
      .withColumn("mv_max", max("value").over(w))
      .select(keyed(by, col("ts"), col("value"), col("mv_min"),
        col("mv_max")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `diffSeries(a, b)` analog (graphite-web): A − B per grid slot, null
    * where either side is a gap (graphite's None propagation) — the
    * [[seriesDivide]] sibling for the error = observed − expected
    * dashboard read. Single IEEE subtraction on identical doubles —
    * deterministic, no rounding. */
  def seriesDiff(spark: SparkSession, dir: String, metricA: String,
                 metricB: String, from: Long, until: Long): DataFrame = {
    val a = densifyGrid(spark, dir, metricA, from, until)
      .select(col("ts"), col("value").as("a_value"))
    val b = densifyGrid(spark, dir, metricB, from, until)
      .select(col("ts"), col("value").as("b_value"))
    a.join(b, Seq("ts"))
      .select(col("ts"), col("a_value"), col("b_value"),
        (col("a_value") - col("b_value")).as("diff"))
      .orderBy("ts")
  }

  /** `rangeOfSeries` + `countSeries` (graphite-web) in one read: per
    * grid slot, how many series report a value and the min/max/range
    * across them. One (ts)-keyed rollup over the window scan, padded
    * onto the dense slot grid (0 series → null range, like graphite's
    * None). */
  def seriesRangeOfSeries(spark: SparkSession, dir: String,
                          from: Long, until: Long): DataFrame = {
    val agg = windowPoints(spark, dir, from, until)
      .groupBy("ts")
      .agg(count(lit(1)).as("n_series"),
        min("value").as("v_min"), max("value").as("v_max"))
    slotGrid(spark, from, until)
      .join(agg, Seq("ts"), "left")
      .select(col("ts"), coalesce(col("n_series"), lit(0L)).as("n_series"),
        col("v_min"), col("v_max"),
        q6(col("v_max") - col("v_min")).as("range"))
      .orderBy("ts")
  }

  /** `stddevSeries(seriesList)` (graphite-web): the cross-series
    * pointwise population standard deviation — per grid slot, σ over the
    * values every live series reports at that slot (the "how much do my
    * replicas disagree" overlay, the second-moment sibling of
    * [[seriesRangeOfSeries]]'s min/max). Slots where no series reports
    * keep their grid row with null stats; a single-series slot reports
    * σ = 0 (population form, graphite's semantics).
    *
    * Parity: the three moment sums run over exact integer MILLI-units
    * per slot (the `series_most_deviant` defense — micro-unit squares
    * would overflow a long), then σ = √(n·s2 − s1²)/n is one fixed
    * closing IEEE sequence both engines replicate. Scale: one
    * (ts)-keyed map-side-combinable rollup over the pruned window scan,
    * padded onto the dense slot grid — O(#slots) output, no window
    * function, no shuffle beyond the one rollup. */
  def seriesStddevSeries(spark: SparkSession, dir: String,
                         from: Long, until: Long): DataFrame = {
    val agg = windowPoints(spark, dir, from, until)
      .withColumn("km", floor(col("value") * lit(1e3) + lit(0.5)).cast("long"))
      .groupBy("ts")
      .agg(count(lit(1)).as("n_series"), sum("km").as("s1"),
        sum(col("km") * col("km")).as("s2"))
      .withColumn("mean",
        q6(col("s1").cast("double") / col("n_series") / lit(1e3)))
      .withColumn("sd",
        q6(sqrt((col("n_series") * col("s2") - col("s1") * col("s1"))
          .cast("double")) / col("n_series") / lit(1e3)))
    slotGrid(spark, from, until)
      .join(agg, Seq("ts"), "left")
      .select(col("ts"), coalesce(col("n_series"), lit(0L)).as("n_series"),
        col("mean"), col("sd"))
      .orderBy("ts")
  }

  /** `summarize(series, interval)` with graphite's DEFAULT alignment
    * (`alignToFrom=False`): buckets anchor at epoch MULTIPLES of the
    * interval, not at the query-window start — the semantic sibling
    * [[seriesSummarize]] deliberately does not cover (it anchors at the
    * aligned window start, graphite's `alignToFrom=True`). With an
    * interval that does not divide the window start the two produce
    * different buckets, which is exactly the trap this face pins: the
    * leading/trailing buckets are PARTIAL (graphite emits them), so the
    * first bucket's `ts` can precede `from`.
    *
    * Scale/parity: identical to [[seriesSummarize]] — result-sized grid
    * input, map-side-combinable rollup, micro-unit integer sums. */
  def seriesSummarizeAligned(spark: SparkSession, dir: String,
                             metric: String, from: Long, until: Long,
                             bucket: Long = 10000): DataFrame = {
    densifyGrid(spark, dir, metric, from, until)
      .withColumn("bts", col("ts") - pmod(col("ts"), lit(bucket)))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .groupBy(col("bts").as("ts"))
      .agg(count(col("vm")).as("n_slots"),
           (sum("vm").cast("double") / lit(1e6)).as("v_sum"),
           (sum("vm").cast("double") / count("vm") / lit(1e6)).as("v_avg"),
           min("value").as("v_min"),
           max("value").as("v_max"))
      .orderBy("ts")
  }

  /** `transformNull(series, default)` + `isNonNull(series)` (graphite-web)
    * in one read: the dense grid with gaps replaced by `default` in the
    * `filled` column and the per-slot known flag — the gap-handling pair
    * every dashboard math expression starts with (graphite users wrap
    * nearly every sparse counter in transformNull before arithmetic).
    * `value` stays as-read so the face shows exactly which slots were
    * synthesized. No arithmetic — values are copied or replaced by a
    * literal, deterministic in any engine. Scale: a projection over the
    * result-sized densified grid, the O(output) read-path contract. */
  def seriesTransformNull(spark: SparkSession, dir: String, metric: String,
                          from: Long, until: Long,
                          default: Double = 0.0): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        coalesce(col("value"), lit(default)).as("filled"),
        col("value").isNotNull.as("known"))
      .orderBy("ts")

  /** `removeBelowValue(series, n)` (graphite-web): values under the
    * threshold become gaps, the timeline stays dense (graphite nulls the
    * datapoint, it never drops the slot) — the floor-gate used to mask
    * idle noise out of rate graphs. `value` stays as-read next to the
    * gated column so the face shows what was removed. Comparison on
    * identical doubles — deterministic, no rounding. Scale: a
    * projection over the result-sized densified grid. */
  def seriesRemoveBelowValue(spark: SparkSession, dir: String,
                             metric: String, from: Long, until: Long,
                             threshold: Double): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        when(col("value") >= threshold, col("value")).as("gated"))
      .orderBy("ts")

  /** `perSecond(series, maxValue)` (graphite-web): the counter-to-rate
    * read WITH wrap recovery — where [[seriesDerivative]]'s
    * `nonNegativeDerivative` column nulls a negative delta (counter
    * reset), perSecond treats it as a wrap of a `maxValue`-capped
    * counter and recovers the true rate as
    * `(maxValue − prev + value + 1) / step` when `maxValue ≥ prev`
    * (graphite's exact `_nonNegativeDelta`: any sample with
    * `value > maxValue` is nulled outright, and the wrap branch
    * requires the PREVIOUS sample to fit under the cap; still null
    * when the cap can't explain the drop or either endpoint is a
    * gap) — the SNMP ifOctets read.
    *
    * Parity: the wrap arithmetic is one fixed IEEE sequence on
    * identical doubles — no accumulation, no rounding needed. Scale:
    * O(output) window over the result-sized densified grid (the
    * [[seriesDerivative]] contract). */
  def seriesPerSecond(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long,
                      maxValue: Double = 1000.0): DataFrame =
    perSecondOf(densifyGrid(spark, dir, metric, from, until), Nil, maxValue)

  /** [[seriesPerSecond]] over every cataloged metric. */
  def seriesPerSecondMulti(spark: SparkSession, dir: String,
                           from: Long, until: Long,
                           maxValue: Double = 1000.0): DataFrame =
    perSecondOf(denseGridAll(spark, dir, from, until), ByMetric, maxValue)

  private def perSecondOf(grid: DataFrame, by: Seq[String],
                          maxValue: Double): DataFrame = {
    val w = keyWindow(by).orderBy("ts")
    grid
      .withColumn("prev", lag("value", 1).over(w))
      .select(keyed(by, col("ts"), col("value"),
        when(col("value") > lit(maxValue), lit(null).cast("double"))
        .when(col("value") - col("prev") >= 0,
          (col("value") - col("prev")) / lit(Step.toDouble))
        .when(lit(maxValue) >= col("prev"),
          (lit(maxValue) - col("prev") + col("value") + lit(1.0))
            / lit(Step.toDouble))
        .as("rate_per_s")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `nonNegativeDerivative(series)` (graphite-web, default
    * maxValue=None): the slot-to-slot delta with NEGATIVE deltas nulled
    * — graphite's counter-reset read when no wrap cap is known (the
    * capped/wrapping variant, divided to a rate, is
    * [[seriesPerSecond]]; the signed delta is [[seriesDerivative]]).
    * Null when either endpoint is a gap or the counter went backwards.
    *
    * Parity: one IEEE subtraction on identical doubles and a sign
    * comparison — no accumulation, no rounding needed. Scale:
    * O(output) lag window over the result-sized densified grid. */
  def seriesNonNegativeDerivative(spark: SparkSession, dir: String,
                                  metric: String, from: Long,
                                  until: Long): DataFrame = {
    val w = Window.orderBy("ts")
    densifyGrid(spark, dir, metric, from, until)
      .withColumn("prev", lag("value", 1).over(w))
      .select(col("ts"), col("value"),
        when(col("value") - col("prev") >= 0,
          col("value") - col("prev")).as("nn_delta"))
      .orderBy("ts")
  }

  /** `delay(series, steps)` (graphite-web): every value shifted
    * `steps` grid slots later — the align-to-lagged-copy primitive
    * under "compare to N hours ago" overlays (the slot-domain sibling
    * of [[seriesTimeShift]], which shifts in the TIME domain by
    * re-reading an earlier window; delay shifts in the SLOT domain with
    * no second read, so the first `steps` slots are null). Values are
    * copied, never computed — deterministic in any engine. Scale:
    * O(output) window over the result-sized densified grid. */
  def seriesDelay(spark: SparkSession, dir: String, metric: String,
                  from: Long, until: Long, steps: Int = 3): DataFrame =
    delayOf(densifyGrid(spark, dir, metric, from, until), Nil, steps)

  /** [[seriesDelay]] over every cataloged metric. */
  def seriesDelayMulti(spark: SparkSession, dir: String,
                       from: Long, until: Long, steps: Int = 3): DataFrame =
    delayOf(denseGridAll(spark, dir, from, until), ByMetric, steps)

  private def delayOf(grid: DataFrame, by: Seq[String],
                      steps: Int): DataFrame =
    grid
      .select(keyed(by, col("ts"), col("value"),
        lag("value", steps).over(keyWindow(by).orderBy("ts"))
          .as("delayed")): _*)
      .orderBy(keyed(by, col("ts")): _*)

  /** `offsetToZero(series)` (graphite-web): subtract the in-window
    * minimum from every point, so the series baseline sits at zero —
    * the "show me variation, not absolute level" normalizer. The min is
    * comparison-only (bit-stable across engines) and the subtraction a
    * single IEEE op on identical doubles — no rounding needed.
    *
    * Scale: the whole-range min runs as an unbounded window frame over
    * the RESULT-SIZED densified grid (the O(output) read-path
    * contract) — Spark evaluates it as one pass, never a per-row
    * rescan; no second read of the store. */
  def seriesOffsetToZero(spark: SparkSession, dir: String, metric: String,
                         from: Long, until: Long): DataFrame =
    offsetToZeroOf(densifyGrid(spark, dir, metric, from, until), Nil)

  /** [[seriesOffsetToZero]] over every cataloged metric. */
  def seriesOffsetToZeroMulti(spark: SparkSession, dir: String,
                              from: Long, until: Long): DataFrame =
    offsetToZeroOf(denseGridAll(spark, dir, from, until), ByMetric)

  private def offsetToZeroOf(grid: DataFrame, by: Seq[String]): DataFrame = {
    val w = keyWindow(by).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .select(keyed(by, col("ts"), col("value"),
        (col("value") - min("value").over(w)).as("zeroed")): _*)
      .orderBy(keyed(by, col("ts")): _*)
  }

  /** `countSeries(seriesList)` (graphite-web): ONE output series whose
    * value at each grid slot is the number of series reporting a
    * non-null value there — the "how many replicas are alive" denominator
    * under averageSeries-vs-sumSeries sanity panels. On the sparse
    * compacted point table a present row IS a non-null slot, so the
    * count is a per-ts rollup (map-side combinable, no metadata join),
    * left-joined onto the window grid with empty slots reading 0 —
    * graphite emits 0, not null, when every series gaps. Counting is
    * arithmetic-free: deterministic in any engine. Scale: O(scan) rollup
    * keyed on ts, O(#slots) output. */
  def seriesCount(spark: SparkSession, dir: String,
                  from: Long, until: Long): DataFrame = {
    val counts = windowPoints(spark, dir, from, until)
      .groupBy("ts")
      .agg(count(lit(1)).as("n_series"))
    slotGrid(spark, from, until)
      .join(counts, Seq("ts"), "left")
      .select(col("ts"), coalesce(col("n_series"), lit(0L)).as("n_series"))
      .orderBy("ts")
  }

  /** `isNonNull(series)` (graphite-web): the dense window grid with a
    * 1/0 flag per slot — the gap-visualizer under "was the collector
    * even reporting" panels (graphite draws the flag as a step line).
    * Values are copied, the flag is a null test: no arithmetic, exact
    * in any engine. Scale: O(output) projection over the result-sized
    * densified grid. */
  def seriesIsNonNull(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        when(col("value").isNotNull, 1L).otherwise(0L).as("nonnull"))
      .orderBy("ts")

  /** `limit(seriesList, n)` (graphite-web, with `sortByName`'s order):
    * the first n metrics of the glob in NAME order, each emitting its
    * full window grid — graphite's limit takes the first n of the list,
    * and a find()-produced list is name-sorted (ceres.py find walks
    * sorted directories), so limit-after-sortByName is the semantics a
    * dashboard actually gets. The rank runs over the O(#metrics)
    * metadata only; survivors ride the same [[fetchForMetrics]] read
    * core as every selection face. */
  def seriesLimit(spark: SparkSession, dir: String,
                  from: Long, until: Long, n: Int = 2): DataFrame = {
    val kept = Catalog.metricsMeta(spark)
      .withColumn("rnk", row_number().over(Window.orderBy("metric")))
      .where(col("rnk") <= n)
      .select("metric")
    selected(spark, dir, kept, from, until)
  }

  /** `aliasByNode(seriesList, n)` (graphite-web): every series renamed
    * to the n-th dot-segment of its path, values untouched — the legend
    * shortener on every wildcard panel (`app.*.requests` → the `*`).
    * Unlike [[seriesGroupByNode]] nothing is aggregated: collisions are
    * graphite's caller problem (the catalog's node-1 segments are
    * unique). The rename is a codegen string split over the shared
    * [[denseGridAll]] grid — O(output), no shuffle beyond the grid's
    * own. */
  def seriesAliasByNode(spark: SparkSession, dir: String, nodeIdx: Int,
                        from: Long, until: Long): DataFrame =
    denseGridAll(spark, dir, from, until)
      .select(element_at(split(col("metric"), "\\."), nodeIdx + 1)
        .as("alias"), col("ts"), col("value"))
      .orderBy("alias", "ts")

  /** `aliasSub(seriesList, searchRegex, replaceString)` (graphite-web
    * functions.py): regex-rewrite every series' display name with
    * capture-group backreferences; the data is untouched. The
    * replacement uses Spark's `$n` backref syntax — callers port
    * graphite's `\\n` refs mechanically (the DuckDB oracle keeps `\\n`,
    * pinning that both engines capture identically).
    * Scale: a metadata-width codegen'd regexp projection over the
    * shared multi-metric dense grid — O(output), no extra shuffle. */
  def seriesAliasSub(spark: SparkSession, dir: String, search: String,
                     replace: String, from: Long, until: Long): DataFrame =
    denseGridAll(spark, dir, from, until)
      .select(regexp_replace(col("metric"), lit(search), lit(replace))
        .as("alias"), col("ts"), col("value"))
      .orderBy("alias", "ts")

  /** `smartSummarize(seriesList, interval, func)` (graphite-web): coarse
    * re-bucketing like [[seriesSummarize]], but buckets anchor at the
    * RAW request `from` (graphite's smart/summarize distinction —
    * `summarize` floor-aligns buckets to the epoch/step grid, losing up
    * to a bucket of the requested range) and the aggregate is the ONE
    * requested function rather than the full readout. The five methods
    * are the reference's aggregation set (`ceres.py` `aggregate`
    * ≈L930): sum/average in exact integer micro-units, min/max
    * order-free, last = max_by over non-null slots.
    * Scale: one map-side-combinable (bucket) rollup — no window. */
  def seriesSmartSummarize(spark: SparkSession, dir: String, metric: String,
                           from: Long, until: Long, bucket: Long = 14400,
                           func: String = "average"): DataFrame = {
    val grid = densifyGrid(spark, dir, metric, from, until)
      .withColumn("bts", col("ts") - pmod(col("ts") - lit(from), lit(bucket)))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
    grid
      .groupBy(col("bts").as("ts"))
      .agg(count(col("vm")).as("n_slots"), consolidationAgg(func).as("v"))
      .orderBy("ts")
  }

  /** Shared per-bucket aggregate dispatch for the graphite consolidation
    * faces ([[seriesSmartSummarize]], [[seriesConsolidateBy]]): the
    * reference's five methods (`ceres.py` `aggregate` ≈L930) over a grid
    * slice — sum/average in exact integer micro-units, min/max
    * order-free, last = `max_by` over non-null slots. */
  private def consolidationAgg(func: String): Column = {
    require(Kernel.ValidAggregationMethods.contains(func),
      s"Unknown aggregation method: $func")
    func match {
      case "sum" => sum("vm").cast("double") / lit(1e6)
      case "average" => sum("vm").cast("double") / count("vm") / lit(1e6)
      case "min" => min("value")
      case "max" => max("value")
      case "last" =>
        max_by(col("value"), when(col("value").isNotNull, col("ts")))
    }
  }

  /** `consolidateBy(seriesList, func)` (graphite-web): pick WHICH
    * consolidation function the renderer applies when a window holds
    * more slots than the pixel budget. The engine analog makes the
    * budget explicit: the grid re-buckets to ≤ `maxPoints` output rows —
    * bucket width `ceil(slots / maxPoints)` steps, pure metadata
    * arithmetic, no data-dependent driver work — aggregated by the
    * chosen function. `summarize` re-buckets to a requested INTERVAL;
    * consolidateBy re-buckets to a requested POINT BUDGET.
    * Scale: one map-side-combinable (bucket) rollup, no window. */
  def seriesConsolidateBy(spark: SparkSession, dir: String, metric: String,
                          from: Long, until: Long, maxPoints: Int = 60,
                          func: String = "max"): DataFrame = {
    require(maxPoints >= 1, s"maxPoints must be positive: $maxPoints")
    val (f, u) = aligned(from, until)
    val slots = (u - f) / Step
    val bucket = ((slots + maxPoints - 1) / maxPoints) * Step
    densifyGrid(spark, dir, metric, from, until)
      .withColumn("bts", col("ts") - pmod(col("ts") - lit(f), lit(bucket)))
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)))
      .groupBy(col("bts").as("ts"))
      .agg(count(col("vm")).as("n_slots"), consolidationAgg(func).as("v"))
      .orderBy("ts")
  }

  /** `movingWindow(seriesList, windowSize, func)` (graphite-web): the
    * GENERIC entry point over the named trailing-window cores — pure
    * API-surface dispatch, so a graphite caller ports
    * `movingWindow(s, 6, 'median')` mechanically instead of learning
    * the engine's per-function names. Every branch IS the registered,
    * hash-oracled face it names (`series_moving_average` /
    * `series_moving_sum` / `series_moving_median` /
    * `series_moving_minmax`), each with its documented schema; no
    * second implementation exists to drift. */
  def seriesMovingWindow(spark: SparkSession, dir: String, metric: String,
                         from: Long, until: Long, window: Int = 6,
                         func: String = "median"): DataFrame = func match {
    case "average" =>
      seriesMovingAvg(spark, dir, metric, from, until, window)
    case "sum" => seriesMovingSum(spark, dir, metric, from, until, window)
    case "median" =>
      seriesMovingMedian(spark, dir, metric, from, until, window)
    case "min" | "max" =>
      seriesMovingMinmax(spark, dir, metric, from, until, window)
    case other =>
      throw new IllegalArgumentException(
        s"Unknown movingWindow function: $other")
  }

  /** `fallbackSeries(seriesList, fallback)` (graphite-web): if the
    * primary glob matches NO metric, serve the fallback glob's series
    * instead — the "draw the aggregate when the per-host metric is gone"
    * guard. The one driver-side decision is graphite's own (is the list
    * empty?), taken on an O(metadata) `limit(1)` existence probe —
    * nothing corpus-sized reaches the driver; whichever side wins rides
    * the shared [[fetchForMetrics]] read core. */
  def seriesFallback(spark: SparkSession, dir: String,
                     primaryGlob: String, fallbackGlob: String,
                     from: Long, until: Long): DataFrame = {
    val meta = Catalog.metricsMeta(spark)
    val primary = meta
      .where(col("metric").rlike(Kernel.globToRegex(primaryGlob)))
      .select("metric")
    val kept =
      if (!primary.limit(1).isEmpty) primary
      else meta
        .where(col("metric").rlike(Kernel.globToRegex(fallbackGlob)))
        .select("metric")
    selected(spark, dir, kept, from, until)
  }

  /** `timeStack(series, '1d', 0, k)` (graphite-web): the series overlaid
    * with its own 1-day-shifted copies — shift 0 is today, shift s the
    * value from s days earlier at the same grid slot (the day-over-day
    * comparison read under every "vs yesterday / last week" panel).
    * One output row per (shift, slot); a shift whose source point is a
    * gap (or before the store's history) keeps its row with null value.
    *
    * Scale: ONE pruned scan covering [from − k·86400, until) — never k
    * separate reads — joined to the (O(k) broadcast) shift list × dense
    * grid on the shifted slot key; values are copied, never computed. */
  def seriesTimeStack(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long, shifts: Int = 3): DataFrame = {
    val (f, u) = aligned(from, until)
    val pts = Catalog.pointsCached(spark, dir)
      .where(col("metric") === metric &&
        col("ts") >= f - shifts * 86400L && col("ts") < u)
      .select(col("ts").as("src_ts"), col("value"))
    spark.range(0, shifts + 1, 1).toDF("shift_days")
      .crossJoin(slotGrid(spark, from, until))
      .withColumn("src_ts", col("ts") - col("shift_days") * lit(86400L))
      .join(pts, Seq("src_ts"), "left")
      .select(col("shift_days"), col("ts"), col("value"))
      .orderBy("shift_days", "ts")
  }

  /** `removeAboveValue(series, n)` (graphite-web): the ceiling dual of
    * [[seriesRemoveBelowValue]] — values OVER the threshold become gaps
    * (spike suppression before aggregation), the timeline stays dense.
    * Comparison on identical doubles, no rounding; O(output) projection
    * over the densified grid. */
  def seriesRemoveAboveValue(spark: SparkSession, dir: String,
                             metric: String, from: Long, until: Long,
                             threshold: Double): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        when(col("value") <= threshold, col("value")).as("gated"))
      .orderBy("ts")

  /** `timeSlice(series, start, end)` (graphite-web): values outside the
    * inner [sliceFrom, sliceUntil) range become gaps but every grid row
    * of the OUTER window survives (graphite nulls the points, the
    * timeline stays dense) — the "only show business hours" mask.
    * Values copied, comparisons on the integer slot key — deterministic
    * in any engine; O(output) projection over the densified grid. */
  def seriesTimeSlice(spark: SparkSession, dir: String, metric: String,
                      from: Long, until: Long,
                      sliceFrom: Long, sliceUntil: Long): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        when(col("ts") >= sliceFrom && col("ts") < sliceUntil, col("value"))
          .as("sliced"))
      .orderBy("ts")

  /** The remaining POINTWISE math transforms (graphite-web `scale`,
    * `offset`, `invert`, `pow`, `squareRoot`) in ONE read: each is a
    * single IEEE op (or two) on the grid value with graphite's None
    * propagation, so five single-column faces would be five scans of
    * the same grid for no information gain — one face shows the whole
    * family's semantics and parity (identical literal-operand IEEE ops
    * in both engines, no rounding; invert nulls a zero value the way
    * divideSeries nulls a zero divisor, sqrt nulls negatives the way
    * graphite's math raises-to-None). O(output) projection. */
  def seriesPointwiseMath(spark: SparkSession, dir: String, metric: String,
                          from: Long, until: Long,
                          factor: Double = 2.5,
                          offset: Double = -10.0): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        (col("value") * lit(factor)).as("scaled"),
        (col("value") + lit(offset)).as("offset_v"),
        when(col("value") =!= 0, lit(1.0) / col("value")).as("inverted"),
        (col("value") * col("value")).as("pow2"),
        when(col("value") >= 0, sqrt(col("value"))).as("sqrt_v"))
      .orderBy("ts")

  /** `divideSeries(seriesList, divisorSeries)` (graphite-web): EVERY
    * metric's dense grid divided slot-by-slot by one divisor series —
    * the "per-request / per-view rate" normalizer (`series_divide` is
    * the single-pair face; this is the list form a render expression
    * actually calls, divisor included so it reads 1.0 against itself).
    * A null or ZERO divisor slot nulls the ratio (graphite's safeDiv —
    * never ±Inf), a gap numerator propagates.
    *
    * Parity: one IEEE division on identical doubles per slot — no
    * rounding. Scale: the divisor grid is O(#slots) joined by ts to the
    * all-metric grid (AQE broadcasts the slot-sized side at any scale);
    * survivors of nothing — this is a projection, both inputs ride the
    * same [[fetchForMetrics]] read core. */
  def seriesDivideMulti(spark: SparkSession, dir: String, divisor: String,
                        from: Long, until: Long): DataFrame = {
    val all = Catalog.metricsMeta(spark).select("metric")
    val grids = selected(spark, dir, all, from, until)
    val div = grids.where(col("metric") === divisor)
      .select(col("ts"), col("value").as("div_value"))
    grids.join(div, Seq("ts"), "left")
      .select(col("metric"), col("ts"), col("value"), col("div_value"),
        when(col("div_value") =!= 0, col("value") / col("div_value"))
          .as("ratio"))
      .orderBy("metric", "ts")
  }

  /** `scaleToSeconds(series, seconds)` (graphite-web): every value
    * rescaled by `seconds / step` — the "events per minute" rendering
    * of a per-hour-slot counter (the unit-conversion sibling of
    * perSecond, with no delta). One IEEE multiply per slot on a
    * driver-constant factor, rounded for display on both engines;
    * O(output) projection over the densified grid. */
  def seriesScaleToSeconds(spark: SparkSession, dir: String,
                           metric: String, from: Long, until: Long,
                           seconds: Long = 60): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        q6(col("value") * lit(seconds.toDouble / Step.toDouble))
          .as("scaled"))
      .orderBy("ts")

  /** The NONLINEAR pointwise transforms (graphite-web `exp`,
    * `sigmoid`, `logit`, `round`) in one read — the link-function
    * family completing [[seriesPointwiseMath]]'s algebraic one. Each
    * column keeps graphite's None guards: sigmoid is total, logit nulls
    * outside (0,1) (graphite raises/Nones on the boundary), exp is
    * total, round is graphite's `roundFunction` at 2 dp. Single IEEE
    * ops per slot (exp/ln are correctly-rounded libm calls in both
    * engines at these magnitudes — rounded to 6 dp for display
    * anyway); O(output) projection over the densified grid. */
  def seriesNonlinearMath(spark: SparkSession, dir: String,
                          metric: String, from: Long, until: Long): DataFrame =
    densifyGrid(spark, dir, metric, from, until)
      .select(col("ts"), col("value"),
        q6(exp(col("value") / lit(100.0))).as("exp_v"),
        q6(lit(1.0) / (lit(1.0) + exp(-col("value") / lit(100.0))))
          .as("sigmoid_v"),
        when(col("value") / lit(100.0) > 0 && col("value") / lit(100.0) < 1,
          q6(log(col("value") / lit(100.0) /
            (lit(1.0) - col("value") / lit(100.0))))).as("logit_v"),
        round(col("value"), 2).as("rounded"))
      .orderBy("ts")

  /** `weightedAverage(seriesListAvg, seriesListWeight, *nodes)`
    * (graphite-web render/functions.py): value series zipped pairwise
    * with weight series, and per slot
    * `sum(avg_i · weight_i) / sum(weight_i)`. Graphite's exact (and
    * famously quirky) gap semantics are kept: a pair where EITHER side
    * is a gap contributes nothing to the numerator, but a present
    * weight counts in the denominator even when its value partner is a
    * gap (numerator = safeSum of multiplySeries pairs, denominator =
    * safeSum of ALL weights); all-gap numerator or zero denominator →
    * null.
    *
    * Parity: per-slot terms are PRODUCTS OF MICRO-UNIT INTEGERS
    * (vmₐ·vm_w ≲ 1e16 per term — exact longs), both sums are
    * order-independent integer rollups, and the close is one division
    * + 6 dp round. Scale: the pair map is an O(#pairs) broadcast onto
    * the multi-metric grid read ([[fetchForMetrics]]); the per-slot
    * rollup is map-side combinable on `ts` — one narrow shuffle of
    * slot-sized data, no window at all. */
  def seriesWeightedAverage(spark: SparkSession, dir: String,
                            valueMetrics: Seq[String],
                            weightMetrics: Seq[String],
                            from: Long, until: Long): DataFrame = {
    require(valueMetrics.size == weightMetrics.size && valueMetrics.nonEmpty,
      "value/weight metric lists must be non-empty and zip pairwise")
    import spark.implicits._
    val pairs = valueMetrics.zip(weightMetrics).zipWithIndex
      .flatMap { case ((a, w), i) =>
        Seq((a, i.toLong, "a"), (w, i.toLong, "w")) }
      .toDF("metric", "pair", "role")
    val wanted = pairs.select("metric").distinct()
    val grids = selected(spark, dir, wanted, from, until)
      .join(broadcast(pairs), "metric")
      .withColumn("vm", floor(col("value") * lit(1e6) + lit(0.5)).cast("long"))
    val byPair = grids
      .groupBy("ts", "pair")
      .agg(max(when(col("role") === "a", col("vm"))).as("va"),
           max(when(col("role") === "w", col("vm"))).as("vw"))
    byPair
      .groupBy("ts")
      .agg(sum(when(col("va").isNotNull && col("vw").isNotNull,
             col("va") * col("vw"))).as("num"),
           sum(col("vw")).as("den"))
      .select(col("ts"),
        when(col("num").isNotNull && col("den").isNotNull && col("den") =!= 0,
          q6(col("num").cast("double") / col("den").cast("double") / lit(1e6))).as("wavg"))
      .orderBy("ts")
  }
}
