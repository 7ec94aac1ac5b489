package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core
import graft.core.{Catalog, Kernel}
import graft.operators.SeriesOps
import graft.streaming.{Ingest, Maintenance}

/** The user-facing facade — the reference's `CeresTree` API
  * (`ceres.py` CeresTree: find ≈L210, fetch ≈L260, store ≈L245, hasNode
  * ≈L165, walk ≈L125) re-expressed over the Spark engine, so a user of the
  * reference can switch call-for-call:
  *
  * {{{
  * val tree = Engine.open(spark, "/data/tree")        // CeresTree(root)
  * tree.find("events.*")                              // tree.find(pattern)
  * tree.fetch("events.purchase", from, until)         // tree.fetch(path,…)
  * tree.store(pointsDf)                               // tree.store(path, datapoints)
  * tree.maintain(now)                                 // bin/ceres-maintenance
  * }}}
  *
  * Error contract: `fetch` of an unknown metric raises NodeNotFound
  * (reference ≈L190); a range with no data yields the all-null dense grid
  * (reference NoData → None-padding, ≈L530).
  *
  * Read cost: every request (`fetch`, `fetchSparse`, `aggregate`,
  * `fetchPattern`, `find`, `hasNode`) takes its node metadata — the
  * existence check, the glob's match list and each metric's aggregation
  * method — from the resolved node table the engine HOLDS on the driver
  * ([[core.MetaStore.NodeTable]], ceres' node cache): one listing of the
  * metadata directory per request, and one re-resolving job only when the
  * listing changed, so a `createNode`/`deleteNode` by any writer is
  * visible to the next read. The held table costs O(#nodes) driver
  * memory. `hasNode` and `find` without an interval run no Spark job.
  * On a store-backed engine a point read (`fetch`, `fetchSparse`,
  * `aggregate`, `fetchPattern`) then runs ONE partition-pruned store
  * scan of the matched metrics' buckets × the step-aligned window's
  * dates ([[Maintenance.storeRead]] over [[Maintenance.storeScan]], the
  * one place a points store is opened: declared schema, layout from the
  * `_buckets` marker), and hands the reconcile and grid their methods,
  * anchor and grid bounds as lookups into one per-request metric-keyed
  * map literal ([[SeriesOps.ReadInputs.mapped]]): no metadata broadcast,
  * and a new window recompiles only the scan stage's code. Every point
  * read, one metric or a glob's matches, runs in a single partition from
  * scan to result: one job, no exchange. `find` with an interval is not
  * a point read: it scans every date of its matches' history in
  * parallel and joins the match relation onto their extents by
  * broadcast (see [[find]]). The registry's `_store` faces
  * (`fetch_range_store`, `densify_grid_store`, `fetch_pattern_store`)
  * are point reads, so the DuckDB oracle checks this path. The
  * harness-catalog engine reads `Catalog.pointsCached` and its inline
  * catalog instead.
  */
final class Engine(val spark: SparkSession, val dir: String,
                   val metaDir: Option[String] = None,
                   val storeDir: Option[String] = None) {

  // user-built sessions get the engine's required confs at open time
  Catalog.configureSession(spark)

  /** The engine's whole points table: the ingested/maintained store
    * directory when `storeDir` is given (Engine.openStore — the real
    * write→maintain→read lifecycle; [[Ingest.storeView]]), else the
    * harness catalog derived from `dir`. `maintain` and `registerViews`
    * read it; requests read [[pointsOf]]. */
  def points: DataFrame =
    storeDir.map(Ingest.storeView(spark, _))
      .getOrElse(Catalog.pointsCached(spark, dir))

  /** The points a point read (`fetch`, `fetchSparse`, `aggregate`,
    * `fetchPattern`) reads: on a store-backed engine the pruned scan of
    * `metrics` over the step-aligned window [from, until] with the
    * cross-batch dedupe on top, else the harness catalog (the SeriesOps
    * read filters it). A store-backed point read stays in ONE partition
    * from scan to result, so the dedupe, the reconcile, the per-metric
    * pack and the closing sort need no exchange (one job). The trade: a
    * point read's answer is collected on the driver and is O(#matches ×
    * window), so the read gives up scan parallelism for a read of that
    * size. `find` with an interval reads every date instead, and does
    * not come here. */
  private def pointsOf(metrics: Seq[String], from: Long,
                       until: Long): DataFrame =
    storeDir.fold(points) { d =>
      val aligned = Some((Kernel.align(from, Catalog.Step),
        Kernel.alignUntil(until, Catalog.Step)))
      Ingest.dedupe(
        Maintenance.storeRead(spark, d, metrics, aligned, None).coalesce(1))
    }

  /** The node table held across requests (MetaStore-backed engines). */
  private val nodeTable = metaDir.map(new core.MetaStore.NodeTable(spark, _))

  /** Every live node's resolved metadata: the held table, or the
    * harness's inline catalog (a local relation, no job). */
  private def nodes: core.MetaStore.Nodes =
    nodeTable.fold(new core.MetaStore.Nodes(
      Catalog.metricsMeta(spark).collect().toSeq))(_.nodes)

  /** The nodes whose metric matches the glob, sorted by metric: matched
    * on the driver as `rlike` would (a regex find), no Spark job. */
  private def globMatches(ns: core.MetaStore.Nodes,
                          pattern: String): Seq[Row] = {
    val rx = java.util.regex.Pattern.compile(Kernel.globToRegex(pattern))
      .asPredicate
    ns.rows.filter(r => rx.test(r.getString(0)))
  }

  /** The read cores' inputs for `metrics`, each metric's method taken
    * from `ns`: a metric with points but no live node (deleted, or
    * written without `createNode`) maps to a null method, which the
    * reconcile reads as the reference default 'average', as the
    * whole-store path's left join does. */
  private def inputs(ns: core.MetaStore.Nodes, metrics: Seq[String],
                     from: Long, until: Long): SeriesOps.ReadInputs =
    SeriesOps.ReadInputs.mapped(metrics.map(m => m -> ns.byMetric.get(m)
      .map(_.getAs[String]("aggregationMethod")).orNull), from, until)

  /** The live node-metadata table: a mutable MetaStore when `metaDir` is
    * given (CeresTree.createNode-capable), else the harness's inline
    * catalog. */
  def meta: DataFrame =
    metaDir.map(core.MetaStore.read(spark, _))
      .getOrElse(Catalog.metricsMeta(spark))

  /** CeresTree.createNode / ceres-node-create: register (or update) a
    * node's metadata. Requires a MetaStore-backed engine. */
  def createNode(metric: String, timeStep: Long = Catalog.Step,
                 aggregationMethod: String = "average",
                 xFilesFactor: Double = 0.5,
                 retentions: Seq[core.MetaStore.Retention] = Seq.empty): Unit =
    core.MetaStore.put(spark, metaDirOrThrow, metric, timeStep,
      aggregationMethod, xFilesFactor, retentions)

  /** Remove a node (tombstone in the metadata log). */
  def deleteNode(metric: String): Unit =
    core.MetaStore.delete(spark, metaDirOrThrow, metric)

  /** CeresTree.createTree(**props): record tree-level properties
    * (`.ceres-tree/<prop>` files in the reference). */
  def createTree(props: Map[String, String] = Map.empty): Unit =
    core.MetaStore.createTree(spark, metaDirOrThrow, props)

  /** Resolved tree-level properties (last-writer-wins). */
  def treeProps: Map[String, String] =
    core.MetaStore.treeProps(spark, metaDirOrThrow)

  private def metaDirOrThrow: String =
    metaDir.getOrElse(throw new IllegalStateException(
      "createNode/deleteNode need a MetaStore-backed Engine (metaDir)"))

  /** CeresTree.walk: every node in the tree. */
  def walk(): DataFrame = meta.select("metric").orderBy("metric")

  /** CeresTree.find: glob-resolved nodes, optional data-interval filter
    * (reference `find(pattern, fromTime, untilTime)` via
    * hasDataForInterval — node extents, so the store scan is pruned to
    * the matches' buckets but reads every date). The interval filter is
    * a whole-history read: it keeps the scan's partitions, aggregates
    * each match's extent (partial aggregates, then one hash(metric)
    * exchange) and joins the match relation onto the extents by
    * broadcast. It reads the raw rows, without the cross-batch dedupe:
    * the dedupe keeps every (metric, step, ts) key, so a match's extent
    * (min ts, max ts + step) is the same on either. */
  def find(pattern: String, from: Option[Long] = None,
           until: Option[Long] = None): DataFrame = {
    val matched = globMatches(nodes, pattern)
    val local = core.MetaStore.local(spark, matched)
    (from, until) match {
      case (None, None) => local.select("metric")
      case _ => SeriesOps.findIntervalFrom(
        storeDir.fold(points)(Maintenance.storeRead(spark, _,
          matched.map(_.getString(0)), None, None)), local, pattern,
        from.getOrElse(Long.MinValue), until.getOrElse(Long.MaxValue))
    }
  }

  /** CeresTree.hasNode. */
  def hasNode(metric: String): Boolean = nodes.byMetric.contains(metric)

  /** CeresTree.fetch → CeresNode.read: the dense grid over the
    * reference-aligned window. Raises NodeNotFound for an unknown metric
    * (reference CeresTree.store/fetch contract ≈L245–270) before any
    * store read. */
  def fetch(metric: String, from: Long, until: Long): DataFrame = {
    val ns = nodes
    if (!ns.byMetric.contains(metric))
      throw new NoSuchElementException(s"NodeNotFound: $metric")
    SeriesOps.densifyGridFrom(pointsOf(Seq(metric), from, until),
      inputs(ns, Seq(metric), from, until), metric)
  }

  /** Sparse read (no grid padding) — CeresNode.read before shaping. */
  def fetchSparse(metric: String, from: Long, until: Long): DataFrame =
    SeriesOps.fetchRangeFrom(pointsOf(Seq(metric), from, until),
      inputs(nodes, Seq(metric), from, until), metric)

  /** Pattern read — every glob match densified onto its own grid in one
    * (metric, ts, value) frame (the graphite-web render path). */
  def fetchPattern(pattern: String, from: Long, until: Long): DataFrame = {
    val ns = nodes
    val metrics = globMatches(ns, pattern).map(_.getString(0))
    SeriesOps.fetchForMetrics(pointsOf(metrics, from, until),
      inputs(ns, metrics, from, until), metrics)
  }

  /** CeresTree.store → CeresNode.write: batch ingest of (metric, ts,
    * value) rows, compact semantics (Kernel.compact). A store-backed
    * engine appends to its own store; otherwise pass an explicit
    * directory. Written in the (pb, pd) bucketed layout via
    * [[Ingest.appendToStore]] — batch and streaming writers share ONE
    * layout, or a store fed by both mixes partition structures and
    * discovery fails. */
  def store(rows: DataFrame, destDir: String = null,
            buckets: Int = Maintenance.MetricBuckets): Unit = {
    val target = Option(destDir).orElse(storeDir).getOrElse(
      throw new IllegalStateException(
        "store needs a destination: openStore-backed Engine or explicit dir"))
    Ingest.appendToStore(Ingest.compactBatch(rows, Catalog.Step), target, buckets)
  }

  /** bin/ceres-maintenance: rollup + retention over this engine's points
    * and metadata, returning the maintained dataset. */
  def maintain(now: Long): DataFrame =
    Maintenance.maintainPerNode(points, meta, now)

  /** Register the catalog as temp views so users can `spark.sql` against
    * it: `graft_points`, `graft_metrics_meta`, plus the raw extension
    * tables. The declarative views keep every Catalyst optimization
    * (pushdown through the views) intact. */
  def registerViews(): Unit = {
    points.createOrReplaceTempView("graft_points")
    meta.createOrReplaceTempView("graft_metrics_meta")
    // extension tables exist only for catalog-backed engines; probe via
    // the Hadoop FS API so object-store catalogs resolve too
    if (core.Fs.exists(spark, s"$dir/documents.parquet"))
      Catalog.documents(spark, dir).createOrReplaceTempView("graft_documents")
    if (core.Fs.exists(spark, s"$dir/embeddings.parquet"))
      Catalog.embeddings(spark, dir).createOrReplaceTempView("graft_embeddings")
  }

  /** The five ceres aggregation methods over a fetched range. The
    * aggregate runs IN Spark (a one-row `head()` of an agg plan, never a
    * range collect — a year at 1 s step is ~31 M rows, which must reduce
    * on the executors); `Kernel.aggregate` stays the scalar spec the
    * parity tests pin this against. */
  def aggregate(metric: String, method: String, from: Long,
                until: Long): Option[Double] = {
    require(Kernel.ValidAggregationMethods.contains(method),
      s"Unknown aggregation method: $method")
    val sparse = fetchSparse(metric, from, until)
    val aggCol = method match {
      case "average" => avg("value")
      case "sum"     => sum("value")
      case "min"     => min("value")
      case "max"     => max("value")
      case "last"    => max_by(col("value"), col("ts"))
    }
    val row = sparse.agg(aggCol.as("v")).head()
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }
}

object Engine {
  def open(spark: SparkSession, dir: String): Engine = new Engine(spark, dir)

  /** A MetaStore-backed engine: createNode/deleteNode enabled, catalog ops
    * served from the mutable metadata log. */
  def openWithMetaStore(spark: SparkSession, dir: String,
                        metaDir: String): Engine =
    new Engine(spark, dir, Some(metaDir))

  /** An engine over a REAL points store directory (Ingest/Engine.store
    * output) with a MetaStore metadata log — the full reference lifecycle
    * on the user's own data: createNode → store → maintain → fetch, with
    * multi-resolution reconcile on read. */
  def openStore(spark: SparkSession, storeDir: String,
                metaDir: String): Engine =
    new Engine(spark, storeDir, Some(metaDir), Some(storeDir))
}
