package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}
import graft.core.Catalog
import graft.operators.SeriesOps

/** Maintenance pass — the engine's `bin/ceres-maintenance` with the rollup
  * plugin (`plugins/maintenance/rollup.py` `node_found`/`do_rollup`) and the
  * defrag plugin (small-file compaction).
  *
  * Tier bands are computed from `metrics_meta.retentions` exactly as the
  * reference's `node_found`: anchored at "now", finest tier first —
  * `archiveEnd = t - t%precision; archiveStart = archiveEnd -
  * precision*points; t = archiveStart` — so tier k covers
  * [start_k, end_k) with end_k = start_{k-1}. Fine data older than its band
  * ("overflow") is rolled into the next coarser tier (xff-gated, per-metric
  * method), and data older than the last tier's band start is expired.
  *
  * Everything is a declarative transform over the points dataset; the only
  * driver-side materialization is the O(#tiers) retention config itself
  * (metadata, not data).
  */
object Maintenance {

  final case class Tier(precision: Long, points: Long)

  /** Now-anchored archive bands, finest first: (tier, start, end). */
  def bands(now: Long, tiers: Seq[Tier]): Seq[(Tier, Long, Long)] = {
    require(tiers.nonEmpty, "at least one retention tier required")
    var t = now
    tiers.map { tier =>
      val end = t - java.lang.Math.floorMod(t, tier.precision)
      val start = end - tier.precision * tier.points
      t = start
      (tier, start, end)
    }
  }

  /** One full maintenance pass over a points dataset: per adjacent tier
    * pair, roll the fine tier's overflow into the coarse tier (sequentially,
    * so cascades feed forward like the reference's in-order plugin pass),
    * then expire everything older than the last tier's band. Returns the
    * maintained dataset (schema: metric, step, ts, value).
    *
    * Decomposed PER STEP: tier i's filters touch only `step == p_i` rows,
    * and the only rows that cross tiers are the ROLLED outputs (tier i's
    * rollup lands at step p_{i+1} and feeds tier i+1's band check), so the
    * pass is: split the source by ladder step once, thread the rolled
    * stream through the ladder, and union the per-tier keepers back with
    * the non-ladder passthrough. Only the rolled stream — bounded by the
    * overflow, never the store — is `localCheckpoint`ed (it is consumed
    * twice by the next tier: keep-filter + overflow). The earlier form
    * checkpointed the ENTIRE surviving dataset per tier, i.e. T full-store
    * materializations to executor storage per maintenance pass — the
    * at-100-TB scale-killer this decomposition removes. The source is
    * consumed twice per ladder step (keep + overflow), each a pruned
    * column-select of the store scan. LAZY checkpoints (r19, guide §5 —
    * the mergeSeriesFrom precedent): an EAGER per-tier checkpoint ran one
    * blocking job per tier at PLAN-BUILD time; lazy materializes each
    * rolled stream inside the first consuming job and later consumers
    * read its blocks, so a T-tier ladder sheds T−1 driver round-trips
    * per pass with the same single materialization per tier. */
  def maintain(points: DataFrame, meta: DataFrame, now: Long,
               tiers: Seq[Tier]): DataFrame = {
    val bs = bands(now, tiers)
    val ladder = tiers.map(_.precision)
    require(ladder.distinct.size == ladder.size,
      s"retention ladder has duplicate precisions: $ladder")
    val base = points.select("metric", "step", "ts", "value")
    // rows at steps outside the ladder have no band: pass through
    val passthrough = base.where(!col("step").isin(ladder: _*))
    var rolledIn: Option[DataFrame] = None
    val kept = bs.zipWithIndex.map { case ((tier, start, _), i) =>
      val input = rolledIn.foldLeft(
        base.where(col("step") === tier.precision))(_ unionByName _)
      if (i < tiers.length - 1) {
        val overflow = input.where(col("ts") < start)
        val coarse = tiers(i + 1)
        rolledIn = Some(SeriesOps
          .rollupTier(overflow, meta, tier.precision, coarse.precision)
          .select(col("metric"), lit(coarse.precision).as("step"),
            col("ts"), col("value"))
          .localCheckpoint())
      }
      // last tier's band filter IS the retention expiry
      input.where(col("ts") >= start)
    }
    (passthrough +: kept).reduce(_ unionByName _)
  }

  /** The catalog's distinct retention ladders, with the metrics carrying
    * each: (canonical-json key, tiers finest-first). The collect is
    * O(#distinct configs) — metadata, never data (a catalog with millions
    * of metrics still has a handful of retention policies).
    *
    * SESSION-MEMOIZED per (applicationId, meta plan) — r19, VERDICT r18
    * item 3: every maintenance face re-ran this collect (an aggregate
    * job) per invocation even though the catalog's retention metadata is
    * constant for a session. Same contract as Catalog.appCached / the
    * pqCodebook trained-state memo: keyed on the application id (never
    * survives the JVM's SparkContext) plus the meta plan's semantic hash
    * (test catalogs with different retention sets stay distinct — a
    * LocalRelation's canonicalized hash covers its data), rebuilt from
    * the source on first use every run, nothing persisted across runs. */
  private val cfgCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Seq[Tier])]]()

  def retentionConfigs(meta: DataFrame): Seq[(String, Seq[Tier])] = {
    val key = s"${meta.sparkSession.sparkContext.applicationId}:" +
      s"${meta.semanticHash()}"
    cfgCache.computeIfAbsent(key, _ =>
      meta.select(to_json(col("retentions")).as("cfg"), col("retentions"))
        .groupBy("cfg").agg(first("retentions").as("retentions"))
        .collect()
        .map { row =>
          val tiers = row.getSeq[org.apache.spark.sql.Row](1)
            .map(r => Tier(r.getLong(0), r.getLong(1)))
            .sortBy(_.precision).toIndexedSeq
          (row.getString(0), tiers: Seq[Tier])
        }.toIndexedSeq)
  }

  /** The catalog's single retention ladder — for callers that NEED one
    * global config (e.g. deriving the harness's rollup tier pair).
    * Throws on a heterogeneous catalog rather than silently collapsing
    * the ladders into one wrong band set; per-node maintenance goes
    * through [[maintainPerNode]], which never assumes homogeneity
    * (the reference's `rollup.py node_found` is per-node). */
  def tiersFromMeta(meta: DataFrame): Seq[Tier] = {
    val configs = retentionConfigs(meta)
    require(configs.size == 1,
      s"catalog has ${configs.size} distinct retention configs; " +
        "tiersFromMeta needs a homogeneous catalog — use maintainPerNode")
    configs.head._2
  }

  /** Full maintenance with PER-NODE retention configs — the reference's
    * `rollup.py node_found` reads EACH node's own
    * `metadata['retentions']` and builds that node's archive bands.
    * Metrics are grouped by their retention ladder (O(#configs)
    * metadata); each group is maintained with its own bands via a
    * left-semi join against the group's metric set (meta is small — the
    * planner broadcasts it), and the groups union back together.
    * Metrics with an EMPTY retentions list have no archive bands and
    * pass through unmaintained (the reference skips nodes without
    * retention metadata). */
  def maintainPerNode(points: DataFrame, meta: DataFrame,
                      now: Long): DataFrame = {
    val base = points.select("metric", "step", "ts", "value")
    val grouped = retentionConfigs(meta).map { case (cfgJson, tiers) =>
      val metrics = meta
        .where(to_json(col("retentions")) === cfgJson)
        .select("metric")
      val group = base.join(metrics, Seq("metric"), "left_semi")
      if (tiers.isEmpty) group else maintain(group, meta, now, tiers)
    }
    // points for metrics absent from the catalog have no retention
    // metadata: pass through unmaintained, never silently dropped
    val unknown = base.join(meta.select("metric"), Seq("metric"), "left_anti")
    (grouped :+ unknown).reduce(_ unionByName _)
  }

  /** DEFAULT metric hash bucket count in the compacted store layout. At
    * 100 TB metric cardinality is unbounded, so the layout partitions on
    * a BOUNDED hash bucket of the metric (not the metric itself —
    * millions of tiny directories kill any file listing) × UTC date. A
    * (metric, time-range) read then prunes to one bucket × the
    * overlapping dates before any I/O — the Spark analog of ceres'
    * newest-first slice scan early-exit (ceres.py ≈L478–520: only slices
    * overlapping the request are opened).
    *
    * 16 is the harness size; a 100 TB store co-sizes the count with
    * cluster width via the `buckets` parameter every layout-touching
    * entry point takes. One store = ONE bucket count: the layout
    * self-describes it via the `_buckets` marker
    * ([[recordOrCheckBuckets]]) — the first writer records the count and
    * every mismatched later writer or pruned reader fails loudly instead
    * of silently mixing layouts / missing rows. Layout parity across
    * counts and the mismatch error are pinned in IngestSpec. */
  val MetricBuckets = 16

  /** Driver-side metric → bucket, evaluated through the same Catalyst
    * `XxHash64` (seed 42) the executors' `xxhash64` runs — the reader's
    * literal bucket predicate is bit-identical to the writer's column. */
  def metricBucket(metric: String, buckets: Int = MetricBuckets): Long = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    val h = new XxHash64(Seq(Literal.create(metric, StringType)))
      .eval(InternalRow.empty).asInstanceOf[Long]
    java.lang.Math.floorMod(h, buckets.toLong)
  }

  /** UTC calendar date of an epoch-second column — SESSION-TIMEZONE-
    * INDEPENDENT (pure epoch-day arithmetic, no timestamp conversion).
    * Every `pd` partition value and every pruned-read date literal goes
    * through here: a library caller who skipped
    * `Catalog.configureSession`'s UTC pin can no longer land rows in
    * zone-shifted partitions that a UTC reader misses at date
    * boundaries. (The division is exact: the numerator is a multiple of
    * 86400, and epoch days fit a double exactly.) */
  def utcDate(ts: Column): Column =
    date_from_unix_date(((ts - pmod(ts, lit(86400L))) / 86400L).cast("int"))

  /** Defrag analog (`plugins/maintenance/defrag.py`): physically compact a
    * points store — resolve cross-batch duplicates (max-value tie-break)
    * and rewrite PARTITIONED BY (metric bucket, UTC date), one well-sized
    * file per live partition (the repartition keys each (pb, pd) to one
    * task).
    *
    * The rewrite is tmp-dir + rename-swap (the same durability pattern
    * as FeatureIndex.compactIndex), never overwrite-in-place: the new
    * store is fully written — `_buckets` marker INCLUDED — at
    * `destDir.compacting` before the old store is touched, so no crash
    * point can publish a marker-less or partial store. A crash between
    * the two swap renames leaves the intact pre-swap store at
    * `destDir.compacted-old`; the next compactStore call auto-restores
    * it (single-writer contract, like index compaction — run between
    * micro-batches). In-place compaction (`srcDir == destDir`) is safe:
    * the source is read while writing the tmp dir and only then
    * swapped. */
  def compactStore(spark: SparkSession, srcDir: String, destDir: String,
                   buckets: Int = MetricBuckets): Unit = {
    val dest = new org.apache.hadoop.fs.Path(destDir)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(s"$destDir.compacting")
    val old = new org.apache.hadoop.fs.Path(s"$destDir.compacted-old")
    // recover a swap interrupted between its two renames (dest gone, the
    // intact pre-swap store at .compacted-old) BEFORE anything else, so
    // the contract check below sees the real store
    if (!fs.exists(dest) && fs.exists(old) && !fs.rename(old, dest))
      throw new IllegalStateException(
        s"failed to restore $destDir from interrupted-compaction backup $old")
    // validate an EXISTING store's layout contract BEFORE any work: a
    // writer passing the wrong count to an existing store fails loudly
    // instead of silently resetting the layout contract
    recordOrCheckBuckets(spark, destDir, buckets, readOnly = true)
    // clear leftovers of crashed runs (a half-written tmp, a superseded
    // backup an earlier crash left behind after its swap completed)
    fs.delete(tmp, true)
    fs.delete(old, true)
    Ingest.storeView(spark, srcDir)
      .withColumn("pb", pmod(xxhash64(col("metric")), lit(buckets.toLong)))
      .withColumn("pd", utcDate(col("ts")))
      .repartition(col("pb"), col("pd"))
      .write.mode("overwrite").partitionBy("pb", "pd").parquet(tmp.toString)
    // the marker travels WITH the data: recorded inside the tmp store, so
    // the swap publishes marker + rewrite as one unit
    recordOrCheckBuckets(spark, tmp.toString, buckets)
    if (fs.exists(dest) && !fs.rename(dest, old))
      throw new IllegalStateException(s"failed to stage $destDir aside to $old")
    fs.mkdirs(dest.getParent)
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"failed to publish compacted store $tmp -> $destDir " +
          s"(pre-swap store preserved at $old)")
    fs.delete(old, true)
  }

  /** Make the (pb, pd) layout SELF-DESCRIBE its bucket count: writers
    * record it in a `_buckets` marker (underscore prefix — invisible to
    * Spark's data-file listing) and every later writer or pruned reader
    * passing a different count fails LOUDLY. Without the marker the
    * count lives only in call sites, and one forgotten `buckets =`
    * argument silently mixes pb = hash mod N with hash mod M in one
    * directory — appends land unread by pruned reads, the exact failure
    * the layout doc warns about. Marker-less stores (legacy dirs, plain
    * parquet test fixtures) check nothing, so old stores keep reading;
    * their first marker is recorded by their next writer. */
  private[graft] def recordOrCheckBuckets(spark: SparkSession, dir: String,
                                          buckets: Int,
                                          readOnly: Boolean = false): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(dir, "_buckets")
    recordedBuckets(spark, dir) match {
      case Some(n) => checkBuckets(dir, n, buckets)
      case None if readOnly => () // legacy / foreign layout: nothing to check
      case None =>
        // overwrite=false: lose a creation race, then validate the
        // winner's value instead
        try {
          val out = fs.create(marker, false)
          try out.write(buckets.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } catch {
          case e: java.io.IOException =>
            // recoverable ONLY as a lost creation race (the marker now
            // exists) — a transient FS/permission failure must surface,
            // or the store stays marker-less with the mismatch guard
            // silently disabled for its whole lifetime
            if (!e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]
                && !fs.exists(marker)) throw e
            // the winner may still be mid-write (created, not yet
            // written/closed — exactly the race window), so re-read
            // briefly before declaring the marker unreadable
            val winner = Iterator.range(0, 50).map { i =>
              if (i > 0) Thread.sleep(10); recordedBuckets(spark, dir)
            }.collectFirst { case Some(n) => n }
            checkBuckets(dir, winner.getOrElse(throw new IllegalStateException(
              s"lost the _buckets creation race for $dir but the winning " +
                "marker is unreadable", e)), buckets)
        }
    }
  }

  /** The bucket count a store's `_buckets` marker records; None for a
    * marker-less (legacy or foreign) store. */
  private[graft] def recordedBuckets(spark: SparkSession,
                                     dir: String): Option[Int] = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_buckets")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) None
    else scala.util.Try {
      val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
      val in = fs.open(marker)
      try in.readFully(buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    }.toOption
  }

  private def checkBuckets(dir: String, recorded: Int, buckets: Int): Unit =
    require(recorded == buckets,
      s"bucket-count mismatch for store $dir: layout is $recorded buckets, " +
        s"caller passed $buckets — writers and readers of one store " +
        "must agree (see MetricBuckets)")

  /** The one place a points store is opened: the pruned [[storeRead]],
    * the whole-store [[Ingest.storeView]], [[runPruned]]'s discovery and
    * rewrite and the slice check all scan through here. The schema is
    * DECLARED — [[Ingest.storeSchema]], plus the `pb`/`pd` partition
    * columns when the `_buckets` marker is present — so no open runs a
    * schema-inference job, and the layout is decided by the marker
    * ([[recordOrCheckBuckets]]), never by inspecting the store's columns:
    * a marker means the (pb, pd) layout at the recorded count; no marker
    * means a legacy layout (flat, or `metric=`-partitioned), whose
    * partition directories Spark still discovers. Returns the raw rows —
    * cross-batch duplicates are NOT resolved ([[Ingest.dedupe]] does that
    * on top) — and the recorded bucket count. */
  private[graft] def storeScan(spark: SparkSession,
                               storeDir: String): (DataFrame, Option[Int]) = {
    val recorded = recordedBuckets(spark, storeDir)
    val schema = recorded.fold(Ingest.storeSchema)(_ =>
      Ingest.storeSchema.add("pb", LongType).add("pd", DateType))
    (spark.read.schema(schema).parquet(storeDir), recorded)
  }

  /** The pruned store read behind every store-backed `graft.Engine`
    * request: `metrics`' raw rows ([[storeScan]]), within `window` when
    * one is given (every date otherwise, pruned on buckets alone).
    *
    * On the (pb, pd) layout the bucket equality and date-range predicates
    * bind to the PARTITION columns, so the scan lists and opens only the
    * metrics' bucket directories × the dates overlapping the window —
    * `PartitionFilters` in the plan, pinned by PlanSpec and IngestSpec —
    * at the marker's count (`buckets`, when given, must match it: a
    * reader at the wrong count silently misses rows). Callers pass the
    * STEP-ALIGNED window: the read cores widen a request to those
    * bounds, so pruning on the raw window would drop rows the alignment
    * includes. A legacy layout reads with the row-level metric/ts
    * predicates alone (pushed to parquet row groups on every layout), so
    * readers keep working mid-migration. Output schema = the points
    * schema, so this composes directly with the `SeriesOps` read cores. */
  private[graft] def storeRead(spark: SparkSession, storeDir: String,
                               metrics: Seq[String],
                               window: Option[(Long, Long)],
                               buckets: Option[Int]): DataFrame = {
    val (scan, recorded) = storeScan(spark, storeDir)
    for (n <- recorded; b <- buckets) checkBuckets(storeDir, n, b)
    val inWindow = window.map { case (f, u) => col("ts") >= f && col("ts") < u }
    val rows = col("metric").isin(metrics: _*) +: inWindow.toSeq
    val pruned = recorded.fold(scan) { n =>
      val inDates = window.map { case (f, u) =>
        col("pd") >= utcDate(lit(f)) && col("pd") <= utcDate(lit(u - 1))
      }
      val parts = col("pb").isin(metrics.map(metricBucket(_, n)).distinct: _*) +:
        inDates.toSeq
      scan.where(parts.reduce(_ && _))
    }
    pruned.where(rows.reduce(_ && _)).select("metric", "step", "ts", "value")
  }

  /** CLI argument parsing, separated so the contract is testable without
    * a JVM exit: requires (srcDir, destDir, numeric nowEpochSec). */
  private[streaming] def parseArgs(args: Array[String]): Option[(String, String, Long)] =
    if (args.length < 3) None
    else scala.util.Try(args(2).toLong).toOption
      .map(now => (args(0), args(1), now))

  /** One maintenance pass over an ingested store directory: roll + expire
    * against the catalog's retention config, rewrite to `destDir`. The
    * FULL-REWRITE form — correct anywhere, but at store scale the
    * in-place [[runPruned]] is the one to run: it touches only the date
    * partitions the bands can change. */
  def run(spark: SparkSession, srcDir: String, destDir: String,
          now: Long): Unit = {
    val meta = Catalog.metricsMeta(spark)
    val pts = Ingest.storeView(spark, srcDir)
    maintainPerNode(pts, meta, now)
      .write.mode("overwrite").parquet(destDir)
  }

  /** BAND-PRUNED in-place maintenance over a (pb, pd)-partitioned store
    * ([[compactStore]] / bucketed-ingest layout) — the at-scale form of
    * [[run]]: only the date partitions the retention bands can actually
    * change are read, maintained, and rewritten; every other file in the
    * store is left physically untouched. The faithful analog of the
    * reference's per-node pass (`plugins/maintenance/rollup.py`
    * `node_found` only ever touches overflow slices, never rewrites the
    * whole node).
    *
    * Two phases:
    *  1. DIRTY-PARTITION DISCOVERY: a row can change iff it matches ITS
    *     OWN ladder's overflow/expiry band (`step == p_i && ts <
    *     start_i`), resolved per metric via a broadcast join against the
    *     O(#metrics × #tiers) band table — metrics outside the catalog
    *     (retention-less passthrough rows) never dirty a partition, so a
    *     maintained store reaches an EXACT fixpoint. One column-pruned
    *     scan (metric, step, ts — parquet row-group stats prune the
    *     in-band hot tail before any data IO) collects the distinct UTC
    *     dates holding dirty rows, PLUS every coarser-floor date
    *     (`date(ts - ts % p_j)`) a rolled output could cascade into —
    *     partitions that must RECEIVE rolled rows are rewritten too,
    *     merged with their surviving content. (Floor dates use the union
    *     of ladder precisions across configs — conservative only for a
    *     mixed catalog, where an extra partition is rewritten with
    *     identical content.) O(#affected dates) driver metadata, never
    *     data.
    *  2. PRUNED REWRITE: read ONLY the affected `pd` partitions
    *     (partition-pruned scan), resolve cross-batch duplicates (the
    *     storeView contract), maintain, and write back with DYNAMIC
    *     partition overwrite — partitions absent from the output are not
    *     touched by the writer, and affected partitions whose rows all
    *     expired are deleted explicitly (dynamic overwrite cannot empty a
    *     partition). The one materialization (`localCheckpoint`) is the
    *     maintained AFFECTED subset — band-bounded, never the store; it
    *     also breaks the lineage so the writer can overwrite the very
    *     directory the plan read from.
    *
    * A steady-state store (maintained recently, no new overflow) has an
    * empty dirty set, and the pass does NO writes at all.
    *
    * CONCURRENCY CONTRACT: the pass must be the only WRITER of the
    * affected partitions while it runs (pause the ingest stream, or run
    * from its own foreachBatch turn) — rows appended into an affected
    * (pb, pd) partition between the phase-2 scan and the
    * dynamic-overwrite commit are replaced by the overwrite, exactly
    * like any snapshot-then-rewrite compaction without a table format's
    * optimistic-commit layer (the reference has the same constraint:
    * `ceres-maintenance` rewrites slice files no writer may touch
    * mid-pass). The empty-partition DELETE below is additionally
    * hardened on its own: it removes only files captured in a pre-write
    * snapshot, so a file a concurrent ingest lands in a
    * dead-looking partition survives and the partition is then kept. */
  def runPruned(spark: SparkSession, storeDir: String, now: Long,
                metaOpt: Option[DataFrame] = None,
                buckets: Int = MetricBuckets): Unit = {
    val meta = metaOpt.getOrElse(Catalog.metricsMeta(spark))
    val configs = retentionConfigs(meta).filter(_._2.nonEmpty)
    if (configs.isEmpty) return
    // the layout check comes BEFORE the marker write: a marker on a store
    // without the (pb, pd) layout would make every later pruned read
    // filter on null pb/pd and return no rows
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("pb=")),
      s"runPruned needs the (pb, pd) compacted layout: $storeDir")
    recordOrCheckBuckets(spark, storeDir, buckets)

    // phase 1: dates holding band-matched rows + their cascade floor
    // dates. This discovery read is NOT the rewrite's input (phase 2
    // re-reads below) — so the steady-state no-op pass costs one
    // partition discovery and no file snapshot.
    val (discover, _) = storeScan(spark, storeDir)
    import spark.implicits._
    val cfgBands = configs.flatMap { case (cfg, tiers) =>
      bands(now, tiers).map { case (t, start, _) => (cfg, t.precision, start) }
    }.toDF("cfg", "bstep", "bstart")
    val bandsByMetric = meta
      .select(col("metric").as("bmetric"), to_json(col("retentions")).as("cfg"))
      .join(cfgBands, "cfg")
      .select("bmetric", "bstep", "bstart")
    val dirty = discover.join(broadcast(bandsByMetric),
      col("metric") === col("bmetric") && col("step") === col("bstep") &&
        col("ts") < col("bstart"))
    val floorDates = configs.flatMap(_._2.map(_.precision)).distinct.map { p =>
      utcDate(col("ts") - pmod(col("ts"), lit(p)))
    }
    val affectedDates = dirty
      .select(explode(array((utcDate(col("ts")) +: floorDates): _*)).as("d"))
      .distinct().collect().map(_.getDate(0)).toIndexedSeq
    if (affectedDates.isEmpty) return

    // snapshot (pb dir, pd dir) -> data files BEFORE the phase-2 store
    // DataFrame exists: opening the store captures its file listing at
    // read time, so a snapshot taken after it could include a file
    // appended AFTER the read — in the snapshot but absent from
    // `maintained`, i.e. eligible for the empty-partition delete below.
    // Snapshot-then-read guarantees every snapshot file is at least as
    // old as the rewrite's input. Foreign directory names (no pb=/pd=
    // prefix) are skipped by construction — no partition-value parsing
    // that could abort the cleanup loop.
    val preSnapshot: Map[(String, String), Seq[String]] = (for {
      pbDir <- fs.listStatus(root).toSeq
      if pbDir.getPath.getName.startsWith("pb=")
      pdDir <- fs.listStatus(pbDir.getPath).toSeq
      if pdDir.getPath.getName.startsWith("pd=")
    } yield ((pbDir.getPath.getName, pdDir.getPath.getName),
      fs.listStatus(pdDir.getPath).toSeq.map(_.getPath.getName))).toMap

    // phase 2: maintain the affected partitions only, write them back —
    // over a FRESH read whose listing is at least as new as the snapshot
    // (the empty-partition delete removes only snapshot-listed files)
    val (store, _) = storeScan(spark, storeDir)
    val view = Ingest.dedupe(store.where(col("pd").isInCollection(affectedDates)))
    val maintained = maintainPerNode(view, meta, now)
      .withColumn("pb", pmod(xxhash64(col("metric")), lit(buckets.toLong)))
      .withColumn("pd", utcDate(col("ts")))
      .localCheckpoint(true)
    maintained
      .repartition(col("pb"), col("pd"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pb", "pd").parquet(storeDir)
    // delete affected partitions that came out empty — best-effort per
    // partition, restricted to the pre-write snapshot's files
    val live = maintained.select("pb", "pd").distinct().collect()
      .map(r => (s"pb=${r.get(0)}", s"pd=${r.getDate(1)}")).toSet
    val affectedSet = affectedDates.map(d => s"pd=$d").toSet
    for {
      ((pbName, pdName), files) <- preSnapshot
      if affectedSet(pdName) && !live((pbName, pdName))
    } scala.util.Try {
      val pdPath = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, pbName), pdName)
      files.foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(pdPath, f), false))
      // drop the directory only if nothing (e.g. a concurrent append)
      // arrived since the snapshot
      if (fs.listStatus(pdPath).isEmpty) fs.delete(pdPath, true)
    }
  }

  /** Maintenance driver (the `bin/ceres-maintenance` entry point). Reuses
    * an already-active session when one exists (and then leaves it
    * running — embedding callers own their session's lifecycle); a
    * standalone invocation builds and stops its own. */
  def main(args: Array[String]): Unit = parseArgs(args) match {
    case None =>
      System.err.println(
        "usage: graft.streaming.Maintenance <srcDir> <destDir> <nowEpochSec>\n" +
          "       (destDir == srcDir: band-pruned in-place maintenance " +
          "of a (pb, pd) compacted store)")
      sys.exit(2)
    case Some((srcDir, destDir, now)) =>
      val preexisting = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      Catalog.configureSession(spark)
      try {
        if (destDir == srcDir) runPruned(spark, srcDir, now)
        else run(spark, srcDir, destDir, now)
      } finally if (preexisting.isEmpty) spark.stop()
  }
}
