package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.core.Catalog

/** Structured Streaming ingest — the engine's `store_write`
  * (`ceres.py` CeresTree.store ≈L245 → CeresNode.write ≈L545 →
  * compact ≈L605).
  *
  * Shape: file-source stream of raw (metric, ts, value) → drop missing →
  * floor-align ts → in-batch compact (max-value tie-break per (metric,
  * aligned ts), mirroring [[graft.core.Kernel.compact]]'s tuple-sort
  * semantics) → append to the points dataset. Cross-batch duplicates are
  * resolved at READ time ([[dedupe]], max value per (metric, step, ts)) and
  * physically by [[Maintenance.compactStore]] — the deferred analog of the
  * reference's seek-and-overwrite slice write.
  *
  * Late data: the reference accepts arbitrarily old writes (it creates
  * earlier slices). Append + deferred compaction preserves that: no
  * watermark drops anything; this is the one place we deliberately relax
  * nothing. (A watermarked `dropDuplicates` variant would lose late
  * points — documented deviation avoided by deferring dedup instead.)
  *
  * Scale: per micro-batch work is one codegen'd projection + one partial
  * aggregation; the sink append is partitioned parquet. No state store is
  * needed because dedup is deferred — state stays O(0), not O(#series).
  */
object Ingest {

  val inputSchema: StructType = StructType(Seq(
    StructField("metric", StringType),
    StructField("ts", LongType),
    StructField("value", DoubleType)))

  /** The store's data columns — what [[compactBatch]] emits and every
    * writer lands under the (pb, pd) partition columns. Every store read
    * declares it ([[Maintenance.storeScan]]) instead of inferring it. */
  val storeSchema: StructType = StructType(Seq(
    StructField("metric", StringType),
    StructField("step", LongType),
    StructField("ts", LongType),
    StructField("value", DoubleType)))

  /** The compact core shared by streaming batches and batch backfills:
    * relational form of `Kernel.compact` minus run-splitting (a storage
    * concern parquet does not have). */
  def compactBatch(df: DataFrame, step: Long): DataFrame =
    df.where(col("value").isNotNull)
      .withColumn("ts", col("ts") - pmod(col("ts"), lit(step)))
      .groupBy("metric", "ts")
      .agg(max("value").as("value"))
      .select(col("metric"), lit(step).as("step"), col("ts"), col("value"))

  /** Append a compacted points batch to a store in the engine's ONE
    * store layout: PARTITIONED BY (pb = bounded metric hash bucket,
    * pd = UTC date) — the same (pb, pd) scheme [[Maintenance.compactStore]]
    * writes and [[Maintenance.storeRead]]/[[Maintenance.runPruned]]
    * prune. Raw-metric partitioning is a non-starter at 100 TB metric
    * cardinality (millions of tiny directories kill any file listing);
    * the bounded bucket × date grid keeps directory counts fixed while
    * still letting a (metric, time-range) read open only
    * `1/MetricBuckets` of the store × the overlapping dates. Streaming
    * ingest, batch `Engine.store`, and the compaction rewrite all write
    * THIS layout — writers must agree (same structure AND same `buckets`
    * count) or partition discovery / pruned reads fail on the mixed
    * structure. `pd` is computed via [[Maintenance.utcDate]] — pure
    * epoch-day arithmetic, so a caller who skipped the session's UTC
    * pin cannot land rows in zone-shifted date partitions that a UTC
    * reader would miss at date boundaries. */
  def appendToStore(batch: DataFrame, sinkDir: String,
                    buckets: Int = Maintenance.MetricBuckets): Unit = {
    // record the count on first write, fail loudly on a mismatched later
    // writer (see Maintenance.recordOrCheckBuckets) — one store, ONE count
    Maintenance.recordOrCheckBuckets(batch.sparkSession, sinkDir, buckets)
    batch
      .withColumn("pb", pmod(xxhash64(col("metric")), lit(buckets.toLong)))
      .withColumn("pd", Maintenance.utcDate(col("ts")))
      .write.mode("append").partitionBy("pb", "pd").parquet(sinkDir)
  }

  /** Start the ingest stream: watch `srcDir` for drops of raw points
    * (parquet by default; `format` = "csv" — headered —, "json" for
    * line-delimited feeds, or "orc", all read against the same explicit
    * [[inputSchema]]), write compacted appends to `sinkDir` in the
    * (pb, pd) store layout ([[appendToStore]]). */
  def stream(spark: SparkSession, srcDir: String, sinkDir: String,
             checkpointDir: String, step: Long = Catalog.Step,
             availableNow: Boolean = false,
             format: String = "parquet",
             buckets: Int = Maintenance.MetricBuckets): StreamingQuery = {
    val reader = spark.readStream
      .schema(inputSchema)
      // ingest drops typically land in per-batch/per-date subdirectories
      .option("recursiveFileLookup", "true")
    val src = format match {
      case "parquet" => reader.parquet(srcDir)
      case "csv"     => reader.option("header", "true").csv(srcDir)
      case "json"    => reader.json(srcDir)
      case "orc"     => reader.orc(srcDir)
      case f => throw new IllegalArgumentException(
        s"unsupported ingest format: $f (parquet | csv | json | orc)")
    }
    val writer = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendToStore(compactBatch(batch, step), sinkDir, buckets)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Cross-batch last-wins resolution (max-value tie-break per
    * (metric, step, ts)) — what [[Maintenance.compactStore]] makes
    * physical, and the one definition every store read applies: the
    * whole-store [[storeView]], the pruned engine reads and the
    * maintenance rewrite. */
  def dedupe(points: DataFrame): DataFrame =
    points.groupBy("metric", "step", "ts")
      .agg(max("value").as("value"))
      .select("metric", "step", "ts", "value")

  /** Whole-store view of an ingested store: [[dedupe]] over every file,
    * opened through [[Maintenance.storeScan]] (declared schema, layout
    * from the `_buckets` marker, so (pb, pd)-bucketed and legacy stores
    * both read); the store maintenance passes and `graft.Engine.points`
    * use it. A store-backed engine's REQUESTS (fetch, pattern, find,
    * aggregate) never do: they read through [[Maintenance.storeRead]]'s
    * partition-pruned scan. */
  def storeView(spark: SparkSession, sinkDir: String): DataFrame =
    dedupe(Maintenance.storeScan(spark, sinkDir)._1)
}
