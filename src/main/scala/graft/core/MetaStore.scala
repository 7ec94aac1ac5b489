package graft.core

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mutable per-metric metadata store — the engine's `.ceres-node` write
  * path (`ceres.py` CeresNode.create ≈L330 / writeMetadata ≈L395 and the
  * `ceres-node-create` CLI).
  *
  * Layout: an append-only parquet log of metadata rows with a monotonically
  * increasing `version`; reads resolve last-writer-wins per metric
  * (`arg_max` by version). Node deletion is a tombstone (null timeStep).
  * The reference rewrites one JSON file atomically per node; an append-log
  * plus compaction is the object-store-safe equivalent (single-writer
  * maintenance semantics, like the reference's create/update CLIs).
  */
object MetaStore {

  final case class Retention(precision: Long, points: Long)

  /** The resolved view's columns — one row per live node. */
  val Schema: StructType = StructType(Seq(
    StructField("metric", StringType),
    StructField("timeStep", LongType),
    StructField("aggregationMethod", StringType),
    StructField("xFilesFactor", DoubleType),
    StructField("retentions", ArrayType(StructType(Seq(
      StructField("precision", LongType),
      StructField("points", LongType)))))))

  /** The log's DECLARED schema, read by [[read]], [[NodeTable]] and the
    * version probe: no read infers it (an inference pass is a Spark job
    * per read). Parquet resolves columns by name, so files written by
    * [[put]] (`version` before `retentions`) and by [[compact]]
    * (`version` last) read identically. */
  val LogSchema: StructType = Schema.add(StructField("version", LongType))

  private def log(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(LogSchema).parquet(dir)

  /** Append one metadata write (create or update). */
  def put(spark: SparkSession, metaDir: String, metric: String,
          timeStep: Long, aggregationMethod: String, xFilesFactor: Double,
          retentions: Seq[Retention]): Unit = {
    require(Kernel.ValidAggregationMethods.contains(aggregationMethod),
      s"Unknown aggregation method: $aggregationMethod")
    require(timeStep > 0, s"timeStep must be positive: $timeStep")
    writeRow(spark, metaDir, metric, Some(timeStep), aggregationMethod,
      xFilesFactor, retentions)
  }

  /** Tombstone a node (the reference unlinks the node directory). */
  def delete(spark: SparkSession, metaDir: String, metric: String): Unit =
    writeRow(spark, metaDir, metric, None, "average", 0.5, Seq.empty)

  private def writeRow(spark: SparkSession, metaDir: String, metric: String,
                       timeStep: Option[Long], method: String, xff: Double,
                       retentions: Seq[Retention]): Unit = {
    import spark.implicits._
    val version = nextVersion(spark, metaDir)
    Seq((metric, timeStep, method, xff,
        retentions.map(r => (r.precision, r.points)), version))
      .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor",
        "rawRetentions", "version")
      .withColumn("retentions",
        expr("transform(rawRetentions, r -> struct(r._1 AS precision, r._2 AS points))"))
      .drop("rawRetentions")
      .write.mode("append").parquet(metaDir)
  }

  private def nextVersion(spark: SparkSession, metaDir: String): Long =
    nextVersionIn(spark, metaDir)

  /** Node and tree logs both carry [[LogSchema]]'s `version`; the probe
    * declares only that column. */
  private def nextVersionIn(spark: SparkSession, dir: String): Long =
    if (!Fs.exists(spark, dir)) 0L
    else spark.read.schema(StructType(Seq(LogSchema("version")))).parquet(dir)
      .agg(coalesce(max("version"), lit(-1L))).head().getLong(0) + 1L

  /** Last-writer-wins: per metric the highest-`version` row, tombstones
    * (null timeStep) dropped. The one definition [[read]] and
    * [[NodeTable]] share. */
  private def resolve(log: DataFrame): DataFrame =
    log.groupBy("metric")
      .agg(max_by(struct("timeStep", "aggregationMethod", "xFilesFactor",
        "retentions"), col("version")).as("m"))
      .select(col("metric"), col("m.timeStep").as("timeStep"),
        col("m.aggregationMethod").as("aggregationMethod"),
        col("m.xFilesFactor").as("xFilesFactor"),
        col("m.retentions").as("retentions"))
      .where(col("timeStep").isNotNull)

  /** Resolved view: one row per live metric, last-writer-wins, tombstones
    * dropped. Columns match Catalog.metricsMeta. */
  def read(spark: SparkSession, metaDir: String): DataFrame =
    if (!Fs.exists(spark, metaDir)) local(spark, Seq.empty)
    else resolve(log(spark, metaDir))

  /** One entry of the log directory's listing: file name, length and
    * modification time. */
  type Listed = (String, Long, Long)

  /** The log directory's listing, sorted by name (empty when the
    * directory does not exist): ONE filesystem list call, no Spark job.
    * Every [[put]], [[delete]] and [[compact]] into the directory adds
    * or replaces a uniquely-named file (and rewrites `_SUCCESS`), and no
    * writer rewrites a file in place, so an unchanged listing means an
    * unchanged log. */
  def listing(spark: SparkSession, metaDir: String): Seq[Listed] = {
    val p = new Path(metaDir)
    val listed =
      try p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    listed.toSeq
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  /** Resolved node rows ([[Schema]]) held on the driver: sorted by
    * metric, and indexed by metric. */
  final class Nodes(resolved: Seq[Row]) {
    val rows: Seq[Row] = resolved.sortBy(_.getString(0))
    val byMetric: Map[String, Row] = rows.map(r => r.getString(0) -> r).toMap
  }

  /** The resolved node table of `metaDir`, held on the driver across
    * requests — ceres' node cache (`CeresTree.setNodeCachingBehavior
    * ('all')`). [[nodes]] lists the log directory on every call and
    * re-resolves the whole log (one Spark job, no exchange: [[resolve]]
    * over the log in one partition) only when the listing differs from
    * the one the held rows were resolved under, so a write by any
    * writer — this process or another — is visible to the next call, and
    * an unchanged log costs one listing and no Spark job. The listing is
    * taken BEFORE the log is read: a write landing between the two
    * changes the next listing, so it is never missed. Neither the
    * listing nor a re-resolve holds a lock: concurrent callers only
    * swap the held (listing, rows) pair, and a pair replaced by an older
    * one costs one more re-resolve, never a stale answer. Holds O(#nodes)
    * rows of driver memory (one per live node, plus the metric index). */
  final class NodeTable(spark: SparkSession, metaDir: String) {
    private val held = new AtomicReference[(Seq[Listed], Nodes)]

    /** The live nodes, as of this call's listing. */
    def nodes: Nodes = {
      val now = listing(spark, metaDir)
      Option(held.get) match {
        case Some((seen, ns)) if seen == now => ns
        case _ =>
          val ns = new Nodes(
            if (!Fs.exists(spark, metaDir)) Nil
            else resolve(log(spark, metaDir).coalesce(1)).collect().toSeq)
          held.set((now, ns))
          ns
      }
    }
  }

  /** Metadata rows as a local relation, sorted by metric. */
  private[graft] def local(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.sortBy(_.getString(0)).asJava, Schema)
  }

  /** Compaction (the metadata defrag analog): rewrite the log as its
    * resolved view at version 0. */
  def compact(spark: SparkSession, metaDir: String, destDir: String): Unit =
    writeResolved(read(spark, metaDir), destDir)

  /** Write resolved node rows ([[Schema]]) as a log at version 0 — the
    * form [[compact]] writes. */
  private[graft] def writeResolved(nodes: DataFrame, destDir: String): Unit =
    nodes.withColumn("version", lit(0L))
      .write.mode("overwrite").parquet(destDir)

  // ———————————————————————— tree-level properties ————————————————————————

  /** Tree props live in a SIBLING directory of the node log (`<metaDir>
    * .tree`) — a subdirectory would leak into the node log's parquet
    * discovery. Same append-log + last-writer-wins shape as nodes. */
  private def treeDir(metaDir: String): String = s"$metaDir.tree"

  /** `CeresTree.createTree(**props)` (ceres.py ≈L100–120: each property
    * becomes a `.ceres-tree/<prop>` file): record tree-level properties.
    * Append-only; re-setting a key overwrites on read (the reference
    * rewrites the prop file). */
  def createTree(spark: SparkSession, metaDir: String,
                 props: Map[String, String]): Unit =
    writeTreeRows(spark, metaDir, props.view.mapValues(Option(_)).toMap)

  /** Remove one tree property (tombstone). */
  def deleteTreeProp(spark: SparkSession, metaDir: String, key: String): Unit =
    writeTreeRows(spark, metaDir, Map(key -> None))

  private def writeTreeRows(spark: SparkSession, metaDir: String,
                            props: Map[String, Option[String]]): Unit = {
    if (props.isEmpty) return
    import spark.implicits._
    val version = nextVersionIn(spark, treeDir(metaDir))
    props.toSeq.map { case (k, v) => (k, v, version) }
      .toDF("key", "value", "version")
      .write.mode("append").parquet(treeDir(metaDir))
  }

  /** Resolved tree properties: last-writer-wins per key, tombstones
    * dropped (the read face of `.ceres-tree/<prop>`). */
  def treeProps(spark: SparkSession, metaDir: String): Map[String, String] =
    if (!Fs.exists(spark, treeDir(metaDir))) Map.empty
    else spark.read.parquet(treeDir(metaDir))
      .groupBy("key")
      .agg(max_by(col("value"), col("version")).as("value"))
      .where(col("value").isNotNull)
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
}
