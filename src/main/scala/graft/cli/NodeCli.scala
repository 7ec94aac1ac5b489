package graft.cli

import org.apache.spark.sql.SparkSession
import graft.Engine
import graft.core.{Catalog, MetaStore}

/** CLI faces for the reference's shipped binaries — `bin/ceres-tree-create`,
  * `bin/ceres-node-create`, `bin/ceres-node-read`, `bin/ceres-node-write`,
  * and `bin/slicecheck` (each a thin argv wrapper over CeresTree.createTree
  * / createNode / CeresNode.read / write / the slice validator). The
  * semantics all live in [[graft.Engine]] + [[graft.core.MetaStore]] +
  * [[graft.operators.SeriesOps]]; these mains only parse argv, run one
  * engine call, and print, so they stay testable through the same
  * `parseArgs`-separated contract the maintenance CLI uses.
  *
  * Argument grammar (positional, like the reference binaries):
  *  - TreeCreate: <metaDir> [key=value ...]
  *  - NodeCreate: <metaDir> <metric> [timeStep] [method] [xff] [p:n,p:n,...]
  *  - NodeWrite:  <storeDir> <metaDir> <metric> <ts=value>...
  *  - NodeRead:   <storeDir> <metaDir> <metric> <from> <until>
  *  - SliceCheck: <storeDir>
  */
object NodeCli {

  /** Build-or-reuse session wrapper shared by the three mains: an embedding
    * caller's active session is reused and left running (it owns the
    * lifecycle); a standalone invocation builds and stops its own. */
  private[cli] def withSession(body: SparkSession => Unit): Unit = {
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
    try body(spark)
    finally if (preexisting.isEmpty) spark.stop()
  }

  private def usage(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }
}

/** `bin/ceres-tree-create` (argv → CeresTree.createTree): record
  * tree-level properties in the MetaStore's tree log (the reference's
  * `.ceres-tree/<prop>` files). Idempotent re-runs overwrite on read
  * (last-writer-wins), exactly like re-writing a prop file. */
object TreeCreate {

  final case class Args(metaDir: String, props: Map[String, String])

  private[cli] def parseArgs(args: Array[String]): Option[Args] =
    if (args.length < 1) None
    else scala.util.Try {
      val props = args.drop(1).toIndexedSeq.map { part =>
        val Array(k, v) = part.split("=", 2)
        require(k.nonEmpty, s"empty property key in '$part'")
        (k, v)
      }.toMap
      Args(args(0), props)
    }.toOption

  def main(argv: Array[String]): Unit = parseArgs(argv) match {
    case None =>
      System.err.println(
        "usage: graft.cli.TreeCreate <metaDir> [key=value ...]")
      sys.exit(2)
    case Some(a) => NodeCli.withSession { spark =>
      MetaStore.createTree(spark, a.metaDir, a.props)
    }
  }
}

/** `bin/slicecheck` (argv → the slice validator): scan a store directory
  * for structural corruption — duplicate (metric, step, ts) cells,
  * grid-misaligned timestamps, and overlapping archive coverage — and
  * print one summary line per metric (all-zero = healthy). Runs over the
  * RAW store rows, not the deduplicating read view: pre-compaction
  * cross-batch duplicates are exactly what an operator points this tool
  * at. */
object SliceCheck {

  final case class Args(storeDir: String)

  private[cli] def parseArgs(args: Array[String]): Option[Args] =
    if (args.length != 1) None else Some(Args(args(0)))

  /** The check + formatting, separated from the session/exit so tests
    * capture lines; streamed via toLocalIterator like [[NodeRead]] —
    * O(#metrics) output, but never a full-store driver collect. */
  private[cli] def checkLines(spark: SparkSession, a: Args): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    graft.operators.SeriesOps.storeCheck(
        graft.streaming.Maintenance.storeScan(spark, a.storeDir)._1
          .select("metric", "step", "ts", "value"))
      .toLocalIterator().asScala
      .map(r => s"${r.getString(0)} dup_rows=${r.getLong(1)} " +
        s"misaligned=${r.getLong(2)} overlap=${r.getLong(3)}")
  }

  def main(argv: Array[String]): Unit = parseArgs(argv) match {
    case None =>
      System.err.println("usage: graft.cli.SliceCheck <storeDir>")
      sys.exit(2)
    case Some(a) => NodeCli.withSession { spark =>
      checkLines(spark, a).foreach(println)
    }
  }
}

/** `bin/ceres-node-create` (argv → CeresTree.createNode): register or
  * update a node's metadata in the MetaStore log. */
object NodeCreate {

  final case class Args(metaDir: String, metric: String, timeStep: Long,
                        method: String, xff: Double,
                        retentions: Seq[MetaStore.Retention])

  private[cli] def parseArgs(args: Array[String]): Option[Args] =
    if (args.length < 2 || args.length > 6) None
    else scala.util.Try {
      val retentions =
        if (args.length < 6) Seq.empty
        else args(5).split(",").toIndexedSeq.map { part =>
          val Array(p, n) = part.split(":")
          MetaStore.Retention(p.toLong, n.toLong)
        }
      Args(args(0), args(1),
        if (args.length > 2) args(2).toLong else Catalog.Step,
        if (args.length > 3) args(3) else "average",
        if (args.length > 4) args(4).toDouble else 0.5,
        retentions)
    }.toOption

  def main(argv: Array[String]): Unit = parseArgs(argv) match {
    case None =>
      System.err.println("usage: graft.cli.NodeCreate <metaDir> <metric> " +
        "[timeStep] [method] [xff] [precision:points,...]")
      sys.exit(2)
    case Some(a) => NodeCli.withSession { spark =>
      MetaStore.put(spark, a.metaDir, a.metric, a.timeStep, a.method,
        a.xff, a.retentions)
    }
  }
}

/** `bin/ceres-node-write` (argv → CeresNode.write): append `ts=value`
  * datapoints to the store through the engine's compacting batch writer. */
object NodeWrite {

  final case class Args(storeDir: String, metaDir: String, metric: String,
                        points: Seq[(Long, Double)])

  private[cli] def parseArgs(args: Array[String]): Option[Args] =
    if (args.length < 4) None
    else scala.util.Try {
      val pts = args.drop(3).toIndexedSeq.map { part =>
        val Array(ts, v) = part.split("=")
        (ts.toLong, v.toDouble)
      }
      Args(args(0), args(1), args(2), pts)
    }.toOption

  def main(argv: Array[String]): Unit = parseArgs(argv) match {
    case None =>
      System.err.println("usage: graft.cli.NodeWrite <storeDir> <metaDir> " +
        "<metric> <ts=value>...")
      sys.exit(2)
    case Some(a) => NodeCli.withSession { spark =>
      import spark.implicits._
      Engine.openStore(spark, a.storeDir, a.metaDir)
        .store(a.points.map { case (ts, v) => (a.metric, ts, v) }
          .toDF("metric", "ts", "value"))
    }
  }
}

/** `bin/ceres-node-read` (argv → CeresTree.fetch): print the dense
  * reconciled grid of one metric over [from, until), one `ts value` line
  * per grid point (`None` for null cells, as the reference prints). */
object NodeRead {

  final case class Args(storeDir: String, metaDir: String, metric: String,
                        from: Long, until: Long)

  private[cli] def parseArgs(args: Array[String]): Option[Args] =
    if (args.length != 5) None
    else scala.util.Try {
      Args(args(0), args(1), args(2), args(3).toLong, args(4).toLong)
    }.toOption

  /** The fetch + formatting, separated from the session/exit so tests can
    * capture lines (column 1 = ts, column 2 = value or None). Streamed
    * through `toLocalIterator` — the dense grid of an unbounded
    * [from, until) is O(range/step) rows, and printing must not
    * materialize it on the driver (one partition is resident at a
    * time; the grid is already range-ordered, so partition order IS
    * line order). */
  private[cli] def readLines(spark: SparkSession, a: Args): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    Engine.openStore(spark, a.storeDir, a.metaDir)
      .fetch(a.metric, a.from, a.until)
      .toLocalIterator().asScala
      .map { r =>
        val v = if (r.isNullAt(1)) "None" else r.getDouble(1).toString
        s"${r.getLong(0)} $v"
      }
  }

  def main(argv: Array[String]): Unit = parseArgs(argv) match {
    case None =>
      System.err.println("usage: graft.cli.NodeRead <storeDir> <metaDir> " +
        "<metric> <from> <until>")
      sys.exit(2)
    case Some(a) => NodeCli.withSession { spark =>
      readLines(spark, a).foreach(println)
    }
  }
}
