package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one traced operation: jobs, stages, tasks, task
  * time, shuffle and spill bytes, and the Parquet files/bytes/rows its
  * scans read. */
final case class SparkWork(jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
                           taskMs: Long = 0, shuffleBytes: Long = 0,
                           spillBytes: Long = 0, scanFiles: Long = 0,
                           scanBytes: Long = 0, scanRows: Long = 0,
                           jobMs: Seq[(Long, Long)] = Nil) {
  def +(o: SparkWork): SparkWork = SparkWork(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, scanFiles + o.scanFiles, scanBytes + o.scanBytes,
    scanRows + o.scanRows, jobMs ++ o.jobMs)
}

/** One span: a call from the benchmark into a layer. Spans of one client
  * operation share `op`; `parent` is the enclosing span (0 = none). */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The traced run's recorder. Spans are kept in memory and written out
  * when the run ends. Spark's side is observed through a `SparkListener`
  * (jobs, stages, task metrics) and a `QueryExecutionListener` (Parquet
  * scan metrics), both registered here and removed by [[close]]. Events
  * reach the listeners asynchronously, so [[collect]] drains the listener
  * bus before it hands the pending events to the operation just ended. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var op = 0

  private val lock = new Object
  private var pending = SparkWork()
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
      pending = pending.copy(jobs = pending.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(t0 =>
        pending = pending.copy(jobMs = pending.jobMs :+ (t0 -> e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      pending = pending + SparkWork(stages = 1, tasks = i.numTasks,
        taskMs = if (m == null) 0 else m.executorRunTime,
        shuffleBytes = if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        spillBytes = if (m == null) 0 else m.diskBytesSpilled)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = Tracer.scans(qe.executedPlan)
      def sum(k: String) = s.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
      lock.synchronized {
        pending = pending + SparkWork(scanFiles = sum("numFiles"),
          scanBytes = sum("filesSize"), scanRows = sum("numOutputRows"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Start a new client operation; its spans share one op id. */
  def newOp(): Int = { op += 1; op }

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, op, layer, name, n0, System.nanoTime(), m0,
        System.currentTimeMillis())
    }
  }

  /** Drain the listener bus and take every Spark event since the last call. */
  def collect(): SparkWork = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized { val w = pending; pending = SparkWork(); w }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover (children never overlap: one client thread). */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.layer).view.mapValues(_.map(s =>
      s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

object Tracer {
  /** Every Parquet scan in an executed plan, through adaptive re-planning
    * and query stages; reused exchanges are not counted twice. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Milliseconds of [t0, t1] that no job interval covers: driver-side
    * time (planning, result handling) of an operation. */
  def uncoveredMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var edge = t0
    jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, edge)
        if (b > s) { covered += b - s; edge = b }
      }
    (t1 - t0) - covered
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
