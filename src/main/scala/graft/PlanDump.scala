package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Plan-capture tool for the optimization rounds (guide §1.1/§7.2):
  * `runMain graft.PlanDump <sfDir> <outDir> [query ...]` writes each
  * query's `.explain("formatted")` text to `<outDir>/<query>.txt`
  * (all queries when none are named), [[normalize]]d so plans written by
  * two runs or two commits diff clean. Also prints a one-line plan-shape
  * summary (exchange count / join strategies / codegen spans) per query
  * so a registry-wide sweep is greppable. Not part of the driver
  * contract. */
object PlanDump {

  /** `plan` without the counters that change from run to run or edit to
    * edit: expression ids (`#12`), exchange ids (`plan_id=34`), RDD ids
    * (`MapPartitionsRDD[56]`), RDD call-site labels (`localCheckpoint at
    * SeriesOps.scala:78`), lambda instance names (`Lambda…/0x…@…`) and
    * this JVM's pid in BuildOnce scratch paths (`…_p789`). */
  private[graft] def normalize(plan: String): String =
    plan.replaceAll("#[0-9]+", "")
      .replaceAll("plan_id=[0-9]+", "plan_id=")
      .replaceAll("RDD\\[[0-9]+\\]", "RDD[]")
      .replaceAll(" at [A-Za-z0-9_$]+\\.scala:[0-9]+", "")
      .replaceAll("Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")
      .replaceAll(s"_p${ProcessHandle.current().pid()}(?![0-9])", "_p")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.Catalog.configureSession(spark)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = normalize(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
            val exch = plan.linesIterator.count(l =>
              l.contains(" Exchange") || l.startsWith("Exchange"))
            val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
            val bhj = plan.linesIterator
              .count(_.contains("BroadcastHashJoin"))
            val shj = plan.linesIterator
              .count(_.contains("ShuffledHashJoin"))
            val bnl = plan.linesIterator
              .count(_.contains("BroadcastNestedLoopJoin"))
            val cart = plan.linesIterator
              .count(_.contains("CartesianProduct"))
            val wsc = plan.linesIterator
              .count(_.contains("WholeStageCodegen"))
            println(s"[plandump] $name exch=$exch smj=$smj bhj=$bhj " +
              s"shj=$shj bnl=$bnl cart=$cart wsc=$wsc")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
