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
    * SeriesOps.scala:78`), lambda instance names (`Lambda…/0x…@…`), this
    * JVM's pid in BuildOnce scratch paths (`…_p789`) and the order of the
    * distinct-aggregate groups ([[sortDistinctGroups]]). */
  private[graft] def normalize(plan: String): String =
    plan.replaceAll("#[0-9]+", "")
      .replaceAll("plan_id=[0-9]+", "plan_id=")
      .replaceAll("RDD\\[[0-9]+\\]", "RDD[]")
      .replaceAll(" at [A-Za-z0-9_$]+\\.scala:[0-9]+", "")
      .replaceAll("Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")
      .replaceAll(s"_p${ProcessHandle.current().pid()}(?![0-9])", "_p")
      .split("(?m)^(?=\\([0-9]+\\) Expand$)").map(sortDistinctGroups).mkString

  /** An `Expand`'s projection list and output columns. */
  private val ExpandArgs = "(?m)^Arguments: \\[(\\[.*\\])\\], \\[(.*)\\]$".r

  /** Spark's distinct-aggregate rewrite numbers its distinct groups
    * (`gid`) and lays out their `Expand` columns in the iteration order
    * of a hash map keyed on expression ids, so one plan prints under a
    * different group order from run to run. `section` starts at an
    * `Expand` and runs to the next one (the Expand's consumers follow it
    * in the formatted plan): its groups are put in the order of their
    * column texts, renumbering `gid` and reordering the group columns in
    * every later line of the section. A section without a `gid` column
    * (the plan's head, a grouping-set Expand) is returned unchanged. */
  private def sortDistinctGroups(section: String): String = {
    val m = ExpandArgs.findFirstMatchIn(section).orNull
    val out = if (m == null) Nil else topLevel(m.group(2))
    val g = out.indexOf("gid")
    if (g < 0) return section
    val rows = topLevel(m.group(1)).map(r => topLevel(r.drop(1).dropRight(1)))
    val d = (0 until g).filter(j => rows.exists(_(j) == "null"))
    def cols(r: Seq[String]) = d.filter(r(_) != "null")
    val (groups, rest) = rows.partition(cols(_).nonEmpty)
    val sorted = groups.sortBy(cols(_).map(out).mkString(", "))
    val gid = sorted.map(_(g)).zip(groups.map(_(g))).toMap
    val newD = sorted.flatMap(cols)
    val order = out.indices.map(j => if (d.contains(j)) newD(d.indexOf(j)) else j)
    def list(xs: Seq[String]) = xs.mkString("[", ", ", "]")
    section.substring(0, m.start(1) - 1) +
      list((rest ++ sorted).map(r => list(order.map(j =>
        if (j == g) gid.getOrElse(r(g), r(g)) else r(j))))) +
      ", " + list(order.map(out)) +
      "\\(gid = ([0-9]+)\\)".r.replaceAllIn(
        section.substring(m.end).replace(d.map(out).mkString(", "),
          newD.map(out).mkString(", ")),
        x => s"(gid = ${gid.getOrElse(x.group(1), x.group(1))})")
  }

  /** `s` split at its top-level ", " — outside parentheses and brackets. */
  private def topLevel(s: String): Seq[String] = {
    var depth = 0
    val cuts = s.indices.filter { i =>
      depth += "([".count(_ == s(i)) - ")]".count(_ == s(i))
      depth == 0 && s.startsWith(", ", i)
    }
    (-2 +: cuts).zip(cuts :+ s.length).map { case (a, b) => s.substring(a + 2, b) }
  }

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
