package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import graft.{SparkEntry, SparkTestBase}

/** The anti-pattern rail for the WHOLE registered query surface: no
  * query may HARD-CODE a broadcast of a corpus-cardinality relation.
  *
  * A `broadcast()` hint that collects a one-row-per-document / per-vector
  * / per-point table onto the driver is the classic silent 100 TB
  * scale-killer — it benchmarks FINE at harness scale and OOMs the driver
  * in production (two prior rounds shipped exactly this: an O(#vectors)
  * argmax join table and the O(#clustered docs) apply hints). Broadcasts
  * that AQE or the size threshold choose from OBSERVED stats are not the
  * target — those decisions re-make themselves at real scale — so the
  * sweep runs with AQE off and `autoBroadcastJoinThreshold=-1`, under
  * which the ONLY BroadcastExchanges left in any plan are the ones the
  * code forces with an explicit hint (hints override the threshold).
  * Every such frozen broadcast must be metadata-sized: centroids, probe
  * cells, query buckets, the metrics catalog — all far below the corpus
  * floor. The spec executes every `SparkEntry.queries` entry, walks the
  * executed plan (descending into cached-relation build plans, where the
  * feature/label caches have actually hidden corpus-sized broadcasts),
  * and reads each BroadcastExchange's actual `numOutputRows` metric.
  */
class BroadcastRailSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.Sf0001

  /** Every BroadcastExchange in the executed tree with its observed output
    * rows — including exchanges inside adaptive query stages and inside
    * the build plans of in-memory-cached relations (the feature/label
    * caches are where corpus-sized broadcasts have actually hidden). */
  private def broadcastRows(p: SparkPlan): Seq[(String, Long)] = {
    val here = p match {
      case b: BroadcastExchangeExec =>
        Seq((b.child.nodeName, b.metrics("numOutputRows").value))
      case _ => Seq.empty
    }
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
      case other => other.children
    }
    here ++ children.flatMap(broadcastRows) ++
      p.subqueries.flatMap(broadcastRows)
  }

  test("no registered query hard-codes a corpus-cardinality broadcast") {
    val corpusFloor = Seq(
      graft.core.Catalog.documents(spark, Sf0001).count(),
      graft.core.Catalog.embeddings(spark, Sf0001).count()).min
    // "metadata-sized" = well under the smallest corpus table; half keeps
    // the rail strict enough to catch a one-row-per-corpus-row broadcast
    // (== floor) while passing genuinely bounded sides (centroids=16,
    // nprobe=4, query buckets, the 5-metric catalog)
    val limit = corpusFloor / 2
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val savedThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // each query's (blind?, offenders): every query runs before anything
    // is asserted, so one failure cannot hide a later one
    val checked =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val df = fn(spark, Sf0001)
          df.collect()
          val seen = broadcastRows(df.queryExecution.executedPlan)
          // vacuity guard: the ANN queries carry known metadata-sized
          // hints (query vector, centroids, probe cells) — if the walk
          // stopped seeing them, the rail went blind, not clean.
          // Two DELIBERATELY hint-free ANN plans are exempt (absence of
          // hints there is design, not blindness): ann_lsh_batch_topk
          // (every join side scales with the query batch, so AQE owns
          // all of them) and ann_pq_topk (the r14 trained face — its
          // ADC is m·ksub = 512 rows, past the hint rail's metadata
          // floor, so the join is left to AQE per the house convention)
          val blind = name.startsWith("ann_") &&
            name != "ann_lsh_batch_topk" && name != "ann_pq_topk" &&
            seen.isEmpty
          (Option.when(blind)(
              s"$name: expected hinted broadcasts in plan; traversal saw none"),
            seen.filter(_._2 >= limit)
              .map { case (src, rows) =>
                s"$name: hinted broadcast of $src = $rows rows" })
        }
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
      }
    val blind = checked.flatMap(_._1)
    val offenders = checked.flatMap(_._2)
    assert(blind.isEmpty && offenders.isEmpty,
      s"blind rail (${blind.size} quer(ies)):\n" + blind.mkString("\n") +
        s"\nfrozen corpus-cardinality broadcast(s) detected " +
        s"(floor=$corpusFloor):\n" + offenders.mkString("\n"))
  }

  /** r19 rail (VERDICT r18 item 1): the row-count rail above cannot see
    * the RESULT-SIZED-ROW failure mode — a broadcast side with few rows
    * where each row packs a whole render window into a map (the
    * fetchForMetrics/denseGridAll `packed` table is #metrics rows ×
    * window points of payload). No query may HINT-FORCE a broadcast of
    * such a side: with AQE off and the auto threshold at -1, the only
    * BroadcastExchanges left are hint-forced, so any map-typed exchange
    * output found here is a frozen window-sized broadcast. Plan-build
    * only (no execution): the rail checks what the code forces, not what
    * AQE chooses from observed stats — AQE-chosen broadcasts re-decide
    * themselves at real scale and are fine. */
  test("no query hint-forces a broadcast of a packed window-map side") {
    import org.apache.spark.sql.types.MapType
    def mapBroadcasts(p: SparkPlan): Seq[String] = {
      val here = p match {
        case b: BroadcastExchangeExec
            if b.output.exists(_.dataType.isInstanceOf[MapType]) =>
          Seq(b.child.nodeName)
        case _ => Seq.empty
      }
      val children = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
        case other => other.children
      }
      here ++ children.flatMap(mapBroadcasts) ++
        p.subqueries.flatMap(mapBroadcasts)
    }
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val savedThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val offenders =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
          mapBroadcasts(fn(spark, Sf0001).queryExecution.executedPlan)
            .map(src => s"$name: hinted broadcast of map-typed side $src")
        }
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
      }
    assert(offenders.isEmpty,
      "hint-forced broadcast(s) of window-map sides detected:\n" +
        offenders.mkString("\n"))
  }
}
