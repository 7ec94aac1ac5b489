package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.streaming.Maintenance.Tier

/** Multi-tier rollup + retention maintenance, pinned to the reference's
  * band arithmetic (plugins/maintenance/rollup.py node_found). */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val tiers = Seq(Tier(60, 10), Tier(300, 10), Tier(3600, 10))

  test("bands chain exactly as the reference: end_k = start_{k-1}") {
    val now = 10007L
    val bs = Maintenance.bands(now, tiers)
    // tier 0: end = 10007 - 10007%60 = 9960, start = 9960 - 600 = 9360
    assert(bs(0)._2 === 9360L && bs(0)._3 === 9960L)
    // tier 1: end = 9360 - 9360%300 = 9300, start = 9300 - 3000 = 6300
    assert(bs(1)._2 === 6300L && bs(1)._3 === 9300L)
    // tier 2: end = 6300 - 6300%3600 = 3600, start = 3600 - 36000 = -32400
    assert(bs(2)._2 === -32400L && bs(2)._3 === 3600L)
  }

  test("bands requires at least one tier") {
    intercept[IllegalArgumentException] { Maintenance.bands(0L, Seq.empty) }
  }

  test("maintain rolls fine overflow into the coarser tier and expires the tail") {
    import spark.implicits._
    val meta = Seq(("m", 60L, "sum", 0.0))
      .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor")
    val twoTiers = Seq(Tier(60, 10), Tier(300, 10))
    val now = 1200L
    // bands: fine [600,1200), coarse [-2400,600)
    val pts = Seq(
      ("m", 60L, 660L, 1.0),   // in fine band: kept at 60s
      ("m", 60L, 300L, 2.0),   // overflow: rolled into coarse window 300
      ("m", 60L, 360L, 3.0),   // overflow: same coarse window
      ("m", 60L, 0L, 4.0),     // overflow: coarse window 0
      ("m", 300L, -300L, 9.0), // already-coarse history inside coarse band
      ("m", 300L, -3000L, 8.0) // older than coarse band start: expired
    ).toDF("metric", "step", "ts", "value")

    val out = Maintenance.maintain(pts, meta, now, twoTiers)
      .orderBy("step", "ts").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))

    assert(out.toSeq === Seq(
      (60L, 660L, 1.0),    // untouched fine point
      (300L, -300L, 9.0),  // untouched coarse point
      (300L, 0L, 4.0),     // rolled (sum of one)
      (300L, 300L, 5.0)    // rolled (2.0 + 3.0)
    ))
  }

  test("maintain with a single tier is pure retention expiry") {
    import spark.implicits._
    val meta = Seq(("m", 60L, "sum", 0.0))
      .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor")
    val pts = Seq(
      ("m", 60L, 0L, 1.0), ("m", 60L, 540L, 2.0))
      .toDF("metric", "step", "ts", "value")
    // band: end = 600, start = 600 - 600 = 0 → ts<0 expired, 0 kept
    val out = Maintenance.maintain(pts, meta, 600L, Seq(Tier(60, 10)))
      .orderBy("ts").collect().map(_.getLong(2))
    assert(out.toSeq === Seq(0L, 540L))
  }

  test("tiersFromMeta reads the retention config, finest first") {
    val tiers = Maintenance.tiersFromMeta(
      graft.core.Catalog.metricsMeta(spark))
    assert(tiers === Seq(Tier(3600, 720), Tier(86400, 365)))
  }

  /** A heterogeneous two-ladder catalog for the per-node tests: metric `a`
    * keeps 10 fine slots, metric `b` only 2 (then 600 s archives). */
  private def heteroMeta = {
    import spark.implicits._
    Seq(
      ("a", 60L, "sum", 0.0, Seq((60L, 10L), (300L, 10L))),
      ("b", 60L, "sum", 0.0, Seq((60L, 2L), (600L, 10L))))
      .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor",
        "rawRetentions")
      .withColumn("retentions",
        expr("transform(rawRetentions, r -> struct(r._1 AS precision, r._2 AS points))"))
      .drop("rawRetentions")
  }

  test("tiersFromMeta throws on a heterogeneous catalog instead of collapsing") {
    intercept[IllegalArgumentException] { Maintenance.tiersFromMeta(heteroMeta) }
  }

  /** Recursive (path → (size, mtime)) snapshot of a store directory —
    * the byte-identity probe for the pruned-maintenance contract. */
  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString,
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)))
      .toMap
  }

  /** Metric `m` on an hourly-then-daily ladder. */
  private def hourlyDailyMeta = {
    import spark.implicits._
    Seq(("m", 3600L, "sum", 0.0, Seq((3600L, 24L), (86400L, 4L))))
      .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor",
        "rawRetentions")
      .withColumn("retentions",
        expr("transform(rawRetentions, r -> struct(r._1 AS precision, r._2 AS points))"))
      .drop("rawRetentions")
  }

  test("runPruned rewrites only band-affected partitions; steady state writes nothing") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pruned")
      .toString + "/store"
    val meta = hourlyDailyMeta
    val now = 1706659200L // 2024-01-31 00:00 UTC
    // bands: hourly [Jan 30, Jan 31), daily [Jan 26, Jan 30)
    val pts = Seq(
      ("m", 3600L, 1706572800L, 1.0),  // Jan 30 00:00 — in hourly band
      ("m", 3600L, 1706576400L, 2.0),  // Jan 30 01:00 — in hourly band
      ("m", 3600L, 1706400000L, 3.0),  // Jan 28 00:00 — overflow → daily
      ("m", 3600L, 1706403600L, 4.0),  // Jan 28 01:00 — overflow, same day
      ("m", 3600L, 1706493600L, 5.0),  // Jan 29 02:00 — overflow → daily
      ("m", 86400L, 1706313600L, 6.0), // Jan 27 daily — in daily band
      ("m", 86400L, 1706054400L, 7.0), // Jan 24 daily — expired
      ("x", 3600L, 1706400000L, 8.0)   // no retention metadata: passthrough
    ).toDF("metric", "step", "ts", "value")
    pts
      .withColumn("pb", pmod(xxhash64(col("metric")),
        lit(Maintenance.MetricBuckets.toLong)))
      .withColumn("pd", to_date(timestamp_seconds(col("ts"))))
      .repartition(1)
      .write.partitionBy("pb", "pd").parquet(tmp)

    val before = snapshot(tmp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val expected = rows(Maintenance.maintainPerNode(
      Ingest.storeView(spark, tmp), meta, now))

    Maintenance.runPruned(spark, tmp, now, Some(meta))
    val after = snapshot(tmp)

    // in-band partitions are PHYSICALLY untouched (same files, sizes, mtimes)
    for (d <- Seq("2024-01-30", "2024-01-27")) {
      val b = before.filter(_._1.contains(s"pd=$d"))
      assert(b.nonEmpty, s"fixture must populate pd=$d")
      assert(after.filter(_._1.contains(s"pd=$d")) === b,
        s"partition pd=$d must not be rewritten")
    }
    // the fully-expired date's partition is deleted, not left stale
    assert(!after.keys.exists(_.contains("pd=2024-01-24")),
      "expired partition must be deleted")
    // overflow dates were rewritten (rolled to daily)
    assert(after.filter(_._1.contains("pd=2024-01-28")) !==
      before.filter(_._1.contains("pd=2024-01-28")))
    // content parity with the full maintenance pass
    assert(rows(Ingest.storeView(spark, tmp)) === expected)
    assert(expected.contains(("m", 86400L, 1706400000L, 7.0)) &&
      expected.contains(("x", 3600L, 1706400000L, 8.0)))

    // steady state: a second pass finds no dirty rows and writes NOTHING
    Maintenance.runPruned(spark, tmp, now, Some(meta))
    assert(snapshot(tmp) === after, "steady-state pass must not touch any file")
  }

  test("runPruned refuses a store without the (pb, pd) layout and leaves it unmarked") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_flat")
      .toString + "/store"
    Seq(("m", 3600L, 1706572800L, 1.0), ("m", 3600L, 1706400000L, 3.0))
      .toDF("metric", "step", "ts", "value").write.parquet(tmp)
    val e = intercept[IllegalArgumentException] {
      Maintenance.runPruned(spark, tmp, 1706659200L, Some(hourlyDailyMeta))
    }
    assert(e.getMessage.contains("(pb, pd) compacted layout"))
    // a marker would declare the (pb, pd) layout: every later read would
    // filter on null pb/pd and return no rows
    assert(!new java.io.File(tmp, "_buckets").exists,
      "a refused pass must not mark the store")
    assert(Maintenance.storeRead(spark, tmp, Seq("m"),
      Some((0L, 2000000000L)), None).count() === 2)
    assert(Ingest.storeView(spark, tmp).count() === 2)
  }

  test("maintainPerNode builds each metric's bands from ITS OWN retentions") {
    import spark.implicits._
    val now = 1200L
    // ladders at now=1200: a fine band [600,1200), coarse [-2400,600);
    //                      b fine band [1080,1200), coarse [-5400,600)
    val pts = Seq(
      ("a", 60L, 660L, 1.0),    // inside a's fine band: stays at 60 s
      ("b", 60L, 660L, 2.0),    // OUTSIDE b's fine band: rolls to 600-bucket
      ("a", 300L, -3000L, 5.0), // a's coarse, older than a's band: expired
      ("b", 600L, -3000L, 6.0), // b's coarse, inside b's band: kept
      ("c", 60L, 0L, 7.0)       // metric absent from the catalog: pass-through
    ).toDF("metric", "step", "ts", "value")

    val out = Maintenance.maintainPerNode(pts, heteroMeta, now)
      .orderBy("metric", "step", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    assert(out.toSeq === Seq(
      ("a", 60L, 660L, 1.0),    // same ts, same step: a's ladder kept it fine
      ("b", 600L, -3000L, 6.0), // b's ladder retains deeper coarse history
      ("b", 600L, 600L, 2.0),   // same input ts as a's row, rolled for b only
      ("c", 60L, 0L, 7.0)))     // no metadata: never silently dropped
  }
}
