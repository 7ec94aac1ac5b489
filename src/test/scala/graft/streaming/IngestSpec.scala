package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.Kernel

/** Structured Streaming ingest: the engine's store_write path, pinned to
  * Kernel.compact semantics (the reference CeresNode.write → compact). */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  /** `metric`'s raw rows in [from, until), read at `buckets`. */
  private def pruned(store: String, metric: String, from: Long, until: Long,
                     buckets: Int = Maintenance.MetricBuckets) =
    Maintenance.storeRead(spark, store, Seq(metric), Some((from, until)),
      Some(buckets))

  test("streaming ingest compacts each batch and defers cross-batch dedup") {
    import spark.implicits._
    val src = tmp("src"); val sink = tmp("sink"); val ckpt = tmp("ckpt")
    val step = 60L

    // batch 1: unaligned ts, a null, in-batch duplicate on aligned ts 1200
    val b1: Seq[(String, Long, Option[Double])] = Seq(
      ("m", 1205L, Some(5.0)), ("m", 1201L, Some(9.0)), ("m", 1330L, None),
      ("m", 1260L, Some(2.0)), ("n", 1200L, Some(7.0)))
    b1.toDF("metric", "ts", "value").write.parquet(s"$src/b1")
    Ingest.stream(spark, src, sink, ckpt, step, availableNow = true)
      .awaitTermination()

    // batch 2: late data + cross-batch duplicate (higher value wins at read)
    val b2: Seq[(String, Long, Option[Double])] = Seq(
      ("m", 1200L, Some(11.0)), ("m", 600L, Some(1.0)))
    b2.toDF("metric", "ts", "value").write.parquet(s"$src/b2")
    Ingest.stream(spark, src, sink, ckpt, step, availableNow = true)
      .awaitTermination()

    val got = Ingest.storeView(spark, sink)
      .orderBy("metric", "ts")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))

    // reference model: Kernel.compact over the union of both batches
    val all = b1 ++ b2
    val model = Kernel.compact(step, all.collect { case ("m", t, v) => (t, v) })
      .flatten.map { case (t, v) => ("m", t, v) }
    val modelN = Kernel.compact(step, all.collect { case ("n", t, v) => (t, v) })
      .flatten.map { case (t, v) => ("n", t, v) }

    assert(got.toSeq === (model ++ modelN).sortBy(r => (r._1, r._2)))
  }

  test("stream sink lands the (pb, pd) layout; pruned reads carry PartitionFilters") {
    import spark.implicits._
    val src = tmp("psrc"); val sink = tmp("psink"); val ckpt = tmp("pckpt")
    val rows: Seq[(String, Long, Option[Double])] =
      Seq(("a", 60L, Some(1.0)), ("b", 120L, Some(2.0)))
    rows.toDF("metric", "ts", "value").write.parquet(s"$src/b1")
    Ingest.stream(spark, src, sink, ckpt, 60L, availableNow = true)
      .awaitTermination()
    // bounded-bucket × date directories, never raw-metric ones
    val pbA = Maintenance.metricBucket("a")
    assert(new java.io.File(s"$sink/pb=$pbA/pd=1970-01-01").isDirectory)
    assert(!new java.io.File(s"$sink/metric=a").exists)
    // a (metric, range) read of the STREAM-ingested store partition-prunes
    val plan = pruned(sink, "a", 0L, 3600L)
      .queryExecution.executedPlan.toString
    val idx = plan.indexOf("PartitionFilters: [")
    assert(idx >= 0, s"expected PartitionFilters in scan:\n$plan")
    val pf = plan.substring(idx, math.min(plan.length, idx + 200))
    assert(!pf.startsWith("PartitionFilters: []") &&
      pf.contains("pb") && pf.contains("pd"),
      s"bucket and date predicates must reach the partition filter: $pf")
    // and the pruned read returns exactly metric a's compacted points
    assert(pruned(sink, "a", 0L, 3600L).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSeq ===
      Seq(("a", 60L, 1.0)))
    // legacy metric-partitioned stores still read mid-migration
    val legacy = tmp("plegacy") + "/store"
    Seq(("a", 60L, 60L, 1.0)).toDF("metric", "step", "ts", "value")
      .write.partitionBy("metric").parquet(legacy)
    assert(pruned(legacy, "a", 0L, 3600L)
      .count() === 1L)
  }

  test("bucket count is configurable: layout, compaction and pruned reads agree at 2 counts") {
    import spark.implicits._
    // the harness default (16) is not the 100 TB size — every
    // layout-touching entry point takes a `buckets` count; writers and
    // readers of one store must agree on it. Pin the whole write →
    // compact → pruned-read cycle at two very different counts.
    for (buckets <- Seq(4, 64)) {
      val sink = tmp(s"bsink-$buckets"); val dest = tmp(s"bdest-$buckets")
      val batch = Seq(("a", 60L, 1.0), ("b", 120L, 2.0), ("c", 86460L, 3.0))
        .toDF("metric", "ts", "value")
        .select(col("metric"), lit(60L).as("step"), col("ts"), col("value"))
      Ingest.appendToStore(batch, sink, buckets)
      Maintenance.compactStore(spark, sink, dest, buckets)
      for ((m, ts, v) <- Seq(("a", 60L, 1.0), ("b", 120L, 2.0),
          ("c", 86460L, 3.0))) {
        val pb = Maintenance.metricBucket(m, buckets)
        assert(pb >= 0 && pb < buckets)
        val pd = if (ts >= 86400L) "1970-01-02" else "1970-01-01"
        assert(new java.io.File(s"$sink/pb=$pb/pd=$pd").isDirectory,
          s"writer must land $m in its bucket at $buckets buckets")
        for (store <- Seq(sink, dest))
          assert(pruned(store, m, 0L, 200000L, buckets)
            .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
            .toSeq === Seq((m, ts, v)),
            s"pruned read of $m must see its row at $buckets buckets")
      }
      // no directory beyond the configured bucket count
      val pbDirs = new java.io.File(sink).listFiles()
        .filter(_.getName.startsWith("pb=")).map(_.getName.stripPrefix("pb=").toLong)
      assert(pbDirs.forall(pb => pb >= 0 && pb < buckets))
    }
  }

  test("streaming and Engine.store writers honor a non-default bucket count") {
    import spark.implicits._
    // the two entry points that USED to hardcode the default: a store
    // sized at buckets=4 fed by Ingest.stream or Engine.store previously
    // landed rows at pb = hash mod 16, and pruned reads at 4 silently
    // missed them — exactly the mixed-layout failure the layout doc warns
    // about
    val buckets = 4
    val src = tmp("bs-src"); val sink = tmp("bs-sink"); val ckpt = tmp("bs-ckpt")
    Seq(("stream.metric", 120L, 5.0)).toDF("metric", "ts", "value")
      .write.parquet(s"$src/b1")
    Ingest.stream(spark, src, sink, ckpt, step = 60L, availableNow = true,
        buckets = buckets)
      .awaitTermination()
    // ts on the engine's 3600 grid: Engine.store compacts (aligns) batches
    graft.Engine.open(spark, SparkTestBase.Sf0001)
      .store(Seq(("batch.metric", 7200L, 7.0)).toDF("metric", "ts", "value"),
        sink, buckets)
    for ((m, ts, v) <- Seq(("stream.metric", 120L, 5.0),
        ("batch.metric", 7200L, 7.0))) {
      val pb = Maintenance.metricBucket(m, buckets)
      assert(new java.io.File(s"$sink/pb=$pb/pd=1970-01-01").isDirectory,
        s"$m must land in its configured bucket")
      assert(pruned(sink, m, 0L, 86400L, buckets)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
        .toSeq === Seq((m, ts, v)))
    }
    val pbDirs = new java.io.File(sink).listFiles()
      .filter(_.getName.startsWith("pb=")).map(_.getName.stripPrefix("pb=").toLong)
    assert(pbDirs.forall(pb => pb >= 0 && pb < buckets),
      s"no writer may exceed the configured bucket count: ${pbDirs.toSeq}")
  }

  test("bucket-count marker: mismatched writers and readers fail loudly") {
    import spark.implicits._
    val sink = tmp("marker-sink")
    val batch = Seq(("m", 60L, 1.0)).toDF("metric", "ts", "value")
      .select(col("metric"), lit(60L).as("step"), col("ts"), col("value"))
    Ingest.appendToStore(batch, sink, buckets = 4)
    // the layout self-describes: a later writer or pruned reader at a
    // different count is the silent mixed-layout mode — now an error
    intercept[IllegalArgumentException] {
      Ingest.appendToStore(batch, sink, buckets = 16)
    }
    intercept[IllegalArgumentException] {
      pruned(sink, "m", 0L, 86400L, buckets = 16)
    }
    // matching count keeps working; marker-less legacy dirs check nothing
    assert(pruned(sink, "m", 0L, 86400L, buckets = 4)
      .count() === 1)
    val legacy = tmp("marker-legacy") + "/store"
    batch.write.parquet(legacy)
    assert(pruned(legacy, "m", 0L, 86400L).count() === 1)
  }

  test("compactStore validates the layout contract BEFORE overwriting") {
    import spark.implicits._
    val src = tmp("cs-src") + "/src"
    val dest = tmp("cs-dest") + "/store"
    Seq(("m", 60L, 60L, 1.0)).toDF("metric", "step", "ts", "value")
      .write.parquet(src)
    Maintenance.compactStore(spark, src, dest, buckets = 4)
    // a rewrite at a mismatched count must fail loudly BEFORE the
    // overwrite deletes the old marker — the store stays intact
    intercept[IllegalArgumentException] {
      Maintenance.compactStore(spark, src, dest, buckets = 16)
    }
    assert(pruned(dest, "m", 0L, 86400L, buckets = 4)
      .count() === 1, "failed rewrite must leave the store readable")
  }

  test("compactStore swap: marker ships with the data; interrupted swap restores") {
    import spark.implicits._
    val src = tmp("csw-src") + "/src"
    val dest = tmp("csw-dest") + "/store"
    Seq(("m", 60L, 60L, 1.0)).toDF("metric", "step", "ts", "value")
      .write.parquet(src)
    Maintenance.compactStore(spark, src, dest, buckets = 4)
    // the swap publishes marker + data as one unit: the marker exists the
    // instant the store directory does (no marker-less window)
    assert(new java.io.File(dest, "_buckets").isFile,
      "published store must carry its _buckets marker")
    // simulate a crash between the two swap renames: the store is staged
    // aside at .compacted-old and dest is gone
    val destF = new java.io.File(dest)
    val oldF = new java.io.File(dest + ".compacted-old")
    assert(destF.renameTo(oldF))
    // the next run auto-restores the staged store, re-validates its
    // contract, and completes the rewrite
    Maintenance.compactStore(spark, src, dest, buckets = 4)
    assert(!oldF.exists, "superseded backup must be cleared")
    assert(new java.io.File(dest, "_buckets").isFile)
    assert(pruned(dest, "m", 0L, 86400L, buckets = 4)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toSeq ===
      Seq(("m", 1.0)))
  }

  test("relational compaction (Catalog.points) agrees with Kernel.compact") {
    // pins the parity of the independent relational and kernel paths
    val pts = graft.core.Catalog.points(spark, graft.SparkTestBase.Sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (m, rs) => m -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq }
    val sec = org.apache.spark.sql.functions.expr("ts div 1000000000")
    val raw = graft.core.Catalog.events(spark, graft.SparkTestBase.Sf0001)
      .select(org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("events."),
          org.apache.spark.sql.functions.col("event_type")).as("metric"),
        sec.as("ts"), org.apache.spark.sql.functions.col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val model = raw.groupBy(_._1).map { case (m, rs) =>
      m -> Kernel.compact(3600L, rs.map(r => (r._2, r._3)).toSeq).flatten
    }
    assert(pts.keySet === model.keySet)
    pts.keySet.foreach { m => assert(pts(m) === model(m), s"metric $m") }
  }

  test("csv, json and orc ingest drops land identically to parquet drops") {
    import spark.implicits._
    val rows: Seq[(String, Long, Option[Double])] = Seq(
      ("m", 1205L, Some(5.0)), ("m", 1201L, Some(9.0)), ("m", 1330L, None),
      ("n", 1260L, Some(2.0)))
    val df = rows.toDF("metric", "ts", "value")
    def ingest(format: String): Seq[(String, Long, Double)] = {
      val src = tmp(s"fsrc-$format"); val sink = tmp(s"fsink-$format")
      val ckpt = tmp(s"fckpt-$format")
      format match {
        case "parquet" => df.write.parquet(s"$src/b1")
        case "csv"     => df.write.option("header", "true").csv(s"$src/b1")
        case "json"    => df.write.json(s"$src/b1")
        case "orc"     => df.write.orc(s"$src/b1")
      }
      Ingest.stream(spark, src, sink, ckpt, 60L, availableNow = true, format)
        .awaitTermination()
      Ingest.storeView(spark, sink).orderBy("metric", "ts").collect()
        .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSeq
    }
    val viaParquet = ingest("parquet")
    assert(viaParquet.nonEmpty)
    assert(ingest("csv") === viaParquet)
    assert(ingest("json") === viaParquet)
    assert(ingest("orc") === viaParquet)
    intercept[IllegalArgumentException] {
      Ingest.stream(spark, tmp("x"), tmp("y"), tmp("z"), 60L,
        availableNow = true, format = "avro")
    }
  }

  test("late data is never dropped (no watermark on the append path)") {
    import spark.implicits._
    val src = tmp("src2"); val sink = tmp("sink2"); val ckpt = tmp("ckpt2")
    Seq(("m", 1000000L, Some(1.0))).toDF("metric", "ts", "value")
      .write.parquet(s"$src/recent")
    Ingest.stream(spark, src, sink, ckpt, 60L, availableNow = true)
      .awaitTermination()
    // a point a year older arrives afterwards
    Seq(("m", 100L, Some(2.0))).toDF("metric", "ts", "value")
      .write.parquet(s"$src/ancient")
    Ingest.stream(spark, src, sink, ckpt, 60L, availableNow = true)
      .awaitTermination()
    val ts = Ingest.storeView(spark, sink).select("ts")
      .orderBy("ts").as[Long].collect()
    assert(ts.toSeq === Seq(60L, 999960L))
  }
}
