package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.Kernel

/** Spark-backed specs for the reference operator surface. */
class SeriesOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.Sf0001

  private def meta(method: String, xff: Double = 0.0) = {
    import spark.implicits._
    Seq(("m", 60L, method, xff))
      .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor")
  }

  private def pts(rows: (String, Long, Long, Double)*) = {
    import spark.implicits._
    rows.toDF("metric", "step", "ts", "value")
  }

  test("densifyGrid returns exactly (until'-from')/step rows, ceres window") {
    val df = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until)
    // until rounds UP one step even though aligned: 168 + 1 = 169 points
    assert(df.count() === 169)
    val ts = df.select("ts").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    assert(ts.head === SeriesOps.From)
    assert(ts.last === SeriesOps.Until)
    assert(ts.toSeq === ts.sorted.toSeq)
  }

  test("fetchRange rows are a subset of densifyGrid's non-null rows") {
    val fetched = SeriesOps.fetchRange(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    val dense = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until)
      .where(col("value").isNotNull).collect()
    assert(fetched.map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      dense.map(r => (r.getLong(0), r.getDouble(1))).toSet)
  }

  test("multi-resolution reconcile aggregates finer rows onto the coarsest step") {
    // fine 60s data [0,180) + coarse 300s history at 300, 600
    val in = pts(
      ("m", 60L, 0L, 1.0), ("m", 60L, 60L, 2.0), ("m", 60L, 120L, 3.0),
      ("m", 300L, 300L, 10.0), ("m", 300L, 600L, 20.0))
    val out = SeriesOps.reconcileToCoarsest(in, meta("average"))
      .orderBy("ts").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(300L, 300L, 300L)) // step col
    assert(out.map(r => (r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((0L, 2.0), (300L, 10.0), (600L, 20.0)))
  }

  test("reconcile respects per-metric aggregation method (sum vs average)") {
    val in = pts(("m", 60L, 0L, 1.0), ("m", 60L, 60L, 2.0), ("m", 300L, 300L, 9.0))
    val sum = SeriesOps.reconcileToCoarsest(in, meta("sum"))
      .orderBy("ts").collect()
    assert(sum.map(r => (r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((0L, 3.0), (300L, 9.0)))
  }

  test("reconcile anchors buckets at the window start (nothing before from)") {
    // range-filtered fetch from=120: coarse bucketing must not move data
    // below the requested window
    val in = pts(
      ("m", 60L, 120L, 1.0), ("m", 60L, 180L, 2.0), ("m", 60L, 240L, 3.0),
      ("m", 300L, 600L, 9.0))
    val out = SeriesOps.reconcileToCoarsest(in, meta("average"), anchor = 120L)
      .orderBy("ts").collect()
    assert(out.map(r => (r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((120L, 2.0), (420L, 9.0)))
    assert(out.forall(_.getLong(2) >= 120L))
  }

  test("reconcile on single-step input is the identity") {
    val in = pts(("m", 60L, 0L, 1.0), ("m", 60L, 60L, 2.0), ("m", 60L, 180L, 5.0))
    val out = SeriesOps.reconcileToCoarsest(in, meta("last"))
      .orderBy("ts").collect()
    assert(out.map(r => (r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((0L, 1.0), (60L, 2.0), (180L, 5.0)))
  }

  test("fetchRangeFrom on a mixed-step store reconciles both tiers") {
    // coarse day-0 history + fine hourly rows on day 1; window [0, 2 days)
    val in = pts(
      ("m", 86400L, 0L, 10.0),
      ("m", 3600L, 86400L, 1.0), ("m", 3600L, 90000L, 2.0))
    val out = SeriesOps.fetchRangeFrom(in, meta("sum"), "m", 0L, 172800L - 3600L)
      .collect()
    // target step 86400: day 0 = the coarse row as-is, day 1 = 1+2 summed
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((0L, 10.0), (86400L, 3.0)))
  }

  test("densifyGridFrom grids at the reconciled step and nulls gaps") {
    val in = pts(
      ("m", 86400L, 0L, 10.0),
      ("m", 3600L, 86400L, 1.0), ("m", 3600L, 90000L, 2.0))
    // until' = 172800 + 3600, so day 2 (172800) is on the grid with no data
    val out = SeriesOps.densifyGridFrom(in, meta("sum"), "m", 0L, 172800L)
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 86400L, 172800L))
    assert(out.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
      === Seq(Some(10.0), Some(3.0), None))
  }

  test("densifyGridFrom on a single-step store matches densifyGrid") {
    import spark.implicits._
    val a = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    val b = SeriesOps.densifyGridFrom(
      graft.core.Catalog.pointsCached(spark, Sf0001),
      graft.core.Catalog.metricsMeta(spark), "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    assert(norm(a) === norm(b))
  }

  test("multiresStore holds hourly rows from the split, daily rollup before") {
    // sf0.01: pre-split days are dense enough (19-24/24 hours) to pass the
    // xff=0.5 rollup gate; at sf0.001 every day is sparser than 50% and the
    // gate (correctly) emits nothing coarse
    val store = SeriesOps.multiresStore(spark, "/root/testdata/sf0.01")
    val steps = store.groupBy("step")
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(steps.keySet === Set(3600L, 86400L))
    assert(steps(3600L)._1 >= SeriesOps.MultiresSplit)
    assert(steps(86400L)._2 < SeriesOps.MultiresSplit)
    // coarse rows sit on day boundaries
    assert(store.where(col("step") === 86400L && pmod(col("ts"), lit(86400L)) =!= 0)
      .count() === 0)
  }

  test("storeCheck flags duplicates, misalignment, and overlaps; clean store is zero") {
    // clean mixed-step store: no violations
    val clean = pts(
      ("m", 86400L, 0L, 1.0), ("m", 3600L, 86400L, 2.0), ("m", 3600L, 90000L, 3.0))
    val ok = SeriesOps.storeCheck(clean).collect()
    assert(ok.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq === Seq(("m", 0L, 0L, 0L)))

    val corrupt = pts(
      ("d", 3600L, 0L, 1.0), ("d", 3600L, 0L, 2.0),      // duplicate cell
      ("a", 3600L, 100L, 1.0),                           // misaligned ts
      // coarse day row overlapped by a fine row inside it
      ("o", 86400L, 0L, 1.0), ("o", 3600L, 3600L, 2.0),
      ("ok", 3600L, 0L, 1.0))
    val out = SeriesOps.storeCheck(corrupt).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("d") === ((1L, 0L, 0L)))
    assert(out("a") === ((0L, 1L, 0L)))
    assert(out("o") === ((0L, 0L, 1L)))
    assert(out("ok") === ((0L, 0L, 0L)))
  }

  test("mergeSeries on a multi-res store uses the primary's reconciled grid") {
    import org.apache.spark.sql.functions.lit
    val twoMeta = {
      import spark.implicits._
      Seq(("p", 3600L, "sum", 0.0), ("q", 3600L, "average", 0.0))
        .toDF("metric", "timeStep", "aggregationMethod", "xFilesFactor")
    }
    val f = SeriesOps.From
    // primary at DAY resolution (rolled history), secondary hourly
    val in = pts(
      ("p", 86400L, f, 10.0),
      ("q", 3600L, f + 3600L, 1.0), ("q", 3600L, f + 7200L, 3.0),
      ("q", 3600L, f + 86400L + 3600L, 7.0))
    val out = SeriesOps.mergeSeriesFrom(in, twoMeta, "p", "q",
      f, f + 2 * 86400L - 3600L).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // grid at 86400 (primary's step): day 0 from primary; day 1 filled from
    // the EARLIEST secondary value aligned into that cell
    assert(out.toSeq === Seq(
      (f, Some(10.0)), (f + 86400L, Some(7.0))))
  }

  test("rollupTier conserves sums when xff = 0 and method = sum") {
    val in = pts((0 until 50).map(i => ("m", 60L, i * 60L, i.toDouble)): _*)
    val rolled = SeriesOps.rollupTier(in, meta("sum"), 60L, 300L)
    val coarseSum = rolled.agg(sum("value")).head.getDouble(0)
    assert(coarseSum === (0 until 50).map(_.toDouble).sum)
  }

  test("rollupTier xFilesFactor gates sparse windows") {
    // window [0,300) has 4/5 points, window [300,600) has 1/5
    val in = pts(
      ("m", 60L, 0L, 1.0), ("m", 60L, 60L, 1.0), ("m", 60L, 120L, 1.0),
      ("m", 60L, 180L, 1.0), ("m", 60L, 300L, 1.0))
    val rolled = SeriesOps.rollupTier(in, meta("sum", xff = 0.5), 60L, 300L)
      .collect()
    assert(rolled.map(r => (r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((0L, 4.0)))
  }

  test("rollupTier matches Kernel.aggregateSeries on a dense grid") {
    val values = (0 until 24).map(i => (i * 7 % 5).toDouble)
    val in = pts(values.zipWithIndex.map {
      case (v, i) => ("m", 3600L, i * 3600L, v) }: _*)
    val rolled = SeriesOps.rollupTier(in, meta("average"), 3600L, 86400L)
      .collect()
    val expected = Kernel.aggregateSeries("average", 3600L, 86400L,
      values.map(Option(_)))
    assert(rolled.length === 1)
    // rollupTier rounds avg/sum to 6 dp for cross-engine stability
    assert(math.abs(rolled.head.getDouble(2) - expected.head.get) < 1e-6)
  }

  test("catalog ops serve from metadata: plan never touches the events scan") {
    val plan = SeriesOps.walkTree(spark, Sf0001).queryExecution
      .executedPlan.toString
    assert(!plan.contains("events.parquet"))
    val plan2 = SeriesOps.findGlob(spark, Sf0001, "events.*").queryExecution
      .executedPlan.toString
    assert(!plan2.contains("events.parquet"))
  }

  test("invalid aggregation method throws (reference error contract)") {
    intercept[IllegalArgumentException] {
      SeriesOps.aggRange(spark, Sf0001, "median")
    }
  }

  test("seriesDerivative reconciles with a driver-side grid diff; rate gates negatives") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val got = SeriesOps.seriesDerivative(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val expected = if (i == 0) None
        else for (a <- grid(i - 1)._2; b <- grid(i)._2) yield b - a
      val delta = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(delta === expected, s"delta at ts=${grid(i)._1}")
      val rate = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(rate === expected.filter(_ >= 0).map(_ / 3600.0),
        s"rate at ts=${grid(i)._1}")
    }
    // the fixture must exercise both branches: some negative deltas nulled
    assert(got.exists(r => !r.isNullAt(2) && r.getDouble(2) < 0 && r.isNullAt(3)))
    assert(got.exists(r => !r.isNullAt(3)))
  }

  test("seriesMovingAvg is the trailing-6 mean of micro-rounded non-gap values") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val got = SeriesOps.seriesMovingAvg(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 6).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val win = grid.slice(math.max(0, i - 5), i + 1).flatten
        .map(v => math.floor(v * 1e6 + 0.5).toLong)
      val expected =
        if (win.isEmpty) None else Some(win.sum.toDouble / win.length / 1e6)
      val ma = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(ma === expected, s"ma at index $i")
    }
    // gap rows still emit, with the window mean carried over the gap
    assert(got.exists(r => r.isNullAt(1) && !r.isNullAt(2)))
  }

  /** The densified purchase grid as (ts, Option[value]) for driver-side
    * reconciliation of the read-path analytics. */
  private def purchaseGrid(): Array[(Long, Option[Double])] =
    SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))

  private def micro(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong

  test("seriesSummarize reconciles with driver-side 4h bucket aggregates") {
    val grid = purchaseGrid()
    val expected = grid.groupBy { case (ts, _) =>
      ts - ((ts - SeriesOps.From) % 14400) }
      .map { case (bts, cells) =>
        val vs = cells.flatMap(_._2)
        bts -> (vs.length.toLong,
          if (vs.isEmpty) None else Some(vs.map(micro).sum),
          vs.minOption, vs.maxOption)
      }
    val rows = SeriesOps.seriesSummarize(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 14400).collect()
    assert(rows.length === expected.size)
    // 169 hourly slots in 4h buckets: 42 full buckets + a 1-slot tail
    assert(rows.length === 43)
    rows.foreach { r =>
      val (n, microSum, vMin, vMax) = expected(r.getLong(0))
      assert(r.getLong(1) === n, s"n_slots at ${r.getLong(0)}")
      val sum = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(sum === microSum.map(_ / 1e6), s"v_sum at ${r.getLong(0)}")
      val av = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(av === microSum.map(_.toDouble / n / 1e6), s"v_avg at ${r.getLong(0)}")
      assert((if (r.isNullAt(4)) None else Some(r.getDouble(4))) === vMin)
      assert((if (r.isNullAt(5)) None else Some(r.getDouble(5))) === vMax)
    }
  }

  test("seriesHitcount is the step-weighted (integral) form of summarize's sum") {
    val grid = purchaseGrid()
    val expected = grid.groupBy { case (ts, _) =>
      ts - ((ts - SeriesOps.From) % 14400) }
      .map { case (bts, cells) =>
        val vs = cells.flatMap(_._2)
        bts -> (vs.length.toLong,
          if (vs.isEmpty) None else Some(vs.map(micro).map(_ * 3600L).sum))
      }
    val rows = SeriesOps.seriesHitcount(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 14400).collect()
    assert(rows.length === expected.size && rows.length === 43)
    rows.foreach { r =>
      val (n, hitsMicro) = expected(r.getLong(0))
      assert(r.getLong(1) === n, s"n_slots at ${r.getLong(0)}")
      val hits = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(hits === hitsMicro.map(_ / 1e6), s"hits at ${r.getLong(0)}")
    }
  }

  test("seriesBands: bands bracket the mean, flags fire only outside them") {
    val grid = purchaseGrid()
    // 1σ bands: the registered query's 2σ envelope is wide enough that
    // the smooth sf0.001 fixture never escapes it, and the flag branch
    // is identical at any width — tighten so the test exercises it
    val rows = SeriesOps.seriesBands(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 12, 1.0).collect()
    assert(rows.length === grid.length)
    var aberrations = 0
    rows.zipWithIndex.foreach { case (r, i) =>
      val window = grid.slice(math.max(0, i - 11), i + 1).flatMap(_._2)
      val n = window.length
      if (n > 1) {
        assert(!r.isNullAt(4) && !r.isNullAt(5), s"bands defined at slot $i")
        val (lo, hi) = (r.getDouble(5), r.getDouble(4))
        assert(lo <= r.getDouble(2) && r.getDouble(2) <= hi,
          s"mean inside its own band at slot $i")
        // the mean tracks the window's milli-rounded values
        val km = window.map(v => math.floor(v * 1e3 + 0.5).toLong)
        val s1 = km.sum; val s2 = km.map(k => k * k).sum
        assert((r.getDouble(2) - s1.toDouble / n / 1e3).abs <= 5e-7,
          s"window mean at slot $i")
        // the flag fires on the UNROUNDED bands (the output columns are
        // display-rounded) — recompute them with the engine's exact op
        // sequence
        val mean0 = s1.toDouble / n / 1e3
        val sd0 = math.sqrt((n.toLong * s2 - s1 * s1).toDouble) / n / 1e3
        val (lo0, hi0) = (mean0 - 1.0 * sd0, mean0 + 1.0 * sd0)
        if (!r.isNullAt(1)) {
          val v = r.getDouble(1)
          assert(r.getBoolean(6) === (v > hi0 || v < lo0),
            s"flag vs exact bands at slot $i")
          if (r.getBoolean(6)) aberrations += 1
        } else assert(!r.getBoolean(6), s"gap slots never flag ($i)")
      } else {
        assert(r.isNullAt(3) && !r.getBoolean(6),
          s"no deviation estimate from <2 points at slot $i")
      }
    }
    assert(aberrations > 0, "the fixture must exercise at least one aberration")
  }

  test("seriesKeepLast fills gaps from up to 3 slots back, copies elsewhere") {
    val grid = purchaseGrid()
    val rows = SeriesOps.seriesKeepLast(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 3).collect()
    assert(rows.length === grid.length)
    rows.zipWithIndex.foreach { case (r, i) =>
      val expected = grid.slice(math.max(0, i - 3), i + 1).flatMap(_._2)
        .lastOption
      val filled = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(filled === expected, s"filled at index $i")
      // a non-gap slot is always its own value
      grid(i)._2.foreach(v => assert(filled === Some(v)))
    }
    // the fixture must exercise a filled gap
    assert(rows.exists(r => r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("seriesIntegral is the running micro-unit total over the grid") {
    val grid = purchaseGrid()
    val rows = SeriesOps.seriesIntegral(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.length === grid.length)
    var acc = 0L
    var seen = false
    rows.zipWithIndex.foreach { case (r, i) =>
      grid(i)._2.foreach { v => acc += micro(v); seen = true }
      val integral = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(integral === (if (seen) Some(acc / 1e6) else None),
        s"integral at index $i")
    }
    // monotone for a non-negative series
    val vals = rows.flatMap(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(vals.toSeq === vals.sorted.toSeq)
  }

  test("seriesTimeShift overlays the same metric one day earlier") {
    val byTs = SeriesOps.fetchRange(spark, Sf0001, "events.purchase",
      SeriesOps.From - 86400, SeriesOps.Until - 86400).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = SeriesOps.seriesTimeShift(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 86400L).collect()
    assert(rows.length === purchaseGrid().length)
    rows.foreach { r =>
      val expected = byTs.get(r.getLong(0) - 86400)
      val shifted = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(shifted === expected, s"shifted at ${r.getLong(0)}")
      val delta = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      val value = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      assert(delta === (for (v <- value; s <- shifted) yield v - s))
    }
    assert(rows.exists(r => !r.isNullAt(3)))
  }

  test("seriesPercentiles matches a driver-side sorted interpolation per metric") {
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .select("metric", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val ps = Seq(0.5, 0.9, 0.99)
    val expected = pts.groupBy(_._1).toSeq.flatMap { case (m, xs) =>
      val sorted = xs.map(_._2).sorted
      ps.map { p =>
        val h = p * (sorted.length - 1)
        val lo = math.floor(h).toInt
        val hi = math.ceil(h).toInt
        val q = sorted(lo) + (sorted(hi) - sorted(lo)) * (h - lo)
        (m, p, BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }
    }.sortBy(t => (t._1, t._2))
    val got = SeriesOps.seriesPercentiles(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, ps).collect()
      .map(r => (r.getString(0), r.getDouble(1), BigDecimal(r.getDouble(2))))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case ((m, p, q), (em, ep, eq)) =>
      assert(m === em && p === ep, s"row order at $m/$p")
      assert((q - eq).abs <= BigDecimal(1e-6), s"q at $m/$p: $q vs $eq")
    }
  }

  test("seriesTopMetrics ranks metrics by exact micro-unit window means") {
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .select("metric", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val means = pts.groupBy(_._1).map { case (m, xs) =>
      m -> xs.map(x => micro(x._2)).sum.toDouble / xs.length / 1e6 }
    val expected = means.toSeq.sortBy { case (m, v) => (-v, m) }.take(3)
    val rows = SeriesOps.seriesTopMetrics(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 3).collect()
    assert(rows.map(r => (r.getString(1), r.getDouble(2))).toSeq === expected)
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("seriesLinReg matches a driver-side exact-integer least-squares") {
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .select("metric", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expected = pts.groupBy(_._1).toSeq.sortBy(_._1).map { case (m, xs) =>
      val xy = xs.map { case (_, ts, v) =>
        ((ts - SeriesOps.From) / 3600, micro(v)) }
      val n = xy.length.toLong
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val slopeM = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      (m, n, slopeM / 1e6, (sy.toDouble - slopeM * sx.toDouble) / n / 1e6)
    }
    val got = SeriesOps.seriesLinReg(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (r, (m, n, slope, icept)) =>
      assert(r.getString(0) === m)
      assert(r.getLong(1) === n)
      assert((r.getDouble(2) - slope).abs <= 1e-6, s"slope of $m")
      assert((r.getDouble(4) - icept).abs <= 1e-6, s"intercept of $m")
      // per-second slope is the per-slot slope over the step
      assert((r.getDouble(3) - slope / 3600.0).abs <= 1e-9, s"rate of $m")
    }
  }

  test("seriesMovingStdev is the trailing-6 sample stddev in milli units") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val got = SeriesOps.seriesMovingStdev(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 6).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val win = grid.slice(math.max(0, i - 5), i + 1).flatten
        .map(v => math.floor(v * 1e3 + 0.5).toLong)
      val expected = if (win.length < 2) None else {
        val n = win.length.toLong
        val s1 = win.sum; val s2 = win.map(k => k * k).sum
        Some(math.sqrt((n * s2 - s1 * s1).toDouble / (n * (n - 1))) / 1e3)
      }
      val sd = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      (sd, expected) match {
        case (Some(a), Some(b)) => assert((a - b).abs <= 1e-6, s"stdev at $i")
        case (a, b) => assert(a === b, s"stdev presence at $i")
      }
    }
    // some window with ≥2 values must produce a positive stdev
    assert(got.exists(r => !r.isNullAt(2) && r.getDouble(2) > 0))
  }

  test("seriesEwma matches driver-side binary-weighted taps; gaps carry") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val taps = 16
    val got = SeriesOps.seriesEwma(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, taps).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      var num = 0L; var den = 0L
      (0 until taps).foreach { k =>
        if (i - k >= 0) grid(i - k).foreach { v =>
          val w = 1L << (taps - 1 - k)
          num += micro(v) * w; den += w
        }
      }
      val expected = if (den == 0) None else Some(num.toDouble / den / 1e6)
      val e = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      (e, expected) match {
        case (Some(a), Some(b)) => assert((a - b).abs <= 1e-6, s"ewma at $i")
        case (a, b) => assert(a === b, s"ewma presence at $i")
      }
    }
    // a gap row still carries an ewma from its trailing taps
    assert(got.exists(r => r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("seriesMovingMedian is the trailing-6 median of non-gap values") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val got = SeriesOps.seriesMovingMedian(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 6).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val win = grid.slice(math.max(0, i - 5), i + 1).flatten.sorted
      val expected =
        if (win.isEmpty) None
        else if (win.length % 2 == 1) Some(win(win.length / 2))
        else Some((win(win.length / 2 - 1) + win(win.length / 2)) / 2.0)
      val m = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(m === expected, s"median at index $i")
    }
    // the fixture exercises both parities (odd and even window counts)
    val counts = grid.indices.map(i =>
      grid.slice(math.max(0, i - 5), i + 1).flatten.length)
    assert(counts.exists(c => c > 0 && c % 2 == 0))
    assert(counts.exists(c => c % 2 == 1))
  }

  test("seriesClipPercentile keeps exactly the values at or under the p90") {
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .select("metric", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val thresholds = pts.groupBy(_._1).map { case (m, xs) =>
      val sorted = xs.map(_._3).sorted
      val h = 0.9 * (sorted.length - 1)
      val (lo, hi) = (math.floor(h).toInt, math.ceil(h).toInt)
      val q = sorted(lo) + (sorted(hi) - sorted(lo)) * (h - lo)
      m -> BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = pts.filter { case (m, _, v) => v <= thresholds(m) }
      .sortBy(x => (x._1, x._2)).toSeq
    val got = SeriesOps.seriesClipPercentile(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 0.9).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.length < pts.length, "the clip must drop outliers")
    assert(got.toSeq === expected)
  }

  test("seriesGroupByNode at the root sums all series per slot") {
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .select("metric", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expected = pts.groupBy(_._2).map { case (ts, xs) =>
      ts -> (xs.length.toLong, xs.map(x => micro(x._3)).sum.toDouble / 1e6) }
    val got = SeriesOps.seriesGroupByNode(spark, Sf0001, 0,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getString(0) === "events")
      val (n, v) = expected(r.getLong(1))
      assert(r.getLong(2) === n, s"n_series at ${r.getLong(1)}")
      assert((r.getDouble(3) - v).abs <= 1e-9, s"sum at ${r.getLong(1)}")
    }
    // the type segment (idx 1) keys singleton groups on this fixture
    val byType = SeriesOps.seriesGroupByNode(spark, Sf0001, 1,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(byType.forall(_.getLong(2) === 1L))
  }

  test("seriesAsPercent shares sum to 100 per slot; exact micro ratios") {
    val rows = SeriesOps.seriesAsPercent(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // per-slot shares sum to ~100 (rounding each share to 1e-6)
    rows.groupBy(_._2).foreach { case (ts, xs) =>
      val tot = xs.map(_._4).sum
      assert((tot - 100.0).abs <= 1e-4, s"share sum at ts=$ts")
    }
    // each share reconciles against the slot's exact micro-unit total
    rows.groupBy(_._2).foreach { case (_, xs) =>
      val tot = xs.map(x => micro(x._3)).sum
      xs.foreach { case (m, ts, v, pct) =>
        assert((pct - micro(v) * 100.0 / tot).abs <= 1e-6, s"pct of $m@$ts")
      }
    }
  }

  test("seriesDivide ratio reconciles with the two grids; null on gap/zero") {
    def grid(m: String): Map[Long, Option[Double]] =
      SeriesOps.densifyGrid(spark, Sf0001, m, SeriesOps.From, SeriesOps.Until)
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val num = grid("events.purchase")
    val den = grid("events.view")
    val rows = SeriesOps.seriesDivide(spark, Sf0001, "events.purchase",
      "events.view", SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.length === 169)
    rows.foreach { r =>
      val ts = r.getLong(0)
      (num(ts), den(ts)) match {
        case (Some(a), Some(b)) if b != 0.0 =>
          assert(!r.isNullAt(3), s"expected ratio at $ts")
          assert((r.getDouble(3) - a / b).abs <= 1e-6, s"ratio at $ts")
        case _ => assert(r.isNullAt(3), s"expected null ratio at $ts")
      }
    }
  }

  test("seriesCorrelation: self-correlation is exactly 1; cross-corr in [-1,1]") {
    val self = SeriesOps.seriesCorrelation(spark, Sf0001, "events.purchase",
      "events.purchase", SeriesOps.From, SeriesOps.Until).collect().head
    assert(self.getDouble(3) === 1.0)
    val cross = SeriesOps.seriesCorrelation(spark, Sf0001, "events.purchase",
      "events.view", SeriesOps.From, SeriesOps.Until).collect().head
    assert(cross.getLong(2) > 0)
    assert(cross.getDouble(3).abs <= 1.0)
  }

  test("seriesIntegralByInterval resets each bucket; matches a scalar replay") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val expect = scala.collection.mutable.Map.empty[Long, Option[Double]]
    var bucket = -1L; var acc = 0L; var seen = false
    grid.sortBy(_._1).foreach { case (ts, v) =>
      val b = ts - ((ts - SeriesOps.From) % 14400)
      if (b != bucket) { bucket = b; acc = 0L; seen = false }
      v.foreach { x => acc += micro(x); seen = true }
      expect(ts) = if (seen) Some(acc / 1e6) else None
    }
    val rows = SeriesOps.seriesIntegralByInterval(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 14400L).collect()
    assert(rows.length === 169)
    rows.foreach { r =>
      val ts = r.getLong(0)
      expect(ts) match {
        case Some(x) =>
          assert((r.getDouble(2) - x).abs <= 1e-9, s"integral at $ts")
        case None => assert(r.isNullAt(2), s"expected null at $ts")
      }
    }
  }

  test("seriesZscore scores against the PRIOR-6 baseline; flag at 2 sigma") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val km = grid.map(_.map(v => math.floor(v * 1e3 + 0.5).toLong))
    val got = SeriesOps.seriesZscore(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 6, 2.0).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val win = km.slice(math.max(0, i - 6), i).flatten // current EXCLUDED
      val n = win.length.toLong
      val expected = for {
        v <- km(i)
        if n >= 2
        s1 = win.sum; s2 = win.map(x => x * x).sum
        sd = math.sqrt((n * s2 - s1 * s1).toDouble / (n * (n - 1))) / 1e3
        if sd > 0
      } yield BigDecimal((v / 1e3 - s1.toDouble / n / 1e3) / sd)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val z = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      (z, expected) match {
        case (Some(a), Some(b)) => assert((a - b).abs <= 1e-6, s"z at $i")
        case (a, b) => assert(a === b, s"z presence at $i")
      }
      val flag = if (r.isNullAt(3)) None else Some(r.getBoolean(3))
      assert(flag === expected.map(_.abs > 2.0), s"anomaly at $i")
    }
    // the window must score real slots (not all null; the sf0.001
    // purchase series is sparse, so only the non-gap slots with a
    // >= 2-value baseline carry a score)
    assert(got.exists(r => !r.isNullAt(2)))
  }

  test("seriesAutocorrelation: per-lag Pearson replay over present pairs") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.view",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val vm = grid.map(_.map(v => BigInt(math.floor(v * 1e6 + 0.5).toLong)))
    val got = SeriesOps.seriesAutocorrelation(spark, Sf0001, "events.view",
      SeriesOps.From, SeriesOps.Until, 48).collect()
    val byLag = got.map(r => r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    (1 to 48).foreach { k =>
      val prs = (k until grid.length).flatMap { i =>
        for { a <- vm(i); b <- vm(i - k) } yield (a, b)
      }
      if (prs.isEmpty) assert(!byLag.contains(k.toLong), s"lag $k")
      else {
        val n = BigInt(prs.length)
        val sa = prs.map(_._1).sum; val sb = prs.map(_._2).sum
        val sab = prs.map(p => p._1 * p._2).sum
        val saa = prs.map(p => p._1 * p._1).sum
        val sbb = prs.map(p => p._2 * p._2).sum
        val d1 = (n * saa - sa * sa).toDouble
        val d2 = (n * sbb - sb * sb).toDouble
        val exp = if (d1 > 0 && d2 > 0)
          Some(BigDecimal((n * sab - sa * sb).toDouble / math.sqrt(d1 * d2))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
        val (np, r) = byLag(k.toLong)
        assert(np === prs.length.toLong, s"n_pairs lag $k")
        (r, exp) match {
          case (Some(a), Some(b)) => assert((a - b).abs <= 1e-6, s"r lag $k")
          case (a, b) => assert(a === b, s"r presence lag $k")
        }
      }
    }
    // a dense series must correlate with itself at short lags
    assert(got.nonEmpty && got.exists(r => !r.isNullAt(2)))
  }

  test("fetchPattern: per-metric grids union; glob prunes; multires agrees") {
    val got = SeriesOps.fetchPattern(spark, Sf0001, "events.*",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val metrics = got.map(_._1).distinct.sorted
    assert(metrics.size === 5)
    metrics.foreach { m =>
      val expect = SeriesOps.densifyGrid(spark, Sf0001, m,
        SeriesOps.From, SeriesOps.Until).collect()
        .map(r => (m, r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
      assert(got.filter(_._1 == m).toSeq === expect, m)
    }
    // glob selectivity: one-segment '*' + prefix
    val one = SeriesOps.fetchPattern(spark, Sf0001, "events.p*",
      SeriesOps.From, SeriesOps.Until).collect().map(_.getString(0)).distinct
    assert(one.toSeq === Seq("events.purchase"))
    // mixed-step store: the pattern read reconciles exactly like the
    // per-metric multires fetch
    val store = SeriesOps.multiresStore(spark, Sf0001)
    val meta = graft.core.Catalog.metricsMeta(spark)
    val viaPattern = SeriesOps.fetchPatternFrom(store, meta,
      "events.purchase", SeriesOps.From, SeriesOps.Until).collect()
      .filter(r => !r.isNullAt(2)).map(r => (r.getLong(1), r.getDouble(2)))
    val viaFetch = SeriesOps.fetchRangeFrom(store, meta, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaPattern.toSeq === viaFetch.toSeq)
  }

  test("seriesStlStrength: integer variance-ratio replay") {
    val dec = SeriesOps.seriesSeasonalDecompose(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12).collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3))
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    def milli(x: Double) = math.floor(x * 1e3 + 0.5).toLong
    val rm = dec.map(x => milli(x._4))
    val tm = dec.map(x => milli(x._1 - x._3)) // value − seasonal
    val sm = dec.map(x => milli(x._1 - x._2)) // value − trend
    def vnum(xs: Seq[Long]): BigInt = {
      val n = BigInt(xs.length)
      n * xs.map(x => BigInt(x) * x).sum -
        BigInt(xs.sum) * BigInt(xs.sum)
    }
    def strength(vr: BigInt, vx: BigInt): Double =
      if (vx > 0)
        math.max(0.0, 1.0 - vr.toDouble / vx.toDouble) else 0.0
    val r = SeriesOps.seriesStlStrength(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 24, 12).collect().head
    assert(r.getString(0) === "events.purchase")
    assert(r.getLong(1) === dec.length.toLong)
    val expT = BigDecimal(strength(vnum(rm.toSeq), vnum(tm.toSeq)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expS = BigDecimal(strength(vnum(rm.toSeq), vnum(sm.toSeq)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((r.getDouble(2) - expT).abs <= 1e-6)
    assert((r.getDouble(3) - expS).abs <= 1e-6)
    // the purchase series has a real daily rhythm baked in
    assert(r.getDouble(3) >= 0.0 && r.getDouble(2) >= 0.0)
  }

  test("seriesForecastError: integer MAE/WAPE replay off the multi walk") {
    val multi = SeriesOps.seriesHoltWintersMulti(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 24).collect()
      .filter(r => !r.isNullAt(2) && !r.isNullAt(3))
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    val expected = multi.groupBy(_._1).view.mapValues { xs =>
      val es = xs.map { case (_, v, f) =>
        val vm = math.floor(v * 1e6 + 0.5).toLong
        val fm = math.floor(f * 1e6 + 0.5).toLong
        (math.abs(vm - fm), math.abs(vm))
      }
      val se = es.map(_._1).sum; val sa = es.map(_._2).sum
      // the face's floor-quantized display convention
      (xs.length.toLong,
        math.floor(se.toDouble / xs.length / 1e6 * 1e6 + 0.5) / 1e6,
        if (sa > 0) Some(math.floor(se.toDouble / sa * 1e6 + 0.5) / 1e6)
        else None)
    }.toMap
    val got = SeriesOps.seriesForecastError(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 24).collect()
    assert(got.map(_.getString(0)).toSet === expected.keySet)
    got.foreach { r =>
      val (n, mae, wape) = expected(r.getString(0))
      assert(r.getLong(1) === n)
      assert((r.getDouble(2) - mae).abs <= 1e-9)
      val w = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      (w, wape) match {
        case (Some(a), Some(b)) => assert((a - b).abs <= 1e-9)
        case (a, b) => assert(a === b)
      }
    }
  }

  test("rollupPlan agrees with what rollupTier actually emits") {
    val plan = SeriesOps.rollupPlan(spark, Sf0001, 3600L, 86400L).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val emitted = SeriesOps.xffRollup(spark, Sf0001, 3600L, 86400L)
      .collect().groupBy(_.getString(0)).view.mapValues { rows =>
        (rows.length.toLong, rows.map(_.getLong(3)).sum) }.toMap
    plan.foreach { case (m, (nFine, nWin, nEmit, nSupp)) =>
      assert(nWin === nEmit + nSupp, s"$m window conservation")
      val (gotEmit, gotKnown) =
        emitted.getOrElse(m, (0L, 0L))
      assert(nEmit === gotEmit, s"$m emitted count vs actual rollup")
      assert(nFine >= gotKnown, s"$m fine rows cover emitted known")
    }
    // sf0.001 is sparse enough that the gate suppresses every window —
    // the plan must agree with the rollup (0 emitted), not invent output
    assert(plan.nonEmpty && plan.values.forall(v => v._2 === v._3 + v._4))
  }

  test("seriesAnomalyStl: z on milli-quantized decompose residuals") {
    val dec = SeriesOps.seriesSeasonalDecompose(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    val rm = dec.map(_._2.map(v => math.floor(v * 1e3 + 0.5).toLong))
    val xs = rm.flatten
    val n = xs.length.toLong
    val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
    val sd = math.sqrt((n * s2 - s1 * s1).toDouble / (n * (n - 1))) / 1e3
    val got = SeriesOps.seriesAnomalyStl(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 24, 12, 3.0).collect()
    assert(got.length === dec.length)
    got.zip(rm).foreach { case (r, rmOpt) =>
      val exp = rmOpt.filter(_ => n >= 2 && sd > 0).map(v =>
        BigDecimal((v / 1e3 - s1.toDouble / n / 1e3) / sd)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val z = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      (z, exp) match {
        case (Some(a), Some(b)) => assert((a - b).abs <= 1e-6)
        case (a, b) => assert(a === b)
      }
      val flag = if (r.isNullAt(4)) None else Some(r.getBoolean(4))
      assert(flag === exp.map(_.abs > 3.0))
    }
    assert(got.exists(r => !r.isNullAt(3)))
  }

  test("seriesChangepoint: integer CUSUM with the |S|-argmax slot flagged") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val vm = grid.map(_.map(v => math.floor(v * 1e6 + 0.5).toLong))
    val total = vm.flatten.sum; val n = vm.flatten.length.toLong
    var run = 0L; var seen = false
    val csm = vm.map { o =>
      o.foreach { v => run += n * v - total; seen = true }
      if (seen) Some(run) else None
    }
    val peakTs = csm.zipWithIndex
      .collect { case (Some(s), i) => (math.abs(s), i) }
      .sortBy { case (a, i) => (-a, i) }.head._2
    val got = SeriesOps.seriesChangepoint(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      // the face's floor-quantized display convention
      val exp = csm(i).map(s =>
        math.floor(s.toDouble / n / 1e6 * 1e6 + 0.5) / 1e6)
      val gotC = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(gotC === exp, s"cusum at $i")
      val flag = if (r.isNullAt(3)) None else Some(r.getBoolean(3))
      assert(flag === csm(i).map(_ => i == peakTs), s"changepoint at $i")
    }
    assert(got.count(r => !r.isNullAt(3) && r.getBoolean(3)) === 1)
  }

  test("seriesOutlierMad: exact median/MAD modified z-score") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.view",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val vm = grid.map(_.map(v => math.floor(v * 1e6 + 0.5).toLong))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) * 2 else s(n / 2 - 1) + s(n / 2)
    }
    val m2 = med2(vm.flatten.toSeq)
    val mad4 = med2(vm.flatten.toSeq.map(v => math.abs(v * 2 - m2)))
    val got = SeriesOps.seriesOutlierMad(spark, Sf0001, "events.view",
      SeriesOps.From, SeriesOps.Until, 3.5).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val exp = vm(i).filter(_ => mad4 > 0).map(v =>
        BigDecimal(0.6745 * 2 * (v * 2 - m2).toDouble / mad4)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val z = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(z === exp, s"z at $i")
      val flag = if (r.isNullAt(3)) None else Some(r.getBoolean(3))
      assert(flag === exp.map(_.abs > 3.5), s"outlier at $i")
    }
    assert(got.exists(r => !r.isNullAt(2)))
  }

  test("seriesSeasonalDecompose: trend + per-slot seasonal + residual") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val vm = grid.map(_.map(v => math.floor(v * 1e6 + 0.5).toLong))
    val n = grid.length
    // the face's display quantization: floor(x·1e6 + 0.5)/1e6 — NOT
    // decimal-string rounding (engine-specific at half-boundaries)
    def round6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // trend: ±12-slot integer mean over present values
    val trend = (0 until n).map { i =>
      val win = vm.slice(math.max(0, i - 12), math.min(n, i + 13)).flatten
      if (win.nonEmpty) Some(win.sum.toDouble / win.length / 1e6) else None
    }
    // seasonal: per slot-of-day mean of the re-quantized detrended values
    val dm = (0 until n).map { i =>
      for { v <- grid(i); t <- trend(i) }
        yield math.floor((v - t) * 1e6 + 0.5).toLong
    }
    val seasonal: Map[Int, Double] = (0 until n).groupBy(_ % 24).flatMap {
      case (slot, idxs) =>
        val ds = idxs.flatMap(dm(_))
        if (ds.nonEmpty) Some(slot -> ds.sum.toDouble / ds.length / 1e6)
        else None
    }
    val got = SeriesOps.seriesSeasonalDecompose(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12).collect()
    assert(got.length === n)
    got.zipWithIndex.foreach { case (r, i) =>
      def d(j: Int) = if (r.isNullAt(j)) None else Some(r.getDouble(j))
      assert(r.getLong(0) === SeriesOps.From + i * 3600L, s"ts at $i")
      assert(d(2) === trend(i).map(round6), s"trend at $i")
      assert(d(3) === seasonal.get(i % 24).map(round6), s"seasonal at $i")
      val expR = for { v <- grid(i); t <- trend(i); s <- seasonal.get(i % 24) }
        yield round6(v - t - s)
      assert(d(4) === expR, s"residual at $i")
    }
    // the decomposition must actually fire on the sparse purchase series
    assert(got.exists(r => !r.isNullAt(4)))
  }

  test("seriesHoltWinters replays the additive recursion scalar-for-scalar") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val season = 24
    var l = 0.0; var b = 0.0; var init = false
    val s = Array.fill(season)(0.0)
    val expect = grid.zipWithIndex.map { case (vOpt, i) =>
      val idx = i % season
      val f = if (init) Some(l + b + s(idx)) else None
      vOpt.foreach { v =>
        if (!init) { l = v; init = true }
        else {
          val lNew = 0.5 * (v - s(idx)) + 0.5 * (l + b)
          val bNew = 0.25 * (lNew - l) + 0.75 * b
          s(idx) = 0.5 * (v - lNew) + 0.5 * s(idx)
          l = lNew; b = bNew
        }
      }
      f.map(x => BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SeriesOps.seriesHoltWinters(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, season).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val f = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      (f, expect(i)) match {
        case (Some(a), Some(x)) => assert((a - x).abs <= 1e-9, s"forecast at $i")
        case (a, x) => assert(a === x, s"forecast presence at $i")
      }
    }
    // seasonal learning must make forecasts non-constant once warm
    val warm = got.drop(48).filterNot(_.isNullAt(2)).map(_.getDouble(2))
    assert(warm.distinct.length > 1)
  }

  test("seriesHoltWintersMulti: each metric's slice equals the single-metric run") {
    val multi = SeriesOps.seriesHoltWintersMulti(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 24).collect()
      .groupBy(_.getString(0))
    assert(multi.keySet ===
      Set("events.click", "events.error", "events.purchase",
        "events.signup", "events.view"))
    multi.foreach { case (metric, rows) =>
      assert(rows.length === 169, s"grid length for $metric")
      val single = SeriesOps.seriesHoltWinters(spark, Sf0001, metric,
        SeriesOps.From, SeriesOps.Until, 24).collect()
      rows.sortBy(_.getLong(1)).zip(single).foreach { case (m, s) =>
        assert(m.getLong(1) === s.getLong(0), s"ts for $metric")
        def cell(r: org.apache.spark.sql.Row, j: Int) =
          if (r.isNullAt(j)) None else Some(r.getDouble(j))
        assert(cell(m, 3) === cell(s, 2), s"forecast for $metric @${m.getLong(1)}")
      }
    }
  }

  test("seriesHoltWintersBands: bands bracket the forecast from PRIOR deviations") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val season = 24
    var l = 0.0; var b = 0.0; var init = false
    val s = Array.fill(season)(0.0)
    val d = Array.fill(season)(0.0)
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = grid.zipWithIndex.map { case (vOpt, i) =>
      val idx = i % season
      val state = if (init) Some((l + b + s(idx), d(idx))) else None
      vOpt.foreach { v =>
        if (!init) { l = v; init = true }
        else {
          val f = state.get._1
          val lNew = 0.5 * (v - s(idx)) + 0.5 * (l + b)
          val bNew = 0.25 * (lNew - l) + 0.75 * b
          s(idx) = 0.5 * (v - lNew) + 0.5 * s(idx)
          l = lNew; b = bNew
          d(idx) = 0.5 * math.abs(v - f) + 0.5 * d(idx)
        }
      }
      state.map { case (f, dev) =>
        val lo = f - 3.0 * dev
        val hi = f + 3.0 * dev
        val ab = vOpt.map { v =>
          if (v > hi) v - hi else if (v < lo) v - lo else 0.0
        }
        (r6(f), r6(lo), r6(hi), ab.map(r6))
      }
    }
    val got = SeriesOps.seriesHoltWintersBands(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, season).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      def cell(j: Int) = if (r.isNullAt(j)) None else Some(r.getDouble(j))
      expect(i) match {
        case Some((f, lo, hi, ab)) =>
          assert((cell(2).get - f).abs <= 1e-6, s"forecast at $i")
          assert((cell(3).get - lo).abs <= 1e-6, s"lower at $i")
          assert((cell(4).get - hi).abs <= 1e-6, s"upper at $i")
          (cell(5), ab) match {
            case (Some(a), Some(x)) => assert((a - x).abs <= 1e-6, s"ab at $i")
            case (a, x) => assert(a === x, s"ab presence at $i")
          }
        case None =>
          assert(cell(2).isEmpty && cell(5).isEmpty, s"cold slot at $i")
      }
    }
    // the deviation state must open the bands (not all zero-width)
    assert(expect.flatten.exists { case (f, lo, _, _) => lo < f })
    // and the fixture must exercise at least one out-of-band aberration
    assert(got.exists(r => !r.isNullAt(5) && r.getDouble(5) != 0.0))
  }

  test("seriesInterpolate fills interior gaps linearly; edges stay null") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.error",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val got = SeriesOps.seriesInterpolate(spark, Sf0001, "events.error",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(got.length === grid.length)
    got.zipWithIndex.foreach { case (r, i) =>
      val expected = grid(i)._2.orElse {
        val prev = grid.take(i).reverse.collectFirst {
          case (t, Some(v)) => (t, v)
        }
        val next = grid.drop(i + 1).collectFirst {
          case (t, Some(v)) => (t, v)
        }
        for ((pt, pv) <- prev; (nt, nv) <- next)
          yield pv + (nv - pv) * ((grid(i)._1 - pt).toDouble / (nt - pt))
      }
      val interp = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      (interp, expected) match {
        case (Some(a), Some(b)) => assert((a - b).abs <= 1e-9, s"interp at $i")
        case (a, b) => assert(a === b, s"interp presence at $i")
      }
      assert(r.getBoolean(3) === (grid(i)._2.isEmpty && expected.nonEmpty),
        s"filled flag at $i")
    }
    // the fixture must actually exercise a filled interior gap
    assert(got.exists(_.getBoolean(3)))
  }

  test("seriesMovingSum: window 1 degenerates to the value; sums track avg") {
    val one = SeriesOps.seriesMovingSum(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 1).collect()
    one.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
      else {
        assert((r.getDouble(2) - r.getDouble(1)).abs <= 1e-6)
        assert(r.getDouble(3) === r.getDouble(1))
        assert(r.getDouble(4) === r.getDouble(1))
      }
    }
    // window-6 sum == window-6 mean x count over the same slots
    val sum6 = SeriesOps.seriesMovingSum(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 6).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(sum6.values.flatten.nonEmpty)
  }

  test("seriesRemoveAbovePercentile: kept <= threshold, nulls = above count") {
    val rows = SeriesOps.seriesRemoveAbovePercentile(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 0.9).collect()
    val pline = rows.map(_.getDouble(2)).head
    assert(rows.map(_.getDouble(2)).distinct.length === 1)
    val present = rows.filterNot(_.isNullAt(1))
    val above = present.count(_.getDouble(1) > pline)
    assert(above > 0, "fixture should have slots above p90")
    present.foreach { r =>
      if (r.getDouble(1) <= pline) assert(r.getDouble(3) === r.getDouble(1))
      else assert(r.isNullAt(3))
    }
    // the p90 line sits inside the value range
    assert(pline <= present.map(_.getDouble(1)).max &&
      pline >= present.map(_.getDouble(1)).min)
  }

  test("seriesAverageAbove selects by mean; extreme thresholds bracket") {
    val all = SeriesOps.seriesAverageAbove(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, Double.MinValue)
    assert(all.select("metric").distinct().count() === 5)
    val none = SeriesOps.seriesAverageAbove(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, Double.MaxValue)
    assert(none.count() === 0)
    // kept metrics' grids equal the pattern read restricted to them;
    // the split threshold derives from the fixture (midpoint between
    // the lowest and highest per-metric mean) so it always splits
    val means = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .groupBy("metric").agg(avg("value").as("m")).collect()
      .map(_.getDouble(1))
    val mid = (means.min + means.max) / 2
    val some = SeriesOps.seriesAverageAbove(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, mid)
    val kept = some.select("metric").distinct().collect()
      .map(_.getString(0)).toSet
    assert(kept.nonEmpty && kept.size < 5, s"threshold should split: $kept")
    val pattern = SeriesOps.fetchPattern(spark, Sf0001, "events.*",
      SeriesOps.From, SeriesOps.Until).collect()
      .filter(r => kept(r.getString(0))).map(_.toString).toSeq
    assert(some.collect().map(_.toString).toSeq === pattern)
  }

  test("seriesMinMax: norm spans [0, 1] and hits both ends") {
    val rows = SeriesOps.seriesMinMax(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect().filterNot(_.isNullAt(2))
    val norms = rows.map(_.getDouble(2))
    assert(norms.forall(n => n >= 0.0 && n <= 1.0))
    assert(norms.contains(0.0) && norms.contains(1.0))
  }

  test("seriesStddevSeries: per-slot sigma matches a naive cross-series ref") {
    val rows = SeriesOps.seriesStddevSeries(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.length === ((Kernel.alignUntil(SeriesOps.Until, 3600) -
      Kernel.align(SeriesOps.From, 3600)) / 3600).toInt)
    // naive reference from the compacted points, milli-quantized like the op
    val byTs = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From &&
        col("ts") < Kernel.alignUntil(SeriesOps.Until, 3600))
      .select("ts", "value").collect()
      .groupBy(_.getLong(0))
      .map { case (ts, rs) =>
        val km = rs.map(r => math.floor(r.getDouble(1) * 1e3 + 0.5).toLong)
        val n = km.length
        val mean = km.sum.toDouble / n / 1e3
        val s2 = km.map(k => k * k).sum
        val sd = math.sqrt((n.toLong * s2 - km.sum * km.sum).toDouble) / n / 1e3
        ts -> (n, mean, sd)
      }
    rows.foreach { r =>
      byTs.get(r.getLong(0)) match {
        case Some((n, mean, sd)) =>
          assert(r.getLong(1) === n.toLong)
          assert(math.abs(r.getDouble(2) - mean) < 1e-6)
          assert(math.abs(r.getDouble(3) - sd) < 1e-6)
        case None =>
          assert(r.getLong(1) === 0L && r.isNullAt(2) && r.isNullAt(3))
      }
    }
    // the population form: a single-series slot reports sigma 0, never null
    rows.filter(_.getLong(1) == 1L).foreach(r => assert(r.getDouble(3) === 0.0))
  }

  test("seriesSummarizeAligned: epoch-anchored buckets, integral preserved") {
    val aligned = SeriesOps.seriesSummarizeAligned(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 10000L).collect()
    // every bucket anchors at an epoch multiple of the interval — and the
    // window start is NOT one, so the first (partial) bucket precedes it
    aligned.foreach(r => assert(r.getLong(0) % 10000L === 0L))
    assert(SeriesOps.From % 10000L !== 0L)
    assert(aligned.map(_.getLong(0)).min < SeriesOps.From)
    // re-bucketing moves no data: slot and sum totals match the
    // window-anchored summarize face over the same grid
    val anchored = SeriesOps.seriesSummarize(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 14400L).collect()
    assert(aligned.map(_.getLong(1)).sum === anchored.map(_.getLong(1)).sum)
    val sumOf = (rs: Array[org.apache.spark.sql.Row]) =>
      rs.filterNot(_.isNullAt(2)).map(_.getDouble(2)).sum
    assert(math.abs(sumOf(aligned) - sumOf(anchored)) < 1e-6)
  }

  test("seriesTransformNull: gaps fill with the literal, known flags match") {
    val rows = SeriesOps.seriesTransformNull(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 0.0).collect()
    assert(rows.length === ((Kernel.alignUntil(SeriesOps.Until, 3600) -
      Kernel.align(SeriesOps.From, 3600)) / 3600).toInt)
    assert(rows.exists(_.isNullAt(1)), "fixture should have gaps")
    rows.foreach { r =>
      if (r.isNullAt(1)) { assert(r.getDouble(2) === 0.0 && !r.getBoolean(3)) }
      else { assert(r.getDouble(2) === r.getDouble(1) && r.getBoolean(3)) }
    }
  }

  test("seriesRemoveBelowValue: gate nulls exactly the sub-threshold slots") {
    val t = 85.0
    val rows = SeriesOps.seriesRemoveBelowValue(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, t).collect()
    val present = rows.filterNot(_.isNullAt(1))
    assert(present.exists(_.getDouble(1) < t) &&
      present.exists(_.getDouble(1) >= t), "threshold should split the fixture")
    rows.foreach { r =>
      if (r.isNullAt(1) || r.getDouble(1) < t) assert(r.isNullAt(2))
      else assert(r.getDouble(2) === r.getDouble(1))
    }
  }

  test("seriesExclude drops matching paths; survivors equal the pattern read") {
    val rows = SeriesOps.seriesExclude(spark, Sf0001, "error|signup",
      SeriesOps.From, SeriesOps.Until)
    val kept = rows.select("metric").distinct().collect()
      .map(_.getString(0)).toSet
    assert(kept === Set("events.click", "events.purchase", "events.view"))
    val pattern = SeriesOps.fetchPattern(spark, Sf0001, "events.*",
      SeriesOps.From, SeriesOps.Until).collect()
      .filter(r => kept(r.getString(0))).map(_.toString).toSeq
    assert(rows.collect().map(_.toString).toSeq === pattern)
    // unanchored search semantics: a mid-path fragment excludes too
    val none = SeriesOps.seriesExclude(spark, Sf0001, "events",
      SeriesOps.From, SeriesOps.Until)
    assert(none.count() === 0)
  }

  test("seriesGrep is the exact complement of seriesExclude") {
    val pat = "purchase|click"
    val kept = SeriesOps.seriesGrep(spark, Sf0001, pat,
      SeriesOps.From, SeriesOps.Until)
    assert(kept.select("metric").distinct().collect().map(_.getString(0))
      .toSet === Set("events.click", "events.purchase"))
    // grep(p) ∪ exclude(p) = the full catalog read, disjointly
    val excl = SeriesOps.seriesExclude(spark, Sf0001, pat,
      SeriesOps.From, SeriesOps.Until)
    val all = SeriesOps.fetchPattern(spark, Sf0001, "events.*",
      SeriesOps.From, SeriesOps.Until)
    assert(kept.count() + excl.count() === all.count())
  }

  test("seriesPerSecond recovers wrap rates derivative would null") {
    val rows = SeriesOps.seriesPerSecond(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 1000.0).collect()
    val vals = rows.map(r =>
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
       if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // graphite's formula, replayed pointwise
    var prev: Option[Double] = None
    vals.foreach { case (v, rate) =>
      val expect = (prev, v) match {
        case (Some(p), Some(c)) if c - p >= 0 => Some((c - p) / 3600.0)
        case (Some(p), Some(c)) if 1000.0 >= c =>
          Some((1000.0 - p + c + 1.0) / 3600.0)
        case _ => None
      }
      assert(rate === expect)
      prev = v
    }
    // the wrap branch must actually fire on the fixture (negative delta)
    val wrapped = vals.sliding(2).exists {
      case Array((Some(p), _), (Some(c), Some(_))) => c < p
      case _ => false
    }
    assert(wrapped, "fixture should contain at least one negative delta")
  }

  test("seriesDelay shifts values exactly `steps` slots, null prefix") {
    val steps = 3
    val rows = SeriesOps.seriesDelay(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, steps).collect()
    rows.take(steps).foreach(r => assert(r.isNullAt(2)))
    rows.indices.drop(steps).foreach { i =>
      val expect = rows(i - steps)
      if (expect.isNullAt(1)) assert(rows(i).isNullAt(2))
      else assert(rows(i).getDouble(2) === expect.getDouble(1))
    }
  }

  test("seriesOffsetToZero: min maps to exactly 0, gaps stay gaps") {
    val rows = SeriesOps.seriesOffsetToZero(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    val zeroed = rows.filterNot(_.isNullAt(2)).map(_.getDouble(2))
    assert(zeroed.min === 0.0)
    assert(zeroed.forall(_ >= 0.0))
    val mn = rows.filterNot(_.isNullAt(1)).map(_.getDouble(1)).min
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2))
      else assert(r.getDouble(2) === r.getDouble(1) - mn)
    }
  }

  test("seriesSortByTotal ranks metrics by micro-int window sums") {
    val rows = SeriesOps.seriesSortByTotal(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length).toSeq)
    val totals = rows.map(_.getDouble(2))
    assert(totals.toSeq === totals.sortBy(-_).toSeq)
    // cross-check one metric's total against a direct read
    val direct = SeriesOps.fetchRange(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => math.floor(r.getDouble(1) * 1e6 + 0.5).toLong).sum / 1e6
    val row = rows.find(_.getString(1) == "events.purchase").get
    assert(math.abs(row.getDouble(2) - direct) < 1e-9)
  }

  test("seriesHighestCurrent ranks on each metric's newest window point") {
    val rows = SeriesOps.seriesHighestCurrent(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 3).collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val currents = rows.map(_.getDouble(3))
    assert(currents.toSeq === currents.sortBy(-_).toSeq)
    // cross-check one entry against a direct last-point read
    val top = rows.head
    val direct = SeriesOps.fetchRange(spark, Sf0001, top.getString(1),
      SeriesOps.From, SeriesOps.Until).collect().maxBy(_.getLong(0))
    assert(top.getLong(2) === direct.getLong(0))
    assert(top.getDouble(3) === direct.getDouble(1))
  }

  test("seriesLowestAverage is top_metrics' exact mirror (ASC)") {
    val low = SeriesOps.seriesLowestAverage(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 5).collect()
    val high = SeriesOps.seriesTopMetrics(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 5).collect()
    // with n = full catalog the two are reverses of each other
    assert(low.map(_.getString(1)).toSeq ===
      high.map(_.getString(1)).reverse.toSeq)
    assert(low.map(_.getDouble(2)).toSeq ===
      high.map(_.getDouble(2)).reverse.toSeq)
  }

  test("seriesAverageOutsidePercentile keeps band-edge and outside means") {
    val kept = SeriesOps.seriesAverageOutsidePercentile(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 80)
      .select("metric").distinct().collect().map(_.getString(0)).toSet
    // replay the nearest-rank gate on the top_metrics means
    val means = SeriesOps.seriesTopMetrics(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 100).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).sortBy(r => (r._2, r._1))
    val cnt = means.length
    val lo = means(math.ceil(0.2 * cnt).toInt - 1)._2
    val hi = means(math.ceil(0.8 * cnt).toInt - 1)._2
    val expect = means.filter(m => m._2 <= lo || m._2 >= hi).map(_._1).toSet
    assert(kept === expect)
    assert(kept.nonEmpty && kept.size < cnt,
      "gate should discriminate on the fixture")
  }

  test("seriesTimeStack shift-0 equals the plain grid; shifts line up") {
    val rows = SeriesOps.seriesTimeStack(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 3).collect()
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows.length === 4 * grid.size)
    val byShift = rows.groupBy(_.getLong(0))
    byShift(0L).foreach { r =>
      val v = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(v === grid(r.getLong(1)))
    }
    // a shifted slot equals the plain grid at ts - s·86400 where that
    // slot is inside the window
    (1L to 3L).foreach { s =>
      byShift(s).foreach { r =>
        grid.get(r.getLong(1) - s * 86400L).foreach { expect =>
          val v = if (r.isNullAt(2)) None else Some(r.getDouble(2))
          assert(v === expect)
        }
      }
    }
  }

  test("seriesRemoveAboveValue is the exact complement gate of Below") {
    val t = 85.0
    val above = SeriesOps.seriesRemoveAboveValue(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, t).collect()
    val below = SeriesOps.seriesRemoveBelowValue(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, t).collect()
    above.zip(below).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0))
      if (a.isNullAt(1)) { assert(a.isNullAt(2) && b.isNullAt(2)) }
      else {
        // every present value survives exactly one of the two gates
        // (boundary value == t survives both by graphite's >=/<=)
        val v = a.getDouble(1)
        assert(!a.isNullAt(2) || !b.isNullAt(2))
        if (v == t) assert(!a.isNullAt(2) && !b.isNullAt(2))
      }
    }
  }

  test("seriesSortByMinima ranks ascending and mirrors direct minima") {
    val rows = SeriesOps.seriesSortByMinima(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length).toSeq)
    val mins = rows.map(_.getDouble(2))
    assert(mins.toSeq === mins.sorted.toSeq)
    val direct = SeriesOps.fetchRange(spark, Sf0001, rows.head.getString(1),
      SeriesOps.From, SeriesOps.Until).collect().map(_.getDouble(1)).min
    assert(rows.head.getDouble(2) === direct)
  }

  test("seriesCurrentAbove keeps exactly the metrics whose last value passes") {
    val t = 50.0
    val kept = SeriesOps.seriesCurrentAbove(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, t)
      .select("metric").distinct().collect().map(_.getString(0)).toSet
    val expect = SeriesOps.seriesHighestCurrent(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 100).collect()
      .filter(_.getDouble(3) >= t).map(_.getString(1)).toSet
    assert(kept === expect)
    assert(kept.nonEmpty && kept.size < 5, "gate should discriminate")
  }

  test("seriesTimeSlice: inner range keeps values, outer rows stay as gaps") {
    val sf = SeriesOps.From + 2L * 86400L
    val su = SeriesOps.From + 5L * 86400L
    val rows = SeriesOps.seriesTimeSlice(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, sf, su).collect()
    assert(rows.length === 169) // full outer grid survives
    rows.foreach { r =>
      val ts = r.getLong(0)
      if (ts >= sf && ts < su) {
        if (r.isNullAt(1)) assert(r.isNullAt(2))
        else assert(r.getDouble(2) === r.getDouble(1))
      } else assert(r.isNullAt(2))
    }
  }

  test("seriesPointwiseMath: graphite None propagation per transform") {
    val rows = SeriesOps.seriesPointwiseMath(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 2.5, -10.0).collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) (2 to 6).foreach(j => assert(r.isNullAt(j)))
      else {
        val v = r.getDouble(1)
        assert(r.getDouble(2) === v * 2.5)
        assert(r.getDouble(3) === v + -10.0)
        if (v == 0.0) assert(r.isNullAt(4)) else assert(r.getDouble(4) === 1.0 / v)
        assert(r.getDouble(5) === v * v)
        if (v < 0) assert(r.isNullAt(6)) else assert(r.getDouble(6) === math.sqrt(v))
      }
    }
  }

  test("every multi face equals its single-metric face on each fixture metric") {
    // the twin-equivalence rail: each single face must return exactly
    // the multi face's rows for that metric, minus the metric column —
    // keyed transforms and the pairs kept as two bodies alike
    import SeriesOps._
    val (s, d, f, u) = (spark, Sf0001, From, Until)
    val pairs: Seq[(String, DataFrame, String => DataFrame)] = Seq(
      ("derivative", seriesDerivativeMulti(s, d, f, u),
        m => seriesDerivative(s, d, m, f, u)),
      ("moving_avg", seriesMovingAvgMulti(s, d, f, u),
        m => seriesMovingAvg(s, d, m, f, u)),
      ("zscore", seriesZscoreMulti(s, d, f, u),
        m => seriesZscore(s, d, m, f, u)),
      ("keep_last", seriesKeepLastMulti(s, d, f, u),
        m => seriesKeepLast(s, d, m, f, u)),
      ("integral", seriesIntegralMulti(s, d, f, u),
        m => seriesIntegral(s, d, m, f, u)),
      ("ewma", seriesEwmaMulti(s, d, f, u),
        m => seriesEwma(s, d, m, f, u)),
      ("stdev", seriesStdevMulti(s, d, f, u),
        m => seriesMovingStdev(s, d, m, f, u)),
      ("moving_median", seriesMovingMedianMulti(s, d, f, u),
        m => seriesMovingMedian(s, d, m, f, u)),
      ("interpolate", seriesInterpolateMulti(s, d, f, u),
        m => seriesInterpolate(s, d, m, f, u)),
      ("summarize", seriesSummarizeMulti(s, d, f, u),
        m => seriesSummarize(s, d, m, f, u)),
      ("moving_sum", seriesMovingSumMulti(s, d, f, u),
        m => seriesMovingSum(s, d, m, f, u)),
      ("moving_minmax", seriesMovingMinmaxMulti(s, d, f, u),
        m => seriesMovingMinmax(s, d, m, f, u)),
      ("per_second", seriesPerSecondMulti(s, d, f, u),
        m => seriesPerSecond(s, d, m, f, u)),
      ("delay", seriesDelayMulti(s, d, f, u),
        m => seriesDelay(s, d, m, f, u)),
      ("changed", seriesChangedMulti(s, d, f, u),
        m => seriesChanged(s, d, m, f, u)),
      ("offset_to_zero", seriesOffsetToZeroMulti(s, d, f, u),
        m => seriesOffsetToZero(s, d, m, f, u)),
      ("min_max", seriesMinMaxMulti(s, d, f, u),
        m => seriesMinMax(s, d, m, f, u)),
      ("hitcount", seriesHitcountMulti(s, d, f, u),
        m => seriesHitcount(s, d, m, f, u)),
      ("outlier_mad", seriesOutlierMadMulti(s, d, f, u),
        m => seriesOutlierMad(s, d, m, f, u)),
      ("bands", seriesBandsMulti(s, d, f, u),
        m => seriesBands(s, d, m, f, u)),
      ("changepoint", seriesChangepointMulti(s, d, f, u),
        m => seriesChangepoint(s, d, m, f, u)),
      ("autocorrelation", seriesAutocorrelationMulti(s, d, f, u),
        m => seriesAutocorrelation(s, d, m, f, u)),
      ("theil_sen", seriesTheilSenMulti(s, d, f, u),
        m => seriesTheilSen(s, d, m, f, u)),
      ("holt_winters_bands", seriesHoltWintersBandsMulti(s, d, f, u),
        m => seriesHoltWintersBands(s, d, m, f, u)),
      ("seasonal_decompose", seriesSeasonalDecomposeMulti(s, d, f, u),
        m => seriesSeasonalDecompose(s, d, m, f, u)),
      ("anomaly_stl", seriesAnomalyStlMulti(s, d, f, u),
        m => seriesAnomalyStl(s, d, m, f, u)),
      ("stl_strength", seriesStlStrengthMulti(s, d, f, u),
        m => seriesStlStrength(s, d, m, f, u)),
      ("integral_by_interval", seriesIntegralByIntervalMulti(s, d, f, u),
        m => seriesIntegralByInterval(s, d, m, f, u, 14400)),
      ("holt_winters", seriesHoltWintersMulti(s, d, f, u),
        m => seriesHoltWinters(s, d, m, f, u)))
    assert(pairs.length === 29)
    pairs.foreach { case (name, multi, single) =>
      val mi = multi.columns.indexOf("metric")
      val byMetric = multi.collect().toSeq.groupBy(_.getString(mi))
      assert(byMetric.keySet.size === 5, name)
      byMetric.foreach { case (metric, rows) =>
        val want = single(metric).drop("metric")
        assert(multi.columns.toSeq.patch(mi, Nil, 1) === want.columns.toSeq,
          s"$name columns")
        val got = rows.map(r => Row.fromSeq(r.toSeq.patch(mi, Nil, 1)))
        assert(got === want.collect().toSeq, s"$name rows for $metric")
      }
    }
  }

  test("seriesDivideMulti: safeDiv semantics, divisor reads 1.0 vs itself") {
    val rows = SeriesOps.seriesDivideMulti(spark, Sf0001, "events.view",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.map(_.getString(0)).distinct.length === 5)
    rows.foreach { r =>
      val v = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val dv = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      val ratio = if (r.isNullAt(4)) None else Some(r.getDouble(4))
      (v, dv) match {
        case (Some(a), Some(b)) if b != 0.0 => assert(ratio === Some(a / b))
        case _ => assert(ratio === None) // gap or zero divisor -> null
      }
      if (r.getString(0) == "events.view" && v.isDefined && v.get != 0.0)
        assert(ratio === Some(1.0))
    }
  }

  test("selection-gate comparator duals partition the catalog exactly") {
    def metricsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("metric").distinct().collect().map(_.getString(0)).toSet
    // the faces' window: [align(From), alignUntil(Until))
    val f = Kernel.align(SeriesOps.From, 3600L)
    val u = Kernel.alignUntil(SeriesOps.Until, 3600L)
    val all = metricsOf(graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= f && col("ts") < u))
    assert(all.nonEmpty)
    // strict/non-strict comparator pairs are exact partitions; the
    // >=/<= pairs may share only exact-boundary metrics (none planted)
    val pairs = Seq(
      ("min", metricsOf(SeriesOps.seriesMinimumAbove(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 1.0)),
        metricsOf(SeriesOps.seriesMinimumBelow(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 1.0))),
      ("max", metricsOf(SeriesOps.seriesMaximumAbove(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 300.0)),
        metricsOf(SeriesOps.seriesMaximumBelow(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 300.0))),
      ("avg", metricsOf(SeriesOps.seriesAverageAbove(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 85.0)),
        metricsOf(SeriesOps.seriesAverageBelow(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 85.0))),
      ("current", metricsOf(SeriesOps.seriesCurrentAbove(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 55.0)),
        metricsOf(SeriesOps.seriesCurrentBelow(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 55.0))))
    pairs.foreach { case (name, above, below) =>
      assert((above | below) === all, s"$name union must cover the catalog")
      assert((above & below).isEmpty, s"$name gates must not overlap")
    }
    // the fixture's thresholds genuinely discriminate on both sides of
    // at least the max and current pairs
    val Seq(_, (_, maxA, maxB), _, (_, curA, curB)) = pairs
    assert(maxA.nonEmpty && maxB.nonEmpty && curA.nonEmpty && curB.nonEmpty)
  }

  test("selection gates keep graphite's comparators at the boundary") {
    // each threshold IS one fixture metric's own statistic, so flipping a
    // gate's >/>= or </<= changes whether that metric is kept
    def metricsOf(df: DataFrame): Set[String] =
      df.select("metric").distinct().collect().map(_.getString(0)).toSet
    val (from, until) = (SeriesOps.From, SeriesOps.Until)
    val f = Kernel.align(from, 3600L)
    val u = Kernel.alignUntil(until, 3600L)
    val window = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= f && col("ts") < u)
      .select("metric", "ts", "value").collect()
      .groupBy(_.getString(0))
      .map { case (m, rs) => m -> rs.map(r => (r.getLong(1), r.getDouble(2))) }
    def stat(g: Seq[(Long, Double)] => Double) =
      window.map { case (m, p) => m -> g(p) }
    // the micro-unit mean, in the face's operation order
    val avg = stat(p =>
      p.map { case (_, v) => math.floor(v * 1e6 + 0.5).toLong }
        .sum.toDouble / p.size / 1e6)
    val current = stat(_.maxBy(_._1)._2)
    val peak = stat(_.map(_._2).max)
    val trough = stat(_.map(_._2).min)
    // the metric with the median statistic sets the threshold
    def boundary(s: Map[String, Double]) =
      s.values.toSeq.sorted.apply(s.size / 2)
    type Face = (org.apache.spark.sql.SparkSession, String, Long, Long,
      Double) => DataFrame
    type Op = (Double, Double) => Boolean
    val ge: Op = _ >= _
    val gt: Op = _ > _
    val le: Op = _ <= _
    val gates = Seq[(String, Map[String, Double], Face, Op)](
      ("averageAbove", avg, SeriesOps.seriesAverageAbove, ge),
      ("averageBelow", avg, SeriesOps.seriesAverageBelow, le),
      ("currentAbove", current, SeriesOps.seriesCurrentAbove, ge),
      ("currentBelow", current, SeriesOps.seriesCurrentBelow, le),
      ("maximumAbove", peak, SeriesOps.seriesMaximumAbove, gt),
      ("maximumBelow", peak, SeriesOps.seriesMaximumBelow, le),
      ("minimumAbove", trough, SeriesOps.seriesMinimumAbove, gt),
      ("minimumBelow", trough, SeriesOps.seriesMinimumBelow, le))
    for ((name, s, face, op) <- gates) {
      val t = boundary(s)
      val kept = metricsOf(face(spark, Sf0001, from, until, t))
      assert(kept === s.filter { case (_, x) => op(x, t) }.keySet,
        s"$name at its boundary $t (statistics $s)")
    }
    // removeEmptySeries at xff = one metric's present fraction, picked so
    // that xff · slots is exactly its present count in IEEE arithmetic
    val slots = ((u - f) / 3600L).toDouble
    val present = window.map { case (m, p) => m -> p.size.toDouble }
    val xff = present.values.toSeq.sorted.distinct.drop(1)
      .find(p => p / slots * slots == p).get / slots
    assert(metricsOf(SeriesOps.seriesRemoveEmpty(spark, Sf0001, from, until,
      xff)) === present.filter(_._2 >= xff * slots).keySet)
    assert(present.exists(_._2 == xff * slots) &&
      present.exists(_._2 < xff * slots), "xff must sit on a metric and cut")
  }

  test("seriesRemoveEmpty gates on the present-slot fraction") {
    def metricsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("metric").distinct().collect().map(_.getString(0)).toSet
    // the face's window and slots: [align(From), alignUntil(Until))
    val f = Kernel.align(SeriesOps.From, 3600L)
    val u = Kernel.alignUntil(SeriesOps.Until, 3600L)
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= f && col("ts") < u)
    val slots = (u - f) / 3600L
    val frac = pts.groupBy("metric").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble / slots).toMap
    // xff = 0.25 splits the sf0.001 catalog; the kept set is exactly the
    // metrics at or above the fraction
    val kept = metricsOf(SeriesOps.seriesRemoveEmpty(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 0.25))
    assert(kept === frac.filter(_._2 >= 0.25).keySet)
    assert(kept.nonEmpty && kept.size < frac.size, "xff must discriminate")
    // xff = 0 keeps everything with at least one point
    assert(metricsOf(SeriesOps.seriesRemoveEmpty(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 0.0)) === frac.keySet)
  }

  test("seriesCount recounts present slots per ts and reads 0 on empty slots") {
    val rows = SeriesOps.seriesCount(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.length === 169)
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("ts") >= SeriesOps.From && col("ts") < SeriesOps.Until + 3600)
      .groupBy("ts").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) === pts.getOrElse(r.getLong(0), 0L))
    }
    assert(rows.map(_.getLong(1)).max <= 5, "catalog has 5 metrics")
  }

  test("seriesLowestCurrent is the ascending dual of seriesHighestCurrent") {
    val lo = SeriesOps.seriesLowestCurrent(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 5).collect()
    val hi = SeriesOps.seriesHighestCurrent(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 5).collect()
    // full-catalog ranks: same (metric, current) summaries, reversed order
    // modulo exact value ties (none in the fixture)
    assert(lo.map(_.getString(1)).toSet === hi.map(_.getString(1)).toSet)
    assert(lo.map(r => r.getString(1) -> r.getDouble(3)).toMap ===
           hi.map(r => r.getString(1) -> r.getDouble(3)).toMap)
    assert(lo.map(_.getDouble(3)).toSeq === lo.map(_.getDouble(3)).sorted.toSeq)
  }

  test("seriesGroupByNodes keys in caller order and averages per cell") {
    val df = SeriesOps.seriesGroupByNodes(spark, Sf0001, Seq(1, 0),
      SeriesOps.From, SeriesOps.Until).collect()
    assert(df.nonEmpty)
    // node order (1, 0) reverses the path: "purchase.events"
    assert(df.forall(_.getString(0).endsWith(".events")))
    // with 2-segment single-metric keys the mean is the point value:
    // spot-check one cell against the compacted store
    val r = df.head
    val metric = "events." + r.getString(0).stripSuffix(".events")
    val expect = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("metric") === metric && col("ts") === r.getLong(1))
      .collect().head.getAs[Double]("value")
    assert(math.abs(r.getDouble(3) - expect) < 1e-5)
    assert(r.getLong(2) === 1L)
  }

  test("seriesLimit emits grids for exactly the first n metrics by name") {
    val df = SeriesOps.seriesLimit(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 2)
    val metrics = df.select("metric").distinct()
      .collect().map(_.getString(0)).toSet
    val all = graft.core.Catalog.metricsMeta(spark)
      .select("metric").collect().map(_.getString(0)).sorted
    assert(metrics === all.take(2).toSet)
    assert(df.count() === 2 * 169)
  }

  test("seriesFallback serves the fallback iff the primary matches nothing") {
    val fb = SeriesOps.seriesFallback(spark, Sf0001,
      "events.refund*", "events.purchase", SeriesOps.From, SeriesOps.Until)
    assert(fb.select("metric").distinct().collect()
      .map(_.getString(0)).toSet === Set("events.purchase"))
    val prim = SeriesOps.seriesFallback(spark, Sf0001,
      "events.click", "events.purchase", SeriesOps.From, SeriesOps.Until)
    assert(prim.select("metric").distinct().collect()
      .map(_.getString(0)).toSet === Set("events.click"))
  }

  test("seriesIsNonNull flags exactly the non-null grid slots") {
    val rows = SeriesOps.seriesIsNonNull(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(rows.length === 169)
    rows.foreach { r =>
      assert(r.getLong(2) === (if (r.isNullAt(1)) 0L else 1L))
    }
  }

  test("seriesAliasByNode renames every grid to its node-1 segment") {
    val df = SeriesOps.seriesAliasByNode(spark, Sf0001, 1,
      SeriesOps.From, SeriesOps.Until)
    val aliases = df.select("alias").distinct()
      .collect().map(_.getString(0)).toSet
    val expect = graft.core.Catalog.metricsMeta(spark)
      .select("metric").collect()
      .map(_.getString(0).split("\\.")(1)).toSet
    assert(aliases === expect)
    assert(df.columns.toSeq === Seq("alias", "ts", "value"))
  }

  test("seriesAliasSub applies the capture-group rewrite to every metric") {
    val df = SeriesOps.seriesAliasSub(spark, Sf0001,
      "^events\\.(.*)$", "metrics.$1.rate", SeriesOps.From, SeriesOps.Until)
    val aliases = df.select("alias").distinct()
      .collect().map(_.getString(0)).toSet
    val expect = graft.core.Catalog.metricsMeta(spark)
      .select("metric").collect()
      .map(m => s"metrics.${m.getString(0).split("\\.")(1)}.rate").toSet
    assert(aliases === expect)
  }

  test("seriesSmartSummarize anchors buckets at the raw from") {
    val from = SeriesOps.From + 1800
    val got = SeriesOps.seriesSmartSummarize(spark, Sf0001,
      "events.purchase", from, SeriesOps.Until, 14400, "average").collect()
    // every bucket timestamp is from-anchored, NOT step-grid-aligned
    assert(got.forall(r => ((r.getLong(0) - from) % 14400 + 14400)
      % 14400 == 0))
    assert(got.exists(_.getLong(0) % 3600 != 0),
      "from-anchoring must produce off-grid bucket starts")
    // average replays Kernel semantics on the grid slice
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      from, SeriesOps.Until).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val byBucket = grid.groupBy { case (ts, _) =>
      ts - (((ts - from) % 14400 + 14400) % 14400) }
    got.foreach { r =>
      val vs = byBucket(r.getLong(0)).flatMap(_._2)
        .map(v => math.floor(v * 1e6 + 0.5).toLong)
      assert(r.getLong(1) === vs.length.toLong)
      if (vs.nonEmpty)
        assert(math.abs(r.getDouble(2) -
          vs.sum.toDouble / vs.length / 1e6) < 1e-9)
      else assert(r.isNullAt(2))
    }
  }

  test("seriesConsolidateBy respects the point budget for all 5 methods") {
    for (func <- graft.core.Kernel.ValidAggregationMethods) {
      val got = SeriesOps.seriesConsolidateBy(spark, Sf0001,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 60, func)
        .collect()
      assert(got.length <= 60, s"$func exceeded the point budget")
      assert(got.length >= 55, s"$func under-filled: ${got.length}")
    }
    // max consolidation replays the grid max per 3-slot bucket
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val byBucket = grid.groupBy { case (ts, _) =>
      ts - ((ts - SeriesOps.From) % 10800) }
    SeriesOps.seriesConsolidateBy(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 60, "max").collect().foreach { r =>
      val vs = byBucket(r.getLong(0)).flatMap(_._2)
      if (vs.nonEmpty) assert(r.getDouble(2) === vs.max)
      else assert(r.isNullAt(2))
    }
  }

  test("seriesMovingWindow dispatches to the named registered cores") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(SeriesOps.seriesMovingWindow(spark, Sf0001,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 6, "median")) ===
      rows(SeriesOps.seriesMovingMedian(spark, Sf0001,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 6)))
    assert(rows(SeriesOps.seriesMovingWindow(spark, Sf0001,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 6, "sum")) ===
      rows(SeriesOps.seriesMovingSum(spark, Sf0001,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 6)))
    intercept[IllegalArgumentException] {
      SeriesOps.seriesMovingWindow(spark, Sf0001, "events.purchase",
        SeriesOps.From, SeriesOps.Until, 6, "p99")
    }
  }

  test("seriesUseSeriesAbove serves the regex rewrite of gate-passers") {
    val got = SeriesOps.seriesUseSeriesAbove(spark, Sf0001, 300.0,
      "click", "view", SeriesOps.From, SeriesOps.Until).collect()
    // at sf0.001 only events.click's window max exceeds 300, so exactly
    // events.view (its rewrite) is served
    assert(got.map(_.getString(0)).distinct.toSeq === Seq("events.view"))
    // the served grid IS the view fetch grid
    val direct = SeriesOps.densifyGrid(spark, Sf0001, "events.view",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(got.length === direct.length)
    got.zip(direct).foreach { case (g, d) =>
      assert(g.getLong(1) === d.getLong(0))
      assert(g.isNullAt(2) === d.isNullAt(1))
      if (!g.isNullAt(2)) assert(g.getDouble(2) === d.getDouble(1))
    }
    // an impossible gate serves nothing
    assert(SeriesOps.seriesUseSeriesAbove(spark, Sf0001, 1e12,
      "click", "view", SeriesOps.From, SeriesOps.Until).count() === 0L)
    // a rewrite that resolves to no cataloged metric is dropped
    assert(SeriesOps.seriesUseSeriesAbove(spark, Sf0001, 300.0,
      "click", "nosuch", SeriesOps.From, SeriesOps.Until).count() === 0L)
  }

  test("seriesNonNegativeDerivative nulls resets, matches derivative " +
      "elsewhere") {
    val nnd = SeriesOps.seriesNonNegativeDerivative(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until).collect()
    val der = SeriesOps.seriesDerivative(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
    assert(nnd.length === der.length)
    nnd.zip(der).foreach { case (n, d) =>
      assert(n.getLong(0) === d.getLong(0))
      if (d.isNullAt(2) || d.getDouble(2) < 0) assert(n.isNullAt(2))
      else assert(n.getDouble(2) === d.getDouble(2))
    }
    // the fixture's counter goes backwards at least once in the window
    assert(der.exists(d => !d.isNullAt(2) && d.getDouble(2) < 0))
  }

  test("seriesHighestMax agrees with sortByMaxima's top ranks") {
    val top = SeriesOps.seriesHighestMax(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 3).collect()
    val all = SeriesOps.seriesSortByMaxima(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until).collect()
    assert(top.length === 3)
    assert(top.map(_.getString(1)).toSeq ===
      all.sortBy(_.getLong(0)).take(3).map(_.getString(1)).toSeq)
    val maxes = top.map(_.getDouble(2))
    assert(maxes.toSeq === maxes.sortBy(-_).toSeq)
  }

  test("seriesRemoveBelowPercentile is removeAbove's covering dual") {
    val below = SeriesOps.seriesRemoveBelowPercentile(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 0.1).collect()
    val above = SeriesOps.seriesRemoveAbovePercentile(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 0.1).collect()
    assert(below.length === above.length)
    // at the SAME p every non-null value is kept by exactly one side,
    // except a value equal to the threshold, kept by both
    below.zip(above).foreach { case (b, a) =>
      assert(b.getLong(0) === a.getLong(0))
      if (!b.isNullAt(1)) {
        val v = b.getDouble(1)
        val keptB = !b.isNullAt(3)
        val keptA = !a.isNullAt(3)
        assert(keptB || keptA)
        if (keptB && keptA) assert(v === b.getDouble(2))
      }
    }
    // some points do fall below the 10th percentile
    assert(below.exists(b => !b.isNullAt(1) && b.isNullAt(3)))
  }

  test("seriesRemoveBetweenPercentile matches a brute-force replay") {
    val got = SeriesOps.seriesRemoveBetweenPercentile(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 60).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    // brute-force: graphite's non-interpolating per-slot band over the
    // collected raw points
    // the face passes Until through alignUntil (inclusive-until →
    // exclusive grid end), so the brute replay must keep the last slot
    val pts = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(org.apache.spark.sql.functions.col("ts") >= SeriesOps.From &&
        org.apache.spark.sql.functions.col("ts") <= SeriesOps.Until)
      .collect().map(r => (r.getAs[String]("metric"),
        r.getAs[Long]("ts"), r.getAs[Double]("value")))
    def pick(sorted: Seq[Double], p: Int): Double = {
      val n = sorted.length
      val rank = math.min(math.max((p * (n + 1) + 99) / 100, 1), n)
      sorted(rank - 1)
    }
    val expected = pts.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1)).map(_._3)
      val (lo, hi) = (pick(sorted, 40), pick(sorted, 60))
      // graphite keeps when NOT (low < val < high): edge-equal is outside
      rows.filter(r => r._3 <= lo || r._3 >= hi).map(_._1)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (metric, nOutside, kept) =>
      assert(nOutside === expected.getOrElse(metric, 0L), metric)
      assert(kept === (nOutside > 0), metric)
    }
    // every live metric fluctuates enough to be kept; the counts differ
    assert(got.forall(_._3))
    assert(got.map(_._2).distinct.length > 1)
  }

  test("removeBetweenPercentileCore removes strictly-inside series, " +
      "keeps band-edge-equal ones, and mirrors n < 50") {
    import spark.implicits._
    // 5 metrics, constant ordering a < b < c < d < e across 4 slots: at
    // n = 80 the band rank picks are lo = (20·6+99) div 100 = 2 and
    // hi = (80·6+99) div 100 = 5 → band [v2, v5]. Upstream keeps when
    // NOT (low < val < high), so the EDGE-EQUAL ranks 2 and 5 count as
    // outside (kept) — only the strictly-interior ranks 3 and 4 are
    // REMOVED, a path a live fluctuating catalog cannot reach.
    val pts = (0 until 4).flatMap { t =>
      Seq(("a", t.toLong, 1.0 + t), ("b", t.toLong, 10.0 + t),
        ("c", t.toLong, 20.0 + t), ("d", t.toLong, 30.0 + t),
        ("e", t.toLong, 100.0 + t))
    }.toDF("metric", "ts", "value")
    val metrics = Seq("a", "b", "c", "d", "e").toDF("metric")
    val expected = Seq(("a", 4L, true), ("b", 4L, true), ("c", 0L, false),
      ("d", 0L, false), ("e", 4L, true))
    val got = SeriesOps.removeBetweenPercentileCore(pts, metrics, 80)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq === expected)
    // n = 20 mirrors to 100 − 20 = 80: identical band, identical result
    val mirrored = SeriesOps.removeBetweenPercentileCore(pts, metrics, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(mirrored.toSeq === expected)
  }

  test("seriesEwmaWide replays the 32-tap milli-unit fold; core face " +
      "rejects wide taps") {
    val grid = SeriesOps.densifyGrid(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val got = SeriesOps.seriesEwmaWide(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until, 32).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val taps = (0 until 32).flatMap { k =>
        if (i - k >= 0) grid(i - k).map(v =>
          (math.floor(v * 1e3 + 0.5).toLong, 1L << (31 - k)))
        else None
      }
      if (taps.isEmpty) assert(r.isNullAt(2))
      else {
        val num = taps.map(t => t._1 * t._2).sum
        val den = taps.map(_._2).sum
        val exp =
          math.floor(num.toDouble / den.toDouble / 1e3 * 1e6 + 0.5) / 1e6
        assert(r.getDouble(2) === exp, s"slot $i")
      }
    }
    intercept[IllegalArgumentException] {
      SeriesOps.seriesEwma(spark, Sf0001, "events.purchase",
        SeriesOps.From, SeriesOps.Until, 32)
    }
    intercept[IllegalArgumentException] {
      SeriesOps.seriesEwmaWide(spark, Sf0001, "events.purchase",
        SeriesOps.From, SeriesOps.Until, 16)
    }
  }
}
