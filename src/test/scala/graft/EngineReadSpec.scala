package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.metrics.source.CodegenMetrics
import graft.core.MetaStore
import graft.operators.SeriesOps
import graft.streaming.{Ingest, Maintenance}

/** A store-backed engine's reads: node metadata from the engine's held
  * node table plus one partition-pruned store scan per request, within a
  * job budget, with the answers of the whole-store path; a new window
  * recompiles only the scan stage; node writes by any writer are visible
  * to the next read. */
class EngineReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val Hour = 3600L
  private val Day = 86400L
  private val Methods = Seq("average", "sum", "min", "max", "last")
  private def metricOf(method: String) = s"svc.$method.lat"

  /** Six days of hourly writes (gappy, unaligned), one node per
    * aggregation method plus one outside the `svc.*.lat` globs, rolled up by
    * a maintenance pass (hourly for 48 h, then daily) and compacted into
    * the (pb, pd) layout; then a late batch of cross-batch duplicates
    * that only the read's dedupe resolves. */
  private lazy val store: (Engine, String, String) = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-engine-read")
    val storeDir = base.resolve("store").toString
    val metaDir = base.resolve("meta").toString
    val eng = Engine.openStore(spark, storeDir, metaDir)
    val metrics = Methods.map(metricOf) :+ "other.lat"
    metrics.zip(Methods :+ "sum").foreach { case (m, method) =>
      eng.createNode(m, Hour, method, 0.5,
        Seq(MetaStore.Retention(Hour, 48L), MetaStore.Retention(Day, 30L)))
    }
    val rows = for {
      (m, i) <- metrics.zipWithIndex
      h <- 0 until 144 if (h * 7 + i) % 5 != 0
    } yield (m, h * Hour + 17L, (h % 24).toDouble + i)
    eng.store(rows.toDF("metric", "ts", "value"))
    Maintenance.runPruned(spark, storeDir, 144 * Hour, Some(eng.meta))
    Maintenance.compactStore(spark, storeDir, storeDir)
    val late = metrics.flatMap(m =>
      Seq((m, 130 * Hour, 100.0), (m, 131 * Hour, -1.0)))
    eng.store(late.toDF("metric", "ts", "value"))
    (eng, storeDir, metaDir)
  }

  private val nJobs = new AtomicLong
  private lazy val listening = spark.sparkContext.addSparkListener(
    new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        nJobs.incrementAndGet()
    })

  /** Job count of `body`, sampled on a settled listener bus (events
    * arrive asynchronously): read until two consecutive samples agree. */
  private def jobsOf(body: => Unit): Long = {
    listening
    def drained(): Long = {
      var prev = nJobs.get
      var settled = false
      while (!settled) {
        Thread.sleep(50)
        val cur = nJobs.get
        settled = cur == prev
        prev = cur
      }
      prev
    }
    val j0 = drained()
    body
    drained() - j0
  }

  /** Every node of the executed (adaptive) plan, query stages and
    * subqueries included. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: (children.flatMap(nodesOf) ++ p.subqueries.flatMap(nodesOf))
  }

  /** Every file scan of the executed (adaptive) plan. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    nodesOf(p).collect { case f: FileSourceScanExec => f }

  /** The operators one whole-stage-codegen stage compiles, and the
    * operators feeding its inputs. */
  private def stageOps(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: InputAdapter => Seq(a, a.child)
    case _ => p +: p.children.flatMap(stageOps)
  }

  /** The generated code of every whole-stage-codegen stage of `df`'s
    * executed plan, split into the stages that read a file (the scan
    * stage) and the rest, each in stage-id order. */
  private def stageCode(df: DataFrame): (Seq[String], Seq[String]) = {
    df.collect()
    val stages = nodesOf(df.queryExecution.executedPlan)
      .collect { case w: WholeStageCodegenExec => w }
      .sortBy(_.codegenStageId)
    val (scan, rest) = stages.partition(w =>
      stageOps(w.child).exists(_.isInstanceOf[FileSourceScanExec]))
    // codegenStringSeq(w) lists w's nested stages too: keep w's own
    def code(ws: Seq[WholeStageCodegenExec]) = ws.map(w =>
      codegenStringSeq(w).collectFirst { case (t, c, _) if t == w.toString => c }.get)
    (code(scan), code(rest))
  }

  private def assertOnePrunedScan(df: DataFrame, storeDir: String): Unit = {
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    val storeScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.stripPrefix("file:").stripSuffix("/") == storeDir))
    assert(storeScans.size === 1 && scans.size === 1,
      s"expected exactly one store scan:\n${df.queryExecution.executedPlan}")
    val keys = storeScans.head.partitionFilters
      .flatMap(_.references.map(_.name)).toSet
    assert(Set("pb", "pd").subsetOf(keys),
      s"bucket and date predicates must reach the partition filter: " +
        storeScans.head.partitionFilters)
  }

  private def grid(df: DataFrame): Seq[Row] = df.collect().toSeq

  // a 3-day window: daily rolled history plus the hourly tail
  private val From = 2 * Day + 5 * Hour
  private val Until = 5 * Day + 7 * Hour

  /** The unchanged whole-store path every store-backed read must equal. */
  private def wholeStore(storeDir: String, metaDir: String)
      : (DataFrame, DataFrame) =
    (Ingest.storeView(spark, storeDir), MetaStore.read(spark, metaDir))

  test("store-backed reads fit the job budget, each with one pruned scan") {
    val (eng, storeDir, _) = store
    val m = metricOf("sum")
    val reads = Seq[(String, Long, () => DataFrame)](
      ("fetch", 1L, () => eng.fetch(m, From, Until)),
      ("find", 0L, () => eng.find("svc.*.lat")),
      ("fetchPattern", 6L, () => eng.fetchPattern("svc.*.lat", From, Until)))
    for ((name, budget, read) <- reads) {
      read().collect() // warm-up
      val n = jobsOf(read().collect())
      info(s"$name: $n jobs")
      assert(n <= budget, s"$name ran $n jobs (budget $budget)")
    }
    assertOnePrunedScan(eng.fetch(m, From, Until), storeDir)
    assertOnePrunedScan(eng.fetchPattern("svc.*.lat", From, Until), storeDir)
  }

  test("the registry's store faces hold one engine: a warm call runs only its read") {
    // a new engine would resolve the metadata log again, one more job
    for ((name, budget) <- Seq("fetch_range_store" -> 1L,
        "densify_grid_store" -> 1L, "fetch_pattern_store" -> 6L)) {
      def call() =
        SparkEntry.queries(name)(spark, SparkTestBase.Sf0001).collect()
      call() // warm-up: builds the store and opens the engine
      val n = jobsOf(call())
      info(s"$name: $n jobs")
      assert(n <= budget, s"$name ran $n jobs (budget $budget)")
    }
  }

  test("a new window recompiles only the scan stage") {
    val (eng, _, _) = store
    val m = metricOf("average")
    // per read, two windows no other read in this suite uses, both
    // across the rolled daily history and the hourly tail
    val reads = Seq[(String, Seq[(Long, Long)], ((Long, Long)) => DataFrame)](
      ("fetch", Seq((Day + 3 * Hour, 4 * Day + 11 * Hour),
        (Day + 9 * Hour, 5 * Day + 2 * Hour)),
        w => eng.fetch(m, w._1, w._2)),
      ("fetchPattern", Seq((Day + 5 * Hour, 4 * Day + 13 * Hour),
        (Day + 7 * Hour, 5 * Day + 4 * Hour)),
        w => eng.fetchPattern("svc.*.lat", w._1, w._2)))
    for ((name, windows, read) <- reads) {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val (scanA, restA) = stageCode(read(windows(0)))
      val c0 = compiles.getCount
      val (scanB, restB) = stageCode(read(windows(1)))
      info(s"$name: ${scanA.size} scan stage(s), ${restA.size} later " +
        s"stage(s); ${compiles.getCount - c0} compilations for the new window")
      assert(scanA.size === 1 && scanB.size === 1, name)
      assert(restA.nonEmpty, s"$name: no codegen stage after the scan")
      // the scan stage carries the window's literal ts bounds (pushed
      // filters), so it alone differs
      assert(scanA != scanB, s"$name: the scan stage should see the window")
      val differing = restA.indices.filter(i => restB.lift(i) != Some(restA(i)))
      assert(restA.size == restB.size && differing.isEmpty,
        s"$name: stage(s) after the scan depend on the window: " +
          differing.map(i => restA(i).linesIterator.take(3).mkString(" ")))
    }
  }

  test("node writes by any writer are visible to the next read") {
    val (_, storeDir, metaDir) = store
    // a private copy of the node log: this test rewrites metadata
    val fresh = Files.createTempDirectory("graft-engine-fresh")
      .resolve("meta").toString
    MetaStore.compact(spark, metaDir, fresh)
    val eng = Engine.openStore(spark, storeDir, fresh)
    val other = Engine.openStore(spark, storeDir, fresh)
    val m = metricOf("sum")
    val points = Ingest.storeView(spark, storeDir)
    def whole() = grid(SeriesOps.densifyGridFrom(points,
      MetaStore.read(spark, fresh), m, From, Until))
    val asSum = grid(eng.fetch(m, From, Until))
    assert(asSum === whole())
    assert(eng.find("new.*").collect().isEmpty && !eng.hasNode("new.a"))
    // another engine's createNode
    other.createNode("new.a", Hour, "max", 0.5)
    assert(eng.hasNode("new.a"))
    assert(eng.find("new.*").collect().map(_.getString(0)).toSeq === Seq("new.a"))
    assert(grid(eng.fetch("new.a", From, Until)).forall(_.isNullAt(1)))
    // a direct MetaStore.put changes the method the next read reconciles by
    MetaStore.put(spark, fresh, m, Hour, "min", 0.5,
      Seq(MetaStore.Retention(Hour, 48L), MetaStore.Retention(Day, 30L)))
    val asMin = grid(eng.fetch(m, From, Until))
    assert(asMin !== asSum)
    assert(asMin === whole())
    // another engine's deleteNode
    other.deleteNode("new.a")
    assert(!eng.hasNode("new.a") && eng.find("new.*").collect().isEmpty)
    val e = intercept[NoSuchElementException](eng.fetch("new.a", From, Until))
    assert(e.getMessage.contains("NodeNotFound"))
  }

  test("a metric with points but no node reads as the whole-store path") {
    val (_, storeDir, metaDir) = store
    // a private copy of the node log: this test deletes a node
    val fresh = Files.createTempDirectory("graft-engine-nonode")
      .resolve("meta").toString
    MetaStore.compact(spark, metaDir, fresh)
    val eng = Engine.openStore(spark, storeDir, fresh)
    val m = metricOf("sum")
    eng.deleteNode(m)
    val points = Ingest.storeView(spark, storeDir)
    val whole = grid(SeriesOps.fetchRangeFrom(points,
      MetaStore.read(spark, fresh), m, From, Until))
    assert(whole.nonEmpty && whole.forall(!_.isNullAt(0)))
    assert(grid(eng.fetchSparse(m, From, Until)) === whole)
    // read as 'average', the values are fractions: equal up to the order
    // of floating-point summation
    for (agg <- Methods) {
      val got = eng.aggregate(m, agg, From, Until)
      val want = graft.core.Kernel.aggregate(agg,
        whole.map(r => Some(r.getDouble(1))))
      assert(want.isDefined && got.isDefined, agg)
      assert(math.abs(got.get - want.get) <= 1e-9 * math.max(1.0,
        math.abs(want.get)), s"$agg: $got vs $want")
    }
    intercept[NoSuchElementException](eng.fetch(m, From, Until))
  }

  test("fetch and fetchPattern equal the whole-store read on a multi-resolution store") {
    val (eng, storeDir, metaDir) = store
    val (points, meta) = wholeStore(storeDir, metaDir)
    // the store holds rolled daily rows next to hourly ones
    assert(points.select("step").distinct().count() === 2)
    for (method <- Methods) {
      val m = metricOf(method)
      assert(grid(eng.fetch(m, From, Until)) ===
        grid(SeriesOps.densifyGridFrom(points, meta, m, From, Until)), m)
    }
    for (glob <- Seq("svc.*.lat", "*.*.lat", "svc.[ms]*.lat", "nosuch.*"))
      assert(grid(eng.fetchPattern(glob, From, Until)) ===
        grid(SeriesOps.fetchPatternFrom(points, meta, glob, From, Until)), glob)
  }

  test("fetchSparse, aggregate and find-with-interval equal the whole-store path") {
    val (eng, storeDir, metaDir) = store
    val (points, meta) = wholeStore(storeDir, metaDir)
    for (method <- Methods; m = metricOf(method)) {
      val whole = grid(SeriesOps.fetchRangeFrom(points, meta, m, From, Until))
      assert(whole.nonEmpty)
      assert(grid(eng.fetchSparse(m, From, Until)) === whole, m)
      // values are small integers: every aggregate is exact
      for (agg <- Methods)
        assert(eng.aggregate(m, agg, From, Until) ===
          graft.core.Kernel.aggregate(agg, whole.map(r => Some(r.getDouble(1)))),
          s"$m $agg")
    }
    for ((f, u) <- Seq((0L, Day), (3 * Day, 3 * Day + Hour), (10 * Day, 11 * Day),
        (Long.MinValue, Long.MaxValue)); glob <- Seq("svc.*.lat", "*.*.*"))
      assert(grid(eng.find(glob, Some(f), Some(u))) ===
        grid(SeriesOps.findIntervalFrom(points, meta, glob, f, u)), s"$glob $f $u")
  }

  test("legacy layouts read; a marker-present store rejects a mismatched reader") {
    val (eng, storeDir, metaDir) = store
    val (points, meta) = wholeStore(storeDir, metaDir)
    // a marker-less metric=-partitioned copy of the same points
    val legacy = Files.createTempDirectory("graft-engine-legacy")
      .resolve("store").toString
    points.write.partitionBy("metric").parquet(legacy)
    assert(!new java.io.File(legacy, "_buckets").exists)
    val old = Engine.openStore(spark, legacy, metaDir)
    val m = metricOf("last")
    assert(grid(old.fetch(m, From, Until)) === grid(eng.fetch(m, From, Until)))
    assert(grid(old.fetchSparse(m, From, Until)) ===
      grid(SeriesOps.fetchRangeFrom(points, meta, m, From, Until)))
    assert(grid(old.fetchPattern("svc.*.lat", From, Until)) ===
      grid(eng.fetchPattern("svc.*.lat", From, Until)))
    assert(grid(old.find("svc.*.lat", Some(From), Some(Until))).size === Methods.size)
    // the layout self-describes its bucket count: a reader passing
    // another one fails instead of silently missing rows
    intercept[IllegalArgumentException] {
      Maintenance.storeRead(spark, storeDir, Seq(m), Some((From, Until)), Some(4))
    }
  }
}
