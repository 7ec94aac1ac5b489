package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkTestBase

/** Plan-shape assertions: the scale story of SURVEY §4 pinned as tests.
  * These don't check answers (the oracle does) — they check that each
  * operator's PHYSICAL plan has the properties the 100 TB design depends
  * on, so a refactor that silently reintroduces a scan/shuffle/sort
  * anti-pattern fails CI. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.Sf0001

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The FINAL adaptive plan only (call after executing `df`) —
    * `AdaptiveSparkPlan.toString` appends the "== Initial Plan ==" section,
    * whose pre-AQE join choices must not leak into plan assertions. */
  private def finalPlan(df: DataFrame): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
  }

  test("multi-series transforms partition their windows by metric") {
    // the single-metric faces run an unpartitioned Window.orderBy(ts) —
    // O(output)-bounded by contract but single-partition by shape; the
    // registered *_multi faces are the render path's real call shape
    // (glob -> N series -> transform each) and MUST keep the metric axis
    // as the parallelism axis
    for (df <- Seq(
        SeriesOps.seriesDerivativeMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesMovingAvgMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 6),
        SeriesOps.seriesZscoreMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 6, 2.0),
        SeriesOps.seriesKeepLastMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 3),
        SeriesOps.seriesIntegralMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesEwmaMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 16),
        SeriesOps.seriesStdevMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 6),
        SeriesOps.seriesMovingMedianMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 6),
        SeriesOps.seriesInterpolateMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesMovingSumMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 6),
        SeriesOps.seriesMovingMinmaxMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 6),
        SeriesOps.seriesPerSecondMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 1000.0),
        SeriesOps.seriesDelayMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 3),
        SeriesOps.seriesChangedMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesIntegralByIntervalMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 14400),
        SeriesOps.seriesOffsetToZeroMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesMinMaxMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesOutlierMadMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 3.5),
        SeriesOps.seriesBandsMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 12, 2.0),
        SeriesOps.seriesChangepointMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesTheilSenMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesSeasonalDecomposeMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 24, 12),
        SeriesOps.seriesAnomalyStlMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 24, 12, 3.0),
        SeriesOps.seriesStlStrengthMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 24, 12))) {
      val p = plan(df)
      assert(p.contains("Window"), s"expected a window:\n$p")
      assert(p.contains("windowspecdefinition(metric"),
        s"transform windows must partition by metric:\n$p")
    }
  }

  test("series_summarize_multi is a windowless map-side-combinable rollup") {
    // unlike its window-partitioned siblings, the multi re-bucket needs
    // no sort at all: a (metric, bucket) hash aggregate with a partial
    // (map-side) phase — the finest parallelism axis in the multi family
    for (df <- Seq(
        SeriesOps.seriesSummarizeMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 14400),
        SeriesOps.seriesHitcountMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 14400),
        SeriesOps.seriesAutocorrelationMulti(spark, Sf0001,
          SeriesOps.From, SeriesOps.Until, 48))) {
      val p = plan(df)
      // the re-bucket itself must not window; the only window allowed
      // in the plan is the read reconcile's per-metric max(step)
      // (r18 opt — it rides the reconcile's one exchange)
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.forall(_.contains("max(step")),
        s"multi re-bucket must not introduce a window:\n$p")
      assert(p.contains("HashAggregate"),
        s"expected a hash aggregate rollup:\n$p")
    }
  }

  test("mm_phash_neardup never degenerates to an all-pairs join") {
    // the banding contract: candidates come from equality band-joins —
    // a refactor that loses the equi-join keys shows up as a cartesian
    // or nested-loop product and dies here, not at 100 TB
    val df = MultimodalOps.phashNearDup(spark, Sf0001, 3)
    df.count()
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from equality band-joins:\n$p")
  }

  test("catalog ops never touch point data (no file scan at all)") {
    for (df <- Seq(
        SeriesOps.walkTree(spark, Sf0001),
        SeriesOps.findGlob(spark, Sf0001, "events.*r*"),
        SeriesOps.hasNode(spark, Sf0001, "events.purchase"))) {
      val p = plan(df)
      assert(!p.contains("FileScan"),
        s"catalog lookup must be served from metadata only:\n$p")
    }
  }

  test("dedup_exact prunes the documents scan to (doc_id, text)") {
    val p = plan(TextOps.dedupExact(spark, Sf0001))
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"expected doc_id+text in $readSchema")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unused columns must be pruned from the scan: $readSchema")
  }

  test("quality_histogram prunes the scan; its share window is post-rollup") {
    val df = TextOps.qualityHistogram(spark, Sf0001)
    val p = plan(df)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    // the score needs text + n_chars + source and nothing else
    assert(readSchema.contains("source") && readSchema.contains("text") &&
      readSchema.contains("n_chars"), s"expected score columns in $readSchema")
    assert(!readSchema.contains("doc_id") && !readSchema.contains("lang"),
      s"unused columns must be pruned from the scan: $readSchema")
    // exactly one pre-window aggregate pair (partial + final) — the share
    // window consumes the (source, bucket) rollup, not the corpus
    assert(p.contains("HashAggregate"), s"expected hash aggregate:\n$p")
    assert(p.contains("Window"), s"expected the share window:\n$p")
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"window must sit ABOVE the rollup aggregate in the plan tree:\n$p")
  }

  test("embed_dim_stats aggregates with map-side partials (two-phase agg)") {
    val p = plan(VectorOps.embedDimStats(spark, Sf0001))
    // partial + final HashAggregate around one exchange: the |dims|-key
    // rollup combines per task before the tiny final shuffle
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final aggregates:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no join belongs here:\n$p")
  }

  test("rollup joins metadata via broadcast, not a shuffle join") {
    val p = plan(SeriesOps.xffRollup(spark, Sf0001, 3600L, 86400L))
    assert(p.contains("BroadcastExchange"),
      s"metadata join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"metadata join must not sort-merge:\n$p")
  }

  test("cosine top-k is TakeOrdered, not a global sort") {
    val p = plan(VectorOps.cosineTopk(spark, Sf0001, 0, 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must use TakeOrdered (no full sort + exchange):\n$p")
  }

  test("multimodal decode is narrow: no shuffle exchange in the plan") {
    val p = plan(MultimodalOps.decodeFeatures(spark, Sf0001).toDF())
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
      s"decode must stay narrow (per-partition map):\n$p")
  }

  test("compacted store layout partition-prunes a (metric, range) read") {
    import org.apache.spark.sql.functions._
    import graft.streaming.Maintenance
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    val src = s"$tmp/src"; val dest = s"$tmp/store"
    graft.core.Catalog.pointsCached(spark, Sf0001)
      .write.mode("overwrite").parquet(src)
    Maintenance.compactStore(spark, src, dest)

    // two-day read of one metric over the month-long five-metric store
    val from = SeriesOps.From
    val until = SeriesOps.From + 2 * 86400L
    val df = Maintenance.storeRead(spark, dest, Seq("events.purchase"),
      Some((from, until)), Some(Maintenance.MetricBuckets))
    val p = plan(df)
    // NOTE: Spark may truncate the filter list in the plan string (long
    // attribute ids push it past the toString field budget), so inspect a
    // bounded window after the marker instead of regexing to the bracket
    val idx = p.indexOf("PartitionFilters: [")
    assert(idx >= 0, s"expected PartitionFilters in scan:\n$p")
    val pf = p.substring(idx, math.min(p.length, idx + 200))
    assert(!pf.startsWith("PartitionFilters: []"),
      s"partition filter list must be non-empty:\n$p")
    assert(pf.contains("pb") && pf.contains("pd"),
      s"both bucket and date predicates must reach the partition filter: $pf")

    // parity: pruning must not change the answer
    val expect = graft.core.Catalog.pointsCached(spark, Sf0001)
      .where(col("metric") === "events.purchase" &&
        col("ts") >= from && col("ts") < until)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expect)

    // and the general read composes over the pruned scan
    val fetched = SeriesOps.fetchRangeFrom(
      Maintenance.storeRead(spark, dest, Seq("events.purchase"),
        Some((from, until)), Some(Maintenance.MetricBuckets)),
      graft.core.Catalog.metricsMeta(spark), "events.purchase", from, until)
    assert(fetched.count() > 0)
  }

  /** Executed nodes of the FINAL adaptive plan, excluding the build plans
    * of already-materialized cached relations: an InMemoryTableScan
    * replays cached blocks, so the build plan it PRINTS is how the cache
    * was first materialized — possibly under another suite's configs
    * (the rail sweep runs AQE-off/broadcast-banned, freezing SMJs into
    * shared-cache build strings) — not what this query executes. String
    * assertions on live join strategy must not trip on that. */
  private def liveNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val children = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: InMemoryTableScanExec => Seq.empty
        case other => other.children
      }
      p +: (children.flatMap(walk) ++ p.subqueries.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
  }

  test("apply stages: AQE broadcasts the observed-small label side at runtime") {
    // the apply anti-join carries NO broadcast() hint — at 100 TB the
    // non-keeper side of a majority-duplicate corpus is corpus-sized, so
    // hard-coding broadcast is a frozen driver OOM. Instead the label
    // build is materialized and AQE picks the strategy from its OBSERVED
    // size: on this fixture the side is tiny, so the FINAL adaptive plan
    // must be a broadcast anti join (execute first — the pre-execution
    // plan is only AQE's initial guess)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    for (df <- Seq(
        TextOps.dedupApply(spark, Sf0001, 0.9),
        VectorOps.embedApply(spark, Sf0001, 0.4),
        TextOps.contaminationApply(spark, Sf0001, Seq("src3", "src15"), 0.9))) {
      df.collect()
      val nodes = liveNodes(df)
      assert(nodes.exists {
        case b: BroadcastHashJoinExec =>
          b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
        case _ => false
      }, s"AQE should broadcast the observed-small non-keeper side:\n${finalPlan(df)}")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"apply stage must not shuffle the corpus for the anti join:\n${finalPlan(df)}")
    }
  }

  test("IVF store layout partition-prunes candidate I/O to the probed cells") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivf_store_").toString
    VectorOps.ivfStoreWrite(spark, Sf0001, store)
    val df = VectorOps.annIvfTopkStore(spark, Sf0001, store, 0, 10)
    val p = plan(df)
    val idx = p.indexOf("PartitionFilters: [")
    assert(idx >= 0, s"expected PartitionFilters on the cid-bucketed scan:\n$p")
    val pf = p.substring(idx, math.min(p.length, idx + 200))
    assert(!pf.startsWith("PartitionFilters: []") && pf.contains("cid"),
      s"cid predicate must bind to the partition column: $pf")
    // pruning must not change the answer: row-for-row parity with the
    // filter-based IVF query (same quantizer, same probe set)
    val expect = VectorOps.annIvfTopk(spark, Sf0001, 0, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expect)
  }

  test("fetch_pattern_store: one PartitionFilters-pruned scan, flat parity") {
    // the REGISTERED face (Engine.fetchPattern over the BuildOnce store):
    // one store scan, its bucket and date predicates bound to the (pb, pd)
    // partition columns
    val df = graft.SparkEntry.queries("fetch_pattern_store")(spark, Sf0001)
    val p = plan(df)
    assert("FileScan parquet".r.findAllMatchIn(p).size === 1,
      s"expected one store scan:\n$p")
    val idx = p.indexOf("PartitionFilters: [")
    assert(idx >= 0, s"expected PartitionFilters on the store scan:\n$p")
    val pf = p.substring(idx, math.min(p.length, idx + 250))
    assert(!pf.startsWith("PartitionFilters: []") &&
      pf.contains("pb") && pf.contains("pd"),
      s"bucket and date predicates must bind to the partition columns: $pf")
    // end-to-end parity with the flat-scan pattern read
    val expect = SeriesOps.fetchPattern(spark, Sf0001, "events.*",
      SeriesOps.From, SeriesOps.Until).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq === expect)
  }

  test("batched IVF store read: ONE pruned scan for the probe-cell union") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivf_store_b_").toString
    VectorOps.ivfStoreWrite(spark, Sf0001, store)
    val df = VectorOps.annIvfBatchStore(spark, Sf0001, store, 5, 10)
    val p = plan(df)
    val idx = p.indexOf("PartitionFilters: [")
    assert(idx >= 0, s"expected PartitionFilters on the cid scan:\n$p")
    val pf = p.substring(idx, math.min(p.length, idx + 200))
    assert(!pf.startsWith("PartitionFilters: []") && pf.contains("cid"),
      s"cid IN (union of probes) must bind to the partition column: $pf")
    // the store is scanned once, not once per query
    val storeScans = "FileScan parquet[^\\n]*".r.findAllIn(p)
      .count(_.contains("cid="))
    assert(storeScans <= 1, s"one pruned store scan per BATCH:\n$p")
    // parity with the fully-distributed batch form
    val expect = VectorOps.annIvfBatchTopk(spark, Sf0001, 5, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
  }

  test("multires shaping reads ONE materialized reconcile (no store re-scan)") {
    // mergeSeriesFrom consumes the reconciled series more than once
    // (primary rows, grid-step aggregate, secondary rows); the series must
    // therefore be materialized, so the FINAL plan scans checkpoint blocks
    // only — any FileScan/InMemoryTableScan here means the reconcile
    // subtree (scan + shuffle) would re-execute per consumer at scale
    val store = SeriesOps.multiresStore(spark, Sf0001)
    val meta = graft.core.Catalog.metricsMeta(spark)
    locally {
      val p = plan(SeriesOps.mergeSeriesFrom(store, meta, "events.purchase",
        "events.click", SeriesOps.From, SeriesOps.Until))
      assert(p.contains("ExistingRDD"),
        s"expected the reconciled series to come from a checkpoint:\n$p")
      assert(!p.contains("FileScan") && !p.contains("InMemoryTableScan"),
        s"store must not be re-scanned downstream of the reconcile:\n$p")
    }
    // densifyGridFrom (r18 opt) packs gstep + the (ts → value) map out of
    // ONE aggregate of the reconcile — a single consumer, so no
    // checkpoint; the pin is now the stronger property directly: the
    // shaping adds ZERO store scans over a bare reconcile of the same
    // store (i.e. the reconcile subtree is not duplicated downstream)
    locally {
      def scans(df: org.apache.spark.sql.DataFrame): Int =
        "FileScan".r.findAllIn(plan(df)).length
      val f = graft.core.Kernel.align(SeriesOps.From, graft.core.Catalog.Step)
      val bare = scans(SeriesOps.reconcileToCoarsest(
        store.where(col("metric") === "events.purchase"), meta, anchor = f))
      val shaped = scans(SeriesOps.densifyGridFrom(store, meta,
        "events.purchase", SeriesOps.From, SeriesOps.Until))
      assert(shaped == bare,
        s"densifyGridFrom must not re-scan the store (bare reconcile " +
          s"scans=$bare, shaped=$shaped)")
    }
  }

  test("token-family ops read the shared word-count table, never re-explode") {
    // the five token-family consumers must plan against the session-cached
    // (doc, tok, c) feature table — a Generate (explode) in any consumer's
    // plan means the corpus token fan-out re-executes per query
    val consumers = Seq(
      "top_terms" -> TextOps.topTerms(spark, Sf0001, 20),
      "tfidf_terms" -> TextOps.tfidfTerms(spark, Sf0001, 20),
      "top_terms_by_lang" -> TextOps.topTermsByLang(spark, Sf0001, 5),
      "lang_id" -> TextOps.langId(spark, Sf0001),
      "unigram_logprob" -> TextOps.unigramLogprob(spark, Sf0001))
    for ((name, df) <- consumers) {
      val p = plan(df)
      assert(!p.contains("Generate"),
        s"$name must not re-explode the corpus (shared wordCounts):\n$p")
      assert(p.contains("ExistingRDD"),
        s"$name must read the checkpointed word-count table:\n$p")
      // only tfidf's one-row corpus-count aggregate may touch the raw
      // table; the other four are fully served from the feature table
      if (name != "tfidf_terms")
        assert(!p.contains("FileScan"),
          s"$name must not re-scan documents:\n$p")
    }
  }

  test("registered fetch_range_store serves the window partition-pruned") {
    // the REGISTERED store-served range read (Engine.fetchSparse, not
    // just the raw storeRead): both the metric-bucket and date predicates
    // must bind to the (pb, pd) partition columns of the BuildOnce store
    val df = graft.SparkEntry.queries("fetch_range_store")(spark, Sf0001)
    val p = plan(df)
    val idx = p.indexOf("PartitionFilters: [")
    assert(idx >= 0, s"expected PartitionFilters in the store scan:\n$p")
    val pf = p.substring(idx, math.min(p.length, idx + 200))
    assert(!pf.startsWith("PartitionFilters: []"),
      s"partition filter list must be non-empty:\n$p")
    assert(pf.contains("pb") && pf.contains("pd"),
      s"both bucket and date predicates must reach the partition filter: $pf")
    // parity: the store-served read returns the flat-scan answer
    val expect = SeriesOps.fetchRange(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expect)
  }

  test("contamination runs the skew-capped jaccard plan (rare/hot split)") {
    // the leak scan is the op most likely to run over a full crawl +
    // benchmark corpus — it must take dedupJaccard's capped branch (rare
    // self-join + hot-membership add-back), never the uncapped df²
    // shingle self-join. `inter_rare` exists ONLY in the capped branch,
    // so its presence in the optimized plan discriminates the two.
    for (df <- Seq(
        TextOps.contamination(spark, Sf0001, 0.9),
        TextOps.contaminationMatrix(spark, Sf0001, 0.9))) {
      val lp = df.queryExecution.optimizedPlan.toString
      assert(lp.contains("inter_rare"),
        s"contamination must run the capped (rare/hot split) plan:\n$lp")
    }
    // the marker really discriminates: the uncapped form lacks it
    val uncapped = TextOps
      .contamination(spark, Sf0001, 0.9, maxDf = Long.MaxValue)
      .queryExecution.optimizedPlan.toString
    assert(!uncapped.contains("inter_rare"))
  }

  test("quality_apply: the length gate pushes down to the parquet scan") {
    // the score and length gates reference only scan-side columns, so
    // Catalyst must push them below the repetition join — and the
    // simple n_chars comparison all the way into the parquet reader
    // (row-group pruning at 100 TB), not evaluate it post-join
    val p = plan(TextOps.qualityApply(spark, Sf0001, 0.8, 150, 0.02))
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("n_chars"),
      s"n_chars gate must reach the parquet scan: $pushed\n$p")
  }

  test("pack_sequences: the rollup reuses the shard partitioning (two exchanges)") {
    // expected exchanges: (1) the docsParallel fan-out before the heavy
    // per-doc token count, (2) the per-shard window sort. The final
    // (shard, seq) rollup must NOT add a third — HashPartitioning(shard)
    // already clusters (shard, seq), and a refactor that re-shuffles the
    // packed stream pays a corpus-sized exchange for nothing at 100 TB
    val p = plan(TextOps.packSequences(spark, Sf0001, 2048, 8))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
  }

  test("paragraph dedup family: banded/hash-keyed joins, never all-pairs") {
    // every paragraph face joins one-row-per-key on the 8-byte segment
    // hash (df rollup / first-occurrence winner / first-seen flags) — a
    // refactor that loses the equi-key degenerates to a product and
    // dies here, not at 100 TB
    for (df <- Seq(
        TextOps.paraDupStats(spark, Sf0001),
        TextOps.paraDedupApply(spark, Sf0001),
        TextOps.paraDedupIncremental(spark, Sf0001, 0.5))) {
      df.count()
      val p = finalPlan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"paragraph joins must stay hash-keyed:\n$p")
    }
    // the apply face's winner is an aggregation, not a corpus-wide window
    assert(!plan(TextOps.paraDedupApply(spark, Sf0001)).contains("Window"),
      "first-occurrence winner must be min(struct) aggregation, not a window")
  }

  test("dedup_incremental: band-key equi-join candidates; batch-sized window") {
    val df = TextOps.dedupIncremental(spark, Sf0001, 0.9)
    df.count()
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"incremental candidates must come from the band equi-join:\n$p")
    // the best-match window partitions by the new doc (batch axis),
    // never an unpartitioned global sort
    assert(p.contains("windowspecdefinition(doc_b"),
      s"best-match window must partition by the new doc:\n$p")
  }

  test("pack_sequences_bpe windows by shard; batch_vocab_drift stays keyed") {
    val p = plan(TextOps.packSequencesBpe(spark, Sf0001, 2048, 8, 3))
    assert(p.contains("windowspecdefinition(shard"),
      s"BPE packer must keep the shard partitioning axis:\n$p")
    val d = TextOps.batchVocabDrift(spark, Sf0001)
    d.count()
    val pd = finalPlan(d)
    assert(!pd.contains("CartesianProduct") &&
      !pd.contains("BroadcastNestedLoopJoin"),
      s"OOV membership must join on the token key:\n$pd")
  }

  test("tfidf_terms: corpus size joins as a broadcast one-row aggregate") {
    val p = plan(TextOps.tfidfTerms(spark, Sf0001, 20))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"N must broadcast (one row), never shuffle the vocabulary:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must use TakeOrdered:\n$p")
  }

  test("fetch_range pushes the metric+time filters into the scan stage") {
    // the filter must sit directly on the (cached) points relation —
    // no full-table aggregation upstream of the predicate
    val df = SeriesOps.fetchRange(spark, Sf0001, "events.purchase",
      SeriesOps.From, SeriesOps.Until)
    val analyzed = df.queryExecution.optimizedPlan.toString
    assert(analyzed.contains("events.purchase"),
      s"metric predicate missing from optimized plan:\n$analyzed")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian in read path:\n$p")
  }

  test("bm25_search: metadata stats broadcast; top-k is TakeOrdered") {
    val p = plan(TextOps.bm25Search(spark, Sf0001))
    assert(p.contains("BroadcastExchange") ||
           p.contains("BroadcastNestedLoopJoin"),
      s"df/corpus stats must broadcast, never shuffle the postings:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must use TakeOrdered:\n$p")
  }

  test("series_clip_percentile: thresholds broadcast onto one point scan") {
    val df = SeriesOps.seriesClipPercentile(spark, Sf0001,
      SeriesOps.From, SeriesOps.Until, 0.9)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the O(#metrics) threshold table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("series linreg/group_by_node aggregate without window over points") {
    // both multi-metric reads are plain map-side-combinable rollups: a
    // refactor that reintroduces an unpartitioned window over point data
    // (WholeStageCodegen shows Window) must fail here
    for (df <- Seq(
        SeriesOps.seriesLinReg(spark, Sf0001, SeriesOps.From, SeriesOps.Until),
        SeriesOps.seriesGroupByNode(spark, Sf0001, 0,
          SeriesOps.From, SeriesOps.Until))) {
      val p = plan(df)
      assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
      // linreg's only window-free contract: the Sort in these plans is
      // the output orderBy, which follows the metadata-sized aggregate
      assert(!p.contains("Window"), s"no window over point data:\n$p")
    }
  }

  test("index_ann_pq_topk scans the codes table, not the float vectors") {
    val df = graft.streaming.FeatureIndex.indexedAnnPqTopk(spark, Sf0001)
    df.collect()
    val p = finalPlan(df)
    // the corpus-sized side must be the integer codes table; the only
    // embeddings read is the query's own row (vec_id pushed down)
    assert(p.contains("emb_pq_codes"),
      s"steady-state scan must be the persisted codes table:\n$p")
    val embScans = "FileScan parquet[^\\n]*embeddings".r.findAllIn(p).toSeq
    assert(embScans.size <= 1,
      s"only the query row may read the float vectors:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the ADC table must broadcast onto the codes scan:\n$p")
  }

  /** File scans the final plan ACTUALLY executes: descends AQE stages
    * but treats InMemoryTableScan as the leaf it is (its printed
    * build-lineage is informational — cached tables never re-run their
    * build scans). */
  private def executedFileScans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("ann_ivfpq_topk composition: cid-pruned candidates, codes-only scoring") {
    // the two families' pins exist individually (IVF: probe-cell pruning;
    // PQ: codes-table scoring) — this pins the COMPOSITION, the
    // configuration a billion-vector deployment actually serves: the
    // probe set must bound candidate I/O AND scoring must never touch
    // the float vectors beyond the query's own row
    val df = VectorOps.annIvfPqTopk(spark, Sf0001, 0, 10)
    df.collect()
    val p = finalPlan(df)
    // corpus-sized inputs (assignment + codes) are the cached feature
    // tables, never a fresh corpus derivation
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"candidates/codes must come from session-cached feature tables:\n$p")
    // the probe-cell set and the ADC table broadcast onto them
    assert(p.contains("BroadcastExchange"),
      s"probe cells + ADC must broadcast, never shuffle the corpus:\n$p")
    // float-vector file scans actually executed: only metadata-bounded
    // reads remain (query row, query cells, O(nCentroids) coarse seeds,
    // O(ksub) codebook seeds — all with vec_id pushdown)
    val embScans = executedFileScans(df)
      .filter(_.relation.location.rootPaths.mkString.contains("embeddings"))
    assert(embScans.size <= 4,
      s"scoring must stay on integer codes (found ${embScans.size} " +
        s"embedding scans):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$p")

    // the index-served face: same contract off the persisted tables
    val idf = graft.streaming.FeatureIndex
      .indexedAnnIvfPqTopk(spark, Sf0001, 0, 10)
    idf.collect()
    val ip = finalPlan(idf)
    assert(ip.contains("emb_pq_codes"),
      s"index scoring must scan the persisted codes table:\n$ip")
    assert(ip.contains("emb_assign"),
      s"index candidates must come from the persisted assignment:\n$ip")
    val iEmb = executedFileScans(idf)
      .filter(_.relation.location.rootPaths.mkString.contains("embeddings"))
    assert(iEmb.size <= 2,
      s"only the query row/cells may read the float vectors:\n$ip")
  }

  test("ann_pq_topk reads the cached codes table; ADC joins broadcast") {
    // the registered face serves the Lloyd-trained codebook (r14)
    val df = VectorOps.annPqTopkTrained(spark, Sf0001, 0, 10)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"steady-state reads must hit the session-cached codes table:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the O(m×ksub) ADC table must broadcast onto the codes scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must use TakeOrdered:\n$p")
  }

  test("mips_topk: broadcast query vector, TakeOrdered — no global sort") {
    val p = plan(VectorOps.mipsTopk(spark, Sf0001, 0, 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"MIPS top-k must be TakeOrdered:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the query vector must broadcast:\n$p")
  }

  test("pii_stats never shuffles document text") {
    val p = plan(TextOps.piiStats(spark, Sf0001))
    // the only exchange is the tiny per-source partial-agg rollup; text
    // is consumed by the regexp counters before any exchange
    assert(p.contains("partial_"),
      s"per-source counts must map-side combine:\n$p")
    val afterExchange = p.substring(p.indexOf("Exchange") max 0)
    assert(!afterExchange.contains("FileScan parquet") ||
      p.indexOf("FileScan") > p.indexOf("Exchange"),
      s"text must be reduced to counters before the exchange:\n$p")
    // column pruning reaches the scan: only (text, source) are read
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("documents"))
      .getOrElse(fail(s"no documents FileScan in plan:\n$p"))
    // doc_id is read too since r16: the positive-path injection derives
    // its synthetic PII payload from it (TextOps.piiInjectedDocs)
    assert(!scanLine.contains("n_chars") && !scanLine.contains("lang"),
      s"documents scan must prune to (text, source, doc_id): $scanLine")
  }

  test("event_heavy_hitters_approx: broadcast summary + totals, no " +
      "data-sized join build side") {
    val df = EventOps.eventHeavyHittersApprox(spark, Sf0001, 4, 16)
    df.collect() // resolve AQE before reading the final plan
    val p = finalPlan(df)
    // both the O(shards) totals and the O(shards x capacity) summary
    // must broadcast against the exact rollup, never shuffle-join it
    assert(p.split("BroadcastExchange").length >= 3 ||
      p.split("BroadcastQueryStage").length >= 3,
      s"totals AND summary must broadcast:\n$p")
    assert(p.contains("partial_"),
      s"exact counts must map-side combine:\n$p")
  }

  test("series_consolidate_by: a bare map-side-combinable rollup, " +
      "no window") {
    val p = plan(SeriesOps.seriesConsolidateBy(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 60, "max"))
    assert(p.contains("partial_"),
      s"bucket rollup must map-side combine:\n$p")
    // the consolidate rollup itself must not run through a window
    // function; the ONLY window allowed in the plan is the read
    // reconcile's per-metric max(step) (r18 opt — it shares the
    // reconcile's one exchange instead of a separate aggregate+broadcast)
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.forall(_.contains("max(step")),
      s"consolidateBy must not window its rollup:\n$p")
  }

  test("event_path_topk: path counts are TakeOrdered with partial aggs") {
    val p = plan(EventOps.eventPathTopk(spark, Sf0001, 3600, 8, 20))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k paths must be TakeOrdered:\n$p")
    assert(p.contains("partial_"),
      s"path counts must map-side combine:\n$p")
  }

  test("event_seasonality: share joins an O(|types|) broadcast") {
    val p = plan(EventOps.eventSeasonality(spark, Sf0001))
    assert(p.contains("BroadcastExchange"),
      s"per-type totals must broadcast:\n$p")
  }

  test("tfidf_pairs: no corpus-cardinality broadcast; pair join on tok") {
    val df = TextOps.tfidfPairs(spark, Sf0001, 0.3, 64L)
    df.collect()
    val p = finalPlan(df)
    // the ONLY hinted broadcast is the 1-row n_docs aggregate; the w⋈w
    // pair join must never broadcast a corpus-sized side by hint (AQE
    // may still choose to at fixture scale — BroadcastRailSpec bans the
    // hinted form across the surface)
    assert(p.contains("TakeOrdered") || p.contains("Sort"),
      s"plan should close with the pair ordering:\n$p")
    assert(!plan(df).contains("CartesianProduct") ||
      plan(df).contains("BroadcastNestedLoopJoin"),
      s"only the 1-row n_docs cross join may be nested-loop:\n$p")
  }

  test("seasonal decompose / STL anomaly: seasonal table broadcasts") {
    val p = plan(SeriesOps.seriesSeasonalDecompose(spark, Sf0001,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12))
    assert(p.contains("BroadcastExchange"),
      s"the O(season) seasonal table must broadcast onto the grid:\n$p")
  }
}
