package perfbench

import scala.collection.mutable

/** `render`: read-only dashboard traffic against a maintained store.
  * One client, closed loop: the next request goes out when the previous
  * answer is back and checked. */
object Render {
  /** 2 dcs × 4 hosts × 2 kinds (+ spares filling all 16 metric buckets),
    * 5 days + 7 hours of hourly history. */
  val Size = Sizes(dcs = 2, hosts = 4, kinds = 2, hours = 5 * 24 + 7)
  val Kinds = Seq("fetch", "pattern", "find")

  /** An endless request stream in blocks of six (fetch over 1, 2 and 4
    * days; pattern reads over 1 and 2 days; one find), each block in
    * seeded order, so every seed has the same mix. */
  def requests(seed: Long, st: SeriesStore, sz: Sizes): Iterator[Req] = {
    val rng = Gen.seeded(seed, 0x5eedL)
    val metrics = st.nodes.map(_.metric).filter(_.startsWith("dc"))
    val end = Gen.Epoch + sz.hours * Gen.Hour
    val kinds = Gen.Kinds.take(sz.kinds)
    def dc = rng.nextInt(sz.dcs)
    def host = rng.nextInt(sz.hosts)
    def kind = kinds(rng.nextInt(kinds.size))
    def window(len: Long): (Long, Long) = {
      val until = end - (rng.nextDouble() * (sz.hours * Gen.Hour - len)).toLong
      (until - len, until)
    }
    def fetch(days: Int) = {
      val (f, u) = window(days * Gen.Day)
      FetchReq(metrics(rng.nextInt(metrics.size)), f, u)
    }
    def pattern(days: Int) = {
      val g = rng.nextInt(5) match {
        case 0 => s"dc$dc.*.$kind"
        case 1 => s"*.*.$kind"
        case 2 => s"dc$dc.host[0-1].*"
        case 3 => s"dc$dc.*.*"
        case _ => s"*.host$host.*"
      }
      val (f, u) = window(days * Gen.Day)
      PatternReq(g, f, u)
    }
    def find = FindReq(rng.nextInt(4) match {
      case 0 => s"dc$dc.host$host.*"
      case 1 => s"*.*.$kind"
      case 2 => s"dc$dc.*.*"
      case _ => "spare.*"
    })
    Iterator.continually(
      rng.shuffle(Seq(fetch(1), fetch(2), fetch(4), pattern(1), pattern(2), find))
    ).flatten
  }

  /** Latencies (ms) per request kind, plus what the traced phase saw. */
  final class Phase {
    val ms = mutable.LinkedHashMap(Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val tracedMs = mutable.LinkedHashMap(Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val work = mutable.HashMap.empty[String, SparkWork]
    val rows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val planMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val order = mutable.ArrayBuffer.empty[Double]
    def all: Seq[Double] = order.toSeq
    /** Wall time of each whole block of requests. */
    def blocks: Seq[Double] = order.grouped(Block).filter(_.size == Block).map(_.sum).toSeq
    def n(k: String): Double = math.max(1, tracedMs(k).size).toDouble
  }

  val Block = 6

  /** Issue requests for `seconds` and at least `minBlocks` whole blocks.
    * `tracerFor(block)` says whether a block is traced. */
  def loop(r: Run, st: SeriesStore, reqs: Iterator[Req], seconds: Double,
           tracerFor: Int => Option[Tracer] = _ => None, minBlocks: Int = 1): Phase = {
    val ph = new Phase
    val reader = new Reader(r, st)
    val t0 = System.nanoTime()
    var i = 0
    while (i % Block != 0 || i < minBlocks * Block || (System.nanoTime() - t0) / 1e9 < seconds) {
      val q = reqs.next()
      val tracer = tracerFor(i / Block)
      tracer.foreach(_.newOp())
      val m0 = System.currentTimeMillis()
      val ((ok, nRows), ms) = Stats.timed(
        try reader.execute(q, tracer) catch { case e: Exception =>
          System.err.println(s"[perfbench] $q threw: $e"); (false, 0L) })
      val m1 = System.currentTimeMillis()
      r.op(ok, s"render $q")
      tracer match {
        case None =>
          ph.ms(q.kind) += ms
          ph.order += ms
        case Some(t) =>
          ph.tracedMs(q.kind) += ms
          val w = t.collect()
          ph.work(q.kind) = ph.work.getOrElse(q.kind, SparkWork()) + w.copy(jobMs = Nil)
          ph.rows(q.kind) += nRows
          ph.planMs(q.kind) += Tracer.uncoveredMs(m0, m1, w.jobMs)
      }
      i += 1
    }
    ph
  }

  def run(r: Run): Unit = {
    // with --trace 1 the set-up is traced too: it is where the ingest and
    // maintenance layers work
    val setupTracer = if (r.trace) Some(new Tracer(r.spark)) else None
    val (st, setupMs) = Stats.timed(SeriesStore.build(r, "render", Size, setupTracer))
    setupTracer.foreach { t =>
      t.close()
      t.writeSpans(r.work.getParent.resolve(s"trace-render-setup-seed${r.seed}.jsonl"))
      def spans(l: String, n: String) = t.spans.filter(s => s.layer == l && s.name == n).map(_.ms).toSeq
      r.layer ++= Seq(
        "core.meta.put_ms" -> Stats.median(spans("core", "meta_put")),
        "ingest.commit_ms" -> Stats.median(spans("ingest", "commit")),
        "maint.run_pruned_s" -> Stats.median(spans("maint", "run_pruned")) / 1e3,
        "maint.compact_store_s" -> Stats.median(spans("maint", "compact_store")) / 1e3)
    }
    // cold: the first read of each kind after set-up, whose plans are
    // compiled for the first time
    val reader = new Reader(r, st)
    val first = requests(r.seed + 1, st, Size).take(Block).toSeq
    val coldMs = Kinds.flatMap(k => first.find(_.kind == k)).map { q =>
      val ((ok, _), ms) = Stats.timed(try reader.execute(q, None) catch {
        case e: Exception => System.err.println(s"[perfbench] $q threw: $e"); (false, 0L) })
      r.op(ok, s"render cold $q")
      ms
    }
    val reqs = requests(r.seed, st, Size)
    val ph = loop(r, st, reqs, r.seconds)
    r.e2e ++= Seq(
      "setup_s" -> setupMs / 1e3,
      "cold_s" -> coldMs.sum / 1e3,
      "warm_s" -> Stats.median(ph.blocks) / 1e3,
      "op_p50_ms" -> Stats.median(ph.all))
    r.note(s"render: ${ph.all.size} requests, fetch p50 ${Stats.median(ph.ms("fetch"))} ms, " +
      s"pattern p50 ${Stats.median(ph.ms("pattern"))} ms, find p50 ${Stats.median(ph.ms("find"))} ms")
    if (r.trace) {
      r.layer ++= Seq(
        "render.fetch_p50_ms" -> Stats.median(ph.ms("fetch")),
        "render.fetch_p90_ms" -> Stats.pct(ph.ms("fetch"), 90),
        "render.pattern_p50_ms" -> Stats.median(ph.ms("pattern")),
        "render.pattern_p90_ms" -> Stats.pct(ph.ms("pattern"), 90),
        "render.find_p50_ms" -> Stats.median(ph.ms("find")),
        "render.samples_per_kind" -> ph.ms.values.map(_.size).min.toDouble)
      traced(r, st, reqs)
    }
  }

  /** The same request stream for another `seconds` (at least four
    * blocks), alternating traced and untraced blocks, so the two sides of
    * the tracing-overhead comparison run in the same warm-up state. */
  def traced(r: Run, st: SeriesStore, reqs: Iterator[Req]): Unit = {
    val t = new Tracer(r.spark)
    val gc0 = Tracer.gcMs
    val ph = loop(r, st, reqs, r.seconds, b => if (b % 2 == 0) Some(t) else None, minBlocks = 4)
    val gcMs = Tracer.gcMs - gc0
    t.close()
    val untracedFetchMs = Stats.median(ph.ms("fetch"))
    val L = r.layer
    def spanMs(layer: String, name: String) =
      Stats.median(t.spans.filter(s => s.layer == layer && s.name == name).map(_.ms).toSeq)
    val tracedFetch = Stats.median(ph.tracedMs("fetch"))
    L ++= Seq(
      "trace.fetch_p50_ms_untraced" -> untracedFetchMs,
      "trace.fetch_p50_ms_traced" -> tracedFetch,
      "trace.overhead_frac" -> (tracedFetch / untracedFetchMs - 1),
      "core.meta.read_ms" -> spanMs("core", "meta_read"),
      "engine.has_node_ms" -> spanMs("core", "has_node"),
      "series.densify_ms" -> spanMs("series", "densify"),
      "series.pattern_ms" -> spanMs("series", "pattern"),
      "spark.plan_ms_per_fetch" -> ph.planMs("fetch") / ph.n("fetch"),
      "spark.plan_ms_per_pattern" -> ph.planMs("pattern") / ph.n("pattern"))
    Kinds.foreach { k =>
      val w = ph.work.getOrElse(k, SparkWork())
      L ++= Seq(s"spark.sched.jobs_per_$k" -> w.jobs / ph.n(k),
        s"spark.sched.stages_per_$k" -> w.stages / ph.n(k),
        s"spark.sched.tasks_per_$k" -> w.tasks / ph.n(k))
    }
    Seq("fetch", "pattern").foreach { k =>
      val w = ph.work.getOrElse(k, SparkWork())
      L ++= Seq(s"spark.scan.files_per_$k" -> w.scanFiles / ph.n(k),
        s"spark.scan.bytes_per_$k" -> w.scanBytes / ph.n(k),
        s"spark.scan.rows_per_$k" -> w.scanRows / ph.n(k),
        s"spark.scan.rows_per_result_row.$k" -> w.scanRows.toDouble / math.max(1L, ph.rows(k)))
    }
    val total = ph.work.values.foldLeft(SparkWork())(_ + _)
    val nOps = ph.tracedMs.values.map(_.size).sum.toDouble
    L ++= Seq(
      "spark.exchange.shuffle_bytes_per_pattern" ->
        ph.work.getOrElse("pattern", SparkWork()).shuffleBytes / ph.n("pattern"),
      "spark.exec.busy_frac.render" ->
        total.taskMs / (ph.tracedMs.values.flatten.sum * r.cores),
      "jvm.gc_ms_per_request" -> gcMs / (nOps + ph.all.size))
    t.selfMsByLayer.foreach { case (l, ms) => L(s"self_ms_per_op.$l") = ms / nOps }
    r.writeTrace(t)
  }
}
