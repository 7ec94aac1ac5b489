package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import graft.streaming.Maintenance

/** Seeded input generators. Everything the program receives is made here
  * from the run's seed; the same seed gives byte-identical inputs
  * (see [[Gen.digests]]). */
object Gen {

  /** A generator seeded from several values through SplitMix64, so
    * neighbouring seeds give unrelated streams (java.util.Random's first
    * outputs for adjacent seeds are strongly correlated). */
  def seeded(parts: Long*): scala.util.Random = {
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    new scala.util.Random(parts.foldLeft(0L)((a, b) => mix(a ^ b)))
  }

  val Hour = 3600L
  val Day = 86400L
  /** 2024-01-01T00:00:00Z: the first hour of generated history. */
  val Epoch = 1704067200L

  final case class Node(metric: String, method: String, xff: Double,
                        retentions: Seq[(Long, Long)])
  final case class Point(metric: String, ts: Long, value: Double)

  val Methods: Seq[String] = Seq("average", "sum", "min", "max", "last")
  /** The retention ladder: 36 hours hourly, then 3 days daily; older
    * data expires. */
  val Ladder: Seq[(Long, Long)] = Seq(Hour -> 36L, Day -> 3L)
  val Kinds: Seq[String] =
    Seq("cpu", "mem", "disk", "net", "req", "err", "lat", "qps")

  /** Hierarchical metric tree `dc<d>.host<h>.<kind>`, topped up with one
    * `spare.m<i>` node per metric hash bucket the tree leaves empty, so
    * every bucket of the store holds data. Methods rotate over all five aggregation
    * methods; a quarter of the nodes get xFilesFactor 0.25, the rest 0.5. */
  def tree(seed: Long, dcs: Int, hosts: Int, kinds: Int): Seq[Node] = {
    val rng = seeded(seed, 0x7a11L)
    val names = for {
      d <- 0 until dcs; h <- 0 until hosts; k <- Kinds.take(kinds)
    } yield s"dc$d.host$h.$k"
    val filled = ArrayBuffer(names: _*)
    val buckets = scala.collection.mutable.Set(names.map(Maintenance.metricBucket(_)): _*)
    var i = 0
    while (buckets.size < Maintenance.MetricBuckets) {
      val b = Maintenance.metricBucket(s"spare.m$i")
      if (buckets.add(b)) filled += s"spare.m$i"
      i += 1
    }
    filled.zipWithIndex.map { case (m, j) =>
      Node(m, Methods(j % Methods.size), if (rng.nextInt(4) == 0) 0.25 else 0.5, Ladder)
    }.toSeq
  }

  /** Per-hour gap mask of one metric: gap episodes of 1–20 hours, dense
    * enough that many days fall under a 0.5 (and some under a 0.25)
    * xFilesFactor when rolled up. */
  private def gapMask(rng: scala.util.Random, hours: Int): Array[Boolean] = {
    val gap = new Array[Boolean](hours)
    var h = rng.nextInt(24)
    while (h < hours) {
      val len = 1 + rng.nextInt(20)
      (h until math.min(hours, h + len)).foreach(gap(_) = true)
      h += len + 6 + rng.nextInt(48)
    }
    gap
  }

  /** A raw value: a multiple of 0.25, so sums and averages of up to a day
    * of points are exact doubles in any summation order. */
  private def value(rng: scala.util.Random): Double = rng.nextInt(4000) / 4.0

  /** Raw history for `nodes` over `hours` hours from [[Epoch]]: timestamps
    * unaligned inside their hour, gap episodes, and ~6% duplicate writes
    * to an hour already written (max wins on compaction). */
  def history(seed: Long, nodes: Seq[Node], hours: Int): Seq[Point] = {
    val out = ArrayBuffer.empty[Point]
    nodes.zipWithIndex.foreach { case (n, i) =>
      val rng = seeded(seed, 0x415L, i)
      val gap = gapMask(rng, hours)
      var h = 0
      while (h < hours) {
        if (!gap(h)) {
          val base = Epoch + h * Hour
          out += Point(n.metric, base + rng.nextInt(3600), value(rng))
          if (rng.nextInt(16) == 0)
            out += Point(n.metric, base + rng.nextInt(3600), value(rng))
        }
        h += 1
      }
    }
    out.toSeq
  }

  /** One hourly flush of the live feed, as a carbon relay would drop it:
    * the points of `hour` (minus gaps and ~1 in 8 points held back), the
    * held-back points of the previous 1–6 hours arriving late, and ~6%
    * duplicate writes. Pure function of (seed, hour, live metrics), so
    * each drop is generated independently of the run's timing. */
  def drop(seed: Long, hour: Long, metrics: Seq[String]): Seq[Point] = {
    def hourPoints(h: Long): Seq[(Point, Int)] = {
      val r0 = seeded(seed, 0xd20bL, h)
      metrics.flatMap { m =>
        val r = seeded(r0.nextLong(), m.hashCode)
        if (r.nextInt(10) == 0) Nil // gap
        else {
          val delay = if (r.nextInt(8) == 0) 1 + r.nextInt(6) else 0
          val base = Epoch + h * Hour
          val p = Point(m, base + r.nextInt(3600), value(r))
          val dup =
            if (r.nextInt(16) == 0) Seq(Point(m, base + r.nextInt(3600), value(r)) -> delay)
            else Nil
          (p -> delay) +: dup
        }
      }
    }
    val now = hourPoints(hour).collect { case (p, 0) => p }
    val late = (1 to 6).flatMap { d =>
      if (hour - d < 0) Nil
      else hourPoints(hour - d).collect { case (p, `d`) => p }
    }
    now ++ late
  }

  /** Line-delimited JSON of a drop (the ingest stream's `json` format). */
  def dropJson(points: Seq[Point]): String =
    points.map(p => s"""{"metric":"${p.metric}","ts":${p.ts},"value":${p.value}}""")
      .mkString("", "\n", "\n")

  // ——————————————————————————— corpus ————————————————————————————————

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  private val Langs = Seq("en" -> 45, "de" -> 15, "fr" -> 15, "es" -> 15, "zh" -> 10)
  private def pickLang(rng: scala.util.Random): String = {
    var r = rng.nextInt(100)
    Langs.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  /** Synthetic crawl in the sf0.1 `documents` schema: `nDocs` docs over
    * 20 sources. Most text draws from a wide vocabulary, a boilerplate
    * share from a narrow one (low perplexity, hot shingles). Planted:
    * exact duplicates (~2%), near-duplicates with one word changed (~2%,
    * long docs only, so 3-gram Jaccard stays above 0.9), and leaks of
    * the benchmark sources src12/src18 into other sources (~1%). */
  def documents(seed: Long, nDocs: Int): Seq[Doc] = {
    val rng = seeded(seed, 0xd0c5L)
    val wide = (0 until 3000).map(i => s"w${Integer.toString(i, 36)}")
    val narrow = Seq("the", "a", "data", "spark", "query", "row", "table",
      "scan", "join", "sort", "hash", "group", "value", "key", "fast",
      "slow", "batch", "stream", "window", "filter", "order", "part",
      "line", "column")
    val docs = ArrayBuffer.empty[Doc]
    def fresh(id: Long): Doc = {
      val boiler = rng.nextInt(10) == 0
      val n = 8 + rng.nextInt(if (boiler) 30 else 90)
      val words = Array.fill(n) {
        if (boiler || rng.nextInt(3) == 0) narrow(rng.nextInt(narrow.size))
        else wide(rng.nextInt(wide.size))
      }
      Doc(id, words.mkString(" "), pickLang(rng), s"src${rng.nextInt(20)}")
    }
    var id = 0L
    while (id < nDocs) {
      val roll = rng.nextInt(100)
      val d =
        if (id < 50 || roll >= 5) fresh(id)
        else {
          val src = docs(rng.nextInt(docs.size))
          roll match {
            case r if r < 2 => // exact duplicate, any source
              src.copy(id = id, source = s"src${rng.nextInt(20)}")
            case r if r < 4 => // near-duplicate: one word replaced
              val w = src.text.split(" ")
              if (w.length < 60) fresh(id)
              else {
                w(rng.nextInt(w.length)) = s"z${rng.nextInt(1000)}"
                src.copy(id = id, text = w.mkString(" "))
              }
            case _ => // benchmark leak into a crawl source
              val b = fresh(id).copy(source = if (rng.nextBoolean()) "src12" else "src18")
              docs += b.copy(id = id); id += 1
              b.copy(id = id, source = s"src${rng.nextInt(12)}")
          }
        }
      if (d.id < nDocs) docs += d
      id += 1
    }
    docs.take(nDocs).toSeq
  }

  /** `embeddings` in the sf0.1 schema: dim-64 float vectors around 10
    * labelled centroids, ~3% planted near-duplicate vectors. */
  def embeddings(seed: Long, n: Int, dim: Int = 64): Seq[Vec] = {
    val rng = seeded(seed, 0xe3bL)
    val cents = Array.fill(10, dim)(rng.nextGaussian())
    val out = ArrayBuffer.empty[Vec]
    (0 until n).foreach { i =>
      if (i > 10 && rng.nextInt(33) == 0) {
        val src = out(rng.nextInt(out.size))
        out += Vec(i, src.v.map(x => (x + rng.nextGaussian() * 0.01).toFloat), src.label)
      } else {
        val l = rng.nextInt(10)
        out += Vec(i, Array.tabulate(dim)(j =>
          ((cents(l)(j) + rng.nextGaussian() * 0.8) / 8.0).toFloat), l)
      }
    }
    out.toSeq
  }

  // ——————————————————————————— digests ———————————————————————————————

  private def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(s => md.update(s.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** SHA-256 of every generated input at the given sizes, in generation
    * order: the determinism check's ground truth. */
  def digests(seed: Long, sz: Sizes, docs: Int, vecs: Int): Seq[(String, String)] = {
    val nodes = tree(seed, sz.dcs, sz.hosts, sz.kinds)
    Seq(
      "tree" -> sha(nodes.iterator.map(_.toString + "\n")),
      "history" -> sha(history(seed, nodes, sz.hours - SeriesStore.StreamHours)
        .iterator.map(_.toString + "\n")),
      "drops" -> sha((sz.hours - SeriesStore.StreamHours until sz.hours).iterator.map(h =>
        dropJson(drop(seed, h, nodes.map(_.metric))))),
      "documents" -> sha(documents(seed, docs).iterator.map(_.toString + "\n")),
      "embeddings" -> sha(embeddings(seed, vecs).iterator.map(v =>
        s"${v.id} ${v.label} ${v.v.mkString(",")}\n")))
  }
}

/** Size of a generated series store: the metric tree and hours of history. */
final case class Sizes(dcs: Int, hosts: Int, kinds: Int, hours: Int)
