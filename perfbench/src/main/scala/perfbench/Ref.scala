package perfbench

import scala.collection.mutable

/** The benchmark's own model of a ceres store, fed with the same raw
  * points the program receives. It answers `find`, `fetch` and pattern
  * reads from first principles (step alignment, max-wins compaction, the
  * xFilesFactor-gated rollup per aggregation method, retention expiry and
  * the coarsest-step reconcile), so every response of the program can be
  * checked without trusting any of the program's code. */
final class StoreModel {
  import Gen.{Hour, Node, Point}

  private val nodes = mutable.LinkedHashMap.empty[String, Node]
  /** metric -> ((step, ts) -> value) */
  private val cells = mutable.HashMap.empty[String, mutable.HashMap[(Long, Long), Double]]

  def create(n: Node): Unit = nodes(n.metric) = n
  def metrics: Seq[String] = nodes.keys.toSeq

  private def cellsOf(m: String) = cells.getOrElseUpdate(m, mutable.HashMap.empty)

  private def put(m: String, step: Long, ts: Long, v: Double): Unit = {
    val c = cellsOf(m)
    c((step, ts)) = c.get((step, ts)).fold(v)(math.max(_, v))
  }

  /** A raw write: floor-aligned to the hour; duplicate writes keep the max. */
  def write(p: Point): Unit = put(p.metric, Hour, p.ts - Math.floorMod(p.ts, Hour), p.value)

  def value(metric: String, step: Long, ts: Long): Option[Double] =
    cells.get(metric).flatMap(_.get((step, ts)))

  def livePoints: Long = cells.values.map(_.size.toLong).sum

  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  private def aggregate(method: String, vs: Seq[(Long, Double)], exact: Boolean): Double =
    method match {
      case "sum" => val s = vs.map(_._2).sum; if (exact) q6(s) else s
      case "min" => vs.map(_._2).min
      case "max" => vs.map(_._2).max
      case "last" => vs.maxBy(_._1)._2
      case _ => val a = vs.map(_._2).sum / vs.size; if (exact) q6(a) else a
    }

  /** One maintenance pass at `now`, per node and its own ladder: tier
    * bands anchored at `now`, finest first; fine points older than their
    * band roll into the next tier (kept only if known/expected reaches
    * the node's xFilesFactor; averages and sums are quantized to 1e-6);
    * points older than the last band expire. A rolled cell that lands on
    * an existing coarse cell keeps the larger value. */
  def maintain(now: Long): Unit = nodes.values.foreach { n =>
    val tiers = n.retentions.sortBy(_._1)
    cells.get(n.metric).foreach { c =>
      var t = now
      val bands = tiers.map { case (prec, pts) =>
        val end = t - Math.floorMod(t, prec)
        val start = end - prec * pts
        t = start
        (prec, start)
      }
      bands.zipWithIndex.foreach { case ((prec, start), i) =>
        val old = c.keys.filter { case (s, ts) => s == prec && ts < start }.toSeq
        if (i + 1 < bands.size) {
          val coarse = bands(i + 1)._1
          val expected = (coarse / prec).toDouble
          old.groupBy { case (_, ts) => ts - Math.floorMod(ts, coarse) }
            .foreach { case (w, keys) =>
              val vs = keys.map { case k @ (_, ts) => ts -> c(k) }
              if (vs.size / expected >= n.xff)
                put(n.metric, coarse, w, aggregate(n.method, vs, exact = true))
            }
        }
        old.foreach(c.remove)
      }
    }
  }

  /** The dense grid a fetch must return over [from, until]. */
  def fetch(metric: String, from: Long, until: Long): Seq[(Long, Option[Double])] = {
    val f = from - Math.floorMod(from, Hour)
    val u = until - Math.floorMod(until, Hour) + Hour
    val rows = cells.get(metric).toSeq.flatMap(_.iterator.collect {
      case ((s, ts), v) if ts >= f && ts < u => (s, ts, v)
    })
    val method = nodes.get(metric).map(_.method).getOrElse("average")
    val step = if (rows.isEmpty) Hour else rows.map(_._1).max
    val buckets = rows.groupBy { case (_, ts, _) => ts - Math.floorMod(ts - f, step) }
      .map { case (b, rs) => b -> aggregate(method, rs.map(r => r._2 -> r._3), exact = false) }
    Iterator.iterate(f)(_ + step).takeWhile(_ <= u - 1).map(ts => ts -> buckets.get(ts)).toSeq
  }

  def find(glob: String): Seq[String] = {
    val rx = StoreModel.globRegex(glob)
    nodes.keys.filter(rx.matches).toSeq.sorted
  }

  def pattern(glob: String, from: Long, until: Long): Seq[(String, Long, Option[Double])] =
    find(glob).flatMap(m => fetch(m, from, until).map { case (ts, v) => (m, ts, v) })
}

object StoreModel {
  /** fnmatch-style glob over dotted metric paths: `*` and `?` stay inside
    * one path segment, `[...]` is a character class. */
  def globRegex(glob: String): scala.util.matching.Regex = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob(i) match {
        case '*' => sb ++= "[^.]*"
        case '?' => sb ++= "[^.]"
        case '[' =>
          val j = glob.indexOf(']', i + 1)
          sb ++= "[" + glob.substring(i + 1, j).replace("!", "^") + "]"
          i = j
        case c => sb ++= java.util.regex.Pattern.quote(c.toString)
      }
      i += 1
    }
    sb.toString.r
  }

  /** Values agree when both are absent, or within 1e-9 relative: the
    * reconcile's average and sum over already-quantized values depend on
    * summation order in the last bits. */
  def same(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case _ => false
  }
}
