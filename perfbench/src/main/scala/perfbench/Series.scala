package perfbench

import org.apache.spark.sql.Row
import graft.Engine
import graft.core.MetaStore
import graft.operators.SeriesOps
import graft.streaming.Maintenance

/** A series store built through the program's public write path, with
  * the benchmark's reference model of what it must contain. */
final class SeriesStore(val nodes: Seq[Gen.Node], val model: StoreModel, val engine: Engine)

object SeriesStore {
  def retentions(n: Gen.Node): Seq[MetaStore.Retention] =
    n.retentions.map { case (p, c) => MetaStore.Retention(p, c) }

  /** Hours of history that arrive through the ingest stream. */
  val StreamHours = 6

  /** createNode per metric into a metadata log, MetaStore.compact, one
    * Engine.store batch of raw history, then [[StreamHours]] hourly JSON drops of the
    * live feed (late points and duplicates included) through
    * Ingest.stream, one maintenance pass and a store
    * compaction. With a tracer, each step is a span and the ingest and
    * maintenance layers' counters go into the run's per-layer metrics. */
  def build(r: Run, name: String, sz: Sizes, t: Option[Tracer]): SeriesStore = {
    def sp[A](layer: String, n: String)(body: => A): A = t.fold(body)(_.span(layer, n)(body))
    val spark = r.spark
    import spark.implicits._
    val base = r.dir(name)
    val storeDir = s"$base/store"
    val nodes = Gen.tree(r.seed, sz.dcs, sz.hosts, sz.kinds)
    val writer = Engine.openStore(spark, storeDir, s"$base/meta-log")
    nodes.foreach(n => sp("core", "meta_put")(
      writer.createNode(n.metric, Gen.Hour, n.method, n.xff, retentions(n))))
    sp("core", "meta_compact")(MetaStore.compact(spark, s"$base/meta-log", s"$base/meta"))
    val engine = Engine.openStore(spark, storeDir, s"$base/meta")
    val old = Gen.history(r.seed, nodes, sz.hours - StreamHours)
    val drops = (sz.hours - StreamHours until sz.hours).map(h =>
      h -> Gen.drop(r.seed, h, nodes.map(_.metric)))
    val recent = drops.flatMap(_._2)
    sp("ingest", "store_batch")(engine.store(old.toDF()))
    r.note(s"$name: ${nodes.size} nodes, ${old.size} points stored")

    val src = java.nio.file.Paths.get(r.dir(s"$name/drops/in"))
    val staging = java.nio.file.Paths.get(r.dir(s"$name/drops/staging"))
    java.nio.file.Files.createDirectories(src)
    java.nio.file.Files.createDirectories(staging)
    drops.foreach { case (h, ps) =>
      val f = staging.resolve(s"drop-$h.json")
      java.nio.file.Files.writeString(f, Gen.dropJson(ps))
      java.nio.file.Files.move(f, src.resolve(f.getFileName))
    }
    val (bytes0, files0) = Stats.du(storeDir)
    val q = graft.streaming.Ingest.stream(spark, src.toString, storeDir,
      s"$base/drops/checkpoint", format = "json")
    try {
      t.foreach(_.collect())
      sp("ingest", "commit")(q.processAllAvailable())
      t.foreach { tr =>
        val w = tr.collect()
        val (bytes1, files1) = Stats.du(storeDir)
        r.layer ++= Seq(
          "spark.sched.jobs_per_drop" -> w.jobs.toDouble / StreamHours,
          "ingest.files_per_drop" -> (files1 - files0).toDouble / StreamHours,
          "ingest.bytes_per_point" -> (bytes1 - bytes0).toDouble / recent.size)
      }
    } finally q.stop()
    r.note(s"$name: ${recent.size} points streamed")

    val now = Gen.Epoch + sz.hours * Gen.Hour
    val before = Stats.partitions(storeDir)
    sp("maint", "run_pruned")(Maintenance.runPruned(spark, storeDir, now, Some(engine.meta)))
    val afterPruned = Stats.partitions(storeDir)
    val changed = (before.keySet ++ afterPruned.keySet).filter(k => before.get(k) != afterPruned.get(k))
    val prunedBytes = changed.toSeq.flatMap(k => afterPruned.getOrElse(k, Nil).map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(storeDir, k, f)))).sum
    sp("maint", "compact_store")(Maintenance.compactStore(spark, storeDir, storeDir))
    t.foreach { tr =>
      val w = tr.collect()
      val (liveBytes, liveFiles) = Stats.du(storeDir)
      r.layer ++= Seq(
        "maint.partitions_rewritten" -> changed.size.toDouble,
        // runPruned's rewritten partitions, plus compaction's full rewrite
        "maint.bytes_rewritten_per_live_byte" -> (prunedBytes + liveBytes).toDouble / liveBytes,
        "maint.files_after_compact" -> liveFiles.toDouble,
        "spark.sched.jobs_per_maint" -> w.jobs.toDouble)
    }
    r.note(s"$name: maintained and compacted")
    val model = new StoreModel
    nodes.foreach(model.create)
    (old ++ recent).foreach(model.write)
    model.maintain(now)
    new SeriesStore(nodes, model, engine)
  }

  def grid(rows: Array[Row]): Seq[(Long, Option[Double])] =
    rows.toSeq.map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))

  def patternGrid(rows: Array[Row]): Seq[(String, Long, Option[Double])] =
    rows.toSeq.map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  def sameGrid[K](got: Seq[(K, Option[Double])], want: Seq[(K, Option[Double])]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((a, x), (b, y)) =>
      a == b && StoreModel.same(x, y) }
}

/** One read request of the render mix. */
sealed trait Req { def kind: String }
final case class FetchReq(metric: String, from: Long, until: Long) extends Req {
  def kind = "fetch"
}
final case class PatternReq(glob: String, from: Long, until: Long) extends Req {
  def kind = "pattern"
}
final case class FindReq(glob: String) extends Req { def kind = "find" }

/** Executes read requests against an Engine, untraced (the calls a user
  * makes) or traced (the same calls, decomposed at layer boundaries with
  * a span around each), and checks each answer against the model. */
final class Reader(r: Run, st: SeriesStore) {
  private val eng = st.engine

  def execute(q: Req, tracer: Option[Tracer]): (Boolean, Long) = {
    def sp[A](layer: String, name: String)(body: => A): A =
      tracer.fold(body)(_.span(layer, name)(body))
    q match {
      case FetchReq(m, f, u) =>
        val rows = tracer match {
          case None => eng.fetch(m, f, u).collect()
          case Some(_) => sp("engine", "fetch") {
            if (!sp("core", "has_node")(eng.hasNode(m)))
              throw new NoSuchElementException(s"NodeNotFound: $m")
            sp("series", "densify")(
              SeriesOps.densifyGridFrom(eng.points, eng.meta, m, f, u).collect())
          }
        }
        (SeriesStore.sameGrid(SeriesStore.grid(rows), st.model.fetch(m, f, u)), rows.length.toLong)
      case PatternReq(g, f, u) =>
        val rows = sp("engine", "fetch_pattern") {
          sp("series", "pattern")(eng.fetchPattern(g, f, u).collect())
        }
        val got = SeriesStore.patternGrid(rows).map { case (m, ts, v) => (m, ts) -> v }
        val want = st.model.pattern(g, f, u).map { case (m, ts, v) => (m, ts) -> v }
        (SeriesStore.sameGrid(got, want), rows.length.toLong)
      case FindReq(g) =>
        val got = sp("engine", "find") {
          sp("core", "meta_read")(eng.find(g).collect().map(_.getString(0)).toSeq)
        }
        (got == st.model.find(g), got.length.toLong)
    }
  }
}
