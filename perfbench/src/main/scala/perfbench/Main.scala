package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command line: `--workload render|corpus --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE`, or `--digest --seed N` to print the
  * SHA-256 of every generated input. Writes one JSON result object to
  * `--out`; `perfbench/run.py` builds, launches and reports. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.indices.collect { case i if args(i).startsWith("--") &&
      i + 1 < args.length && !args(i + 1).startsWith("--") => args(i).drop(2) -> args(i + 1)
    }.toMap
    val seed = kv.getOrElse("seed", "1").toLong
    if (args.contains("--digest")) {
      Gen.digests(seed, Render.Size, Corpus.Docs, Corpus.Vecs)
        .foreach { case (k, v) => println(s"$k $v") }
      return
    }
    val work = Paths.get(kv("work")).toAbsolutePath
    val run = new Run(kv("workload"), seed, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", work)
    try {
      run.workload match {
        case "render" => Render.run(run)
        case "corpus" => Corpus.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      Files.writeString(Paths.get(kv("out")), run.json)
    } finally run.stopSession()
  }
}

/** State shared by a workload run: its Spark session, the result being
  * built, and the metric set it reports. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Paths of correctness outputs that `run.py` checks after the JVM exits. */
  var oracleDir: Option[Path] = None

  private var session: SparkSession = _

  def spark: SparkSession = { if (session == null) session = newSession(); session }

  /** A fresh Spark application (new application id): nothing cached,
    * no generated code reused. */
  def restartSession(): SparkSession = { stopSession(); spark }

  def stopSession(): Unit = if (session != null) {
    session.stop(); session = null
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Catalog.configureSession(s)
    s
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since the run started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p.getParent); p.toString
  }

  /** Count one client operation; a failed check or an exception fails it. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
  }

  def guard(what: String)(body: => Boolean): Unit =
    op(try body catch { case e: Exception =>
      System.err.println(s"[perfbench] $what threw: $e"); false }, what)

  def json: String = {
    def obj(m: collection.Map[String, Double]) = m.map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": $x"""
    }.mkString("{", ", ", "}")
    val oracle = oracleDir.map(p => s""""${p.toString}"""").getOrElse("null")
    s"""{"attempted": $attempted, "failed": $failed, "e2e": ${obj(e2e)}, """ +
      s""""layer": ${obj(layer)}, "oracle_dir": $oracle}"""
  }

  def writeTrace(t: Tracer): Unit =
    t.writeSpans(work.getParent.resolve(s"trace-$workload-seed$seed.jsonl"))
}

object Stats {
  /** Linear-interpolated percentile of `xs` (p in [0, 100]). */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes and files under a directory tree (data files only). */
  def du(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
        }).toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally s.close()
    }
  }

  /** (partition dir relative path -> sorted file names) of a store. */
  def partitions(dir: String): Map[String, Seq[String]] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .groupBy(p => root.relativize(p.getParent).toString)
        .map { case (k, ps) => k -> ps.map(_.getFileName.toString).sorted.toSeq }
      finally s.close()
    }
  }
}
