package perfbench

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.{Pipeline, SparkEntry}
import graft.core.Catalog

/** `corpus`: the LLM-data pipeline over a seeded synthetic corpus, cold
  * in a fresh Spark application, then warm passes. One client runs the
  * stages in order, each to completion (a no-op sink executes the whole
  * plan). No series code runs here. */
object Corpus {
  val Docs = 1000
  val Vecs = 500

  /** The ten stages, each with its registry arguments. */
  val Stages: Seq[(String, Pipeline => DataFrame)] = Seq(
    "dedup_exact" -> (_.dedupExact()),
    "dedup_minhash_lsh" -> (_.dedupMinhashLsh(0.9)),
    "dedup_jaccard" -> (_.dedupJaccard(0.9, maxDf = 64L)),
    "dedup_clusters" -> (_.dedupClusters(0.9)),
    "dedup_apply" -> (_.dedupApply(0.9)),
    "contamination" -> (_.contamination(0.9)),
    // no Pipeline method: the registry's own face
    "perplexity_filter" -> (p => SparkEntry.queries("perplexity_filter")(p.spark, p.dir)),
    "train_split" -> (_.trainSplit()),
    "cosine_topk" -> (_.cosineTopk(0, 10)),
    "ann_ivf_topk" -> (_.annIvfTopk(0, 10)))

  /** Write `documents.parquet` and `embeddings.parquet` in sf0.1's schema. */
  def setup(r: Run, data: String): Unit = {
    val spark = r.spark
    val docs = Gen.documents(r.seed, Docs).map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, r.cores), docSchema)
      .coalesce(1).write.parquet(s"$data/documents.parquet")
    val vecs = Gen.embeddings(r.seed, Vecs).map(v => Row(v.id, v.v.toSeq, v.label))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, r.cores), vecSchema)
      .coalesce(1).write.parquet(s"$data/embeddings.parquet")
  }

  /** One pass over every stage; per-stage milliseconds. */
  def pass(r: Run, p: Pipeline, what: String, t: Option[Tracer] = None,
           work: mutable.Map[String, SparkWork] = mutable.Map.empty): Seq[(String, Double)] =
    Stages.map { case (name, stage) =>
      t.foreach(_.newOp())
      val (ok, ms) = Stats.timed {
        try {
          def run(): Unit = stage(p).write.format("noop").mode("overwrite").save()
          t.fold(run())(_.span("pipeline", name)(run()))
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $what $name threw: $e"); false }
      }
      t.foreach(tr => work(name) = tr.collect())
      r.op(ok, s"$what $name")
      name -> ms
    }

  def run(r: Run): Unit = {
    val data = r.dir("corpus/data")
    val (_, setupMs) = Stats.timed(setup(r, data))
    r.note("corpus: inputs written")
    r.restartSession()
    val cold = pass(r, Pipeline.open(r.spark, data), "cold")
    r.note(s"corpus: cold pass ${cold.map(_._2).sum} ms")
    val warm = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < r.seconds)
      warm += pass(r, Pipeline.open(r.spark, data), "warm")
    val calls = warm.flatten.map(_._2)
    r.e2e ++= Seq(
      "setup_s" -> setupMs / 1e3,
      "cold_s" -> cold.map(_._2).sum / 1e3,
      "warm_s" -> Stats.median(warm.map(_.map(_._2).sum)) / 1e3,
      "op_p50_ms" -> Stats.median(calls))
    r.note(s"corpus: ${warm.size} warm passes")
    check(r, data)
    if (r.trace) {
      Stages.map(_._1).foreach { s =>
        r.layer(s"pipeline.$s.cold_s") = cold.toMap.apply(s) / 1e3
        r.layer(s"pipeline.$s.warm_s") = Stats.median(warm.map(_.toMap.apply(s))) / 1e3
      }
      r.layer ++= Seq("corpus.cold_s" -> cold.map(_._2).sum / 1e3,
        "corpus.warm_s" -> Stats.median(warm.map(_.map(_._2).sum)) / 1e3)
      traced(r, data, Stats.median(calls))
    }
  }

  /** Untimed: every stage's answer to parquet, with its registered DuckDB
    * oracle, for `run.py` to compare (each mismatch is a failed op). */
  def check(r: Run, data: String): Unit = {
    val out = r.work.resolve("corpus")
    val p = Pipeline.open(r.spark, data)
    Stages.foreach { case (name, stage) =>
      r.guard(s"check $name") {
        stage(p).coalesce(1).write.mode("overwrite").parquet(out.resolve(s"out/$name").toString)
        true
      }
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val sql = Stages.map { case (name, _) => s"${q(name)}: ${q(SparkEntry.oracleSql(name))}" }
    Files.writeString(out.resolve("oracle_sql.json"), sql.mkString("{", ",\n", "}"))
    r.oracleDir = Some(out)
  }

  /** A traced cold pass in a fresh application, then one traced warm pass. */
  def traced(r: Run, data: String, untracedOpMs: Double): Unit = {
    r.restartSession()
    val t = new Tracer(r.spark)
    val work = mutable.Map.empty[String, SparkWork]
    val (cold, coldWallMs) = Stats.timed(pass(r, Pipeline.open(r.spark, data), "traced cold", Some(t), work))
    val coldWork = work.values.foldLeft(SparkWork())(_ + _)
    val spark = r.spark
    val cached = Catalog.rddStorageInfo(spark).collect()
    r.layer ++= Seq(
      "core.cache.tables" -> Catalog.cacheStats(spark).count().toDouble,
      "core.cache.mem_bytes" -> cached.map(_.getAs[Long]("mem_bytes")).sum.toDouble,
      "core.cache.disk_bytes" -> cached.map(_.getAs[Long]("disk_bytes")).sum.toDouble,
      "spark.sched.jobs.corpus_cold" -> coldWork.jobs.toDouble,
      "spark.sched.stages.corpus_cold" -> coldWork.stages.toDouble,
      "spark.exchange.shuffle_bytes.corpus_cold" -> coldWork.shuffleBytes.toDouble,
      "spark.exchange.spill_bytes.corpus_cold" -> coldWork.spillBytes.toDouble,
      "spark.exec.busy_frac.corpus_cold" -> coldWork.taskMs / (coldWallMs * r.cores))
    t.collect()
    val warm = pass(r, Pipeline.open(r.spark, data), "traced warm", Some(t), work)
    t.close()
    val tracedOp = Stats.median(warm.map(_._2))
    r.layer ++= Seq("trace.overhead_frac" -> (tracedOp / untracedOpMs - 1))
    t.selfMsByLayer.foreach { case (l, ms) =>
      r.layer(s"self_ms_per_op.$l") = ms / (cold.size + warm.size) }
    r.writeTrace(t)
  }
}
