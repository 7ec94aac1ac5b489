package graft.core

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{Engine, SparkTestBase}
import MetaStore.Retention

/** The metadata log: declared-schema reads and last-writer-wins resolution. */
class MetaStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmpLog(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("log").toString

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("metric").collect().toSeq

  private val Ladder = Seq(Retention(60L, 100L), Retention(3600L, 24L))

  /** creates a, b, c; updates a; tombstones b. */
  private def history(dir: String): Unit = {
    MetaStore.put(spark, dir, "svc.a", 60L, "sum", 0.25, Ladder)
    MetaStore.put(spark, dir, "svc.b", 60L, "max", 0.5, Seq.empty)
    MetaStore.put(spark, dir, "web.c", 60L, "last", 0.5, Ladder.take(1))
    MetaStore.put(spark, dir, "svc.a", 300L, "min", 0.75, Ladder.drop(1))
    MetaStore.delete(spark, dir, "svc.b")
  }

  /** updates c, creates d, re-creates b. */
  private def more(dir: String): Unit = {
    MetaStore.put(spark, dir, "web.c", 120L, "average", 0.0, Ladder)
    MetaStore.put(spark, dir, "web.d", 60L, "max", 1.0, Seq.empty)
    MetaStore.put(spark, dir, "svc.b", 60L, "sum", 0.5, Ladder)
  }

  test("a log mixing put's and compact's column orders reads like a put-only log") {
    val putOnly = tmpLog("meta-puts")
    history(putOnly); more(putOnly)
    val first = tmpLog("meta-first")
    history(first)
    val mixed = tmpLog("meta-mixed")
    MetaStore.compact(spark, first, mixed)
    more(mixed)
    // the mixed log really holds files of both column orders
    val orders = new java.io.File(mixed).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).columns.toSeq).toSet
    assert(orders.map(_.takeRight(2)) ===
      Set(Seq("version", "retentions"), Seq("retentions", "version")))
    val want = rows(MetaStore.read(spark, putOnly))
    assert(want.map(_.getString(0)) === Seq("svc.a", "svc.b", "web.c", "web.d"))
    assert(rows(MetaStore.read(spark, mixed)) === want)
  }

  test("read resolves last-writer-wins under updates and tombstones") {
    val dir = tmpLog("meta-read")
    history(dir)
    // svc.a reads its update, the tombstoned svc.b is gone
    val got = rows(MetaStore.read(spark, dir))
    assert(got.map(_.getString(0)) === Seq("svc.a", "web.c"))
    val a = got.head
    assert(a.getLong(1) === 300L && a.getString(2) === "min" &&
      a.getDouble(3) === 0.75 &&
      a.getSeq[Row](4).map(r => (r.getLong(0), r.getLong(1))) === Seq((3600L, 24L)))
    // a re-created node reads its newest write
    more(dir)
    val b = MetaStore.read(spark, dir).where(col("metric") === "svc.b").collect()
    assert(b.map(r => (r.getString(2), r.getSeq[Row](4).size)).toSeq ===
      Seq(("sum", 2)))
    // a log that does not exist yet resolves to no nodes
    assert(MetaStore.read(spark, tmpLog("meta-none")).isEmpty)
  }

  test("unknown or tombstoned nodes raise NodeNotFound before any store read") {
    val dir = tmpLog("meta-nnf")
    history(dir)
    // the store directory does not exist: any read of it would fail with
    // a missing-path error, so NodeNotFound proves the check came first
    val missing = Files.createTempDirectory("graft-nostore")
      .resolve("store").toString
    val eng = Engine.openStore(spark, missing, dir)
    for (m <- Seq("svc.b", "svc.nope")) {
      assert(!eng.hasNode(m))
      val e = intercept[NoSuchElementException] { eng.fetch(m, 0L, 7200L) }
      assert(e.getMessage === s"NodeNotFound: $m")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      eng.fetch("svc.a", 0L, 7200L)
    }
    // no metadata cache: writes are visible to the very next read
    eng.createNode("svc.new")
    assert(eng.hasNode("svc.new"))
    eng.deleteNode("svc.a")
    intercept[NoSuchElementException] { eng.fetch("svc.a", 0L, 7200L) }
  }
}
