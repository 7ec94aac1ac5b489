package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Filesystem probes routed through the Hadoop FileSystem API, so store
  * and metadata directories work on ANY filesystem Spark can read —
  * local paths in the harness, object stores (`s3a://`, `gs://`, HDFS)
  * in production. `java.io.File` silently reports every non-local URI
  * as absent, which turns a populated remote MetaStore into an
  * apparently-empty one. */
object Fs {

  /** Does `path` exist on its own filesystem (resolved from the path's
    * scheme against the session's Hadoop conf)? */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Recursively delete `path` if present (idempotent — absent is fine). */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Replace the directory `path` durably: write the new copy to
    * `path.compacting`, then swap it in with two renames (`path` →
    * `path.compacted-old`, `path.compacting` → `path`) and drop the old
    * copy. No crash point loses the data: the full directory is always
    * in `path`, `path.compacted-old` or `path.compacting`.
    *
    * In order:
    *  1. restore a swap interrupted between its renames (`path` gone,
    *     the pre-swap copy at `path.compacted-old`);
    *  2. `plan` decides, seeing the restored `path`: `None` leaves
    *     everything as it is, `Some(write)` goes on;
    *  3. clear the leftovers of crashed runs (a half-written
    *     `.compacting`, a superseded `.compacted-old`);
    *  4. `write` the new copy into the `.compacting` directory it is
    *     given;
    *  5. swap (`path` may be absent: a first write) and delete the old
    *     copy.
    * Single writer per `path`: run it between the writes it compacts. */
  private[graft] def rewriteDir(spark: SparkSession, path: String)
                                (plan: => Option[String => Unit]): Unit = {
    val dest = new Path(path)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(s"$path.compacting")
    val old = new Path(s"$path.compacted-old")
    if (!fs.exists(dest) && fs.exists(old) && !fs.rename(old, dest))
      throw new IllegalStateException(
        s"failed to restore $path from interrupted-compaction backup $old")
    plan.foreach { write =>
      fs.delete(tmp, true)
      fs.delete(old, true)
      write(tmp.toString)
      if (fs.exists(dest) && !fs.rename(dest, old))
        throw new IllegalStateException(s"failed to stage $path aside to $old")
      fs.mkdirs(dest.getParent)
      if (!fs.rename(tmp, dest))
        throw new IllegalStateException(
          s"failed to publish $tmp -> $path (pre-swap copy preserved at $old)")
      fs.delete(old, true)
    }
  }
}
