package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Atomic parquet snapshot replacement, shared by every self-overwriting
 * merge path (streaming foreachBatch merge, incremental metric
 * materializer). The hazard it removes: a plan that lazily reads `path`
 * and then `mode("overwrite")`-writes the same `path` deletes the input
 * files mid-plan — `cache()` is not a durability barrier (evicted
 * partitions recompute from files the overwrite already removed), and a
 * mid-write crash leaves the table truncated.
 *
 * Mechanism: materialize the new snapshot into a TEMP sibling directory
 * (the old files are never touched while the plan that reads them runs),
 * then swap with two filesystem renames. On HDFS/local the renames are
 * atomic; on object stores the exposure window is two metadata ops
 * instead of a full-table rewrite over the path being read.
 */
object AtomicParquet {

  /** Whether `path` exists — what a first run checks before reading its
    * own earlier output. A read planned against a missing path fails,
    * and Spark reports each such failure to every query listener as a
    * failed query with its full stack. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /**
   * Replace the snapshot at `path` with `df` via temp-dir + rename swap.
   * `token` disambiguates concurrent/retried writers (e.g. a batch id).
   * `df` may read from `path` itself — that is the point.
   */
  def overwrite(df: DataFrame, path: String, token: String = "0"): Unit = {
    swap(df.sparkSession.sessionState.newHadoopConf(), path, token) { tmp =>
      df.write.mode("overwrite").parquet(tmp)
    }
    // the swap bypasses Spark's write-path cache invalidation (it writes
    // through the temp path) — refresh any cached plan over the target so
    // a persisted reader from earlier in the session can't serve the
    // pre-swap snapshot
    try df.sparkSession.catalog.refreshByPath(path)
    catch { case _: Exception => () }
  }

  /**
   * Generic form: `writeTmp` materializes the new snapshot into the temp
   * path it is given (any path-based format/options); the swap then
   * replaces `path` with it. Used by [[graft.sources.Sources]] so every
   * declarative overwrite sink publishes atomically.
   */
  def swap(hadoopConf: org.apache.hadoop.conf.Configuration, path: String,
           token: String)(writeTmp: String => Unit): Unit = {
    val base = path.stripSuffix("/")
    val tmp = s"${base}_graft_tmp_$token"
    writeTmp(tmp)
    val fs = new Path(base).getFileSystem(hadoopConf)
    val (tgt, tmpP, old) = (new Path(base), new Path(tmp), new Path(s"${base}_graft_old_$token"))
    if (fs.exists(old)) fs.delete(old, true) // leftover from a crashed swap
    if (fs.exists(tgt) && !fs.rename(tgt, old))
      throw new java.io.IOException(s"swap failed: $tgt -> $old")
    if (!fs.rename(tmpP, tgt))
      throw new java.io.IOException(s"swap failed: $tmpP -> $tgt")
    fs.delete(old, true)
    ()
  }
}
