package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming layer (reference: streaming read
 * odibi/config.py:2676-2685, streaming write :4023-4160, engine impl
 * odibi/engine/spark_engine.py:1751-2050, streaming merge via foreachBatch
 * merge_transformer.py:640-645).
 *
 * Beyond-reference extension (SURVEY §2.10): the reference has no stream
 * watermarks or windowed aggregations — we add them as thin wrappers over
 * the Spark built-ins (`withWatermark`, `window`, `session_window`), which
 * is the capability-parity path for streaming aggregation at scale.
 */
object Streaming {

  /** Streaming file/format read; file sources require a DDL schema. */
  def readStream(spark: SparkSession, format: String, path: Option[String] = None,
                 schemaDdl: Option[String] = None,
                 options: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format(format).options(options)
    schemaDdl.foreach(ddl => r = r.schema(StructType.fromDDL(ddl)))
    path.map(r.load).getOrElse(r.load())
  }

  final case class StreamWriteConfig(
      format: String = "parquet",
      outputMode: String = "append",            // append | update | complete
      checkpointLocation: Option[String] = None,
      trigger: Option[Trigger] = None,          // processing-time / once / available-now
      queryName: Option[String] = None,
      options: Map[String, String] = Map.empty)

  /** Reference trigger types (config.py:4081-4160). */
  def trigger(kind: String, interval: String = "10 seconds"): Trigger = kind match {
    case "processing_time" => Trigger.ProcessingTime(interval)
    case "available_now" => Trigger.AvailableNow()
    case "once" => Trigger.AvailableNow() // Trigger.Once deprecated in Spark 4
    case "continuous" => Trigger.Continuous(interval)
    case other => throw new IllegalArgumentException(s"unknown trigger: $other")
  }

  def writeStream(df: DataFrame, path: Option[String],
                  cfg: StreamWriteConfig): StreamingQuery = {
    // delta has no DataSource in this env (no delta-spark jar): route each
    // micro-batch through the native commit protocol instead. The txn
    // (SetTransaction) action keyed on (checkpoint, batchId) makes
    // checkpoint-replayed batches no-ops — the Delta sink's exactly-once
    // contract, stronger than the file-sink's at-least-once manifest.
    if (cfg.format.equalsIgnoreCase("delta")) {
      val target = path.getOrElse(
        throw new IllegalArgumentException("delta streaming sink needs a path"))
      val appId = cfg.checkpointLocation.getOrElse(target)
      val overwriteEach = cfg.outputMode.equalsIgnoreCase("complete")
      var w = df.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.sources.DeltaWriter.write(batch, target,
            mode = if (overwriteEach) "overwrite" else "append",
            txn = Some((s"graft-stream-$appId", batchId)))
          ()
        }
      cfg.checkpointLocation.foreach(c => w = w.option("checkpointLocation", c))
      cfg.trigger.foreach(t => w = w.trigger(t))
      cfg.queryName.foreach(n => w = w.queryName(n))
      return w.start()
    }
    // iceberg has no DataSource in this env either: commit micro-batches
    // through the native table spec; exactly-once comes from a batch
    // marker in the snapshot SUMMARY (the mechanism the Iceberg runtime
    // itself uses for streaming watermarks) — replayed batches whose id
    // is already recorded are no-ops
    if (cfg.format.equalsIgnoreCase("iceberg")) {
      val target = path.getOrElse(
        throw new IllegalArgumentException("iceberg streaming sink needs a path"))
      val appId = cfg.checkpointLocation.getOrElse(target)
      val overwriteEach = cfg.outputMode.equalsIgnoreCase("complete")
      val tracker = new IcebergBatchTracker(s"graft-stream-$appId")
      var w = df.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          import graft.sources.IcebergSource
          if (batchId > tracker.committed(batch.sparkSession, target)) {
            IcebergSource.write(batch, target,
              mode = if (overwriteEach) "overwrite" else "append",
              summaryProps = Map(tracker.marker -> batchId.toString))
            tracker.record(batchId)
          }
        }
      cfg.checkpointLocation.foreach(c => w = w.option("checkpointLocation", c))
      cfg.trigger.foreach(t => w = w.trigger(t))
      cfg.queryName.foreach(n => w = w.queryName(n))
      return w.start()
    }
    var w: DataStreamWriter[org.apache.spark.sql.Row] =
      df.writeStream.format(cfg.format).outputMode(cfg.outputMode).options(cfg.options)
    cfg.checkpointLocation.foreach(c => w = w.option("checkpointLocation", c))
    cfg.trigger.foreach(t => w = w.trigger(t))
    cfg.queryName.foreach(n => w = w.queryName(n))
    path.map(w.start).getOrElse(w.start())
  }

  /**
   * Exactly-once bookkeeping for the native Iceberg sink. The
   * last-committed batch id lives in a driver-side cache for the life of
   * the query; only RECOVERY (first batch after a restart) reads the
   * table metadata at all, and that one read scans snapshot summaries
   * NEWEST-FIRST and stops at the first marker hit — marker values are
   * monotone, so the first hit IS the max. A year-old stream no longer
   * folds over its whole snapshot history every micro-batch: steady
   * state is zero metadata reads per batch, recovery is O(snapshots
   * since the last marker), not O(history).
   */
  private[graft] final class IcebergBatchTracker(val marker: String) {
    private var cache: Long = Long.MinValue
    /** Test hook: snapshot summaries examined by the last recovery. */
    @volatile private[graft] var lastRecoveryScanned: Int = 0

    def committed(spark: SparkSession, target: String): Long = {
      if (cache != Long.MinValue) return cache
      import graft.sources.IcebergSource
      cache =
        if (!IcebergSource.isIcebergTable(spark, target)) -1L
        else {
          var scanned = 0
          val hit = IcebergSource.snapshots(spark, target).reverseIterator
            .map { s => scanned += 1; s.summary.get(marker) }
            .collectFirst { case Some(v) => v.toLong }
          lastRecoveryScanned = scanned
          hit.getOrElse(-1L)
        }
      cache
    }

    def record(batchId: Long): Unit = cache = math.max(cache, batchId)
  }

  /**
   * Streaming merge: each micro-batch is merged into the target snapshot via
   * foreachBatch (the reference's streaming upsert path). `mergeFn` is any
   * (target, batch) => merged pure function — e.g. Merge.upsert.
   *
   * The merged snapshot is written to a TEMP directory first — the old
   * target files are never touched while the plan that reads them runs —
   * then swapped in with two filesystem renames. On HDFS/local the renames
   * are atomic; on object stores the exposure window is two metadata ops
   * instead of a full-table rewrite over the path being read (without a
   * table format there is no true MERGE — see COVERAGE.md on Delta).
   * Only a missing target (first batch) is tolerated; any other read error
   * propagates and fails the batch rather than silently replacing the
   * target with the current batch.
   *
   * With `format = "delta"` and a standard strategy (upsert /
   * append_only / delete_match) each micro-batch instead commits a
   * FILE-SCOPED merge ([[graft.sources.DeltaMerge]]): matched rows
   * become deletion-vector bitmaps, replacements + inserts land in new
   * files, ONE atomic commit per batch carrying a SetTransaction keyed
   * on (checkpoint, batchId) — so checkpoint-replayed batches are
   * no-ops (exactly-once) and untouched files keep their bytes across
   * micro-batches. This retires the per-batch full-snapshot rewrite for
   * Delta targets; non-standard strategies (dedup_index, bloom) keep
   * the parquet snapshot path.
   */
  def writeStreamMerge(df: DataFrame, targetPath: String, checkpoint: String,
                       keys: Seq[String],
                       mergeFn: (DataFrame, DataFrame, Seq[String]) => DataFrame,
                       trigger: Option[Trigger] = None,
                       format: String = "parquet",
                       strategy: String = "")
      : StreamingQuery = {
    val deltaMerge = format.equalsIgnoreCase("delta") &&
      Set("upsert", "append_only", "delete_match").contains(strategy)
    var w = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (deltaMerge)
          mergeBatchIntoDelta(batch, batchId, targetPath, keys, strategy,
            checkpoint)
        else mergeBatchIntoTarget(batch, batchId, targetPath, keys, mergeFn)
      }
    trigger.foreach(t => w = w.trigger(t))
    w.start()
  }

  /** One micro-batch of [[writeStreamMerge]]; factored out for testability. */
  private[graft] def mergeBatchIntoTarget(
      batch: DataFrame, batchId: Long, targetPath: String, keys: Seq[String],
      mergeFn: (DataFrame, DataFrame, Seq[String]) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val target =
      if (!graft.core.AtomicParquet.exists(spark, targetPath))
        batch.limit(0) // first batch: no target yet
      else spark.read.parquet(targetPath)
    graft.core.AtomicParquet.overwrite(
      mergeFn(target, batch, keys), targetPath, batchId.toString)
  }

  /** One micro-batch of the Delta file-scoped streaming merge. */
  private[graft] def mergeBatchIntoDelta(
      batch: DataFrame, batchId: Long, targetPath: String, keys: Seq[String],
      strategy: String, checkpoint: String): Unit = {
    import graft.sources.{DeltaLog, DeltaMerge, DeltaWriter}
    val spark = batch.sparkSession
    if (!DeltaLog.isDeltaTable(spark, targetPath))
      DeltaWriter.write(batch.limit(0), targetPath) // create with batch schema
    val txn = Some((s"graft-stream-merge-$checkpoint", batchId))
    strategy match {
      case "upsert" =>
        DeltaMerge.upsert(spark, targetPath, batch, keys, cdf = false, txn = txn)
      case "append_only" =>
        DeltaMerge.appendOnly(spark, targetPath, batch, keys, cdf = false, txn = txn)
      case "delete_match" =>
        DeltaMerge.deleteMatch(spark, targetPath, batch, keys, cdf = false, txn = txn)
      case other => throw new IllegalArgumentException(
        s"no Delta streaming merge for strategy '$other'")
    }
    ()
  }

  /**
   * Set the event-time watermark unless one is already defined upstream —
   * Spark disallows redefinition once a stateful operator consumed it, so
   * chained YAML steps (dedup_within_watermark → window_agg) declare the
   * same watermark and only the first takes effect.
   */
  private def withWatermarkOnce(df: DataFrame, tsCol: String,
                                delay: String): DataFrame = {
    // only an existing watermark on the SAME column counts — a watermark
    // on a different event-time column must not silently satisfy this
    // op's requirement (Spark will then raise its own redefinition error,
    // which is the correct surfacing of a genuinely conflicting config)
    val sameCol = df.isStreaming && df.queryExecution.analyzed.exists {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        w.eventTime.name == tsCol
      case _ => false
    }
    if (sameCol) df else df.withWatermark(tsCol, delay)
  }

  /**
   * Stream-stream join (beyond-reference; Spark built-in): both sides
   * get event-time watermarks and join under `condition`, which must
   * bound the event-time skew (an equality key plus a time-range
   * predicate — Spark's state-cleanup requirement; without the bound the
   * join state grows without limit and Spark rejects append mode).
   * Either side may be a BATCH frame — watermarks are skipped for it and
   * the join degrades to Spark's stream-static join, so one YAML node
   * serves enrichment and correlation alike.
   */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       leftTs: String, rightTs: String,
                       watermark: String, condition: String,
                       joinType: String = "inner"): DataFrame = {
    val l = if (left.isStreaming) withWatermarkOnce(left, leftTs, watermark) else left
    val r = if (right.isStreaming) withWatermarkOnce(right, rightTs, watermark) else right
    l.join(r, expr(condition), joinType)
  }

  /**
   * Watermarked tumbling/sliding window aggregation
   * (extension; Spark built-in).
   */
  def windowedAgg(df: DataFrame, tsCol: String, watermark: String,
                  windowDuration: String, slide: Option[String] = None,
                  groupBy: Seq[String] = Nil,
                  aggs: Seq[(String, String)]): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowDuration, s)
      case None => window(col(tsCol), windowDuration)
    }
    val aggExprs = aggs.map { case (name, e) => expr(e).as(name) }
    withWatermarkOnce(df, tsCol, watermark)
      .groupBy(win +: groupBy.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** Watermarked session-window aggregation (extension; Spark built-in). */
  def sessionWindowAgg(df: DataFrame, tsCol: String, watermark: String,
                       gap: String, groupBy: Seq[String],
                       aggs: Seq[(String, String)]): DataFrame = {
    val aggExprs = aggs.map { case (name, e) => expr(e).as(name) }
    withWatermarkOnce(df, tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: groupBy.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
  }

  /**
   * Streaming exact dedup (the streaming face of `exact_dedup`): drop
   * rows whose key columns repeat, with state bounded by the watermark —
   * `dropDuplicatesWithinWatermark` evicts seen-keys older than the
   * watermark delay instead of growing state forever, which is the only
   * formulation that survives an unbounded stream. On a BATCH frame the
   * same call degrades to plain dropDuplicates so a YAML node works in
   * both modes.
   */
  def dedupWithinWatermark(df: DataFrame, keyCols: Seq[String],
                           tsCol: String, watermark: String): DataFrame =
    if (df.isStreaming)
      withWatermarkOnce(df, tsCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)
}
