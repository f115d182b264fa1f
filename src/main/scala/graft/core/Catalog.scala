package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * System catalog (reference: odibi/catalog.py:183-200 — the `meta_*` table
 * family: pipelines, nodes, runs, lineage, schemas; bootstrap :441-480).
 *
 * Storage here is parquet-append under a `_system` root (the reference uses
 * Delta; the write pattern is identical — swap the format string on a
 * Delta-enabled cluster). Each record batch is tiny: a recorded run
 * writes one file per meta table it touches, all tables concurrently
 * ([[Catalog.runRecorded]]); a direct `record*` call writes one file.
 */
final class Catalog(spark: SparkSession, root: String) {
  import spark.implicits._
  import Catalog.Rows

  private def tablePath(name: String) = s"$root/$name"

  private def append(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("append").parquet(tablePath(name))

  /** The rows one record adds to a meta table, built only when appended
    * (None: nothing to write). */
  private def rows(table: String)(build: => Option[DataFrame]): Rows =
    table -> (() => build)

  /** The per-run columns every run-grain table ends with. */
  private def perRun(df: DataFrame, pipeline: String, runId: String): DataFrame =
    df.withColumn("pipeline", lit(pipeline))
      .withColumn("run_id", lit(runId))
      .withColumn("recorded_at", current_timestamp())

  /**
   * One append per record, concurrently: the tables are independent
   * directories. Each frame is built inside its own task, so the driver
   * work of building it (encoding, plan traversal, DDL rendering) overlaps
   * too. Every append runs to completion; the first failure is then
   * rethrown.
   */
  private def appendAll(records: Rows*): Unit =
    DriverPar.map(records, maxThreads = records.size) { case (table, build) =>
      build().foreach(append(table, _))
    }

  def table(name: String): DataFrame = spark.read.parquet(tablePath(name))

  /** `read` over the meta table `name`; None before its first append.
    * Existence is checked on the filesystem first: a read planned
    * against a missing path fails, and Spark reports each such failure
    * as a failed query with its full stack. A table that exists but
    * cannot be read also yields None. */
  private[graft] def probe[T](name: String)(read: DataFrame => Option[T]): Option[T] = {
    if (!AtomicParquet.exists(spark, tablePath(name))) None
    else try read(table(name)) catch { case scala.util.control.NonFatal(_) => None }
  }

  /**
   * Compact the meta tables: every recorded run appends one file per meta
   * table (the tables written concurrently), so a long-lived catalog
   * accumulates thousands of tiny parquet files and reads slow down
   * linearly. Rewrites each existing meta table to
   * `filesPerTable` files through the atomic temp-dir + rename swap — a
   * crash mid-compaction leaves the old files intact. Returns the
   * compacted table names.
   *
   * Run this as a MAINTENANCE window operation: an append that commits
   * between the snapshot read and the directory swap lands in the old
   * directory and is lost with it — the same single-writer constraint
   * every non-transactional parquet compaction carries.
   */
  def compact(filesPerTable: Int = 1): Seq[String] = {
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hadoopPath)) return Nil
    fs.listStatus(hadoopPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("meta_"))
      .map(_.getPath.getName)
      // never resurrect swap debris from a crashed prior compaction as a
      // table; the next successful swap of the real table cleans it up
      .filterNot(_.contains("_graft_"))
      .map { name =>
        val df = table(name).coalesce(filesPerTable)
        AtomicParquet.overwrite(df, tablePath(name), s"compact-$name")
        name
      }
  }

  /** Record one pipeline run with per-node outcomes + timings. */
  def recordRun(pipeline: String, runId: String,
                nodes: Seq[(String, Boolean, Long, String)]): Unit =
    appendAll(runRows(pipeline, runId, nodes))

  private def runRows(pipeline: String, runId: String,
                      nodes: Seq[(String, Boolean, Long, String)]): Rows =
    rows("meta_runs")(Some(perRun(
      nodes.toDF("node", "success", "duration_ms", "error"), pipeline, runId)))

  /**
   * One row per pipeline run — the reference's `meta_pipeline_runs` grain
   * (catalog.py:183-200), where `meta_runs` keeps the per-node detail
   * (the reference's `meta_node_runs` companion is [[recordNodeRuns]]).
   */
  def recordPipelineRun(pipeline: String, runId: String, success: Boolean,
                        nNodes: Int, nFailed: Int,
                        totalDurationMs: Long): Unit =
    appendAll(pipelineRunRows(pipeline, runId, success, nNodes, nFailed, totalDurationMs))

  private def pipelineRunRows(pipeline: String, runId: String, success: Boolean,
                              nNodes: Int, nFailed: Int, totalDurationMs: Long): Rows =
    rows("meta_pipeline_runs")(Some(
      Seq((pipeline, runId, success, nNodes.toLong, nFailed.toLong, totalDurationMs))
        .toDF("pipeline", "run_id", "success", "n_nodes", "n_failed",
          "total_duration_ms")
        .withColumn("recorded_at", current_timestamp())))

  /**
   * One row per (node, run) with write volume — the reference's
   * `meta_node_runs` grain: the per-node outcome of `meta_runs` joined
   * with the rows-written fact, queryable without the run/output join.
   */
  def recordNodeRuns(pipeline: String, runId: String,
                     nodes: Seq[(String, Boolean, Long, Option[Long], String)]): Unit =
    appendAll(nodeRunRows(pipeline, runId, nodes))

  private def nodeRunRows(pipeline: String, runId: String,
                          nodes: Seq[(String, Boolean, Long, Option[Long], String)]): Rows =
    rows("meta_node_runs")(Option.when(nodes.nonEmpty)(perRun(
      nodes.map { case (n, ok, ms, written, err) =>
        (n, ok, ms, written.map(java.lang.Long.valueOf).orNull, err)
      }.toDF("node", "success", "duration_ms", "rows_written", "error"),
      pipeline, runId)))

  /**
   * Executor totals per (node, run) in long format — the WHY behind a
   * slow `duration_ms`: shuffle read/write bytes, memory/disk spill,
   * input bytes, task counts and executor run time from the node's own
   * jobs ([[NodeMetrics]]). `metric` rows only appear for nodes that ran
   * Spark jobs this run.
   */
  def recordNodeMetrics(pipeline: String, runId: String,
                        nodes: Seq[(String, Map[String, Long])]): Unit =
    appendAll(nodeMetricRows(pipeline, runId, nodes))

  private def nodeMetricRows(pipeline: String, runId: String,
                             nodes: Seq[(String, Map[String, Long])]): Rows =
    rows("meta_node_metrics") {
      val longRows = nodes.flatMap { case (n, m) =>
        m.toSeq.map { case (metric, value) => (n, metric, value) }
      }
      Option.when(longRows.nonEmpty)(perRun(
        longRows.toDF("node", "metric", "value"), pipeline, runId))
    }

  /**
   * Alert-transport failures (`meta_observability_errors`,
   * catalog.py:183-200): when an alert channel itself fails (webhook
   * transport down, file sink unwritable), the pipeline must not fail —
   * but the loss of observability has to be observable somewhere. One row
   * per failed delivery.
   */
  def recordObservabilityErrors(pipeline: String, runId: String,
                                errors: Seq[(String, String, String, String)]): Unit =
    appendAll(observabilityErrorRows(pipeline, runId, errors))

  private def observabilityErrorRows(pipeline: String, runId: String,
                                     errors: Seq[(String, String, String, String)]): Rows =
    rows("meta_observability_errors")(Option.when(errors.nonEmpty)(perRun(
      errors.toDF("channel", "target", "error_class", "message"), pipeline, runId)))

  /** Record node lineage edges (node -> its inputs). */
  def recordLineage(pipeline: String, runId: String,
                    edges: Seq[(String, String)]): Unit =
    appendAll(lineageRows(pipeline, runId, edges))

  private def lineageRows(pipeline: String, runId: String,
                          edges: Seq[(String, String)]): Rows =
    rows("meta_lineage")(Some(perRun(edges.toDF("node", "input"), pipeline, runId)))

  /**
   * Record column-level lineage for nodes' output frames — one row per
   * (node, output column, source column), derived from each Catalyst
   * analyzed plan by [[Lineage.columnLineage]] (driver-side traversal,
   * nothing executes). All nodes land in one append.
   */
  def recordColumnLineage(pipeline: String, runId: String,
                          nodes: Seq[(String, DataFrame)]): Unit =
    appendAll(columnLineageRows(pipeline, runId, nodes))

  private def columnLineageRows(pipeline: String, runId: String,
                                nodes: Seq[(String, DataFrame)]): Rows =
    rows("meta_column_lineage") {
      val edges = nodes.flatMap { case (node, df) =>
        Lineage.columnLineage(df).toSeq
          .flatMap { case (out, srcs) => srcs.map(src => (out, src, node)) }
      }
      Option.when(edges.nonEmpty)(perRun(
        edges.toDF("column", "source", "node"), pipeline, runId))
    }

  /** Record node sink outputs (path + rows from write metrics). */
  def recordOutputs(pipeline: String, runId: String,
                    outputs: Seq[(String, String, Long)]): Unit =
    appendAll(outputRows(pipeline, runId, outputs))

  private def outputRows(pipeline: String, runId: String,
                         outputs: Seq[(String, String, Long)]): Rows =
    rows("meta_outputs")(Option.when(outputs.nonEmpty)(perRun(
      outputs.toDF("node", "path", "rows_written"), pipeline, runId)))

  /** Record validation outcomes per node per run (meta_metrics family). */
  def recordValidation(pipeline: String, runId: String,
                       results: Seq[(String, graft.validation.Validation.TestResult)]): Unit =
    appendAll(validationRows(pipeline, runId, results))

  private def validationRows(pipeline: String, runId: String,
                             results: Seq[(String, graft.validation.Validation.TestResult)]): Rows =
    rows("meta_metrics")(Option.when(results.nonEmpty)(perRun(
      results.map { case (node, r) =>
        (node, r.test.name, r.test.kind, r.passed, r.failedRows, r.detail)
      }.toDF("node", "test", "kind", "passed", "failed_rows", "detail"),
      pipeline, runId)))

  /** Record node failures with exception class (meta_failures family). */
  def recordFailures(pipeline: String, runId: String,
                     failures: Seq[(String, String, String)]): Unit =
    appendAll(failureRows(pipeline, runId, failures))

  private def failureRows(pipeline: String, runId: String,
                          failures: Seq[(String, String, String)]): Rows =
    rows("meta_failures")(Option.when(failures.nonEmpty)(perRun(
      failures.toDF("node", "error_class", "message"), pipeline, runId)))

  /** Snapshot nodes' output schemas (drift detection source), all nodes
    * in one append. */
  def recordSchema(pipeline: String, nodes: Seq[(String, DataFrame)]): Unit =
    appendAll(schemaRows(pipeline, nodes))

  private def schemaRows(pipeline: String, nodes: Seq[(String, DataFrame)]): Rows =
    rows("meta_schemas")(Option.when(nodes.nonEmpty)(
      nodes.map { case (node, df) => (node, df.schema.toDDL) }
        .toDF("node", "schema_ddl")
        .withColumn("pipeline", lit(pipeline))
        .withColumn("recorded_at", current_timestamp())))

  /** Latest recorded schema DDL for a node, if any. */
  def latestSchema(node: String): Option[String] =
    probe("meta_schemas")(_.filter(col("node") === node)
      .orderBy(col("recorded_at").desc).limit(1)
      .select("schema_ddl").as[String].collect().headOption)

  /** Schema drift check: true when the node's schema changed since last run. */
  def schemaDrifted(node: String, df: DataFrame): Boolean =
    latestSchema(node).exists(_ != df.schema.toDDL)

  // ------------------------------------------------------------------
  // Derived health views (the reference's meta_daily_stats /
  // meta_pipeline_health family, catalog.py:183-200) — computed on read
  // from meta_runs/meta_outputs rather than stored, so they can never
  // drift from the facts.
  // ------------------------------------------------------------------

  /** Per-day per-pipeline run stats (meta_daily_stats equivalent). */
  def dailyStats: DataFrame =
    table("meta_runs")
      .groupBy(to_date(col("recorded_at")).as("day"), col("pipeline"))
      .agg(
        countDistinct(col("run_id")).as("n_runs"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("n_node_failures"),
        sum(col("duration_ms")).as("total_duration_ms"))

  /**
   * Resource hotspots per (pipeline, node) across recorded runs — the
   * derived view over `meta_node_metrics` that answers "which node
   * should I tune first": average and peak shuffle write and spill,
   * plus run counts. Rank by `max_spill_bytes` for the salting/
   * partition-count candidates, by `avg_shuffle_write_bytes` for the
   * join-order/broadcast candidates.
   */
  def nodeHotspots: DataFrame = {
    val m = table("meta_node_metrics")
    def metric(name: String) =
      sum(when(col("metric") === name, col("value")).otherwise(0L))
    val perRun = m.groupBy(col("pipeline"), col("node"), col("run_id"))
      .agg(
        metric("shuffle_write_bytes").as("shuffle_write_bytes"),
        (metric("memory_spill_bytes") + metric("disk_spill_bytes")).as("spill_bytes"),
        metric("input_bytes").as("input_bytes"),
        metric("executor_run_time_ms").as("executor_run_time_ms"))
    perRun.groupBy(col("pipeline"), col("node"))
      .agg(
        count(lit(1)).as("n_runs"),
        avg(col("shuffle_write_bytes")).as("avg_shuffle_write_bytes"),
        max(col("shuffle_write_bytes")).as("max_shuffle_write_bytes"),
        avg(col("spill_bytes")).as("avg_spill_bytes"),
        max(col("spill_bytes")).as("max_spill_bytes"),
        avg(col("input_bytes")).as("avg_input_bytes"),
        avg(col("executor_run_time_ms")).as("avg_executor_run_time_ms"))
  }

  /** Per-pipeline health summary (meta_pipeline_health equivalent). */
  def pipelineHealth: DataFrame = {
    val runs = table("meta_runs")
    val perRun = runs.groupBy(col("pipeline"), col("run_id"))
      .agg(min(col("success")).as("run_ok"),
        max(col("recorded_at")).as("finished_at"))
    perRun.groupBy(col("pipeline"))
      .agg(
        count(lit(1)).as("n_runs"),
        avg(col("run_ok").cast("double")).as("success_rate"),
        max(col("finished_at")).as("last_run_at"),
        max(when(col("run_ok"), col("finished_at"))).as("last_success_at"))
  }

  /**
   * Per-pipeline SLA status (meta_sla_status equivalent): age of the last
   * successful run vs an expected cadence. `status` = "ok" (fresh),
   * "late" (last success older than the SLA), "failing" (has runs but no
   * success ever). `asOf` pins the evaluation instant so the view is
   * deterministic/testable; defaults to now.
   */
  def slaStatus(slaHours: Map[String, Double],
                defaultSlaHours: Double = 24.0,
                asOf: Option[java.sql.Timestamp] = None): DataFrame = {
    val now = asOf.map(lit(_)).getOrElse(current_timestamp())
    val sla = typedLit(slaHours)
    pipelineHealth.select(
      col("pipeline"),
      col("last_success_at"),
      coalesce(element_at(sla, col("pipeline")), lit(defaultSlaHours))
        .as("sla_hours"),
      round((now.cast("double") - col("last_success_at").cast("double")) / 3600.0, 6)
        .as("hours_since_success"))
      .withColumn("status",
        when(col("last_success_at").isNull, lit("failing"))
          .when(col("hours_since_success") > col("sla_hours"), lit("late"))
          .otherwise(lit("ok")))
  }

  /**
   * Latest recorded sink path for a pipeline node — the resolution target
   * of a semantic-layer `$pipeline.node` source reference
   * (odibi/semantics/query.py:294-369 resolves through the same catalog).
   */
  def latestOutputPath(pipeline: String, node: String): Option[String] =
    probe("meta_outputs")(_
      .filter(col("pipeline") === pipeline && col("node") === node)
      .orderBy(col("recorded_at").desc).limit(1)
      .select("path").as[String].collect().headOption)

  /**
   * Average rows written by a node over its recent runs — the baseline for
   * volume-drop validation (reference get_average_volume, volume_drop test
   * wired through the catalog in pipeline validation).
   */
  def averageRowsWritten(pipeline: String, node: String, lastN: Int = 7): Option[Double] =
    probe("meta_outputs")(_
      .filter(col("pipeline") === pipeline && col("node") === node)
      .orderBy(col("recorded_at").desc).limit(lastN)
      .agg(avg(col("rows_written"))).as[Option[Double]].collect().headOption.flatten)

  /**
   * Volume-drop gate: fails when this run's rows_written fell more than
   * `threshold` (fraction) below the node's recent average. Returns the
   * drop fraction when breached.
   */
  def volumeDropCheck(pipeline: String, node: String, currentRows: Long,
                      threshold: Double = 0.5, lastN: Int = 7): Option[Double] =
    averageRowsWritten(pipeline, node, lastN).filter(_ > 0).flatMap { avgRows =>
      val drop = (avgRows - currentRows) / avgRows
      if (drop > threshold) Some(drop) else None
    }

  // ------------------------------------------------------------------
  // meta_pipelines / meta_nodes / meta_state (catalog.py:183-200; deploy
  // registration :1205-1290; pipeline hash lookup :3034-3045). Appends
  // with latest-wins reads stand in for the reference's Delta MERGE.
  // ------------------------------------------------------------------

  /** Register (upsert) the pipeline definition + per-node configs. */
  def registerPipeline(cfg: Pipeline.PipelineConfig,
                       description: String = "", tags: Seq[String] = Nil): Unit = {
    append("meta_pipelines",
      Seq((cfg.name, Catalog.pipelineHash(cfg), cfg.nodes.size.toLong,
        description, tags.mkString(",")))
        .toDF("pipeline", "version_hash", "n_nodes", "description", "tags")
        .withColumn("recorded_at", current_timestamp()))
    append("meta_nodes",
      cfg.nodes.map(n => (cfg.name, n.name, Pipeline.nodeHash(n),
        n.dependsOn.mkString(","), n.tags.mkString(","), n.enabled))
        .toDF("pipeline", "node", "config_hash", "depends_on", "tags", "enabled")
        .withColumn("recorded_at", current_timestamp()))
    // meta_patterns (catalog.py:183-200): which registered pattern each
    // node invokes — the deploy-time usage inventory of the pattern layer
    val patternRows = cfg.nodes.flatMap(n => n.transformer
      .filter(graft.patterns.PatternRegistry.names.contains)
      .map(p => (cfg.name, n.name, p)))
    if (patternRows.nonEmpty)
      append("meta_patterns",
        patternRows.toDF("pipeline", "node", "pattern")
          .withColumn("recorded_at", current_timestamp()))
  }

  /**
   * The catalog's own registry (`meta_tables`): one row per meta table —
   * stored tables with their physical paths plus the derived views.
   * Computed on read (it can never drift from what is actually present);
   * `Tools catalog <root> --tables` renders it.
   */
  def tablesRegistry: DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stored = Catalog.storedTables.map { t =>
      (t, "stored", tablePath(t),
        fs.exists(new org.apache.hadoop.fs.Path(tablePath(t))))
    }
    val derived = Catalog.derivedViews.map(t => (t, "derived", "", true))
    (stored ++ derived).toDF("table", "kind", "path", "exists")
  }

  /** Latest registered version hash for a pipeline (drift baseline). */
  def getPipelineHash(pipeline: String): Option[String] =
    probe("meta_pipelines")(_.filter(col("pipeline") === pipeline)
      .orderBy(col("recorded_at").desc).limit(1)
      .select("version_hash").as[String].collect().headOption)

  /**
   * Drift check against the deployed definition (pipeline.py:487-520):
   * Some(deployedHash) when the local config differs from the catalog,
   * None when clean or never deployed.
   */
  def configDrift(cfg: Pipeline.PipelineConfig): Option[String] =
    getPipelineHash(cfg.name).filter(_ != Catalog.pipelineHash(cfg))

  /**
   * HWM / run state stored in the catalog (`meta_state`, the reference's
   * CatalogStateBackend): key-value with latest-wins semantics, so
   * incremental loads and resume share state with the rest of the catalog.
   */
  def state: graft.operators.Incremental.StateBackend =
    new graft.operators.Incremental.StateBackend {
      override def get(key: String): Option[String] =
        probe("meta_state")(_.filter(col("key") === key)
          .orderBy(col("recorded_at").desc).limit(1)
          .select("value").as[String].collect().headOption)
      override def set(key: String, value: String): Unit =
        append("meta_state", Seq((key, value)).toDF("key", "value")
          .withColumn("recorded_at", current_timestamp()))
    }
}

object Catalog {

  /** Stored meta tables (physical parquet under the catalog root) —
    * mirrors the reference's 18-table list (catalog.py:183-200) minus the
    * health views, which are derived on read here. */
  val storedTables: Seq[String] = Seq(
    "meta_pipelines", "meta_nodes", "meta_runs", "meta_pipeline_runs",
    "meta_node_runs", "meta_lineage", "meta_column_lineage", "meta_outputs",
    "meta_metrics", "meta_node_metrics", "meta_failures", "meta_observability_errors",
    "meta_schemas", "meta_patterns", "meta_state",
    "meta_derived_applied_runs")

  /** Views computed on read from the stored facts (never drift). */
  val derivedViews: Seq[String] = Seq(
    "meta_daily_stats", "meta_pipeline_health", "meta_sla_status",
    "meta_tables")

  /** Stable hash of the whole pipeline config (deploy/drift baseline). */
  def pipelineHash(cfg: Pipeline.PipelineConfig): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(cfg.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** A meta table and a builder for the rows one record adds to it. */
  private type Rows = (String, () => Option[DataFrame])

  /**
   * Run a pipeline with catalog recording: runs, lineage, schemas.
   * Timings come from wall-clock around each node's materialization, not
   * from extra count() actions (SURVEY §4 double-evaluation note).
   *
   * The drift gate (pipeline.py:487-520) runs first: when the local config
   * differs from the deployed `meta_pipelines` hash, the run either fails
   * (`failOnDrift`) or proceeds with the drift recorded in the run error
   * field of a `_drift_check` pseudo-node.
   *
   * After the run, every meta table the run touches gets exactly one
   * append, and the appends run concurrently (one task per table).
   */
  def runRecorded(spark: SparkSession, cfg: Pipeline.PipelineConfig,
                  catalog: Catalog, runId: String,
                  externalDatasets: Map[String, DataFrame] = Map.empty,
                  opts: Pipeline.RunOptions = Pipeline.RunOptions(),
                  failOnDrift: Boolean = false)
      : Map[String, Pipeline.NodeResult] = {
    val drift = catalog.configDrift(cfg).map { deployed =>
      val msg = s"DRIFT: local ${pipelineHash(cfg).take(8)} != deployed ${deployed.take(8)}"
      if (failOnDrift) throw new IllegalStateException(msg)
      ("_drift_check", false, 0L, msg)
    }
    // alert-channel failures buffer during the run, recorded after it —
    // the dispatcher must stay non-blocking and side-effect-safe
    val alertErrors = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)]()
    val recordingOpts = opts.copy(onAlertError = (acfg, e) => {
      alertErrors.add((acfg.channel, acfg.target.getOrElse(""),
        e.getClass.getName, Option(e.getMessage).getOrElse("")))
      opts.onAlertError(acfg, e)
    })
    val results = Pipeline.run(spark, cfg, externalDatasets, recordingOpts)
    val name = cfg.name
    val ran = cfg.nodes.map(n => n -> results.get(n.name))
    // skipped nodes record success=true with the reason in the error
    // field (the reference marks skips successful with metadata.reason)
    def outcome(r: Option[Pipeline.NodeResult]) =
      (r.exists(_.failure.isEmpty), r.map(_.durationMs).getOrElse(0L),
        r.flatMap(_.failure).map(_.getMessage)
          .orElse(r.flatMap(_.skipReason).map("skipped: " + _)).getOrElse(""))
    val succeeded = results.toSeq.filter { case (_, r) => r.failure.isEmpty && !r.skipped }
    catalog.appendAll(
      catalog.runRows(name, runId, drift.toSeq ++ ran.map { case (n, r) =>
        val (ok, ms, err) = outcome(r)
        (n.name, ok, ms, err)
      }),
      // the reference's pipeline_runs / node_runs split (catalog.py:183-200)
      catalog.pipelineRunRows(name, runId,
        success = ran.forall(_._2.exists(_.failure.isEmpty)),
        nNodes = cfg.nodes.size,
        nFailed = ran.count(_._2.exists(_.failure.nonEmpty)),
        totalDurationMs = ran.flatMap(_._2).map(_.durationMs).sum),
      catalog.nodeRunRows(name, runId, ran.map { case (n, r) =>
        val (ok, ms, err) = outcome(r)
        (n.name, ok, ms, r.flatMap(_.rowsWritten), err)
      }),
      catalog.nodeMetricRows(name, runId, ran.collect {
        case (n, Some(r)) if r.metrics.nonEmpty => n.name -> r.metrics
      }),
      catalog.observabilityErrorRows(name, runId,
        alertErrors.toArray(Array.empty[(String, String, String, String)]).toSeq),
      catalog.lineageRows(name, runId,
        cfg.nodes.flatMap(n => n.dependsOn.map(d => n.name -> d))),
      catalog.outputRows(name, runId, ran.flatMap { case (n, r) =>
        for {
          res <- r
          rows <- res.rowsWritten
          path <- n.writePath
        } yield (n.name, path, rows)
      }),
      catalog.failureRows(name, runId, ran.flatMap { case (n, r) =>
        r.flatMap(_.failure)
          .map(e => (n.name, e.getClass.getName, Option(e.getMessage).getOrElse("")))
      }),
      catalog.validationRows(name, runId, ran.flatMap { case (n, r) =>
        r.toSeq.flatMap(_.validation.map(n.name -> _))
      }),
      catalog.schemaRows(name, succeeded.map { case (n, r) => n -> r.df }),
      // lineage from the pre-write plan when the node's df is a
      // lineage-truncating sink read-back
      catalog.columnLineageRows(name, runId,
        succeeded.map { case (n, r) => n -> r.lineageDf.getOrElse(r.df) }))
    results
  }
}
