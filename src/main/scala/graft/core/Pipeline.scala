package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources
import graft.validation.Validation

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/**
 * Declarative pipeline: nodes with a read → transform → validate → write
 * lifecycle, executed over the dependency DAG serially or in parallel
 * topological layers (reference: odibi/node.py:230-330 lifecycle;
 * odibi/pipeline.py:340-560 execution; auto-cache pipeline.py:1843-1908).
 *
 * Performance stance (SURVEY §4): ONE lazy Catalyst plan per node,
 * materialized at write; no per-transformer counts (the reference's
 * df.count() logging re-executes plans — deliberately not reproduced).
 */
object Pipeline {

  /**
   * One transform step: exactly one of sql | sql_file | function | operation
   * (reference TransformStep, odibi/config.py:2791-2875). `sqlFile` paths
   * resolve relative to the YAML file that defined the node.
   */
  final case class TransformStep(sql: Option[String] = None,
                                 sqlFile: Option[String] = None,
                                 function: Option[String] = None,
                                 operation: Option[String] = None,
                                 params: Map[String, Any] = Map.empty)

  /**
   * Declarative incremental read (reference: odibi/config.py:2458-2590;
   * filter generation node.py:1019-1112): `mode` = "hwm" (stateful
   * high-water-mark, smart first run = full load) or "rolling"
   * (col >= now - lookback, stateless).
   */
  final case class IncrementalConfig(
      column: String,
      mode: String = "hwm",                       // hwm | rolling
      lookbackSeconds: Long = 86400L,
      watermarkLagSeconds: Long = 0L,
      fallbackColumn: Option[String] = None)

  final case class NodeConfig(
      name: String,
      dependsOn: Seq[String] = Nil,
      input: Option[String] = None,               // dataset, or "$pipeline.node"
      catalogRoot: Option[String] = None,         // for $-ref input resolution
      read: Option[Sources.ReadConfig] = None,
      incremental: Option[IncrementalConfig] = None,
      contracts: Option[Sources.ContractConfig] = None, // schema contract after read
      preSql: Seq[String] = Nil,                  // before read (node.py:230-232)
      steps: Seq[TransformStep] = Nil,
      transformer: Option[String] = None,         // pattern-first (node.py:1582)
      transformerParams: Map[String, Any] = Map.empty,
      semantic: Option[graft.semantics.Semantics.SemanticNode] = None, // metric node
      tests: Seq[Validation.Test] = Nil,
      gateMinPassRate: Option[Double] = None,     // validation gate (gate.py:31)
      gateOnFail: String = "abort",               // abort | warn
      quarantinePath: Option[String] = None,      // sink for quarantined rows
      streamingWrite: Option[StreamingWriteConfig] = None, // config.py:4023-4160
      writePath: Option[String] = None,
      write: Sources.WriteConfig = Sources.WriteConfig(),
      postSql: Seq[String] = Nil,                 // after write (node.py:319-321)
      cache: Boolean = false,
      retries: Int = 0,
      tags: Seq[String] = Nil,
      enabled: Boolean = true)

  /**
   * Declarative streaming write (reference: odibi/config.py:4023-4160).
   * With `mergeKeys` each micro-batch upserts into the sink snapshot via
   * foreachBatch ([[graft.streaming.Streaming.writeStreamMerge]]);
   * otherwise a plain writeStream in `outputMode`. `await` (default) blocks
   * until the query terminates — with the default available-now trigger
   * that is "process everything currently there, then stop", which is what
   * a batch-orchestrated pipeline of streaming nodes wants; downstream
   * nodes then read the sink as a batch frame.
   */
  final case class StreamingWriteConfig(
      checkpoint: String,
      outputMode: String = "append",
      trigger: String = "available_now",
      triggerInterval: String = "10 seconds",
      mergeKeys: Seq[String] = Nil,
      mergeStrategy: String = "upsert",
      mergeOptions: Map[String, String] = Map.empty,
      await: Boolean = true)

  final case class NodeResult(name: String, df: DataFrame, failure: Option[Throwable],
                              skipped: Boolean = false, skipReason: Option[String] = None,
                              durationMs: Long = 0L, rowsWritten: Option[Long] = None,
                              validation: Seq[Validation.TestResult] = Nil,
                              // the pre-write logical plan when `df` is a
                              // lineage-truncating sink read-back — column
                              // lineage records from here
                              lineageDf: Option[DataFrame] = None,
                              // executor totals for the node's jobs (tasks,
                              // shuffle/input bytes, spill, run time) from
                              // NodeMetrics — recorded to meta_node_metrics
                              metrics: Map[String, Long] = Map.empty)

  /**
   * Alert event (reference `_send_alerts`, odibi/pipeline.py:1443-1490):
   * node-level `event` ∈ gate_abort (a validation gate/enforce stopped the
   * node) | node_failure (any other node error); run-level `event` ∈
   * run_start | run_success | run_failure (node = "_pipeline"), mirroring
   * the reference's on_start/on_success/on_failure alert events.
   */
  final case class AlertEvent(pipeline: String, node: String,
                              event: String, message: String)

  /**
   * Run-time selection and resume flags (reference pipeline.py:391-446
   * filtering, :522-546 resume): `nodes` auto-includes upstream deps and
   * overrides `tag`; `resumeFromFailure` + a state backend skips nodes whose
   * config hash matches a previous success, restoring from their write path.
   * `onAlert` is invoked once per failed node (after its retries are
   * exhausted) — the alert-dispatch hook.
   */
  final case class RunOptions(
      tag: Option[String] = None,
      nodes: Seq[String] = Nil,
      resumeFromFailure: Boolean = false,
      state: Option[graft.operators.Incremental.StateBackend] = None,
      onAlert: AlertEvent => Unit = _ => (),
      // alert-CHANNEL failures (transport down, sink unwritable): never
      // fail the run, but surface for meta_observability_errors recording
      onAlertError: (Alerts.AlertConfig, Throwable) => Unit = (_, _) => ())

  final case class PipelineConfig(name: String, nodes: Seq[NodeConfig],
                                  parallel: Boolean = false, maxWorkers: Int = 4,
                                  autoCacheThreshold: Int = 3,
                                  sparkConf: Map[String, String] = Map.empty,
                                  baseDir: Option[String] = None,
                                  alerts: Seq[Alerts.AlertConfig] = Nil)

  /** Run side-effect SQL (DDL etc.) with all context datasets visible. */
  private def runSideSql(spark: SparkSession, statements: Seq[String],
                         datasets: Map[String, DataFrame]): Unit =
    statements.foreach { stmt =>
      datasets.foreach { case (name, d) =>
        d.createOrReplaceTempView(name.replaceAll("[^A-Za-z0-9_]", "_"))
      }
      spark.sql(stmt).collect() // side-effect statements must execute now
      ()
    }

  private def resolveSqlFile(path: String, baseDir: Option[String]): String = {
    val p = java.nio.file.Paths.get(path)
    val resolved =
      if (p.isAbsolute) p
      else java.nio.file.Paths.get(baseDir.getOrElse("."), path)
    new String(java.nio.file.Files.readAllBytes(resolved), "UTF-8")
  }

  private def strSeq(v: Any): Seq[String] = v match {
    case s: String => Seq(s)
    case l: Seq[_] => l.map(_.toString)
    case other => Seq(other.toString)
  }

  /**
   * Built-in `operation:` steps (reference spark_engine.execute_operation,
   * odibi/engine/spark_engine.py:2119-2233): pivot, drop_duplicates, fillna,
   * drop, rename, sort, sample; any other name falls back to the
   * transformer registry (same as the reference's FunctionRegistry fallback).
   */
  private[graft] def executeOperation(op: String, params: Map[String, Any],
                                      ctx: EngineContext): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val df = ctx.df
    op match {
      case "pivot" =>
        val groupBy = params.get("group_by").map(strSeq).getOrElse(Nil)
        val pivotCol = params.getOrElse("pivot_column",
          throw new IllegalArgumentException("pivot requires 'pivot_column'")).toString
        val valueCol = params.getOrElse("value_column",
          throw new IllegalArgumentException("pivot requires 'value_column'")).toString
        val aggFunc = params.getOrElse("agg_func", "first").toString
        df.groupBy(groupBy.map(col): _*).pivot(pivotCol)
          .agg(expr(s"$aggFunc(`$valueCol`)"))
      case "drop_duplicates" =>
        params.get("subset").map(s => df.dropDuplicates(strSeq(s)))
          .getOrElse(df.dropDuplicates())
      case "fillna" =>
        val subset = params.get("subset").map(strSeq)
        params.getOrElse("value",
          throw new IllegalArgumentException("fillna requires 'value'")) match {
          case b: java.lang.Boolean =>
            subset.map(s => df.na.fill(b.booleanValue(), s)).getOrElse(df.na.fill(b.booleanValue()))
          case n: java.lang.Integer =>
            subset.map(s => df.na.fill(n.longValue(), s)).getOrElse(df.na.fill(n.longValue()))
          case n: java.lang.Long =>
            subset.map(s => df.na.fill(n.longValue(), s)).getOrElse(df.na.fill(n.longValue()))
          case n: Number =>
            subset.map(s => df.na.fill(n.doubleValue(), s)).getOrElse(df.na.fill(n.doubleValue()))
          case other =>
            subset.map(s => df.na.fill(other.toString, s)).getOrElse(df.na.fill(other.toString))
        }
      case "drop" => df.drop(params.get("columns").map(strSeq).getOrElse(Nil): _*)
      case "rename" =>
        params.get("columns").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
          .foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, n.toString) }
      case "sort" =>
        val by = params.get("by").map(strSeq).getOrElse(Nil)
        val asc = params.get("ascending").forall(_.toString.toBoolean)
        if (by.isEmpty) df
        else if (asc) df.orderBy(by.map(col): _*)
        else df.orderBy(by.map(c => col(c).desc): _*)
      case "sample" =>
        val frac = params.get("frac").map(_.toString.toDouble).getOrElse(0.1)
        val replace = params.get("replace").exists(_.toString.toBoolean)
        params.get("random_state").map(_.toString.toLong) match {
          case Some(seed) => df.sample(replace, frac, seed)
          case None => df.sample(replace, frac)
        }
      case other =>
        TransformerRegistry.get(other)
          .getOrElse(throw new IllegalArgumentException(s"unsupported operation: $other"))
          .apply(ctx, params)
    }
  }

  /** Execute one node against the shared context. */
  def runNode(spark: SparkSession, cfg: NodeConfig,
              datasets: Map[String, DataFrame],
              baseDir: Option[String] = None): DataFrame =
    runNodeWithStats(spark, cfg, datasets, baseDir)._1

  /** Formats a written sink can be read back from to truncate lineage. */
  private[graft] val readBackFormats = Set("parquet", "orc", "json", "csv", "delta")

  /** Read a sink back by declared format; `delta` routes through the
    * native transaction-log reader (no delta-spark DataSource in this
    * env), everything else through the ordinary DataFrame reader. */
  private[graft] def readSink(spark: SparkSession, format: String,
                              path: String,
                              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    if (format.equalsIgnoreCase("delta"))
      graft.sources.DeltaLog.read(spark, path)
    else if (format.equalsIgnoreCase("iceberg"))
      graft.sources.IcebergSource.read(spark, path)
    else {
      val r = schema.map(spark.read.schema).getOrElse(spark.read)
      r.format(format).load(path)
    }

  /**
   * As [[runNode]], also returning rows written (from write metrics).
   * With an `incremental` config and a state backend: the HWM filter is
   * applied between read and transform (so it pushes into the scan), and
   * the new HWM — the batch max, aggregated via an `Observation` DURING
   * the write action, no second scan — is committed to state only after
   * the write succeeds (the reference's pending_hwm_update contract,
   * node.py:493-510).
   */
  def runNodeWithStats(spark: SparkSession, cfg: NodeConfig,
                       datasets: Map[String, DataFrame],
                       baseDir: Option[String] = None,
                       state: Option[graft.operators.Incremental.StateBackend] = None,
                       stateKeyPrefix: String = "",
                       currentPipeline: Option[String] = None)
      : (DataFrame, Option[Long], Seq[Validation.TestResult], Option[DataFrame]) = {
    import graft.operators.Incremental
    StandardTransformers.registerAll // idempotent

    runSideSql(spark, cfg.preSql, datasets)

    // a semantic node starts from its metric query (sources resolved via
    // datasets / the system catalog), not from a read or input. With an
    // incremental block the filtered fresh partial merges into the
    // existing metric table by grain (IncrementalMaterializer,
    // materialize.py:210); the node's own overwrite sink then publishes
    // the merged snapshot through the shared atomic temp-dir + rename
    // swap, so the self-read + overwrite is crash-safe.
    val read: DataFrame = cfg.semantic.map { sn =>
        val cat = sn.catalogRoot.map(r => new Catalog(spark, r))
        val fresh = graft.semantics.Semantics.runResolved(spark, sn.model,
          sn.query, datasets, Some(sn.pipeline), cat,
          sn.incremental.flatMap(_.filter))
        sn.incremental match {
          case Some(inc) =>
            val existing = cfg.writePath.filter(AtomicParquet.exists(spark, _)).flatMap { p =>
              try Some(Pipeline.readSink(spark, cfg.write.format, p))
              catch {
                case _: IllegalArgumentException
                    if cfg.write.format.equalsIgnoreCase("delta") => None // no log yet
              }
            }
            existing match {
              case Some(ex) => graft.patterns.Patterns.aggregationMerge(
                ex, fresh, inc.grain, inc.strategies)
              case None => fresh
            }
          case None => fresh
        }
      }
      .orElse(cfg.read.map(r => Sources.read(spark, r)))
      // `input:` accepts a provided dataset name or a cross-pipeline
      // `$pipeline.node` reference (reference: odibi/references.py —
      // resolve_input_reference): same-run frames win, then the other
      // pipeline's latest recorded sink via the catalog
      .orElse(cfg.input.map { in =>
        if (in.startsWith("$"))
          graft.semantics.Semantics.resolveSource(spark, in, datasets,
            currentPipeline, cfg.catalogRoot.map(r => new Catalog(spark, r)))
        else datasets(in)
      })
      .getOrElse(cfg.dependsOn.headOption.flatMap(datasets.get)
        .getOrElse {
          // generator patterns (date_dimension) legitimately have no input
          if (cfg.transformer.isDefined) spark.emptyDataFrame
          else throw new IllegalArgumentException(
            s"node ${cfg.name}: no read, input, or dependency to start from")
        })

    // schema contract between read and transform (config.py:4355-4395);
    // with no declared DDL the existing sink's schema is the contract
    val base = cfg.contracts match {
      case Some(c) =>
        val sinkSchema = cfg.writePath.flatMap(p =>
          Try(Pipeline.readSink(spark, cfg.write.format, p).schema).toOption)
        Sources.applyContract(read, c, sinkSchema)
      case None => read
    }

    val hwmKey = s"${stateKeyPrefix}hwm/${cfg.name}"
    val incremental = cfg.incremental.filter(_ => state.isDefined || cfg.incremental.exists(_.mode == "rolling"))
    val filtered = incremental match {
      case Some(inc) if inc.mode == "rolling" =>
        Incremental.rollingWindowFilter(base, inc.column, inc.lookbackSeconds)
      case Some(inc) =>
        Incremental.hwmFilter(base, inc.column, state.flatMap(_.get(hwmKey)),
          inc.watermarkLagSeconds, inc.fallbackColumn)
      case None => base
    }
    val stepped = cfg.steps.foldLeft(filtered) { (df, step) =>
      val ctx = EngineContext(df, datasets)
      (step.sql, step.sqlFile, step.function, step.operation) match {
        case (Some(q), _, _, _) => ctx.sql(q)
        case (_, Some(f), _, _) => ctx.sql(resolveSqlFile(f, baseDir))
        case (_, _, Some(fn), _) =>
          TransformerRegistry.get(fn)
            .getOrElse(throw new IllegalArgumentException(s"unknown transformer: $fn"))
            .apply(ctx, step.params)
        case (_, _, _, Some(op)) => executeOperation(op, step.params, ctx)
        case _ => df
      }
    }

    // node-level transformer: pattern registry FIRST (node.py:1582-1640),
    // then the plain transformer registry
    val transformed = cfg.transformer match {
      case Some(t) =>
        val ctx = EngineContext(stepped, datasets)
        val target = cfg.writePath.map(p =>
          graft.patterns.PatternRegistry.TargetRef(p, cfg.write.format))
        graft.patterns.PatternRegistry.get(t) match {
          case Some(pat) => pat.apply(ctx, cfg.transformerParams, target)
          case None => TransformerRegistry.get(t)
            .getOrElse(throw new IllegalArgumentException(
              s"unknown pattern/transformer: $t"))
            .apply(ctx, cfg.transformerParams)
        }
      case None => stepped
    }

    require(!transformed.isStreaming || cfg.tests.isEmpty,
      s"node ${cfg.name}: tests are not supported on streaming nodes")

    // Single materialization across the tested-node lifecycle (reference
    // cache_df, odibi/validation/engine.py options): the quarantine-split
    // write, the row-level test aggregate and the sink write are up to
    // three actions over one plan — persist it once and release after the
    // write. A transformer that already pinned its output (the fact grain
    // gate, patterns/PatternRegistry.scala) shares the same release.
    val qTests = cfg.tests.filter(_.severity == Validation.Quarantine)
    val plannedActions = Seq(
      qTests.nonEmpty,
      cfg.tests.exists(_.severity != Validation.Quarantine),
      cfg.writePath.isDefined && cfg.streamingWrite.isEmpty).count(identity)
    val prePinned = !transformed.isStreaming &&
      transformed.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val pinned = prePinned || (!transformed.isStreaming && plannedActions >= 2)
    if (pinned && !prePinned)
      transformed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val (survivors, quarantineResult) =
      if (qTests.isEmpty) (transformed, Nil)
      else {
        val (valid, invalid) = Validation.quarantineSplit(transformed, cfg.tests)
        val rejected = cfg.quarantinePath match {
          case Some(qp) => Sources.writeWithStats(invalid, qp,
            Sources.WriteConfig(mode = "append"))
          case None => invalid.count()
        }
        val qt = Validation.Test(s"${cfg.name}_quarantine", "quarantine",
          Validation.Quarantine)
        (valid, Seq(Validation.TestResult(qt, rejected == 0, rejected,
          s"quarantine: $rejected rows rejected")))
      }

    val rest = cfg.tests.filterNot(_.severity == Validation.Quarantine)
    val validation =
      if (rest.isEmpty && quarantineResult.isEmpty) Nil
      else {
        val results = if (rest.isEmpty) Nil else Validation.evaluate(survivors, rest)
        cfg.gateMinPassRate match {
          case Some(r) => Validation.gate(results, r, cfg.gateOnFail == "abort")
          case None => Validation.enforce(results)
        }
        results ++ quarantineResult
      }

    val (rowsWritten, finalDf) = (cfg.streamingWrite, cfg.writePath) match {
      case (Some(sw), Some(path)) if survivors.isStreaming =>
        import graft.streaming.Streaming
        val query =
          if (sw.mergeKeys.nonEmpty)
            Streaming.writeStreamMerge(survivors, path, sw.checkpoint,
              sw.mergeKeys, mergeFnFor(sw.mergeStrategy, sw.mergeOptions),
              Some(Streaming.trigger(sw.trigger, sw.triggerInterval)),
              format = cfg.write.format, strategy = sw.mergeStrategy)
          else Streaming.writeStream(survivors, Some(path),
            Streaming.StreamWriteConfig(cfg.write.format, sw.outputMode,
              Some(sw.checkpoint),
              Some(Streaming.trigger(sw.trigger, sw.triggerInterval))))
        if (sw.await) {
          query.awaitTermination()
          // downstream nodes consume the sink as a batch frame; the
          // merge path maintains a parquet snapshot (AtomicParquet)
          // EXCEPT the Delta file-scoped strategies, which mutate a
          // real Delta table read back through DeltaLog
          val deltaMerged = cfg.write.format.equalsIgnoreCase("delta") &&
            Set("upsert", "append_only", "delete_match").contains(sw.mergeStrategy)
          val sinkFormat =
            if (sw.mergeKeys.nonEmpty && !deltaMerged) "parquet"
            else cfg.write.format
          val readBack = Pipeline.readSink(spark, sinkFormat, path)
          // rows from the drained query's own progress metrics — no
          // sink re-scan; foreachBatch sinks report -1, fall back to a
          // (sink-sized, bounded) count only then
          val progressRows = query.recentProgress.toSeq
            .flatMap(p => Option(p.sink)).map(_.numOutputRows).filter(_ >= 0)
          val rows =
            if (progressRows.nonEmpty) progressRows.sum
            else readBack.count()
          (Some(rows), readBack)
        } else (None, survivors) // caller manages the live query's lifetime
      case _ =>
        val written = cfg.writePath.map(p =>
          Sources.writeWithStats(survivors, p, cfg.write))
        // Lineage truncation: downstream nodes consume the WRITTEN sink,
        // not the logical plan — otherwise every consumer re-executes the
        // whole upstream chain (a 10-node pipeline recomputes the heavy
        // early stages once per descendant; at corpus scale that is the
        // difference between one minhash pass and five). Only safe when
        // the sink holds exactly this node's output (mode=overwrite) in a
        // Spark-readable format; the declared schema pins read-back types.
        val truncated =
          if (written.isDefined &&
              cfg.write.mode.equalsIgnoreCase("overwrite") &&
              Pipeline.readBackFormats.contains(cfg.write.format.toLowerCase))
            Pipeline.readSink(spark, cfg.write.format, cfg.writePath.get,
                Some(survivors.schema))
              .select(survivors.columns.map(org.apache.spark.sql.functions.col): _*)
          else survivors
        (written, truncated)
    }

    // commit HWM only after the write succeeded — never advance state for
    // a failed batch (the reference's pending_hwm_update contract). The
    // delta max is one aggregation over the HWM-filtered batch, which the
    // pushed-down filter keeps small.
    incremental.filter(i => i.mode == "hwm" && state.isDefined).foreach { inc =>
      Incremental.newHwm(filtered, inc.column)
        .foreach(v => state.foreach(_.set(hwmKey, v)))
    }

    runSideSql(spark, cfg.postSql, datasets + (cfg.name -> finalDf))
    // when the batch sink read-back replaced the plan, keep the PLAN for
    // column-lineage recording — the read-back's lineage stops at the file
    val lineageDf =
      if (!survivors.isStreaming && (finalDf ne survivors)) Some(survivors)
      else None
    (finalDf, rowsWritten, validation, lineageDf)
    } finally if (pinned) { transformed.unpersist(); () }
  }

  /**
   * Run a multi-pipeline project in declared order (reference: project
   * YAML with a `pipelines:` list). Each finished pipeline's node frames
   * are exposed to LATER pipelines under `"pipeline.node"` dataset keys,
   * which `$pipeline.node` references resolve in-process — no catalog
   * round-trip needed inside one run (the catalog path still serves
   * cross-RUN references). Returns pipeline name → node results.
   */
  def runProject(spark: SparkSession, project: YamlConfig.ProjectConfig,
                 externalDatasets: Map[String, DataFrame] = Map.empty,
                 opts: RunOptions = RunOptions(),
                 exec: (SparkSession, PipelineConfig, Map[String, DataFrame],
                        RunOptions) => Map[String, NodeResult] = run(_, _, _, _))
      : Map[String, Map[String, NodeResult]] = {
    val shared = scala.collection.mutable.Map.empty[String, DataFrame] ++ externalDatasets
    project.pipelines.map { p =>
      val pipelineNodes = p.nodes.map(_.name).toSet
      // a node filter selects across the whole project: each pipeline runs
      // its own subset; a pipeline with no selected nodes is skipped
      // entirely (cross-pipeline refs from later pipelines then resolve
      // via the catalog, as in any partial re-run)
      val selected = opts.nodes.filter(pipelineNodes.contains)
      val results =
        if (opts.nodes.nonEmpty && selected.isEmpty) Map.empty[String, NodeResult]
        else exec(spark, p, shared.toMap, opts.copy(nodes = selected))
      results.foreach { case (n, r) =>
        // restored nodes (resume-from-failure) carry a valid frame and
        // must stay visible to later pipelines; only disabled/pruned
        // skips (empty frames) are excluded
        val usable = r.failure.isEmpty &&
          (!r.skipped || r.skipReason.contains("resume_from_failure"))
        if (usable) shared.update(s"${p.name}.$n", r.df)
      }
      p.name -> results
    }.toMap
  }

  /** Micro-batch merge function for a streaming write's `merge` strategy. */
  private def mergeFnFor(strategy: String, options: Map[String, String] = Map.empty)
      : (DataFrame, DataFrame, Seq[String]) => DataFrame = {
    import graft.operators.Merge
    strategy match {
      case "upsert" => Merge.upsert(_, _, _)
      case "append_only" => Merge.appendOnly(_, _, _)
      case "delete_match" => Merge.deleteMatch(_, _, _)
      case "dedup_index" =>
        // streaming corpus gate: each micro-batch dedups against the
        // persisted MinHash index (in-batch + vs-corpus), survivors are
        // indexed and appended. A checkpoint-replayed batch self-matches
        // the signatures its first delivery appended — replay protection
        // without keeping per-id state in the stream. Crash between the
        // index append and the target swap can leave a survivor indexed
        // but unwritten (documented: no transactional store here).
        val indexPath = options.getOrElse("index_path",
          throw new IllegalArgumentException(
            "merge strategy dedup_index requires merge.index_path"))
        val threshold = options.get("threshold").map(_.toDouble).getOrElse(0.8)
        (target, batch, keys) => {
          require(keys.size == 2,
            s"dedup_index merge.keys must be [id_col, text_col], got $keys")
          target.unionByName(graft.operators.MinHashIndex.dedupAndUpdate(
            batch, keys(0), keys(1), indexPath, threshold = threshold))
        }
      case "bloom_dedup" =>
        // streaming EXACT-dedup corpus gate: each micro-batch dedups
        // against the accumulated target through the persisted Bloom
        // filter at bloom_path — bloom-negative rows (the typical crawl
        // batch bulk) never join; positives take the exact check against
        // fingerprints of the RE-READ target. Because the exact source of
        // truth is the target itself, a crash between the filter save and
        // the target swap can never lose rows on replay: filter-ahead
        // rows are bloom-positive but absent from the target, so they are
        // re-accepted (stronger replay story than dedup_index, which has
        // no exact fallback).
        val bloomPath = options.getOrElse("bloom_path",
          throw new IllegalArgumentException(
            "merge strategy bloom_dedup requires merge.bloom_path"))
        val expected = options.get("expected_items").map(_.toLong).getOrElse(10000000L)
        val fpp = options.get("fpp").map(_.toDouble).getOrElse(0.01)
        (target, batch, keys) => {
          require(keys.size == 2,
            s"bloom_dedup merge.keys must be [id_col, text_col], got $keys")
          val seen = graft.operators.Dedup.newFingerprints(target, keys(1))
          target.unionByName(graft.operators.BloomIndex.dedupAgainst(
            target.sparkSession, bloomPath, batch, keys(0), keys(1),
            seen, expected, fpp))
        }
      case other => throw new IllegalArgumentException(s"unknown merge strategy: $other")
    }
  }

  /** Stable hash of a node's config, for resume change-detection. */
  private[graft] def nodeHash(node: NodeConfig): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(node.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /**
   * Run the whole pipeline. Returns node name -> result. Nodes with ≥
   * autoCacheThreshold dependents (or cache=true) are persisted before
   * fan-out so the shared plan is computed once.
   *
   * Selection semantics (reference pipeline.py:391-446): disabled nodes and
   * their transitive dependents are recorded as skipped and never run; a
   * `tag` filter keeps matching nodes; a `nodes` filter overrides it and
   * auto-includes all upstream dependencies. With `resumeFromFailure` and a
   * state backend, a node whose config hash matches its last success and
   * whose dependencies did not re-run this run is restored from its write
   * path instead of executing (pipeline.py:581-645).
   */
  def run(spark: SparkSession, cfg: PipelineConfig,
          externalDatasets: Map[String, DataFrame] = Map.empty,
          opts: RunOptions = RunOptions()): Map[String, NodeResult] = {
    // performance.spark_config passthrough (reference config.py:5192-5250)
    cfg.sparkConf.foreach { case (k, v) => spark.conf.set(k, v) }
    // alert fan-out: declared channels (YAML alerts: block) + the caller's
    // onAlert hook; neither may fail the run
    val dispatch = Alerts.dispatcher(cfg.alerts, opts.onAlertError)
    def fire(node: String, event: String, message: String): Unit = {
      val e = AlertEvent(cfg.name, node, event, message)
      Try(dispatch(e))
      Try(opts.onAlert(e))
      ()
    }
    def alert(event: String, message: String): Unit = fire("_pipeline", event, message)
    alert("run_start", s"${cfg.nodes.size} nodes")
    val byName = cfg.nodes.map(n => n.name -> n).toMap
    val graph = DependencyGraph(cfg.nodes.map(n => n.name -> n.dependsOn).toMap)
    val layers = graph.executionLayers()
    val dependentCount = cfg.nodes.map(n =>
      n.name -> graph.dependentsOf(n.name).size).toMap

    val datasets = new ConcurrentHashMap[String, DataFrame]()
    externalDatasets.foreach { case (k, v) => datasets.put(k, v) }
    val results = new ConcurrentHashMap[String, NodeResult]()
    val ranThisRun = ConcurrentHashMap.newKeySet[String]()

    // disabled-node pruning with transitive dependents (pipeline.py:391-416)
    val disabled = cfg.nodes.filterNot(_.enabled).map(_.name).toSet
    val disabledAll = if (disabled.isEmpty) Set.empty[String] else graph.pruneDisabled(disabled)
    disabledAll.foreach { n =>
      val reason = if (disabled(n)) "disabled" else "dependency_disabled"
      results.put(n, NodeResult(n, spark.emptyDataFrame, None,
        skipped = true, skipReason = Some(reason)))
    }

    // tag / node filters (pipeline.py:418-446); node filter wins and pulls deps
    var selected = cfg.nodes.map(_.name).toSet -- disabledAll
    opts.tag.foreach(t => selected = selected.filter(n => byName(n).tags.contains(t)))
    if (opts.nodes.nonEmpty) {
      val missing = opts.nodes.filterNot(byName.contains)
      require(missing.isEmpty,
        s"node(s) not found: ${missing.mkString(", ")}. Available: ${byName.keys.toSeq.sorted.mkString(", ")}")
      selected = graph.withUpstream(opts.nodes.toSet) -- disabledAll
    }

    def stateKey(name: String) = s"${cfg.name}/$name"

    /**
     * Resume: restore a previously-succeeded, unchanged node from its sink.
     * Incremental nodes are NEVER restored — their whole point is that a
     * new run ingests data past the HWM, so a skip would silently drop the
     * delta even though the config hash matches.
     */
    def tryRestore(node: NodeConfig): Boolean =
      (opts.resumeFromFailure, opts.state, node.writePath) match {
        case (true, Some(st), Some(path))
            if node.incremental.isEmpty &&
              st.get(stateKey(node.name)).contains(s"ok:${nodeHash(node)}") &&
              !node.dependsOn.exists(ranThisRun.contains) =>
          Try(Pipeline.readSink(spark, node.write.format, path)) match {
            case Success(df) =>
              df.createOrReplaceTempView(node.name.replaceAll("[^A-Za-z0-9_]", "_"))
              datasets.put(node.name, df)
              results.put(node.name, NodeResult(node.name, df, None,
                skipped = true, skipReason = Some("resume_from_failure")))
              true
            case Failure(_) => false // restore failed: re-run
          }
        case _ => false
      }

    def execOne(name: String): Unit = {
      val node = byName(name)
      if (tryRestore(node)) return
      // exactly retries+1 attempts; the last Failure is returned as-is
      // (runNode has write side effects, so no extra invocation)
      val t0 = System.currentTimeMillis()
      def oneAttempt() = Try(runNodeWithStats(spark, node, datasets.asScala.toMap,
        cfg.baseDir, opts.state, s"${cfg.name}/", Some(cfg.name)))
      // executor metrics accumulate under the node's job group (thread-
      // local, so parallel-layer workers measure independently); retries
      // fold into the same group — the cost of a flaky node IS its cost
      val (attempt0, nodeMetrics) = NodeMetrics.measure(spark, cfg.name, name) {
        var a = oneAttempt()
        var retriesLeft = node.retries
        while (a.isFailure && retriesLeft > 0) {
          retriesLeft -= 1
          a = oneAttempt()
        }
        a
      }
      val attempt = attempt0
      val elapsed = System.currentTimeMillis() - t0
      attempt match {
        case Success((df0, rowsWritten, validation, lineageDf)) =>
          val df =
            if (node.cache || dependentCount(name) >= cfg.autoCacheThreshold) df0.persist()
            else df0
          df.createOrReplaceTempView(name.replaceAll("[^A-Za-z0-9_]", "_"))
          datasets.put(name, df)
          ranThisRun.add(name)
          results.put(name, NodeResult(name, df, None,
            durationMs = elapsed, rowsWritten = rowsWritten,
            validation = validation, lineageDf = lineageDf,
            metrics = nodeMetrics))
          opts.state.foreach(_.set(stateKey(name), s"ok:${nodeHash(node)}"))
          validation.filter(v => v.test.kind == "quarantine" && v.failedRows > 0)
            .foreach(v => fire(name, "quarantine", v.detail))
        case Failure(e) =>
          results.put(name, NodeResult(name, spark.emptyDataFrame, Some(e),
            durationMs = elapsed, metrics = nodeMetrics))
          opts.state.foreach(_.set(stateKey(name), "failed"))
          val event = e match {
            case _: Validation.ValidationError => "gate_abort"
            case _ => "node_failure"
          }
          fire(name, event, Option(e.getMessage).getOrElse(e.toString))
      }
    }

    layers.foreach { layer =>
      // deps may be external datasets; respect disabled pruning + filters
      val runnable = layer.filter(n => byName.contains(n) && selected(n))
      val failedUpstream = runnable.filter(n =>
        byName(n).dependsOn.exists(d => Option(results.get(d)).exists(_.failure.isDefined)))
      val toRun = runnable.filterNot(failedUpstream.contains)
      failedUpstream.foreach(n => results.put(n,
        NodeResult(n, spark.emptyDataFrame,
          Some(new IllegalStateException(s"upstream failure for $n")))))
      if (cfg.parallel && toRun.size > 1) {
        val pool = Executors.newFixedThreadPool(math.min(cfg.maxWorkers, toRun.size))
        try {
          toRun.foreach(n => pool.submit(new Runnable { def run(): Unit = execOne(n) }))
          pool.shutdown()
          pool.awaitTermination(1, TimeUnit.HOURS)
        } finally if (!pool.isShutdown) pool.shutdownNow()
      } else toRun.foreach(execOne)
    }
    // Release this run's auto-cached frames: the persists exist to fan a
    // node's plan out to its same-run dependents; left pinned they (a)
    // accumulate across runs in a long session and (b) let CacheManager
    // substitute THIS run's data into a LATER run's logically-identical
    // sink read (the refreshByPath in Sources.writeWithStats is the
    // belt, this is the suspenders). Results still replay lazily from
    // their written sinks.
    results.asScala.values.foreach { r =>
      if (!r.skipped && r.failure.isEmpty && r.df.storageLevel.useMemory)
        Try(r.df.unpersist())
    }
    val out = results.asScala.toMap
    val failed = out.values.filter(_.failure.isDefined).map(_.name).toSeq.sorted
    if (failed.isEmpty) alert("run_success", s"${out.size} nodes")
    else alert("run_failure", s"failed: ${failed.mkString(", ")}")
    out
  }
}
