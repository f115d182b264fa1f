package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{Catalog, Pipeline, Planner, YamlConfig}
import graft.operators.Incremental
import graft.sources.{DeltaDvWriter, DeltaLog, DeltaMaintenance, DeltaMerge, IcebergMaintenance, IcebergSource}
import graft.validation.Validation

import Main.{Args, Recorder}

/** A YAML project of `perfbench/projects`, its output root, and the
  * catalog root its runs are recorded under (none: run without one). */
final case class Project(name: String, out: String, catalogRoot: Option[String])

/**
 * YAML projects executed once per run, in order: config load, planning
 * and the project run, each in its own span; nodes become operations
 * (and synthetic spans under the pipeline's span, tagged with their
 * layer).
 */
abstract class ProjectWorkload(spark: SparkSession, a: Args, rec: Recorder,
                               projects: Seq[Project]) extends Workload {
  private val texts = projects.map(p => p -> new String(
    Files.readAllBytes(Paths.get(s"${a.benchDir}/projects/${p.name}.yaml")), "UTF-8")
    .replace("${IN}", a.in).replace("${OUT}", p.out))

  def runOnce(run: Int): Unit = texts.foreach { case (project, text) =>
    val baseDir = Some(a.work)
    val cfg = Tracer.span(spark, "core.config") { YamlConfig.loadProject(text, baseDir) }
    val plan = Tracer.span(spark, "core.planner") { Planner.plan(text, baseDir) }
    require(plan.valid, s"planner rejected ${project.name}: ${plan.toJson}")
    val state = project.catalogRoot.map(r => new Incremental.JsonFileState(s"$r/run_state.json"))
    Tracer.span(spark, "core.pipeline") {
      Pipeline.runProject(spark, cfg, exec = (s, p, ds, o) => {
        val opts = o.copy(state = state)
        project.catalogRoot match {
          case Some(root) => Tracer.span(s, "core.catalog") {
            val res = Catalog.runRecorded(s, p, new Catalog(s, root), s"run_$run", ds, opts)
            recordNodes(run, p, res)
            res
          }
          case None =>
            val res = Pipeline.run(s, p, ds, opts)
            recordNodes(run, p, res)
            res
        }
      })
    }
  }

  /** Nodes in declared (= execution, the projects run serially) order. */
  private def recordNodes(run: Int, p: Pipeline.PipelineConfig,
                          res: Map[String, Pipeline.NodeResult]): Unit = {
    val parent = Tracer.current
    p.nodes.foreach { n =>
      val r = res(n.name)
      val layer = n.tags.collectFirst { case t if t.startsWith("layer:") => t.drop(6) }
        .getOrElse("core.pipeline")
      val quarantined = r.validation.filter(_.test.severity == Validation.Quarantine)
        .map(_.failedRows).sum
      val attrs = Map[String, Any]("node" -> s"${p.name}.${n.name}",
        "group" -> s"graft:${p.name}:${n.name}",
        "deps" -> n.dependsOn.map(d => s"${p.name}.$d"),
        "rows_written" -> r.rowsWritten.getOrElse(-1L),
        "rows_quarantined" -> quarantined, "failed" -> r.failure.isDefined)
      rec.ops += Main.Op(run, "node", s"${p.name}.${n.name}", r.durationMs / 1000.0,
        ok = r.failure.isEmpty)
      r.failure.foreach(e => System.err.println(s"[graftbench] node ${p.name}.${n.name} failed: $e"))
      Tracer.syntheticSpan(layer, parent, r.durationMs.toDouble, attrs)
    }
  }

  /** The curation project writes fresh outputs every run: its MinHash
    * candidates and cluster ids must come from this run's documents only. */
  override def beforeRun(run: Int): Unit = projects.filter(_.name == "corpus_curation")
    .foreach(p => Main.deleteTree(Paths.get(p.out)))

  override def finish(runs: Int): Unit = projects.flatMap(_.catalogRoot)
    .foreach(r => rec.facts("catalog_files") = Main.treeFiles(r).size)
}

/**
 * Bronze -> silver -> gold with a catalog, one new HWM slice per run,
 * then the curation flow over a small corpus without a catalog.
 */
final class PipelineBatch(spark: SparkSession, a: Args, rec: Recorder)
    extends ProjectWorkload(spark, a, rec, Seq(
      Project("pipeline_batch", s"${a.work}/out", Some(s"${a.work}/out/_system")),
      Project("corpus_curation", s"${a.work}/curation", None))) {
  private val lake = s"${a.work}/out"
  // one timed run: the job's second execution, its first incremental
  // one; it repeats within a few percent across seeds, while the runs
  // after it still speed up as the JIT compiler catches up
  def minRuns: Int = 2
  private val pending = Files.list(Paths.get(a.in, "pending")).iterator().asScala
    .map(_.getFileName.toString).toSeq.sorted
  def maxRuns: Int = pending.size + 1

  // the merge node's target: an empty Delta table of the orders schema
  def prepare(): Unit = graft.sources.DeltaWriter.write(
    spark.read.parquet(s"${a.in}/landing").limit(0), s"$lake/delta/orders", "overwrite")

  // run 0 is the job's first execution: a full load of the bootstrap
  // slice on a cold JVM; every later run lands one more slice first
  override def beforeRun(run: Int): Unit = {
    super.beforeRun(run)
    if (run > 0) {
      val name = pending(run - 1)
      Files.move(Paths.get(a.in, "pending", name), Paths.get(a.in, "landing", name),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  override def finish(runs: Int): Unit = {
    super.finish(runs)
    rec.facts("executions") = runs
    DeltaLog.read(spark, s"$lake/delta/orders").write.mode("overwrite")
      .parquet(s"${a.work}/check/orders_delta")
  }
}

/** The curation flow alone over the x10 corpus, no catalog. */
final class CorpusCuration(spark: SparkSession, a: Args, rec: Recorder)
    extends ProjectWorkload(spark, a, rec,
      Seq(Project("corpus_curation", s"${a.work}/curation", None))) {
  def minRuns: Int = 3
  def maxRuns: Int = 1000
  def prepare(): Unit = ()
}

/**
 * Change batches applied to a Delta and an Iceberg table seeded from the
 * same orders, with reads, time travel, maintenance and a change-feed
 * stream beside the writes. One run = one batch, and every run does the
 * same kinds of operation: the batch's commits, the change-feed drain,
 * a key-range and a full read of each table, a time-travel read of each
 * to the previous batch, and a small-file compaction of each (files
 * below 1 MiB; the seeded base file stays), as an auto-compacting table
 * would after every commit. The Delta log is checkpointed at each
 * compaction commit rather than every 10th version: with three commits
 * a run, a fixed interval would put a checkpoint in every third run
 * only, and runs would differ.
 */
final class LakehouseCdc(spark: SparkSession, a: Args, rec: Recorder) extends Workload {
  private val delta = s"${a.work}/lake/delta_orders"
  private val ice = s"${a.work}/lake/iceberg_orders"
  private val sink = s"${a.work}/stream/sink"
  private val ckpt = s"${a.work}/stream/checkpoint"
  private val batches = Files.list(Paths.get(a.in, "batches")).iterator().asScala
    .map(_.toString).toSeq.sorted
  def minRuns: Int = 3
  def maxRuns: Int = batches.size
  private val CompactBelowBytes = 1L << 20
  private val key = "o_orderkey"
  private val fingerprint = Seq(count(lit(1)).as("rows"), sum(col(key)).as("key_sum"),
    sum(col("o_custkey")).as("cust_sum"), sum(col("o_totalprice")).as("price_sum"))

  // table versions after each batch, for time travel
  private val deltaVersionAfter = scala.collection.mutable.Map.empty[Int, Long]
  private val iceSnapshotAfter = scala.collection.mutable.Map.empty[Int, Long]
  private var lastTimeTravel: Option[(Int, Long, Long)] = None
  private var before = Map.empty[String, Long]
  private var batchBytes = 0L

  def prepare(): Unit = {
    val base = spark.read.parquet(s"${a.in}/orders_base.parquet")
    graft.sources.DeltaWriter.write(base, delta, "overwrite")
    IcebergSource.write(base, ice, "overwrite")
    deltaVersionAfter(-1) = DeltaLog.snapshot(spark, delta).version
    iceSnapshotAfter(-1) = IcebergSource.tableMeta(spark, ice).currentSnapshotId.get
  }

  private def tableFiles(): Map[String, Long] = Main.treeFiles(delta) ++ Main.treeFiles(ice)

  override def beforeRun(run: Int): Unit = {
    before = tableFiles()
    batchBytes = Files.size(Paths.get(batches(run)))
  }

  /** The read's answer as a fingerprint the checks recompute, plus the
    * files its scan read (the scan's `numFiles` metric). */
  private def fp(df: DataFrame): Map[String, Any] = {
    val agg = df.agg(fingerprint.head, fingerprint.tail: _*)
    val r = agg.collect()(0)
    Map("rows" -> r.getLong(0), "key_sum" -> Option(r.get(1)).getOrElse(0L),
      "cust_sum" -> Option(r.get(2)).getOrElse(0L), "price_sum" -> Option(r.get(3)).getOrElse(0.0),
      "files_scanned" -> Listeners.filesScanned(agg.queryExecution.executedPlan))
  }

  /** A timed read. `kind` ("range" / "full") names the scanned-files
    * counter its span carries: a full read scans every live file, so the
    * two give the share of files a key-range read skipped. */
  private def read(run: Int, layer: String, name: String, kind: String = "")(
      df: => DataFrame): Map[String, Any] =
    rec.op(run, "read", name) {
      Tracer.spanAttrs(spark, layer) { fp(df) }(m =>
        if (kind.isEmpty) Map.empty else Map(s"${kind}_files_scanned" -> m("files_scanned")))
    }

  private def lastCheckpoint(): Long = {
    val p = Paths.get(delta, "_delta_log", "_last_checkpoint")
    if (!Files.exists(p)) -1L
    else new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(p)).get("version").asLong()
  }

  def runOnce(run: Int): Unit = {
    val batch = spark.read.parquet(batches(run))
    val upserts = batch.filter(col("_op").isin("U", "I")).drop("_op")
    val deletes = batch.filter(col("_op") === "D").select(key)
    val replaced = batch.filter(col("_op").isin("U", "D")).select(key)

    val snap = Tracer.spanAttrs(spark, "sources.delta.log") {
      DeltaLog.snapshot(spark, delta)
    }(s => Map("replayed_commits" -> (s.version - lastCheckpoint())))
    val deltaLive = snap.files.size.toLong

    // Delta: DV delete, then the merge upsert; the change feed drains both
    rec.op(run, "commit", "delta_delete") {
      Tracer.spanAttrs(spark, "sources.delta.merge") {
        DeltaDvWriter.deleteKeys(spark, delta, deletes, Seq(key), checkpointInterval = 0)
      }(r => Map("files_touched" -> r.filesTouched, "files_live" -> deltaLive,
        "files_added" -> r.dvFiles))
    }
    val tDelete = System.nanoTime()
    val up = rec.op(run, "commit", "delta_upsert") {
      Tracer.spanAttrs(spark, "sources.delta.merge") {
        DeltaMerge.upsert(spark, delta, upserts, Seq(key), checkpointInterval = 0)
      }(r => Map("files_touched" -> r.filesTouched, "files_live" -> deltaLive,
        "files_added" -> r.filesAdded))
    }
    val tUpsert = System.nanoTime()
    deltaVersionAfter(run) = up.version

    rec.op(run, "drain", "change_feed") {
      Tracer.spanAttrs(spark, "streaming") { drain() }(p => Map("batches" -> p._1, "rows" -> p._2))
    }
    val tDrained = System.nanoTime()
    rec.ops += Main.Op(run, "lag", "delete_commit", (tDrained - tDelete) / 1e9, ok = true)
    rec.ops += Main.Op(run, "lag", "upsert_commit", (tDrained - tUpsert) / 1e9, ok = true)

    // Iceberg: equality deletes for every replaced key, then the append
    val meta = Tracer.span(spark, "sources.iceberg.meta") { IcebergSource.tableMeta(spark, ice) }
    iceSnapshotAfter(run - 1) = meta.currentSnapshotId.get
    rec.op(run, "commit", "iceberg_delete") {
      Tracer.spanAttrs(spark, "sources.iceberg.delete") {
        IcebergSource.deleteKeys(spark, ice, replaced, Seq(key))
      }(r => Map("files_added" -> r.deleteFiles))
    }
    rec.op(run, "commit", "iceberg_append") {
      Tracer.span(spark, "sources.iceberg.write") { IcebergSource.write(upserts, ice, "append") }
    }

    // reads: a key range (seed-derived from the batch) and the whole table
    val lo = batch.agg(min(key)).collect()(0).getLong(0)
    val range = col(key).between(lo, lo + 3000)
    val results = Map(
      "delta_range" -> read(run, "sources.delta.read", "delta_range", "range") {
        DeltaLog.read(spark, delta, dataFilter = Some(range)) },
      "delta_full" -> read(run, "sources.delta.read", "delta_full", "full") {
        DeltaLog.read(spark, delta) },
      "iceberg_range" -> read(run, "sources.iceberg.read", "iceberg_range", "range") {
        IcebergSource.read(spark, ice, dataFilter = Some(range)).filter(range) },
      "iceberg_full" -> read(run, "sources.iceberg.read", "iceberg_full", "full") {
        IcebergSource.read(spark, ice) })
    def liveFiles(table: String) = results(s"${table}_full")("files_scanned")
    rec.facts(s"reads_$run") = results + ("range_lo" -> lo)

    val back = run - 1
    val (v, s) = (deltaVersionAfter(back), iceSnapshotAfter(back))
    val tt = Map(
      "delta" -> read(run, "sources.delta.read", "delta_time_travel") {
        DeltaLog.read(spark, delta, versionAsOf = Some(v)) },
      "iceberg" -> read(run, "sources.iceberg.read", "iceberg_time_travel") {
        IcebergSource.read(spark, ice, snapshotId = Some(s)) })
    rec.facts(s"time_travel_$run") = tt + ("batch" -> back)
    lastTimeTravel = Some((back, v, s))

    rec.op(run, "commit", "delta_optimize") {
      Tracer.spanAttrs(spark, "sources.maintenance") {
        DeltaMaintenance.optimize(spark, delta, targetFileBytes = CompactBelowBytes,
          checkpointInterval = 1)
      }(r => Map("files_before" -> liveFiles("delta"), "files_removed" -> r.filesRemoved,
        "files_added" -> r.filesAdded, "bytes_rewritten" -> r.bytesAdded))
    }
    rec.op(run, "commit", "iceberg_optimize") {
      Tracer.spanAttrs(spark, "sources.maintenance") {
        IcebergMaintenance.optimize(spark, ice, targetFileBytes = CompactBelowBytes)
      }(r => Map("files_before" -> liveFiles("iceberg"), "files_removed" -> r.filesRemoved,
        "files_added" -> r.filesAdded, "bytes_rewritten" -> r.bytesAdded))
    }
  }

  /** Available-now drain of the Delta change feed into the parquet sink;
    * returns (micro-batches with rows, rows). */
  private def drain(): (Long, Long) = {
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", (deltaVersionAfter(-1) + 1).toString)
      .load(delta)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(sink)
    q.awaitTermination()
    val rows = q.recentProgress.map(_.numInputRows)
    (rows.count(_ > 0).toLong, rows.sum)
  }

  override def afterRun(run: Int): Unit = {
    val after = tableFiles()
    val written = after.collect { case (f, n) if !before.contains(f) => n }.sum
    rec.count("table_bytes_written", written.toDouble)
    rec.count("change_bytes", 2.0 * batchBytes) // one plain parquet copy per table
    rec.count("checkpoints", after.keys.count(f =>
      f.contains("_delta_log") && f.endsWith(".checkpoint.parquet") && !before.contains(f)).toDouble)
  }

  override def finish(runs: Int): Unit = {
    rec.facts("batches_applied") = runs
    val check = s"${a.work}/check"
    DeltaLog.read(spark, delta).write.mode("overwrite").parquet(s"$check/delta_final")
    IcebergSource.read(spark, ice).write.mode("overwrite").parquet(s"$check/iceberg_final")
    lastTimeTravel.foreach { case (b, v, s) =>
      rec.facts("time_travel_dump_batch") = b
      DeltaLog.read(spark, delta, versionAsOf = Some(v)).write.mode("overwrite")
        .parquet(s"$check/delta_time_travel")
      IcebergSource.read(spark, ice, snapshotId = Some(s)).write.mode("overwrite")
        .parquet(s"$check/iceberg_time_travel")
    }
  }
}
