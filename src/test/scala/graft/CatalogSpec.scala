package graft

import graft.core.{Catalog, Pipeline, YamlConfig}
import graft.sources.Sources

class CatalogSpec extends SparkSpec {

  test("recorded run lands meta_runs, meta_lineage, meta_schemas; drift detected") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val cat = new Catalog(spark, root)
    val cfg = Pipeline.PipelineConfig("p1", Seq(
      Pipeline.NodeConfig("r", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet")))),
      Pipeline.NodeConfig("agg", dependsOn = Seq("r"),
        steps = Seq(Pipeline.TransformStep(sql = Some(
          "SELECT r_regionkey, count(*) AS n FROM df GROUP BY 1"))))))

    val results = Catalog.runRecorded(spark, cfg, cat, "run-1")
    assert(results.values.forall(_.failure.isEmpty))

    val runs = cat.table("meta_runs")
    assert(runs.count() == 2)
    assert(runs.filter("success").count() == 2)
    val lineage = cat.table("meta_lineage").collect()
      .map(r => (r.getAs[String]("node"), r.getAs[String]("input")))
    assert(lineage.toSeq == Seq(("agg", "r")))

    // same schema -> no drift; different schema -> drift
    assert(!cat.schemaDrifted("agg", results("agg").df))
    assert(cat.schemaDrifted("agg", results("r").df))
  }

  /** A 3-node run with validation and two sinks under `root`, reading a
    * 5-row region table it writes there first. */
  private def threeNodes(root: String) = {
    import spark.implicits._
    (0 to 4).map(k => (k.toLong, s"region_$k")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$root/region_in")
    Pipeline.PipelineConfig("p3", Seq(
      Pipeline.NodeConfig("r", read = Some(Sources.ReadConfig("parquet",
        Some(s"$root/region_in"))),
        tests = Seq(graft.validation.Validation.Test("pk_unique", "unique",
          columns = Seq("r_regionkey"))),
        writePath = Some(s"$root/r_out")),
      Pipeline.NodeConfig("agg", dependsOn = Seq("r"),
        steps = Seq(Pipeline.TransformStep(sql = Some(
          "SELECT r_regionkey, count(*) AS n FROM df GROUP BY 1"))),
        writePath = Some(s"$root/agg_out")),
      Pipeline.NodeConfig("top", dependsOn = Seq("agg"),
        steps = Seq(Pipeline.TransformStep(sql = Some(
          "SELECT r_regionkey AS k, n * 2 AS n2 FROM df WHERE r_regionkey < 3"))))))
  }

  /** Parquet data files per meta table under a catalog root. */
  private def dataFiles(root: String): Map[String, Int] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("meta_"))
      .map(d => d.getName -> d.listFiles().count(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      .toMap

  private val runTables = Set("meta_runs", "meta_pipeline_runs", "meta_node_runs",
    "meta_node_metrics", "meta_lineage", "meta_outputs", "meta_metrics",
    "meta_schemas", "meta_column_lineage")

  test("a recorded run adds exactly one data file to each meta table it writes") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_files").toString
    val cat = new Catalog(spark, root)
    val cfg = threeNodes(root)
    Catalog.runRecorded(spark, cfg, cat, "run-1")
    assert(dataFiles(root) == runTables.map(_ -> 1).toMap)
    Catalog.runRecorded(spark, cfg, cat, "run-2")
    assert(dataFiles(root) == runTables.map(_ -> 2).toMap)
    assert(cat.table("meta_runs").count() == 6)
    assert(cat.table("meta_metrics").count() == 2)
    assert(cat.table("meta_outputs").count() == 4)
  }

  test("meta_schemas and meta_column_lineage hold every node, as per-node appends wrote them") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_batch").toString
    val cat = new Catalog(spark, root)
    val results = Catalog.runRecorded(spark, threeNodes(root), cat, "run-b")
    // the same records written one node at a time, into a second catalog
    val single = new Catalog(spark, root + "_single")
    results.foreach { case (n, r) =>
      single.recordSchema("p3", Seq(n -> r.df))
      single.recordColumnLineage("p3", "run-b", Seq(n -> r.lineageDf.getOrElse(r.df)))
    }
    def content(c: Catalog, t: String) = {
      val df = c.table(t).drop("recorded_at")
      (df.columns.toSeq, df.collect().map(_.toSeq).toSet)
    }
    Seq("meta_schemas", "meta_column_lineage").foreach { t =>
      assert(content(cat, t) == content(single, t), t)
    }
    val schemas = cat.table("meta_schemas").collect()
      .map(r => r.getAs[String]("node") -> r.getAs[String]("schema_ddl")).toMap
    assert(schemas == results.map { case (n, r) => n -> r.df.schema.toDDL })
    val lineageNodes = cat.table("meta_column_lineage").select("node").distinct()
      .collect().map(_.getString(0)).toSet
    assert(lineageNodes == Set("r", "agg", "top"))
    assert(cat.table("meta_column_lineage")
      .filter("node = 'top' AND column = 'k' AND source LIKE '%r_regionkey'").count() == 1)
  }

  test("a failed meta append fails the run after the other tables committed") {
    // meta_runs is the first append, so its failure arrives before the
    // others have finished
    Seq("meta_lineage", "meta_runs").foreach { table =>
      val root = java.nio.file.Files.createTempDirectory("graft_cat_blocked").toString
      val cat = new Catalog(spark, root)
      // a plain file where the table's directory belongs
      val blocked = new java.io.File(root, table)
      java.nio.file.Files.write(blocked.toPath, "not a table".getBytes("UTF-8"))
      val err = intercept[Exception] {
        Catalog.runRecorded(spark, threeNodes(root), cat, "run-x")
      }
      assert(err.toString.contains(table) ||
        Option(err.getCause).exists(_.toString.contains(table)), err)
      assert(blocked.isFile)
      assert(dataFiles(root) == (runTables - table).map(_ -> 1).toMap, table)
      assert(cat.table("meta_node_runs").count() == 3)
    }
  }

  test("meta_pipelines/meta_nodes registration, drift gate, catalog HWM state") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat2").toString
    val cat = new Catalog(spark, root)
    val cfg = Pipeline.PipelineConfig("p2", Seq(
      Pipeline.NodeConfig("r", tags = Seq("bronze"),
        read = Some(Sources.ReadConfig("parquet",
          Some("/root/testdata/sf0.001/region.parquet"))))))

    // not deployed yet: no drift
    assert(cat.configDrift(cfg).isEmpty)
    cat.registerPipeline(cfg, description = "test pipe", tags = Seq("daily"))
    assert(cat.getPipelineHash("p2").contains(Catalog.pipelineHash(cfg)))
    assert(cat.configDrift(cfg).isEmpty) // deployed hash matches

    val nodes = cat.table("meta_nodes").collect()
    assert(nodes.length == 1 && nodes(0).getAs[String]("tags") == "bronze")

    // changed config: drift detected; failOnDrift blocks the run
    val changed = cfg.copy(nodes = cfg.nodes :+ Pipeline.NodeConfig("x",
      dependsOn = Seq("r"),
      steps = Seq(Pipeline.TransformStep(sql = Some("SELECT * FROM df")))))
    assert(cat.configDrift(changed).isDefined)
    intercept[IllegalStateException] {
      Catalog.runRecorded(spark, changed, cat, "run-x", failOnDrift = true)
    }
    // non-failing run records the drift as a _drift_check failure row
    Catalog.runRecorded(spark, changed, cat, "run-y")
    assert(cat.table("meta_runs")
      .filter("node = '_drift_check' AND NOT success").count() == 1)
    // re-register clears the drift
    cat.registerPipeline(changed)
    assert(cat.configDrift(changed).isEmpty)

    // catalog-backed HWM state: latest-wins round trip
    val st = cat.state
    assert(st.get("hwm/orders").isEmpty)
    st.set("hwm/orders", "2026-01-01")
    st.set("hwm/orders", "2026-02-01")
    assert(st.get("hwm/orders").contains("2026-02-01"))
  }

  test("meta_outputs and meta_failures record sinks and errors per run") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat3").toString
    val cat = new Catalog(spark, root)
    val cfg = Pipeline.PipelineConfig("p4", Seq(
      Pipeline.NodeConfig("ok", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        writePath = Some(s"$root/ok_out")),
      Pipeline.NodeConfig("boom", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        steps = Seq(Pipeline.TransformStep(sql = Some("SELECT no_col FROM df"))))))
    Catalog.runRecorded(spark, cfg, cat, "run-z")
    val outputs = cat.table("meta_outputs").collect()
    assert(outputs.length == 1)
    assert(outputs(0).getAs[String]("node") == "ok" &&
      outputs(0).getAs[Long]("rows_written") == 5L)
    val failures = cat.table("meta_failures").collect()
    assert(failures.length == 1 && failures(0).getAs[String]("node") == "boom")
    assert(failures(0).getAs[String]("error_class").nonEmpty)
  }

  test("pipeline_runs/node_runs split, observability errors, patterns, tables registry") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat6").toString
    val cat = new Catalog(spark, root)
    val cfg = Pipeline.PipelineConfig("p6", Seq(
      Pipeline.NodeConfig("ok", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        writePath = Some(s"$root/ok_out")),
      Pipeline.NodeConfig("boom", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        steps = Seq(Pipeline.TransformStep(sql = Some("SELECT no_col FROM df"))))),
      // a webhook channel with NO registered transport: every fired alert
      // fails delivery -> meta_observability_errors rows
      alerts = Seq(graft.core.Alerts.AlertConfig("webhook",
        target = Some("unregistered_hook"), onEvents = Seq("on_failure"))))
    Catalog.runRecorded(spark, cfg, cat, "run-o")

    // meta_pipeline_runs: one row per run, failure counted
    val pr = cat.table("meta_pipeline_runs").collect()
    assert(pr.length == 1)
    assert(pr(0).getAs[String]("run_id") == "run-o" && !pr(0).getAs[Boolean]("success"))
    assert(pr(0).getAs[Long]("n_nodes") == 2L && pr(0).getAs[Long]("n_failed") == 1L)

    // meta_node_runs: per-node grain WITH rows_written inline
    val nr = cat.table("meta_node_runs").collect()
      .map(r => r.getAs[String]("node") -> r).toMap
    assert(nr.size == 2)
    assert(nr("ok").getAs[Boolean]("success") &&
      nr("ok").getAs[Long]("rows_written") == 5L)
    assert(!nr("boom").getAs[Boolean]("success") &&
      nr("boom").isNullAt(nr("boom").fieldIndex("rows_written")))

    // alert channel failed (no transport) -> observability error recorded
    val oe = cat.table("meta_observability_errors").collect()
    assert(oe.nonEmpty)
    assert(oe(0).getAs[String]("channel") == "webhook" &&
      oe(0).getAs[String]("target") == "unregistered_hook")
    assert(oe(0).getAs[String]("error_class").contains("IllegalStateException"))

    // meta_patterns: registration records pattern-backed nodes
    val pcfg = Pipeline.PipelineConfig("p6p", Seq(
      Pipeline.NodeConfig("dim", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        transformer = Some("dimension"),
        transformerParams = Map("business_keys" -> Seq("r_regionkey")))))
    cat.registerPipeline(pcfg)
    val pats = cat.table("meta_patterns").collect()
    assert(pats.length == 1 && pats(0).getAs[String]("pattern") == "dimension")

    // tables registry: 15+ entries, stored tables flagged by presence
    val reg = cat.tablesRegistry.collect()
      .map(r => r.getAs[String]("table") ->
        (r.getAs[String]("kind"), r.getAs[Boolean]("exists"))).toMap
    assert(reg.size >= 15, s"registry too small: ${reg.size}")
    assert(reg("meta_pipeline_runs") == ("stored", true))
    assert(reg("meta_observability_errors") == ("stored", true))
    assert(reg("meta_daily_stats")._1 == "derived")
    assert(!reg("meta_state")._2) // never written in this scenario
  }

  test("meta_node_metrics records executor totals per node run") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_nm").toString
    val cat = new Catalog(spark, root)
    // a shuffling node (groupBy) and a scan-only node
    val cfg = Pipeline.PipelineConfig("pm", Seq(
      Pipeline.NodeConfig("agg", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/lineitem.parquet"))),
        steps = Seq(Pipeline.TransformStep(sql = Some(
          "SELECT l_returnflag, sum(l_quantity) AS q FROM df GROUP BY 1"))),
        writePath = Some(s"$root/agg_out")),
      Pipeline.NodeConfig("scan", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        writePath = Some(s"$root/scan_out"))))
    val results = Catalog.runRecorded(spark, cfg, cat, "run-m")
    // NodeResult carries the totals
    val aggM = results("agg").metrics
    assert(aggM("tasks") > 0, aggM)
    assert(aggM("shuffle_write_bytes") > 0, aggM) // the groupBy shuffled
    assert(aggM("input_bytes") > 0, aggM)
    // and the catalog has them in long format, per node
    val nm = cat.table("meta_node_metrics")
      .filter(org.apache.spark.sql.functions.col("run_id") === "run-m")
      .collect()
      .map(r => (r.getAs[String]("node"), r.getAs[String]("metric")) -> r.getAs[Long]("value"))
      .toMap
    assert(nm(("agg", "shuffle_write_bytes")) > 0)
    assert(nm(("scan", "tasks")) > 0)
    assert(nm(("scan", "shuffle_write_bytes")) == 0) // scan-only: no shuffle
    assert(nm.contains(("agg", "disk_spill_bytes"))) // spill columns present
    // the hotspot view ranks the shuffling node above the scan
    val hot = cat.nodeHotspots.collect()
      .map(r => r.getAs[String]("node") -> r).toMap
    assert(hot("agg").getAs[Double]("avg_shuffle_write_bytes") >
      hot("scan").getAs[Double]("avg_shuffle_write_bytes"))
    assert(hot("agg").getAs[Long]("n_runs") == 1L)
  }

  test("health views and volume-drop gate derive from run history") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat5").toString
    val cat = new Catalog(spark, root)
    val cfg = Pipeline.PipelineConfig("ph", Seq(
      Pipeline.NodeConfig("w", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        writePath = Some(s"$root/w_out"))))
    Catalog.runRecorded(spark, cfg, cat, "r1")
    Catalog.runRecorded(spark, cfg, cat, "r2")

    val daily = cat.dailyStats.collect()
    assert(daily.length == 1 && daily(0).getAs[Long]("n_runs") == 2)
    assert(daily(0).getAs[Long]("n_node_failures") == 0)
    val health = cat.pipelineHealth.collect()
    assert(health.length == 1 && health(0).getAs[Double]("success_rate") == 1.0)
    assert(health(0).getAs[Long]("n_runs") == 2)

    // volume gate: 5-row average; 1 row = 80% drop breaches, 4 rows does not
    assert(cat.averageRowsWritten("ph", "w").contains(5.0))
    assert(cat.volumeDropCheck("ph", "w", currentRows = 1).exists(_ > 0.5))
    assert(cat.volumeDropCheck("ph", "w", currentRows = 4).isEmpty)
    assert(cat.volumeDropCheck("ph", "nope", currentRows = 1).isEmpty) // no history
  }

  test("meta_metrics records per-test validation outcomes") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat4").toString
    val cat = new Catalog(spark, root)
    val cfg = Pipeline.PipelineConfig("p5", Seq(
      Pipeline.NodeConfig("v", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))),
        tests = Seq(
          graft.validation.Validation.Test("pk_unique", "unique",
            columns = Seq("r_regionkey")),
          graft.validation.Validation.Test("key_not_null", "not_null",
            columns = Seq("r_regionkey"))))))
    Catalog.runRecorded(spark, cfg, cat, "run-m")
    val metrics = cat.table("meta_metrics").collect()
    assert(metrics.length == 2)
    assert(metrics.forall(_.getAs[Boolean]("passed")))
    assert(metrics.map(_.getAs[String]("test")).toSet ==
      Set("pk_unique", "key_not_null"))
  }

  test("cross-pipeline $pipeline.node input resolves through the catalog") {
    val root = java.nio.file.Files.createTempDirectory("xref").toString
    val cat = new Catalog(spark, root)

    // pipeline A writes a node output and records it
    val bronzeYaml =
      s"""name: bronze
         |catalog_root: $root
         |nodes:
         |  - name: regions
         |    read: { format: parquet, path: /root/testdata/sf0.001/region.parquet }
         |    write: { format: parquet, mode: overwrite, path: $root/out/regions }
         |""".stripMargin
    val bronze = YamlConfig.loadPipeline(bronzeYaml)
    val ra = Catalog.runRecorded(spark, bronze, cat, "run-a")
    assert(ra("regions").failure.isEmpty)

    // pipeline B starts a node from $bronze.regions — resolved via
    // meta_outputs, no read/input dataset provided
    val silverYaml =
      s"""name: silver
         |catalog_root: $root
         |nodes:
         |  - name: top
         |    input: "$$bronze.regions"
         |    steps:
         |      - sql: SELECT r_regionkey, r_name FROM df ORDER BY r_regionkey LIMIT 2
         |""".stripMargin
    val silver = YamlConfig.loadPipeline(silverYaml)
    val rb = Pipeline.run(spark, silver)
    assert(rb("top").failure.isEmpty, rb("top").failure.map(_.toString))
    assert(rb("top").df.count() == 2)

    // same-pipeline $ref prefers the in-run frame over the catalog
    val sameYaml =
      s"""name: bronze
         |catalog_root: $root
         |nodes:
         |  - name: regions
         |    read: { format: parquet, path: /root/testdata/sf0.001/region.parquet }
         |  - name: again
         |    depends_on: [regions]
         |    input: "$$bronze.regions"
         |    steps: [ { sql: "SELECT count(*) AS n FROM df" } ]
         |""".stripMargin
    val rc = Pipeline.run(spark, YamlConfig.loadPipeline(sameYaml))
    assert(rc("again").failure.isEmpty)
    assert(rc("again").df.collect()(0).getAs[Long]("n") == 5L)

    // unresolvable ref fails the node with a clear error
    val badYaml =
      s"""name: silver
         |catalog_root: $root
         |nodes:
         |  - name: broken
         |    input: "$$bronze.no_such_node"
         |    steps: [ { sql: "SELECT * FROM df" } ]
         |""".stripMargin
    val rd = Pipeline.run(spark, YamlConfig.loadPipeline(badYaml))
    assert(rd("broken").failure.exists(_.getMessage.contains("no_such_node")))
  }

  /** Failure messages of the queries `body` planned that failed. */
  private def failedQueries(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.graftshim.ListenerShim
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = ()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = {
        failed.add(s"$funcName: ${exception.getMessage}"); ()
      }
    }
    ListenerShim.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerShim.drain(spark.sparkContext)
      failed.toArray.toSeq.map(_.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a first recorded run on an empty catalog root plans no read that fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_first").toString
    val cfg = threeNodes(dir)
    val cat = new Catalog(spark, s"$dir/_system")
    val failed = failedQueries {
      val results = Catalog.runRecorded(spark, cfg, cat, "run-1")
      assert(results.values.forall(_.failure.isEmpty))
      // every probe of a meta table that a first run has not written
      val fresh = new Catalog(spark, s"$dir/_fresh")
      assert(fresh.latestSchema("r").isEmpty)
      assert(fresh.latestOutputPath("p3", "r").isEmpty)
      assert(fresh.averageRowsWritten("p3", "r").isEmpty)
      assert(fresh.getPipelineHash("p3").isEmpty)
      assert(fresh.state.get("hwm/k").isEmpty)
      assert(!new graft.core.DerivedUpdater(spark, s"$dir/_fresh")
        .isApplied("meta_daily_stats", "run-1"))
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("first runs that merge into their own sink plan no read that fails") {
    import spark.implicits._
    import graft.semantics.Semantics._
    val dir = java.nio.file.Files.createTempDirectory("graft_first_merge").toString
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val failed = failedQueries {
      // a dimension pattern's first run: its sink does not exist yet
      val dim = graft.patterns.PatternRegistry.get("dimension").get.apply(
        graft.core.EngineContext(rows),
        Map("natural_key" -> "id", "surrogate_key" -> "sk"),
        Some(graft.patterns.PatternRegistry.TargetRef(s"$dir/dim")))
      assert(dim.filter("id > 0").count() == 2)
      // a semantic incremental run's first materialization
      val model = SemanticModel(Map("n" -> Metric("n", "count(*)", "t")),
        Map("v" -> Dimension("v", "v")))
      val m = materializeIncremental(spark, model, "n BY v", Map("t" -> rows),
        s"$dir/metrics", grain = Seq("v"), strategies = Map("n" -> "sum"))
      assert(m.count() == 2)
      // a streaming merge's first micro-batch
      graft.streaming.Streaming.mergeBatchIntoTarget(rows, 0L, s"$dir/target",
        Seq("id"), graft.operators.Merge.upsert(_, _, _))
      assert(spark.read.parquet(s"$dir/target").count() == 2)
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
