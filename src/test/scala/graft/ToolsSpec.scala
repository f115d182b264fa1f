package graft

import graft.core.{Catalog, Pipeline}

class ToolsSpec extends SparkSpec {

  import spark.implicits._

  private def captured(body: => Int): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(body)
    (code, out.toString("UTF-8"))
  }

  test("list prints every registry with counts") {
    val (code, out) = captured(Tools.mainExit(Array("list")))
    assert(code == 0)
    assert(out.contains("transformers (") && out.contains("patterns (")
      && out.contains("recipes ("))
    assert(out.contains("weighted_mix_tokens") && out.contains("fact"))
  }

  test("graph renders the DAG as DOT; invalid config exits 1") {
    val dir = java.nio.file.Files.createTempDirectory("tools").toString
    val cfg = s"$dir/p.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""name: g
         |nodes:
         |  - name: a
         |    read: { format: parquet, path: $${IN} }
         |  - name: b
         |    depends_on: [a]
         |    write: { format: parquet, path: $dir/out }
         |""".stripMargin)
    val (code, dot) = captured(Tools.mainExit(Array(
      "graph", cfg, "--set", s"IN=$dir/in")))
    assert(code == 0)
    assert(dot.startsWith("digraph pipeline {"))
    assert(dot.contains("\"g.a\" -> \"g.b\";"))
    assert(dot.contains("peripheries=2")) // sinks doubled
    val bad = s"$dir/bad.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad),
      "name: g\nnodes:\n  - name: a\n    transformer: nope_not_real\n")
    assert(Tools.mainExit(Array("graph", bad)) == 1)
    assert(Tools.mainExit(Array("graph")) == 2)
    assert(Tools.mainExit(Array("nonsense")) == 2)
  }

  test("catalog and lineage read a seeded system catalog") {
    val dir = java.nio.file.Files.createTempDirectory("toolscat").toString
    Seq((1, "x")).toDF("id", "v").write.parquet(s"$dir/in")
    val cfg = Pipeline.PipelineConfig("toolp", Seq(
      Pipeline.NodeConfig("src",
        read = Some(graft.sources.Sources.ReadConfig("parquet", Some(s"$dir/in")))),
      Pipeline.NodeConfig("derived", dependsOn = Seq("src"),
        steps = Seq(Pipeline.TransformStep(sql = Some("SELECT id, upper(v) AS vv FROM df"))))))
    Catalog.runRecorded(spark, cfg, new Catalog(spark, s"$dir/_system"), "r1")

    val (cc, rows) = captured(Tools.mainExit(Array(
      "catalog", s"$dir/_system", "meta_runs", "--pipeline", "toolp")))
    assert(cc == 0)
    assert(rows.linesIterator.size == 2 && rows.contains("\"node\":"))

    val (lc, edges) = captured(Tools.mainExit(Array(
      "lineage", s"$dir/_system", "--node", "derived")))
    assert(lc == 0)
    assert(edges.contains("toolp: src -> derived"))
    assert(edges.contains("=> vv")) // column lineage detail with --node

    // unknown table / empty lineage are clean exit-1 failures
    assert(Tools.mainExit(Array("catalog", s"$dir/_system", "meta_nope")) == 1)
    assert(Tools.mainExit(Array("lineage", s"$dir/empty")) == 1)

    // --tables lists the full registry (15+), run-split tables included
    val (tc, treg) = captured(Tools.mainExit(Array(
      "catalog", s"$dir/_system", "--tables")))
    assert(tc == 0)
    assert(treg.linesIterator.size >= 15)
    assert(treg.contains("meta_pipeline_runs") && treg.contains("meta_node_runs")
      && treg.contains("meta_observability_errors"))
    // derived views dump through the same verb as stored tables
    val (hc, health) = captured(Tools.mainExit(Array(
      "catalog", s"$dir/_system", "meta_pipeline_health")))
    assert(hc == 0 && health.contains("\"success_rate\""))
  }

  test("deploy registers pipelines + nodes into the catalog and reports drift") {
    val dir = java.nio.file.Files.createTempDirectory("toolsdep").toString
    Seq((1, "x")).toDF("id", "v").write.parquet(s"$dir/in")
    val cfg = s"$dir/p.yaml"
    def writeCfg(extraNode: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
        s"""name: dep
           |catalog_root: $dir/_system
           |nodes:
           |  - name: src
           |    read: { format: parquet, path: $dir/in }$extraNode
           |""".stripMargin)
    writeCfg("")
    val (c1, out1) = captured(Tools.mainExit(Array("deploy", cfg)))
    assert(c1 == 0)
    assert(out1.contains("deploying 1 pipelines, 1 nodes")
      && out1.contains("registered dep (1 nodes)")
      && out1.contains("deployment complete"))
    val cat = new Catalog(spark, s"$dir/_system")
    assert(cat.table("meta_pipelines").filter("pipeline = 'dep'").count() == 1)
    assert(cat.table("meta_nodes").filter("node = 'src'").count() == 1)
    // re-deploy a CHANGED config: drift is reported, new version registered
    writeCfg(
      """
        |  - name: derived
        |    depends_on: [src]
        |    steps: [{ sql: "SELECT id FROM df" }]""".stripMargin)
    val (c2, out2) = captured(Tools.mainExit(Array("deploy", cfg)))
    assert(c2 == 0 && out2.contains("drifted from deployed version"))
    assert(cat.table("meta_pipelines").filter("pipeline = 'dep'").count() == 2)
    assert(cat.table("meta_nodes").filter("node = 'derived'").count() == 1)
    // no catalog_root → clean exit 1; missing file → 2
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/nocat.yaml"),
      s"""name: nc
         |nodes:
         |  - name: s
         |    read: { format: parquet, path: $dir/in }
         |""".stripMargin)
    assert(Tools.mainExit(Array("deploy", s"$dir/nocat.yaml")) == 1)
    assert(Tools.mainExit(Array("deploy", s"$dir/nope.yaml")) == 2)
  }

  test("export renders the star_schema DAG as an Airflow module") {
    val dir = java.nio.file.Files.createTempDirectory("toolsexp").toString
    val out = s"$dir/star_dag.py"
    val (code, _) = captured(Tools.mainExit(Array(
      "export", "examples/star_schema/project.yaml",
      "--target", "airflow", "--out", out, "--set", s"OUT=$dir/o")))
    assert(code == 0)
    val py = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    // module shape: DAG + one BashOperator per node, edges via >>
    assert(py.contains("from airflow import DAG"))
    assert(py.contains("'graft_star_schema_demo'"))
    Seq("bronze_customers", "bronze_orders", "dim_customer", "dim_date",
        "fact_orders", "monthly_metrics").foreach { n =>
      assert(py.contains(s"task_id='$n'"), n)
      assert(py.contains(s"--select $n "), n)
    }
    assert(py.contains("[bronze_customers] >> dim_customer"))
    assert(py.contains("[dim_customer, dim_date, bronze_orders] >> fact_orders")
      || py.contains(">> fact_orders"))
    // the run command points at the ABSOLUTE config path and re-applies
    // the export-time --set substitutions on the worker
    assert(py.contains("graft.Run /") && py.contains("project.yaml --select"))
    assert(py.contains(s"--set OUT=$dir/o"))
  }

  test("export renders the whole project as Dagster definitions") {
    val dir = java.nio.file.Files.createTempDirectory("toolsexp2").toString
    val out = s"$dir/defs.py"
    val (code, _) = captured(Tools.mainExit(Array(
      "export", "examples/star_schema/project.yaml",
      "--target", "dagster", "--out", out, "--set", s"OUT=$dir/o")))
    assert(code == 0)
    val py = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(py.contains("from dagster import AssetExecutionContext, Definitions, asset"))
    assert(py.contains("name='fact_orders'"))
    assert(py.contains("deps=['dim_customer', 'dim_date', 'bronze_orders']")
      || py.contains("deps=["))
    assert(py.contains("group_name='star_schema_demo'"))
    assert(py.contains("defs = Definitions(assets=["))
    // every node's asset appears exactly once in the Definitions list
    assert("_asset_fact_orders".r.findAllIn(py).size >= 2) // def + list
  }

  test("schema history/diff collapse append-per-run snapshots into versions") {
    val dir = java.nio.file.Files.createTempDirectory("toolsschema").toString
    val cat = new Catalog(spark, s"$dir/_system")
    val v1 = Seq((1, "a")).toDF("id", "v")
    // two identical snapshots -> ONE version; then a change -> v2
    cat.recordSchema("sp", Seq("tbl" -> v1))
    cat.recordSchema("sp", Seq("tbl" -> v1))
    Thread.sleep(5) // recorded_at must order v1 before v2
    val v2 = Seq((1L, "a", true)).toDF("id", "v", "flag")
    cat.recordSchema("sp", Seq("tbl" -> v2))

    val (hc, hist) = captured(Tools.mainExit(Array(
      "schema", s"$dir/_system", "history", "tbl", "--pipeline", "sp")))
    assert(hc == 0)
    assert(hist.contains("2 versions"))
    assert(hist.contains("initial schema (2 columns)"))
    assert(hist.contains("+flag") && hist.contains("~id"))

    val (dc, diff) = captured(Tools.mainExit(Array(
      "schema", s"$dir/_system", "diff", "tbl")))
    assert(dc == 0)
    assert(diff.contains("v1 -> v2"))
    assert(diff.contains("+ flag BOOLEAN"))
    assert(diff.contains("~ id INT -> BIGINT"))
    assert(diff.contains("  v STRING"))

    // explicit versions; out-of-range exits 1
    assert(Tools.mainExit(Array(
      "schema", s"$dir/_system", "diff", "tbl", "--from", "1", "--to", "2")) == 0)
    assert(Tools.mainExit(Array(
      "schema", s"$dir/_system", "diff", "tbl", "--from", "1", "--to", "9")) == 1)
    // unknown node exits 1
    assert(Tools.mainExit(Array(
      "schema", s"$dir/_system", "history", "nope")) == 1)
    assert(Tools.mainExit(Array("schema", s"$dir/_system", "history")) == 2)
  }

  test("schema drift compares the latest recorded schema to the live sink") {
    val dir = java.nio.file.Files.createTempDirectory("toolsdrift").toString
    val cat = new Catalog(spark, s"$dir/_system")
    val frame = Seq((1, "a")).toDF("id", "v")
    frame.write.parquet(s"$dir/sink")
    cat.recordSchema("dp", Seq("tbl" -> frame))
    cat.recordOutputs("dp", "r1", Seq(("tbl", s"$dir/sink", 1L)))

    // clean: live sink matches the recorded schema
    val (c0, clean) = captured(Tools.mainExit(Array(
      "schema", s"$dir/_system", "drift", "tbl")))
    assert(c0 == 0)
    assert(clean.contains("matches recorded v1"))

    // drift: the sink gains a column and retypes one behind the catalog's back
    Seq((1L, "a", 0.5)).toDF("id", "v", "score")
      .write.mode("overwrite").parquet(s"$dir/sink")
    val (c1, drift) = captured(Tools.mainExit(Array(
      "schema", s"$dir/_system", "drift", "tbl")))
    assert(c1 == 1)
    assert(drift.contains("DRIFT"))
    assert(drift.contains("+ score DOUBLE"))
    assert(drift.contains("~ id INT -> BIGINT"))
  }

  test("story prints the run summary from a recorded --story directory") {
    val out = java.nio.file.Files.createTempDirectory("toolsstory").toString
    assert(Run.mainExit(Array(
      "examples/star_schema/project.yaml",
      "--set", s"OUT=$out", "--story", s"$out/story")) == 0)
    val runId = {
      val json = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$out/story/star_schema_demo_story.json"))
      "\"run_id\": \"([^\"]+)\"".r.findFirstMatchIn(json).get.group(1)
    }

    val (code, text) = captured(Tools.mainExit(Array("story", s"$out/story")))
    assert(code == 0)
    assert(text.contains("Pipeline: star_schema_demo"))
    assert(text.contains(runId))
    assert(text.contains("0 failed"))
    Seq("bronze_customers", "fact_orders", "monthly_metrics").foreach(n =>
      assert(text.contains(n), s"node $n missing from summary"))
    assert(text.contains("success"))
    // points at the rendered HTML artifacts
    assert(text.contains("star_schema_demo_story.html"))
    assert(text.contains("star_schema_demo_runs.html"))

    // --run filters; an unknown run id lists what exists
    assert(Tools.mainExit(Array(
      "story", s"$out/story", "--run", runId)) == 0)
    val (bad, _) = captured(Tools.mainExit(Array(
      "story", s"$out/story", "--run", "nope")))
    assert(bad == 1)
    // empty / wrong directories fail cleanly
    val empty = java.nio.file.Files.createTempDirectory("emptystory").toString
    assert(Tools.mainExit(Array("story", empty)) == 1)
    assert(Tools.mainExit(Array("story", s"$empty/missing")) == 1)
  }

  test("secrets init writes a template; validate resolves set/env/.env") {
    val dir = java.nio.file.Files.createTempDirectory("toolssec").toString
    val cfg = s"$dir/p.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""name: g
         |connections:
         |  lake: { kind: file, base_path: $${OUT} }
         |  db: { kind: jdbc, base: $${env:DB_URL}, options: { password: $${DB_PASS} } }
         |nodes:
         |  - name: a
         |    read: { format: parquet, path: $${OUT}/in }
         |""".stripMargin)

    val (ic, itext) = captured(Tools.mainExit(Array("secrets", "init", cfg)))
    assert(ic == 0)
    assert(itext.contains("3 variables"))
    val tpl = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/.env.template"))
    assert(tpl.contains("DB_PASS=") && tpl.contains("DB_URL=") && tpl.contains("OUT="))
    // refuses to clobber without --force
    assert(Tools.mainExit(Array("secrets", "init", cfg)) == 1)
    assert(Tools.mainExit(Array("secrets", "init", cfg, "--force")) == 0)

    // nothing resolvable yet -> all three missing, exit 1
    assert(Tools.mainExit(Array("secrets", "validate", cfg)) == 1)
    // --set covers one, a .env beside the config covers the rest
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/.env"),
      "# local secrets\nexport DB_URL=jdbc:postgresql://h/db\nDB_PASS='s3cr3t'\n")
    val (vc, vtext) = captured(Tools.mainExit(Array(
      "secrets", "validate", cfg, "--set", "OUT=/tmp/x")))
    assert(vc == 0, vtext)
    assert(vtext.contains("all 3 placeholders"))
    // usage errors
    assert(Tools.mainExit(Array("secrets", "validate", "/nope.yaml")) == 2)
    assert(Tools.mainExit(Array("secrets", "init")) == 2)
  }

  test("graph resolves placeholders from a .env beside the config") {
    val dir = java.nio.file.Files.createTempDirectory("toolsenv").toString
    val cfg = s"$dir/p.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""name: g
         |nodes:
         |  - name: a
         |    read: { format: parquet, path: $${IN_DIR} }
         |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/.env"),
      s"IN_DIR=$dir/in\n")
    val (code, dot) = captured(Tools.mainExit(Array("graph", cfg)))
    assert(code == 0, dot)
    assert(dot.contains("\"g.a\""))
  }

  test("export usage and failure modes") {
    val dir = java.nio.file.Files.createTempDirectory("toolsexp3").toString
    // missing required flags
    assert(Tools.mainExit(Array("export", "examples/star_schema/project.yaml")) == 2)
    assert(Tools.mainExit(Array(
      "export", "x.yaml", "--target", "flink", "--out", s"$dir/o.py")) == 2)
    assert(Tools.mainExit(Array(
      "export", "/nope.yaml", "--target", "airflow", "--out", s"$dir/o.py")) == 2)
    // unknown pipeline name exits 1
    assert(Tools.mainExit(Array(
      "export", "examples/star_schema/project.yaml", "--target", "airflow",
      "--pipeline", "nope", "--out", s"$dir/o.py", "--set", s"OUT=$dir/o")) == 1)
    // invalid config -> planner diagnostics, exit 1
    val bad = s"$dir/bad.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad),
      "name: g\nnodes:\n  - name: a\n    transformer: nope_not_real\n")
    assert(Tools.mainExit(Array(
      "export", bad, "--target", "dagster", "--out", s"$dir/o.py")) == 1)
  }

  test("docs regenerates the three reference files from the live registries") {
    val dir = java.nio.file.Files.createTempDirectory("docsverb").toString
    val (code, out) = captured(Tools.mainExit(Array("docs", "--out", dir)))
    assert(code == 0 && out.contains("operators.md"))
    val ops = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/operators.md"))
    // the generated reference reflects the registry, including this
    // session's additions — regeneration cannot drift
    Seq("semantic_dedup", "remove_repeated_spans", "crossdoc_ngrams")
      .foreach(n => assert(ops.contains(s"`$n`"), s"$n missing"))
    assert(java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/graft.schema.json")) > 1000)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/yaml_schema.md")).contains("read block"))
    assert(Tools.mainExit(Array("docs", "--bogus")) == 2)
  }

  test("index info reports kind, params and component stats") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // bloom index
    val bdir = java.nio.file.Files.createTempDirectory("idx_bloom").toString
    val fps = Seq(1L, 2L, 3L).toDF("fingerprint")
    graft.operators.BloomIndex.save(spark,
      graft.operators.BloomIndex.build(fps, "fingerprint", 1000, 0.01),
      bdir, 1000, 0.01)
    val (c1, o1) = captured(Tools.mainExit(Array("index", "info", bdir)))
    assert(c1 == 0 && o1.contains("kind=bloom") &&
      o1.contains("expected_items") && o1.contains("bloom.bin"), o1)
    // minhash index
    val mdir = java.nio.file.Files.createTempDirectory("idx_mh").toString
    graft.operators.MinHashIndex.build(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", mdir)
    val (c2, o2) = captured(Tools.mainExit(Array("index", "info", mdir)))
    assert(c2 == 0 && o2.contains("kind=minhash") && o2.contains("bands"), o2)
    // failure modes
    assert(Tools.mainExit(Array("index", "info", "/no/such/place")) == 2)
    val empty = java.nio.file.Files.createTempDirectory("idx_empty").toString
    assert(Tools.mainExit(Array("index", "info", empty)) == 1)
    assert(Tools.mainExit(Array("index")) == 2)
  }

  test("stats verb prints per-file footer stats and the skipping audit") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("statsverb").toString + "/t"
    spark.range(1000).select(col("id"))
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.parquet(root)
    val (code, out) = captured(Tools.mainExit(
      Array("stats", root, "--columns", "id")))
    assert(code == 0 && out.contains("rows=") && out.contains("id=[") &&
      out.contains("overlap[id] = 0.000"), out)
    assert(Tools.mainExit(Array("stats")) == 2)
  }

  test("compact and expire verbs drive the maintenance APIs") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("maintverb").toString
    spark.range(500).repartition(5).write.parquet(s"$base/t")
    val (c1, o1) = captured(Tools.mainExit(Array("compact", s"$base/t")))
    assert(c1 == 0 && o1.contains("5 files -> 1"), o1)
    spark.range(10).selectExpr("id", "'2026-01-01' AS dt")
      .write.partitionBy("dt").parquet(s"$base/p")
    val (c2, o2) = captured(Tools.mainExit(
      Array("expire", s"$base/p", "--column", "dt", "--before", "2027-01-01", "--dry-run")))
    assert(c2 == 0 && o2.contains("would delete 1"), o2)
    assert(Tools.mainExit(Array("expire", s"$base/p", "--column", "dt")) == 2)
    assert(Tools.mainExit(Array("compact", s"$base/t", "--bogus", "1")) == 2)
  }
  test("delta/iceberg skip-report print kept vs skipped file counts") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("tools_skip").toString
    val droot = s"$dir/d"
    graft.sources.DeltaWriter.write(
      (0 until 100).toDF("k").repartitionByRange(4, col("k")), droot)
    val (dc, dout) = captured(Tools.mainExit(Array(
      "delta", "skip-report", droot, "k >= 75")))
    assert(dc == 0 && dout.contains("files: 1/4 kept (3 skipped)"), dout)
    val iroot = s"$dir/i"
    graft.sources.IcebergSource.write(
      (0L until 100L).toDF("k").repartitionByRange(4, col("k")), iroot)
    val (ic, iout) = captured(Tools.mainExit(Array(
      "iceberg", "skip-report", iroot, "k >= 75")))
    assert(ic == 0 && iout.contains("files: 1/4 kept (3 skipped)"), iout)
  }

}
