package graft

import java.io.{PipedInputStream, PipedOutputStream, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.Catalog
import graft.mcp.McpServer

/**
 * Drives the MCP introspection server OVER THE WIRE: a real serve() loop
 * on piped stdio streams, newline-delimited JSON-RPC both ways, against a
 * catalog recorded through the public Catalog API — the full path an MCP
 * client (Claude Desktop, Cline, Cursor) exercises against
 * `java ... graft.mcp.McpServer --catalog <root>`.
 */
class McpServerSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** A live server on pipes: send(req) -> response node. */
  private class Wire(catalogRoot: Option[String]) {
    private val toServer = new PipedOutputStream()
    private val serverIn = new PipedInputStream(toServer, 1 << 16)
    private val fromServer = new PipedInputStream(1 << 20)
    private val serverOut = new PipedOutputStream(fromServer)
    private val writer = new PrintWriter(toServer, true)
    private val responses = new LinkedBlockingQueue[JsonNode]()
    private val server = new Thread(() =>
      McpServer.serve(serverIn, serverOut,
        McpServer.Ctx(catalogRoot, () => spark)))
    private val pump = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(fromServer, StandardCharsets.UTF_8))
      var line = r.readLine()
      while (line != null) {
        responses.put(mapper.readTree(line))
        line = r.readLine()
      }
    })
    server.setDaemon(true); pump.setDaemon(true)
    server.start(); pump.start()

    def notifyRaw(json: String): Unit = writer.println(json)
    /** The next response: waits while the server and the pump threads
      * live, however slow a loaded box makes them. The cap only turns a
      * hung server into a failure instead of a hung suite. */
    def send(json: String): JsonNode = {
      writer.println(json)
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(10)
      var r: JsonNode = null
      while (r == null && server.isAlive && pump.isAlive && System.nanoTime() < deadline)
        r = responses.poll(100, TimeUnit.MILLISECONDS)
      if (r == null) r = responses.poll() // written just before a thread ended
      assert(r != null, s"no response (server alive: ${server.isAlive}) for: $json")
      r
    }
    /** True when the server wrote nothing since the last response: the
      * serve loop answers in order, so the reply to a ping sent now
      * must be the next thing on the wire. */
    def idle(): Boolean = {
      val r = send("""{"jsonrpc":"2.0","id":"idle-barrier","method":"ping"}""")
      r.path("id").asText() == "idle-barrier"
    }
    def close(): Unit = { toServer.close(); server.join(5000) }
  }

  private def callTool(w: Wire, id: Int, tool: String, args: String = "{}"): JsonNode = {
    val resp = w.send(
      s"""{"jsonrpc":"2.0","id":$id,"method":"tools/call","params":{"name":"$tool","arguments":$args}}""")
    assert(resp.get("id").asInt() == id)
    resp
  }

  private def toolText(resp: JsonNode): String = {
    val result = resp.get("result")
    assert(result != null, s"expected result, got: $resp")
    assert(!result.get("isError").asBoolean(), s"tool errored: $resp")
    result.get("content").get(0).get("text").asText()
  }

  test("full MCP session over stdio: handshake, tools, catalog, lineage") {
    // record a catalog through the public API first
    val root = Files.createTempDirectory("mcp_catalog").toString + "/_system"
    val cat = new Catalog(spark, root)
    cat.recordRun("sales", "run_1", Seq(
      ("bronze", true, 1200L, ""), ("silver", true, 800L, ""),
      ("gold", false, 50L, "boom")))
    cat.recordLineage("sales", "run_1",
      Seq(("silver", "bronze"), ("gold", "silver"), ("gold", "dim_date")))
    cat.recordOutputs("sales", "run_1", Seq(("gold", "/out/gold", 42L)))
    cat.recordLineage("other", "run_9", Seq(("x", "y"))) // must be filtered out

    val w = new Wire(Some(root))
    try {
      // -- initialize handshake
      val init = w.send(
        """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2025-06-18","capabilities":{},"clientInfo":{"name":"spec"}}}""")
      assert(init.get("result").get("protocolVersion").asText() == McpServer.ProtocolVersion)
      assert(init.get("result").get("serverInfo").get("name").asText() == "graft-mcp")
      assert(init.get("result").get("capabilities").has("tools"))

      // notifications produce NO wire output
      w.notifyRaw("""{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      assert(w.idle(), "server responded to a notification")

      // -- tools/list: all six structured tools with object schemas
      val tools = w.send("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
        .get("result").get("tools")
      val names = (0 until tools.size()).map(tools.get(_).get("name").asText())
      assert(names.sorted == Seq("build_node", "catalog", "diagnose_run",
        "diff_config", "explain", "get_schema", "lineage",
        "list_transformers", "node_failures", "node_sample",
        "table_report", "validate_yaml"))
      (0 until tools.size()).foreach { i =>
        assert(tools.get(i).get("inputSchema").get("type").asText() == "object")
      }

      // -- list_transformers: full inventory + category filter
      val inv = mapper.readTree(toolText(callTool(w, 3, "list_transformers")))
      val tnames = (0 until inv.get("transformers").size())
        .map(inv.get("transformers").get(_).asText())
      assert(tnames.contains("filter_rows") && tnames.contains("scd2"))
      val onlyPatterns = mapper.readTree(toolText(callTool(w, 4,
        "list_transformers", """{"category":"patterns"}""")))
      assert(onlyPatterns.has("patterns") && !onlyPatterns.has("transformers"))

      // -- explain: a known transformer and an unknown name
      val ex = mapper.readTree(toolText(callTool(w, 5, "explain",
        """{"name":"filter_rows"}""")))
      assert(ex.get("found").asBoolean())
      assert(ex.get("kinds").toString.contains("transformer"))
      assert(ex.get("usage").asText().contains("filter_rows"))
      val miss = mapper.readTree(toolText(callTool(w, 6, "explain",
        """{"name":"no_such_thing"}""")))
      assert(!miss.get("found").asBoolean())

      // -- get_schema: yaml text + templates json
      assert(toolText(callTool(w, 7, "get_schema")).contains("## "))
      val templates = mapper.readTree(toolText(callTool(w, 8, "get_schema",
        """{"format":"templates"}""")))
      assert(templates.has("pipeline") && templates.has("project"))

      // -- validate_yaml: valid and invalid configs through the planner
      val okYaml = mapper.writeValueAsString(
        "name: p\nnodes:\n  - name: a\n    read: { format: parquet, path: /tmp/x }\n")
      val ok = mapper.readTree(toolText(callTool(w, 9, "validate_yaml",
        s"""{"yaml":$okYaml}""")))
      assert(ok.get("valid").asBoolean(), s"expected valid: $ok")
      val badYaml = mapper.writeValueAsString(
        "name: p\nnodes:\n  - name: a\n    steps:\n      - function: not_a_real_fn\n")
      val bad = mapper.readTree(toolText(callTool(w, 10, "validate_yaml",
        s"""{"yaml":$badYaml}""")))
      assert(!bad.get("valid").asBoolean(), s"expected invalid: $bad")

      // -- catalog: recorded runs come back; pipeline filter applies
      val runs = mapper.readTree(toolText(callTool(w, 11, "catalog",
        """{"section":"runs","pipeline":"sales"}""")))
      assert(runs.size() == 3, s"runs: $runs")
      val gold = (0 until runs.size()).map(runs.get)
        .find(_.get("node").asText() == "gold").get
      assert(!gold.get("success").asBoolean() && gold.get("error").asText() == "boom")
      val outputs = mapper.readTree(toolText(callTool(w, 12, "catalog",
        """{"section":"outputs","pipeline":"sales"}""")))
      assert(outputs.size() == 1 && outputs.get(0).get("rows_written").asLong() == 42L)

      // -- lineage: exactly the recorded edges for THIS pipeline, ordered
      val lin = mapper.readTree(toolText(callTool(w, 13, "lineage",
        """{"pipeline":"sales"}""")))
      val edges = (0 until lin.get("edges").size()).map { i =>
        val e = lin.get("edges").get(i)
        (e.get("node").asText(), e.get("input").asText())
      }
      assert(edges == Seq(("gold", "dim_date"), ("gold", "silver"),
        ("silver", "bronze")))

      // -- node_sample: rows from the latest recorded sink output
      val outPath = Files.createTempDirectory("mcp_out").toString + "/gold"
      spark.range(5).selectExpr("id", "id * 2 AS doubled")
        .write.parquet(outPath)
      cat.recordOutputs("sales", "run_2", Seq(("gold", outPath, 5L)))
      val sample = mapper.readTree(toolText(callTool(w, 20, "node_sample",
        """{"pipeline":"sales","node":"gold","limit":3}""")))
      assert(sample.size() == 3 && sample.get(0).has("doubled"), s"$sample")
      // unknown node -> in-band isError, not a crash
      val noOut = callTool(w, 21, "node_sample",
        """{"pipeline":"sales","node":"nope"}""")
      assert(noOut.get("result").get("isError").asBoolean())

      // -- node_failures: recorded error rows, node filter applies
      cat.recordFailures("sales", "run_1",
        Seq(("gold", "ValidationError", "fk orphans"),
          ("silver", "IOError", "path missing")))
      val fails = mapper.readTree(toolText(callTool(w, 22, "node_failures",
        """{"pipeline":"sales","node":"gold"}""")))
      assert(fails.size() == 1 &&
        fails.get(0).get("error_class").asText() == "ValidationError", s"$fails")

      // -- protocol errors: unknown method, unknown tool, bad args, ping
      val nomethod = w.send("""{"jsonrpc":"2.0","id":14,"method":"bogus/method"}""")
      assert(nomethod.get("error").get("code").asInt() == -32601)
      val notool = w.send(
        """{"jsonrpc":"2.0","id":15,"method":"tools/call","params":{"name":"nope"}}""")
      assert(notool.get("error").get("code").asInt() == -32602)
      val noargs = w.send(
        """{"jsonrpc":"2.0","id":16,"method":"tools/call","params":{"name":"explain","arguments":{}}}""")
      assert(noargs.get("error").get("code").asInt() == -32602)
      val ping = w.send("""{"jsonrpc":"2.0","id":17,"method":"ping"}""")
      assert(ping.has("result"))
      val torn = w.send("""{"jsonrpc":"2.0","id":18,"met""")
      assert(torn.get("error").get("code").asInt() == -32700)
    } finally w.close()
  }

  test("builder/diagnose tools: build_node round-trips the planner, " +
    "diagnose_run attaches suggestions, diff_config reports drift") {
    import graft.core.YamlConfig
    val root = Files.createTempDirectory("mcp_builder").toString + "/_system"
    val cat = new Catalog(spark, root)
    val w = new Wire(Some(root))
    try {
      // -- build_node: function step with params, validated by the planner
      val built = mapper.readTree(toolText(callTool(w, 30, "build_node",
        """{"transformer":"filter_rows","name":"clean","input":"bronze",
          |"params":{"condition":"id IS NOT NULL"},
          |"write":{"format":"parquet","mode":"overwrite","path":"/data/out"}}"""
          .stripMargin.replaceAll("\n", ""))))
      assert(built.get("found").asBoolean(), s"$built")
      val nodeYaml = built.get("node_yaml").asText()
      assert(nodeYaml.contains("function: filter_rows"))
      assert(nodeYaml.contains("id IS NOT NULL"))
      assert(built.get("validation").get("valid").asBoolean(),
        s"planner rejected the generated YAML: $built")
      // a PATTERN name renders as transformer:, and still validates
      val pat = mapper.readTree(toolText(callTool(w, 31, "build_node",
        """{"transformer":"dimension","params":{"keys":["id"],"surrogate_key":"sk"}}""")))
      assert(pat.get("node_yaml").asText().contains("transformer: dimension"))
      assert(pat.get("validation").get("valid").asBoolean(), s"$pat")
      // an unknown name returns did_you_mean, not a crash
      val nope = mapper.readTree(toolText(callTool(w, 32, "build_node",
        """{"transformer":"filtr_rows"}""")))
      assert(!nope.get("found").asBoolean() &&
        nope.get("did_you_mean").size() > 0, s"$nope")

      // -- diagnose_run: latest run by default, suggestions attached
      cat.recordRun("etl", "r1", Seq(("a", true, 10L, ""),
        ("b", false, 5L, "cannot resolve 'colx'")))
      cat.recordFailures("etl", "r1", Seq(
        ("b", "AnalysisException",
          "[UNRESOLVED_COLUMN] A column or function parameter with name `colx` cannot be resolved")))
      val diag = mapper.readTree(toolText(callTool(w, 33, "diagnose_run",
        """{"pipeline":"etl"}""")))
      assert(diag.get("run_id").asText() == "r1")
      assert(diag.get("status").asText() == "issues_found")
      val fail = diag.get("failures").get(0)
      assert(fail.get("node").asText() == "b")
      assert(fail.get("suggestions").size() > 0,
        s"no suggestions for an unresolved-column failure: $diag")

      // -- diff_config: never_deployed -> clean -> drift with node lists
      val v1 =
        """name: etl
          |nodes:
          |  - name: a
          |    read: { format: parquet, path: /data/in }
          |  - name: b
          |    depends_on: [a]
          |    input: a
          |    steps: [ { function: filter_rows, params: { condition: "1=1" } } ]
          |""".stripMargin
      val never = mapper.readTree(toolText(callTool(w, 34, "diff_config",
        s"""{"yaml":${mapper.writeValueAsString(v1)}}""")))
      assert(never.get("status").asText() == "never_deployed")
      cat.registerPipeline(YamlConfig.loadPipeline(v1))
      val clean = mapper.readTree(toolText(callTool(w, 35, "diff_config",
        s"""{"yaml":${mapper.writeValueAsString(v1)}}""")))
      assert(clean.get("status").asText() == "clean", s"$clean")
      assert(clean.get("changed_nodes").size() == 0)
      val v2 = v1.replace("1=1", "id > 0") +
        "  - name: c\n    read: { format: parquet, path: /data/more }\n"
      val drift = mapper.readTree(toolText(callTool(w, 36, "diff_config",
        s"""{"yaml":${mapper.writeValueAsString(v2)}}""")))
      assert(drift.get("status").asText() == "drift", s"$drift")
      assert(drift.get("changed_nodes").get(0).asText() == "b")
      assert(drift.get("added_nodes").get(0).asText() == "c")
      assert(drift.get("removed_nodes").size() == 0)
    } finally w.close()
  }

  test("table_report inspects delta/iceberg tables and skipping effect") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("mcp_table").toString
    graft.sources.DeltaWriter.write(
      (0 until 100).toDF("k").repartitionByRange(4, col("k")), s"$dir/d")
    graft.sources.IcebergSource.write(
      (0L until 100L).toDF("k").repartitionByRange(4, col("k")), s"$dir/i")
    val w = new Wire(None)
    try {
      val d = mapper.readTree(toolText(callTool(w, 60, "table_report",
        s"""{"path":"$dir/d","predicate":"k >= 75"}""")))
      assert(d.get("files").asInt == 4 && d.get("version").asLong == 0L, s"$d")
      assert(d.get("rows").asLong == 100)
      assert(d.get("skipping").get("kept").asInt == 1 &&
        d.get("skipping").get("skipped").asInt == 3, s"$d")
      val i = mapper.readTree(toolText(callTool(w, 61, "table_report",
        s"""{"path":"$dir/i","format":"iceberg","predicate":"k >= 75"}""")))
      assert(i.get("snapshots").asInt == 1, s"$i")
      assert(i.get("skipping").get("kept").asInt == 1, s"$i")
    } finally w.close()
  }

  test("registry-only tools work with NO catalog configured") {
    val w = new Wire(None)
    try {
      val inv = mapper.readTree(toolText(callTool(w, 1, "list_transformers")))
      assert(inv.get("transformers").size() >= 59,
        "all reference registry names must be listed")
      // catalog-backed tool fails IN-BAND (isError content), not a crash
      val resp = callTool(w, 2, "catalog", """{"section":"runs"}""")
      val result = resp.get("result")
      assert(result.get("isError").asBoolean(), s"expected isError: $resp")
      assert(result.get("content").get(0).get("text").asText()
        .contains("no catalog root"))
      // and the server keeps serving afterwards
      assert(toolText(callTool(w, 3, "get_schema")).nonEmpty)
    } finally w.close()
  }
}
