package graft.mcp

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.core.{Catalog, Introspect, Planner, Recipes, StandardTransformers, TransformerRegistry}

/**
 * MCP-style introspection server (reference: odibi_mcp/mcp_server.py —
 * FastMCP stdio server over the knowledge dispatcher; odibi_mcp/__init__.py:1-9
 * lists the structured tools: list_transformers, list_patterns, explain).
 *
 * Protocol: JSON-RPC 2.0 over stdio, one message per line (the Model
 * Context Protocol stdio transport — messages are newline-delimited and
 * must not contain embedded newlines). Implemented methods:
 *
 *   initialize / notifications/initialized / ping
 *   tools/list   -> the 6 structured tools with JSON-Schema inputs
 *   tools/call   -> dispatch; results as `content: [{type: "text"}]`
 *
 * Tools (all deterministic reads — the reference's "structured" tool
 * class; its RAG tools need an embedding service this library does not
 * assume):
 *
 *   list_transformers  registry inventory (transformers/patterns/recipes/plugins)
 *   explain            one name: kind(s), YAML stub, recipe contract
 *   get_schema         generated YAML/JSON schema reference or node templates
 *   validate_yaml      planner dry-run -> PlanningResponse JSON (no Spark)
 *   catalog            recorded meta_* tables: runs/health/hotspots/tables/outputs
 *   lineage            recorded node + column lineage edges for a pipeline
 *   node_sample        rows from a node's latest recorded sink output
 *   node_failures      recorded error class/message rows per run
 *
 * `catalog`/`lineage` read the parquet system catalog under `--catalog
 * <root>` (or GRAFT_CATALOG) through a lazily-created local SparkSession —
 * the server starts instantly and pays the Spark cost only when a
 * catalog-backed tool is first called. Everything else is registry/
 * planner-driven and needs no Spark at all.
 */
object McpServer {

  private val mapper = new ObjectMapper()
  val ProtocolVersion = "2025-06-18"

  /** Server context: where the recorded catalog lives + how to get Spark. */
  final case class Ctx(catalogRoot: Option[String],
                       sparkFactory: () => SparkSession) {
    // lazy: registry-only tools must not start Spark
    lazy val spark: SparkSession = sparkFactory()
    lazy val catalog: Catalog = new Catalog(spark,
      catalogRoot.getOrElse(throw new IllegalStateException(
        "no catalog root configured — start the server with --catalog <root> " +
          "or set GRAFT_CATALOG")))
  }

  def main(args: Array[String]): Unit = {
    val root = args.sliding(2).collectFirst {
      case Array("--catalog", r) => r
    }.orElse(sys.env.get("GRAFT_CATALOG"))
    val ctx = Ctx(root, () => {
      val s = SparkSession.builder()
        .appName("graft-mcp")
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[2]"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR") // stdout is the JSON-RPC channel
      s
    })
    serve(System.in, System.out, ctx)
  }

  /** Blocking serve loop: one JSON-RPC message per line until EOF. */
  def serve(in: InputStream, out: OutputStream, ctx: Ctx): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    val writer = new PrintWriter(out, true)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val response: Option[JsonNode] =
          try handle(mapper.readTree(line), ctx)
          catch {
            case _: com.fasterxml.jackson.core.JacksonException =>
              Some(errorResponse(null, -32700, "parse error: invalid JSON"))
          }
        response.foreach { r =>
          writer.println(mapper.writeValueAsString(r))
        }
      }
      line = reader.readLine()
    }
  }

  /** Handle one message; None for notifications (no response on the wire). */
  def handle(req: JsonNode, ctx: Ctx): Option[JsonNode] = {
    val id = req.get("id")
    val method = Option(req.get("method")).map(_.asText()).getOrElse("")
    val params = Option(req.get("params")).getOrElse(mapper.createObjectNode())
    if (id == null) return None // notification: initialized, cancelled, ...
    method match {
      case "initialize" =>
        val r = mapper.createObjectNode()
        r.put("protocolVersion", ProtocolVersion)
        r.putObject("capabilities").putObject("tools")
        val si = r.putObject("serverInfo")
        si.put("name", "graft-mcp")
        si.put("version", "1.0")
        Some(result(id, r))
      case "ping" =>
        Some(result(id, mapper.createObjectNode()))
      case "tools/list" =>
        val r = mapper.createObjectNode()
        r.set[JsonNode]("tools", toolList())
        Some(result(id, r))
      case "tools/call" =>
        val name = Option(params.get("name")).map(_.asText()).getOrElse("")
        val args = Option(params.get("arguments")).getOrElse(mapper.createObjectNode())
        callTool(name, args, ctx) match {
          case Right(text) => Some(result(id, toolContent(text, isError = false)))
          case Left(McpError(code, msg)) => Some(errorResponse(id, code, msg))
          case Left(ToolFailure(msg)) => Some(result(id, toolContent(msg, isError = true)))
        }
      case other =>
        Some(errorResponse(id, -32601, s"method not found: $other"))
    }
  }

  private sealed trait CallFailure
  /** protocol-level error (unknown tool, bad arguments) */
  private final case class McpError(code: Int, message: String) extends CallFailure
  /** tool executed and failed: reported IN-BAND as isError content */
  private final case class ToolFailure(message: String) extends CallFailure

  // ---------------------------------------------------------------- tools

  private val ToolNames = Seq("list_transformers", "explain", "get_schema",
    "validate_yaml", "catalog", "lineage", "node_sample", "node_failures",
    "build_node", "diagnose_run", "diff_config", "table_report")

  private def toolList(): ArrayNode = {
    def tool(name: String, desc: String, props: Map[String, (String, String)],
             required: Seq[String] = Nil): ObjectNode = {
      val t = mapper.createObjectNode()
      t.put("name", name)
      t.put("description", desc)
      val schema = t.putObject("inputSchema")
      schema.put("type", "object")
      val p = schema.putObject("properties")
      props.foreach { case (k, (typ, d)) =>
        val pn = p.putObject(k); pn.put("type", typ); pn.put("description", d)
      }
      if (required.nonEmpty) {
        val r = schema.putArray("required"); required.foreach(r.add)
      }
      t
    }
    val arr = mapper.createArrayNode()
    arr.add(tool("list_transformers",
      "List every invocable registry name by kind (transformers, composite " +
        "patterns, recipes, plugins).",
      Map("category" -> ("string",
        "optional filter: transformers|patterns|recipes|plugins"))))
    arr.add(tool("explain",
      "Explain one registry name: which registries it lives in, its YAML " +
        "invocation stub, and (for recipes) the variable contract.",
      Map("name" -> ("string", "registry name, e.g. filter_rows")),
      required = Seq("name")))
    arr.add(tool("get_schema",
      "The generated configuration reference: YAML schema doc, JSON Schema, " +
        "or starter node templates.",
      Map("format" -> ("string", "yaml (default) | json | templates"))))
    arr.add(tool("validate_yaml",
      "Planner dry-run of a pipeline/project YAML: logical plan + " +
        "diagnostics, no Spark started.",
      Map("yaml" -> ("string", "the YAML document text")),
      required = Seq("yaml")))
    arr.add(tool("catalog",
      "Read the recorded system catalog: section = runs|health|hotspots|" +
        "tables|outputs.",
      Map("section" -> ("string", "runs|health|hotspots|tables|outputs"),
        "pipeline" -> ("string", "optional pipeline filter"),
        "limit" -> ("integer", "max rows (default 100)")),
      required = Seq("section")))
    arr.add(tool("lineage",
      "Recorded lineage for a pipeline: node input edges + column-level " +
        "edges when captured.",
      Map("pipeline" -> ("string", "pipeline name")),
      required = Seq("pipeline")))
    arr.add(tool("node_sample",
      "Sample rows from a node's LATEST recorded sink output (via the " +
        "catalog's meta_outputs).",
      Map("pipeline" -> ("string", "pipeline name"),
        "node" -> ("string", "node name"),
        "limit" -> ("integer", "max rows (default 10)")),
      required = Seq("pipeline", "node")))
    arr.add(tool("node_failures",
      "Recorded failures for a pipeline (optionally one node): error " +
        "class + message per run.",
      Map("pipeline" -> ("string", "pipeline name"),
        "node" -> ("string", "optional node filter"),
        "limit" -> ("integer", "max rows (default 20)")),
      required = Seq("pipeline")))
    arr.add(tool("build_node",
      "Build a validated YAML node for a registry name (transformer / " +
        "pattern / recipe): generates the node stub, wraps it in a " +
        "minimal pipeline, and round-trips it through the planner — the " +
        "returned validation is the planner's verdict on exactly the " +
        "YAML returned.",
      Map("transformer" -> ("string", "registry name, e.g. filter_rows"),
        "name" -> ("string", "node name (default: the registry name)"),
        "input" -> ("string", "upstream node/dataset this node consumes"),
        "params" -> ("object", "parameter object for the function/pattern " +
          "(or recipe vars); defaults to {}"),
        "read" -> ("object", "optional read block, e.g. {\"format\":\"parquet\",\"path\":\"/data/in\"}"),
        "write" -> ("object", "optional write block")),
      required = Seq("transformer")))
    arr.add(tool("diagnose_run",
      "Diagnose a recorded run: per-node outcomes from meta_runs plus " +
        "meta_failures rows, each with deterministic fix suggestions " +
        "matched on the error class/message. Defaults to the most recent " +
        "run of the pipeline.",
      Map("pipeline" -> ("string", "pipeline name"),
        "run_id" -> ("string", "optional run id (default: latest run)")),
      required = Seq("pipeline")))
    arr.add(tool("diff_config",
      "Deployed-vs-file drift: hash the given pipeline YAML exactly like " +
        "deploy registration and compare against the catalog's " +
        "meta_pipelines/meta_nodes — reports added, removed and changed " +
        "nodes.",
      Map("yaml" -> ("string", "the pipeline YAML document text")),
      required = Seq("yaml")))
    arr.add(tool("table_report",
      "Inspect a native Delta or Iceberg table: version/snapshot count, " +
        "live files and bytes, partition columns, schema — and, given a " +
        "predicate, how many files stats-based skipping would prune (the " +
        "'is this table clustered well for this query' check).",
      Map("path" -> ("string", "table root path"),
        "format" -> ("string", "delta (default) | iceberg"),
        "predicate" -> ("string",
          "optional SQL predicate to report skipping effectiveness for")),
      required = Seq("path")))
    arr
  }

  private def callTool(name: String, args: JsonNode,
                       ctx: Ctx): Either[CallFailure, String] = {
    if (!ToolNames.contains(name))
      return Left(McpError(-32602, s"unknown tool: $name"))
    def str(k: String): Option[String] =
      Option(args.get(k)).filter(!_.isNull).map(_.asText()).filter(_.nonEmpty)
    try name match {
      case "list_transformers" =>
        val inv = Introspect.inventory()
        val out = mapper.createObjectNode()
        str("category") match {
          case Some(cat) =>
            val names = inv.getOrElse(cat, return Left(McpError(-32602,
              s"unknown category '$cat' (have: ${inv.keys.toSeq.sorted.mkString(", ")})")))
            val a = out.putArray(cat); names.foreach(a.add)
          case None =>
            inv.toSeq.sortBy(_._1).foreach { case (k, names) =>
              val a = out.putArray(k); names.foreach(a.add)
            }
        }
        Right(mapper.writeValueAsString(out))
      case "explain" =>
        val n = str("name").getOrElse(
          return Left(McpError(-32602, "explain requires 'name'")))
        Right(explain(n))
      case "get_schema" =>
        str("format").getOrElse("yaml") match {
          case "yaml" => Right(Introspect.yamlSchema())
          case "json" => Right(Introspect.jsonSchema())
          case "templates" =>
            val out = mapper.createObjectNode()
            Introspect.nodeTemplates.toSeq.sortBy(_._1)
              .foreach { case (k, v) => out.put(k, v) }
            Right(mapper.writeValueAsString(out))
          case other => Left(McpError(-32602,
            s"unknown format '$other' (yaml|json|templates)"))
        }
      case "validate_yaml" =>
        val y = str("yaml").getOrElse(
          return Left(McpError(-32602, "validate_yaml requires 'yaml'")))
        Right(Planner.plan(y).toJson)
      case "catalog" =>
        val section = str("section").getOrElse(
          return Left(McpError(-32602, "catalog requires 'section'")))
        val limit = Option(args.get("limit")).map(_.asInt()).filter(_ > 0).getOrElse(100)
        catalogSection(ctx, section, str("pipeline"), limit)
      case "lineage" =>
        val p = str("pipeline").getOrElse(
          return Left(McpError(-32602, "lineage requires 'pipeline'")))
        Right(lineage(ctx, p))
      case "node_sample" =>
        val p = str("pipeline").getOrElse(
          return Left(McpError(-32602, "node_sample requires 'pipeline'")))
        val n = str("node").getOrElse(
          return Left(McpError(-32602, "node_sample requires 'node'")))
        val limit = Option(args.get("limit")).map(_.asInt()).filter(_ > 0).getOrElse(10)
        ctx.catalog.latestOutputPath(p, n) match {
          case Some(path) =>
            val rows = ctx.spark.read.parquet(path).limit(limit).toJSON.collect()
            Right(rows.mkString("[", ",", "]"))
          case None => Left(ToolFailure(
            s"""{"error":"no recorded output for $p/$n in meta_outputs"}"""))
        }
      case "node_failures" =>
        import org.apache.spark.sql.functions.col
        val p = str("pipeline").getOrElse(
          return Left(McpError(-32602, "node_failures requires 'pipeline'")))
        val limit = Option(args.get("limit")).map(_.asInt()).filter(_ > 0).getOrElse(20)
        val base = ctx.catalog.table("meta_failures").filter(col("pipeline") === p)
        val filtered = str("node").map(n => base.filter(col("node") === n)).getOrElse(base)
        Right(filtered.orderBy(col("recorded_at").desc).limit(limit)
          .toJSON.collect().mkString("[", ",", "]"))
      case "build_node" =>
        val t = str("transformer").getOrElse(
          return Left(McpError(-32602, "build_node requires 'transformer'")))
        Right(buildNode(t, str("name"), str("input"),
          Option(args.get("params")).filter(_.isObject),
          Option(args.get("read")).filter(_.isObject),
          Option(args.get("write")).filter(_.isObject)))
      case "diagnose_run" =>
        val p = str("pipeline").getOrElse(
          return Left(McpError(-32602, "diagnose_run requires 'pipeline'")))
        Right(diagnoseRun(ctx, p, str("run_id")))
      case "diff_config" =>
        val y = str("yaml").getOrElse(
          return Left(McpError(-32602, "diff_config requires 'yaml'")))
        Right(diffConfig(ctx, y))
      case "table_report" =>
        val path = str("path").getOrElse(
          return Left(McpError(-32602, "table_report requires 'path'")))
        Right(tableReport(ctx, path,
          str("format").getOrElse("delta"), str("predicate")))
    } catch {
      case e: Exception =>
        val o = mapper.createObjectNode()
        o.put("error", Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
        Left(ToolFailure(mapper.writeValueAsString(o)))
    }
  }

  private def explain(name: String): String = {
    StandardTransformers.registerAll
    val out = mapper.createObjectNode()
    out.put("name", name)
    val kinds = mapper.createArrayNode()
    if (TransformerRegistry.get(name).isDefined) kinds.add("transformer")
    if (graft.patterns.PatternRegistry.names.contains(name)) kinds.add("pattern")
    Recipes.builtins.get(name).foreach { r =>
      kinds.add("recipe")
      r.description.foreach(out.put("description", _))
      val req = out.putArray("required_vars"); r.requiredVars.foreach(req.add)
      val opt = out.putObject("optional_vars")
      r.optionalVars.foreach { case (k, v) => opt.put(k, String.valueOf(v)) }
    }
    out.set[JsonNode]("kinds", kinds)
    if (kinds.isEmpty) {
      out.put("found", false)
      val sug = out.putArray("did_you_mean")
      didYouMean(name).foreach(sug.add)
    } else {
      out.put("found", true)
      out.put("usage",
        if (kinds.toString.contains("pattern") &&
          TransformerRegistry.get(name).isEmpty) s"transformer: $name"
        else if (Recipes.builtins.contains(name)) s"recipe: $name"
        else s"steps: [ { function: $name, params: { ... } } ]")
    }
    mapper.writeValueAsString(out)
  }

  /**
   * Guided node construction (reference odibi_mcp/tools/yaml_builder.py:
   * "build from the actual models, validate before serializing" — here
   * the node is rendered, wrapped in a minimal pipeline, and planned, so
   * the validation verdict applies to EXACTLY the YAML returned). JSON
   * objects embed directly as YAML flow mappings (JSON is valid YAML).
   */
  private def buildNode(transformer: String, name: Option[String],
                        input: Option[String], params: Option[JsonNode],
                        read: Option[JsonNode], write: Option[JsonNode]): String = {
    StandardTransformers.registerAll
    val isPattern = graft.patterns.PatternRegistry.names.contains(transformer)
    val isRecipe = Recipes.builtins.contains(transformer)
    val isFunction = TransformerRegistry.get(transformer).isDefined
    val out = mapper.createObjectNode()
    if (!isPattern && !isRecipe && !isFunction) {
      out.put("found", false)
      val sug = out.putArray("did_you_mean")
      didYouMean(transformer).foreach(sug.add)
      return mapper.writeValueAsString(out)
    }
    val nodeName = name.getOrElse(transformer)
    val pjson = params.map(mapper.writeValueAsString).getOrElse("{}")
    val sb = new StringBuilder
    sb ++= s"- name: $nodeName\n"
    input.foreach { in =>
      sb ++= s"  depends_on: [$in]\n"
      sb ++= s"  input: $in\n"
    }
    read.foreach(r => sb ++= s"  read: ${mapper.writeValueAsString(r)}\n")
    if (read.isEmpty && input.isEmpty)
      sb ++= "  read: {format: parquet, path: /data/in}\n"
    if (isRecipe) {
      sb ++= s"  recipe: $transformer\n"
      sb ++= s"  recipe_vars: $pjson\n"
    } else if (isPattern && !isFunction) {
      sb ++= s"  transformer: $transformer\n"
      sb ++= s"  params: $pjson\n"
    } else {
      sb ++= "  steps:\n"
      sb ++= s"    - function: $transformer\n"
      sb ++= s"      params: $pjson\n"
    }
    write.foreach(w => sb ++= s"  write: ${mapper.writeValueAsString(w)}\n")
    val nodeYaml = sb.toString
    // minimal pipeline wrapper: an upstream read stub satisfies `input`
    // references so the planner judges the node itself, not the harness
    val upstream = input.map(in =>
      s"  - name: $in\n    read: {format: parquet, path: /data/in}\n").getOrElse("")
    val pipelineYaml =
      s"name: build_preview\nnodes:\n$upstream" +
        nodeYaml.linesIterator.map("  " + _).mkString("", "\n", "\n")
    out.put("found", true)
    out.put("node_yaml", nodeYaml)
    out.put("pipeline_yaml", pipelineYaml)
    out.set[JsonNode]("validation", mapper.readTree(Planner.plan(pipelineYaml).toJson))
    mapper.writeValueAsString(out)
  }

  /**
   * Failure diagnosis over the recorded catalog (reference
   * odibi_mcp/tools/diagnose.py posture — status + issues + suggestions,
   * re-grounded on run facts): per-node outcomes of one run joined with
   * meta_failures, every failure annotated with the deterministic
   * [[Suggestions]] hint table keyed on error class/message.
   */
  /** Table inspection + optional skipping-effectiveness report. */
  private def tableReport(ctx: Ctx, path: String, format: String,
                          predicate: Option[String]): String = {
    val o = mapper.createObjectNode()
    o.put("path", path)
    o.put("format", format.toLowerCase)
    format.toLowerCase match {
      case "delta" =>
        val snap = graft.sources.DeltaLog.snapshot(ctx.spark, path)
        o.put("version", snap.version)
        o.put("files", snap.files.size)
        o.put("bytes", snap.files.map(_.size).sum)
        o.put("rows", snap.files.flatMap(_.numRecords).sum)
        o.put("filesWithDeletionVectors", snap.files.count(_.deletionVector.isDefined))
        val pc = o.putArray("partitionColumns")
        snap.partitionColumns.foreach(pc.add)
        o.put("schema", snap.schema.simpleString)
        predicate.foreach { p =>
          val pr = graft.sources.DeltaStats.prune(ctx.spark, snap,
            org.apache.spark.sql.functions.expr(p))
          val s = o.putObject("skipping")
          s.put("predicate", p)
          s.put("candidates", pr.candidates)
          s.put("kept", pr.kept)
          s.put("skipped", pr.skipped)
          s.put("keptBytes", pr.files.map(_.size).sum)
        }
      case "iceberg" =>
        val meta = graft.sources.IcebergSource.tableMeta(ctx.spark, path)
        o.put("snapshots", meta.snapshots.size)
        meta.currentSnapshotId.foreach(o.put("currentSnapshotId", _))
        val pc = o.putArray("partitionColumns")
        meta.partitionSpec.map(_.name).foreach(pc.add)
        o.put("schema", meta.schema.simpleString)
        predicate.foreach { p =>
          val pr = graft.sources.IcebergSource.pruneReport(ctx.spark, path,
            org.apache.spark.sql.functions.expr(p))
          val s = o.putObject("skipping")
          s.put("predicate", p)
          s.put("candidates", pr.candidates)
          s.put("kept", pr.kept)
          s.put("skipped", pr.skipped)
        }
      case other =>
        throw new IllegalArgumentException(s"table_report format must be " +
          s"delta or iceberg, got '$other'")
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  private def diagnoseRun(ctx: Ctx, pipeline: String,
                          runId: Option[String]): String = {
    import org.apache.spark.sql.functions.col
    val runs = ctx.catalog.table("meta_runs").filter(col("pipeline") === pipeline)
    val rid = runId.orElse {
      runs.orderBy(col("recorded_at").desc).limit(1)
        .select("run_id").collect().headOption.map(_.getString(0))
    }.getOrElse(throw new IllegalArgumentException(
      s"no recorded runs for pipeline '$pipeline'"))
    val nodeRows = runs.filter(col("run_id") === rid)
      .select("node", "success", "duration_ms", "error")
      .orderBy("node").collect()
    require(nodeRows.nonEmpty, s"run '$rid' not recorded for '$pipeline'")
    val out = mapper.createObjectNode()
    out.put("pipeline", pipeline)
    out.put("run_id", rid)
    val failedNodes = nodeRows.filter(!_.getBoolean(1))
    out.put("status", if (failedNodes.isEmpty) "healthy" else "issues_found")
    out.put("summary", s"${nodeRows.length} nodes, ${failedNodes.length} failed")
    val nodes = out.putArray("nodes")
    nodeRows.foreach { r =>
      val n = nodes.addObject()
      n.put("node", r.getString(0))
      n.put("success", r.getBoolean(1))
      n.put("duration_ms", r.getLong(2))
      Option(r.getString(3)).filter(_.nonEmpty).foreach(n.put("error", _))
    }
    val failures = out.putArray("failures")
    val failRows =
      try ctx.catalog.table("meta_failures")
        .filter(col("pipeline") === pipeline && col("run_id") === rid)
        .select("node", "error_class", "message").collect().toSeq
      catch { case _: Exception => // table absent: derive from run errors
        failedNodes.toSeq.map(r => org.apache.spark.sql.Row(
          r.getString(0), "", Option(r.getString(3)).getOrElse("")))
      }
    failRows.foreach { r =>
      val fo = failures.addObject()
      fo.put("node", r.getString(0))
      fo.put("error_class", r.getString(1))
      fo.put("message", r.getString(2))
      val hints = fo.putArray("suggestions")
      graft.core.Suggestions.suggestText(r.getString(1), r.getString(2))
        .foreach(hints.add)
    }
    mapper.writeValueAsString(out)
  }

  /**
   * Deployed-vs-file drift (reference pipeline hash gate,
   * odibi/pipeline.py:487-520, surfaced as a tool): the YAML is hashed
   * exactly like deploy registration ([[Catalog.pipelineHash]] /
   * [[graft.core.Pipeline.nodeHash]]) and compared against the latest
   * recorded meta_pipelines / meta_nodes rows.
   */
  private def diffConfig(ctx: Ctx, yamlText: String): String = {
    import org.apache.spark.sql.functions.col
    val cfg = graft.core.YamlConfig.loadPipeline(yamlText)
    val localHash = Catalog.pipelineHash(cfg)
    val deployed = ctx.catalog.getPipelineHash(cfg.name)
    val out = mapper.createObjectNode()
    out.put("pipeline", cfg.name)
    out.put("local_hash", localHash)
    deployed match {
      case None =>
        out.putNull("deployed_hash")
        out.put("status", "never_deployed")
      case Some(h) =>
        out.put("deployed_hash", h)
        out.put("status", if (h == localHash) "clean" else "drift")
    }
    if (deployed.isDefined) {
      // latest recorded config hash per node (append log, latest wins)
      val recorded: Map[String, String] =
        ctx.catalog.table("meta_nodes")
          .filter(col("pipeline") === cfg.name)
          .orderBy(col("recorded_at").desc)
          .select("node", "config_hash").collect()
          .foldLeft(Map.empty[String, String]) { (m, r) =>
            if (m.contains(r.getString(0))) m
            else m + (r.getString(0) -> r.getString(1))
          }
      val local: Map[String, String] =
        cfg.nodes.map(n => n.name -> graft.core.Pipeline.nodeHash(n)).toMap
      val added = out.putArray("added_nodes")
      local.keys.toSeq.sorted.filterNot(recorded.contains).foreach(added.add)
      val removed = out.putArray("removed_nodes")
      recorded.keys.toSeq.sorted.filterNot(local.contains).foreach(removed.add)
      val changed = out.putArray("changed_nodes")
      local.keys.toSeq.sorted
        .filter(k => recorded.get(k).exists(_ != local(k)))
        .foreach(changed.add)
    }
    mapper.writeValueAsString(out)
  }

  /** Closest registry names: substring either way, or edit distance <= 2
    * (catches the classic dropped-letter typo substring checks miss). */
  private def didYouMean(name: String): Seq[String] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (TransformerRegistry.names ++ graft.patterns.PatternRegistry.names ++
      Recipes.builtins.keys)
      .filter(c => c.contains(name) || name.contains(c) || lev(c, name) <= 2)
      .distinct.sorted.take(8).toSeq
  }

  private def catalogSection(ctx: Ctx, section: String,
                             pipeline: Option[String],
                             limit: Int): Either[CallFailure, String] = {
    import org.apache.spark.sql.functions.col
    val df0 = section match {
      case "runs" => ctx.catalog.table("meta_runs")
      case "health" => ctx.catalog.pipelineHealth
      case "hotspots" => ctx.catalog.nodeHotspots
      case "tables" => ctx.catalog.tablesRegistry
      case "outputs" => ctx.catalog.table("meta_outputs")
      case other => return Left(McpError(-32602,
        s"unknown section '$other' (runs|health|hotspots|tables|outputs)"))
    }
    val df = pipeline.filter(_ => df0.columns.contains("pipeline"))
      .map(p => df0.filter(col("pipeline") === p)).getOrElse(df0)
    val rows = df.limit(limit).toJSON.collect()
    Right(rows.mkString("[", ",", "]"))
  }

  private def lineage(ctx: Ctx, pipeline: String): String = {
    import org.apache.spark.sql.functions.col
    val out = mapper.createObjectNode()
    out.put("pipeline", pipeline)
    val edges = out.putArray("edges")
    ctx.catalog.table("meta_lineage")
      .filter(col("pipeline") === pipeline)
      .select("node", "input").distinct()
      .orderBy("node", "input")
      .collect().foreach { r =>
        val e = edges.addObject()
        e.put("node", r.getString(0)); e.put("input", r.getString(1))
      }
    // column lineage is optional — recorded only when the runner captured it
    val cols = out.putArray("columns")
    ctx.catalog.probe("meta_column_lineage")(t => Some(t
        .filter(col("pipeline") === pipeline)
        .select("node", "column", "source").distinct()
        .orderBy("node", "column", "source")
        .collect()))
      .toSeq.flatten
      .foreach { r =>
        val e = cols.addObject()
        e.put("node", r.getString(0))
        e.put("column", r.getString(1))
        e.put("source", r.getString(2))
      }
    mapper.writeValueAsString(out)
  }

  // ------------------------------------------------------------- envelope

  private def result(id: JsonNode, r: JsonNode): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0")
    o.set[JsonNode]("id", id)
    o.set[JsonNode]("result", r)
    o
  }

  private def toolContent(text: String, isError: Boolean): ObjectNode = {
    val r = mapper.createObjectNode()
    val content = r.putArray("content")
    val item = content.addObject()
    item.put("type", "text")
    item.put("text", text)
    r.put("isError", isError)
    r
  }

  private def errorResponse(id: JsonNode, code: Int, message: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0")
    if (id == null) o.putNull("id") else o.set[JsonNode]("id", id)
    val e = o.putObject("error")
    e.put("code", code)
    e.put("message", message)
    o
  }
}
