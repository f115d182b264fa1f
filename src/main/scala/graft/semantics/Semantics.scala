package graft.semantics

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Semantic / metrics layer (reference: odibi/semantics/).
 *
 * Definitions (metrics.py:17-265): a metric is a SQL aggregate expr over a
 * source (plus fixed filters); `derived` metrics are formulas over component
 * metrics with NULLIF-guarded division (query.py:266-294). Dimensions are
 * columns with an optional time grain (day|week|month|quarter|year).
 *
 * Query DSL (query.py:79-120): "m1, m2 BY d1, d2 WHERE cond" → one
 * SELECT dims, aggs FROM source WHERE filters GROUP BY dims. SQL generation
 * is the whole engine — Catalyst does the rest.
 */
object Semantics {

  final case class Metric(name: String, expr: String, source: String,
                          filters: Seq[String] = Nil,
                          formula: Option[String] = None) {
    def isDerived: Boolean = formula.isDefined
  }

  final case class Dimension(name: String, column: String,
                             timeGrain: Option[String] = None) {
    /** SELECT-side expression for this dimension (query.py time grains). */
    def sqlExpr: String = timeGrain match {
      case Some(g) if Set("day", "week", "month", "quarter", "year")(g) =>
        s"date_trunc('$g', $column) AS $name"
      case None => if (column == name) name else s"$column AS $name"
      case Some(other) => throw new IllegalArgumentException(s"unknown grain: $other")
    }
  }

  final case class SemanticModel(metrics: Map[String, Metric],
                                 dimensions: Map[String, Dimension])

  /**
   * Declarative incremental refresh for a semantic node (the reference's
   * IncrementalMaterializer, materialize.py:210): `filter` restricts the
   * sources to rows newer than the caller's watermark, the fresh partial
   * re-aggregates, and [[graft.patterns.Patterns.aggregationMerge]] folds
   * it into the existing metric table by `grain` with per-metric
   * `strategies` (sum for additive metrics, replace otherwise).
   */
  final case class SemanticIncremental(grain: Seq[String],
                                       strategies: Map[String, String],
                                       filter: Option[String] = None)

  /**
   * A semantic-query pipeline node (declared via the YAML `semantic:` key):
   * materializing a metric query is a first-class node — the query result
   * flows through the normal step/validate/write lifecycle
   * ([[graft.core.Pipeline.runNodeWithStats]]). Carries the project-level
   * model plus the context needed to resolve `\$pipeline.node` source refs.
   */
  final case class SemanticNode(query: String, model: SemanticModel,
                                pipeline: String,
                                catalogRoot: Option[String] = None,
                                incremental: Option[SemanticIncremental] = None)

  final case class ParsedQuery(metrics: Seq[String], dimensions: Seq[String],
                               where: Option[String])

  /** Parse "m1, m2 BY d1, d2 WHERE cond" (query.py:79-120). */
  def parse(q: String): ParsedQuery = {
    val whereSplit = q.split("(?i)\\bWHERE\\b", 2)
    val where = if (whereSplit.length == 2) Some(whereSplit(1).trim) else None
    val bySplit = whereSplit(0).split("(?i)\\bBY\\b", 2)
    val metrics = bySplit(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dims = if (bySplit.length == 2)
      bySplit(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq else Nil
    require(metrics.nonEmpty, s"no metrics in query: $q")
    ParsedQuery(metrics, dims, where)
  }

  /**
   * Generate one Spark SQL statement (query.py:148-232). All requested
   * metrics must share a source; derived metrics pull in their components
   * as subexpressions with NULLIF-guarded division applied by the author
   * in the formula.
   */
  def generateSql(model: SemanticModel, pq: ParsedQuery): String = {
    val resolved = pq.metrics.map(m => model.metrics.getOrElse(m,
      throw new IllegalArgumentException(s"unknown metric: $m")))
    val sources = resolved.map(_.source).distinct
    require(sources.size == 1, s"metrics span multiple sources: $sources")

    def metricSql(m: Metric): String = m.formula match {
      case Some(f) =>
        // token-resolve component metric names into their agg exprs: each
        // identifier is one lexer token, so substring-overlapping names
        // can't mis-substitute, and function calls (`sum(`) / qualified
        // refs (`t.col`) are never rewritten even if they shadow a metric
        val byName = model.metrics.collect {
          case (n, c) if !c.isDerived => n -> c.expr
        }
        "[A-Za-z_][A-Za-z0-9_]*".r.replaceAllIn(f, mm => {
          val name = mm.matched
          val isCall = f.drop(mm.end).dropWhile(_.isWhitespace).startsWith("(")
          val isQualified = f.take(mm.start).reverse.dropWhile(_.isWhitespace).startsWith(".")
          val out = if (!isCall && !isQualified && byName.contains(name))
            s"(${byName(name)})" else name
          java.util.regex.Matcher.quoteReplacement(out)
        })
      case None => m.expr
    }

    val dims = pq.dimensions.map(d => model.dimensions.getOrElse(d,
      throw new IllegalArgumentException(s"unknown dimension: $d")))
    val selectDims = dims.map(_.sqlExpr)
    val selectMetrics = resolved.map(m => s"${metricSql(m)} AS ${m.name}")
    val filters = resolved.flatMap(_.filters).distinct ++ pq.where.toSeq
    val whereClause = if (filters.nonEmpty) filters.mkString(" WHERE (", ") AND (", ")") else ""
    val groupBy = if (dims.nonEmpty)
      s" GROUP BY ${(1 to dims.size).mkString(", ")}" else ""
    s"SELECT ${(selectDims ++ selectMetrics).mkString(", ")} FROM ${sources.head}$whereClause$groupBy"
  }

  /** Execute a DSL query against registered temp views (query.py:369-434). */
  def run(spark: SparkSession, model: SemanticModel, query: String,
          sources: Map[String, DataFrame] = Map.empty): DataFrame =
    runResolved(spark, model, query, sources)

  /**
   * Resolve one metric source reference to a DataFrame (query.py:294-369).
   * Three forms, mirroring the reference's MetricDefinition.source:
   *  - `\$pipeline.node` — the node's frame from the current run's datasets
   *    (same pipeline), else the node's latest recorded sink path in the
   *    system catalog (`meta_outputs`) for cross-pipeline/cross-run refs;
   *  - a provided dataset name;
   *  - an existing table/view name.
   */
  def resolveSource(spark: SparkSession, ref: String,
                    datasets: Map[String, DataFrame],
                    currentPipeline: Option[String] = None,
                    catalog: Option[graft.core.Catalog] = None): DataFrame =
    if (ref.startsWith("$")) {
      val parts = ref.stripPrefix("$").split("\\.", 2)
      require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
        s"bad source ref '$ref': expected \\$$pipeline.node")
      val (pipe, node) = (parts(0), parts(1))
      val inRun = if (currentPipeline.forall(_ == pipe)) datasets.get(node) else None
      inRun
        // a multi-pipeline project run shares earlier pipelines' frames
        // under "pipeline.node" keys (Pipeline.runProject)
        .orElse(datasets.get(s"$pipe.$node"))
        .orElse(catalog.flatMap(_.latestOutputPath(pipe, node))
          .map(spark.read.parquet(_)))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot resolve '$ref': node '$node' is not in this run" +
            (if (catalog.isDefined) " and has no recorded output in the catalog"
             else " and no catalog is configured")))
    } else datasets.getOrElse(ref, spark.table(ref))

  private def viewNameFor(src: String): String =
    if (src.startsWith("$")) "sem_" + src.replaceAll("[^A-Za-z0-9_]", "_") else src

  /**
   * Execute a DSL query with catalog-aware source resolution: every source
   * needed by the requested metrics is resolved via [[resolveSource]] and
   * registered as a temp view; `\$pipeline.node` refs get a sanitized view
   * name, which the generated SQL references.
   */
  def runResolved(spark: SparkSession, model: SemanticModel, query: String,
                  datasets: Map[String, DataFrame] = Map.empty,
                  currentPipeline: Option[String] = None,
                  catalog: Option[graft.core.Catalog] = None,
                  sourceFilter: Option[String] = None): DataFrame = {
    val pq = parse(query)
    val needed = pq.metrics.map(m => model.metrics.getOrElse(m,
      throw new IllegalArgumentException(s"unknown metric: $m"))).map(_.source).distinct
    needed.foreach { src =>
      val resolved = resolveSource(spark, src, datasets, currentPipeline, catalog)
      sourceFilter.map(f => resolved.filter(org.apache.spark.sql.functions.expr(f)))
        .getOrElse(resolved)
        .createOrReplaceTempView(viewNameFor(src))
    }
    val aliased = model.copy(metrics = model.metrics.map { case (k, m) =>
      k -> m.copy(source = viewNameFor(m.source))
    })
    spark.sql(generateSql(aliased, pq))
  }

  /** CREATE OR REPLACE VIEW DDL for a canonical metric view (views.py). */
  def viewDdl(model: SemanticModel, viewName: String, metrics: Seq[String],
              dimensions: Seq[String]): String =
    s"CREATE OR REPLACE VIEW $viewName AS " +
      generateSql(model, ParsedQuery(metrics, dimensions, None))

  /**
   * Materialize a metric query to a path (materialize.py:37-130): full
   * refresh overwrite.
   */
  def materialize(spark: SparkSession, model: SemanticModel, query: String,
                  sources: Map[String, DataFrame], outPath: String): DataFrame = {
    val df = run(spark, model, query, sources)
    df.write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
  }

  /**
   * IncrementalMaterializer (materialize.py:210): re-aggregate only rows
   * newer than the HWM, then merge into the existing metric table by grain
   * with per-metric combine strategies (sum for additive metrics, replace
   * otherwise) — the standard additive-rollup incremental refresh.
   *
   * The merged snapshot replaces `outPath` via [[graft.core.AtomicParquet]]
   * (temp-dir + rename swap): the merge plan reads the old files untouched
   * and a mid-write crash cannot truncate the accumulated history. Only a
   * missing `outPath` (first run) falls back to the fresh rows; any other
   * read/merge failure propagates instead of silently dropping history.
   */
  def materializeIncremental(spark: SparkSession, model: SemanticModel,
                             query: String, sources: Map[String, DataFrame],
                             outPath: String, grain: Seq[String],
                             strategies: Map[String, String],
                             incrementalFilter: Option[String] = None): DataFrame = {
    val filtered = incrementalFilter match {
      case Some(f) => sources.map { case (k, df) =>
        k -> df.filter(org.apache.spark.sql.functions.expr(f)) }
      case None => sources
    }
    val fresh = run(spark, model, query, filtered)
    val merged =
      if (!graft.core.AtomicParquet.exists(spark, outPath)) fresh // first run
      else graft.patterns.Patterns.aggregationMerge(
        spark.read.parquet(outPath), fresh, grain, strategies)
    graft.core.AtomicParquet.overwrite(
      merged, outPath, System.nanoTime().toString)
    spark.read.parquet(outPath)
  }
}
