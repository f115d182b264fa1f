package graft.patterns

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.EngineContext

/**
 * Named warehouse patterns invocable from YAML via a node's
 * `transformer:` key (reference: odibi/node.py:1582-1640 resolves the
 * name against the pattern registry FIRST, falling back to plain
 * transformers; registry odibi/patterns/__init__.py:11-18).
 *
 * A pattern differs from a transformer in that it may read the node's own
 * SINK (the existing dimension / aggregate / SCD2 target) to compute the
 * next snapshot. That self-reference is safe because declarative overwrite
 * writes publish atomically ([[graft.sources.Sources.writeWithStats]] —
 * temp-dir + rename swap), so the plan reads the old files untouched.
 */
object PatternRegistry {

  /** The node's sink, for patterns that merge into their own target. */
  final case class TargetRef(path: String, format: String = "parquet")

  trait Pattern {
    def name: String
    def apply(ctx: EngineContext, params: Map[String, Any],
              target: Option[TargetRef]): DataFrame
  }

  private val registry = scala.collection.concurrent.TrieMap.empty[String, Pattern]
  def register(p: Pattern): Unit = registry.put(p.name, p)
  def get(name: String): Option[Pattern] = { ensureRegistered; registry.get(name) }
  def names: Seq[String] = { ensureRegistered; registry.keys.toSeq.sorted }

  // ---------------------------------------------------------------- params

  private def reqStr(p: Map[String, Any], k: String, pat: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(s"pattern $pat requires '$k'")).toString

  private def strSeq(v: Any): Seq[String] = v match {
    case s: String => Seq(s)
    case l: Seq[_] => l.map(_.toString)
    case other => Seq(other.toString)
  }

  private def optSeq(p: Map[String, Any], k: String): Seq[String] =
    p.get(k).map(strSeq).getOrElse(Nil)

  private def boolOr(p: Map[String, Any], k: String, d: Boolean): Boolean =
    p.get(k).map(_.toString.toBoolean).getOrElse(d)

  /** Ordered (name -> expr) pairs from a YAML map (VectorMap keeps order). */
  private def measurePairs(p: Map[String, Any], k: String): Seq[(String, String)] =
    p.get(k).map(_.asInstanceOf[Map[String, Any]].toSeq.map {
      case (n, e) => n -> e.toString
    }).getOrElse(Nil)

  /** Existing sink snapshot, or None on first run / no sink. */
  private def readTarget(spark: SparkSession, target: Option[TargetRef]): Option[DataFrame] =
    target.filter(t => graft.core.AtomicParquet.exists(spark, t.path))
      .map(t => spark.read.format(t.format).load(t.path))

  private def tsCol(p: Map[String, Any], k: String) =
    p.get(k).map(e => expr(e.toString)).getOrElse(current_timestamp())

  // -------------------------------------------------------------- patterns

  private def pattern(nm: String)(
      f: (EngineContext, Map[String, Any], Option[TargetRef]) => DataFrame): Pattern =
    new Pattern {
      val name: String = nm
      def apply(ctx: EngineContext, params: Map[String, Any],
                target: Option[TargetRef]): DataFrame = f(ctx, params, target)
    }

  private lazy val ensureRegistered: Unit = {

    // date_dimension (patterns/date_dimension.py): pure generator, no input
    register(pattern("date_dimension") { (ctx, p, _) =>
      Patterns.dateDimension(ctx.spark,
        reqStr(p, "start_date", "date_dimension"),
        reqStr(p, "end_date", "date_dimension"),
        p.get("fiscal_year_start_month").map(_.toString.toInt).getOrElse(10),
        boolOr(p, "unknown_member", d = false))
    })

    // dimension (patterns/dimension.py): SCD1 (default) or SCD2 with SKs;
    // the existing dim comes from the node's own sink
    register(pattern("dimension") { (ctx, p, target) =>
      val keys = strSeq(p.getOrElse("natural_key",
        throw new IllegalArgumentException("pattern dimension requires 'natural_key'")))
      val sk = reqStr(p, "surrogate_key", "dimension")
      val existing = readTarget(ctx.spark, target)
      val unknown = boolOr(p, "unknown_member", d = true)
      p.get("scd_type").map(_.toString.toInt).getOrElse(1) match {
        case 1 => Patterns.dimension(ctx.df, keys, sk, existing, unknown)
        case 2 => Patterns.scd2Dimension(ctx.df, keys, sk,
          optSeq(p, "track_cols"), tsCol(p, "effective_ts"), existing, unknown)
        case other => throw new IllegalArgumentException(s"scd_type $other (1|2)")
      }
    })

    // fact (patterns/fact.py): SK lookups against upstream dim nodes,
    // orphan handling, named measures, optional grain check
    register(pattern("fact") { (ctx, p, _) =>
      val lookups = p.getOrElse("lookups",
        throw new IllegalArgumentException("pattern fact requires 'lookups'"))
        .asInstanceOf[Seq[Any]].map { lk =>
          val m = lk.asInstanceOf[Map[String, Any]]
          val factKeys = strSeq(m.getOrElse("fact_keys", m("fact_key")))
          val sk = m("surrogate_key").toString
          Patterns.DimLookup(
            dim = ctx.dataset(m("dim").toString),
            factKeys = factKeys,
            dimKeys = m.get("dim_keys").map(strSeq).getOrElse(factKeys),
            skCol = sk,
            outCol = m.getOrElse("output_col", sk).toString,
            scd2Current = m.get("scd2_current").map(_.toString))
        }
      val orphans = p.getOrElse("orphans", "unknown").toString
      val (fact, quarantined) = Patterns.factWithOrphans(
        ctx.df, lookups, measurePairs(p, "measures"), orphans)
      p.get("quarantine_path").foreach(qp =>
        graft.sources.Sources.write(quarantined, qp.toString,
          graft.sources.Sources.WriteConfig(mode = "append")))
      optSeq(p, "grain") match {
        case Nil => fact
        case grain =>
          // the grain gate needs an action before the sink write; pin the
          // fact so the gate's aggregation materializes the same plan the
          // write reuses (one upstream scan — the node lifecycle releases
          // the persist after its write, Pipeline.runNodeWithStats)
          fact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val bad = Patterns.grainViolations(fact, grain).count()
          if (bad > 0) {
            fact.unpersist()
            throw new IllegalStateException(
              s"fact grain violated: $bad duplicate ${grain.mkString("(", ",", ")")} groups")
          }
          fact
      }
    })

    // aggregation (patterns/aggregation.py): grain + named measures +
    // having; with `incremental.strategies` the fresh partial merges into
    // the existing aggregate sink (atomic publish makes the self-read safe)
    register(pattern("aggregation") { (ctx, p, target) =>
      val grain = optSeq(p, "group_by") ++ optSeq(p, "grain")
      val fresh = Patterns.aggregation(ctx.df, grain,
        measurePairs(p, "measures"), p.get("having").map(_.toString))
      p.get("incremental").map(_.asInstanceOf[Map[String, Any]]) match {
        case Some(inc) =>
          val strategies = inc.getOrElse("strategies", Map.empty[String, Any])
            .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
          readTarget(ctx.spark, target) match {
            case Some(existing) =>
              Patterns.aggregationMerge(existing, fresh, grain, strategies)
            case None => fresh
          }
        case None => fresh
      }
    })

    // scd2 (patterns/scd2.py): version the node input into its own sink
    register(pattern("scd2") { (ctx, p, target) =>
      val keys = optSeq(p, "keys") ++ optSeq(p, "natural_key")
      require(keys.nonEmpty, "pattern scd2 requires 'keys'")
      Patterns.scd2(readTarget(ctx.spark, target), ctx.df, keys,
        optSeq(p, "track_cols"), tsCol(p, "effective_ts"))
    })

    // merge (patterns/merge.py): upsert | append_only | delete_match into
    // the node's own sink
    register(pattern("merge") { (ctx, p, target) =>
      val keys = optSeq(p, "keys")
      require(keys.nonEmpty, "pattern merge requires 'keys'")
      val strategy = p.getOrElse("strategy", "upsert").toString
      readTarget(ctx.spark, target) match {
        case Some(existing) => Patterns.merge(existing, ctx.df, keys, strategy)
        case None => ctx.df // first load: everything is an insert
      }
    })
  }
}
