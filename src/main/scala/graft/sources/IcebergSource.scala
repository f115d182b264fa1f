package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Native Apache Iceberg table source/sink built directly on the PUBLic
 * Iceberg table spec (iceberg.apache.org/spec/) — no iceberg-spark
 * runtime jar (absent in this environment). The format decomposes into
 * pieces this library already speaks natively: metadata is JSON,
 * manifest lists and manifests are AVRO (read/written driver-side with
 * the Avro core jars that ship with Spark — they are KB-sized metadata
 * files), data files are parquet scanned by Spark's ordinary columnar
 * reader with pushdown intact.
 *
 * Read path (format-version 1 AND 2):
 *  - table discovery via `metadata/version-hint.text` (HadoopTables
 *    layout) or the highest `v*.metadata.json` / lexically-last
 *    `*.metadata.json`; `metadata_location` option overrides;
 *  - snapshot selection: current, `snapshotId`, or `asOfTimestampMs`
 *    (newest snapshot at or before the instant — Iceberg's time-travel
 *    contract); v2 `manifest-list` and v1 inline `manifests` both work;
 *  - live data files = manifest entries with status EXISTING/ADDED;
 *  - v2 row-level deletes apply, both classes SEQUENCE-AWARE per the
 *    spec's inheritance rules: POSITION deletes anti-join the scan's
 *    (file path, `_metadata.row_index`) under scheme-normalized paths
 *    (the path is a per-file constant of the scan) for data files with
 *    seq <= the delete's (same shape as the Delta deletion-vector path); EQUALITY deletes anti-join on the
 *    delete file's equality columns (field ids resolved through the
 *    table schema) for data files with seq STRICTLY below the delete's —
 *    so a re-inserted row after the delete survives;
 *  - schema comes from the metadata JSON (current-schema-id), converted
 *    to Spark types with `parquet.field.id` metadata attached, so
 *    field-id-based resolution can be enabled for renamed-column tables.
 *    Identity partition columns are stored IN Iceberg data files (the
 *    spec requires it), so no partition-value reattachment is needed.
 *
 * Write path (append / overwrite, unpartitioned spec): data parquet via
 * the ordinary distributed writer into `data/<commit-uuid>/`, one
 * manifest per commit (record counts from parquet footers — no second
 * job), a fresh manifest list (append keeps prior manifests, overwrite
 * drops them — exactly how the spec removes files from the current
 * snapshot), `v{N+1}.metadata.json` with snapshot history retained, and
 * `version-hint.text` last — the same commit-ordering discipline as the
 * Delta writer. Avro schemas carry the spec's `field-id` attributes.
 *
 * Scale: metadata work is driver-side (bounded by manifest counts, the
 * same model every Iceberg reader uses); the data path is one parquet
 * scan over the live files.
 */
object IcebergSource {

  private[sources] val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private[sources] def metaDir(root: String) = new Path(root, "metadata")

  // --------------------------------------------------------- schema (read)

  /** Iceberg schema JSON → Spark type; field ids ride along as
    * `parquet.field.id` metadata. */
  private[sources] def toSparkType(node: JsonNode): DataType = {
    if (node.isTextual) {
      val s = node.asText()
      val dec = "decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
      val fixed = "fixed\\[(\\d+)\\]".r
      s match {
        case "boolean" => BooleanType
        case "int" => IntegerType
        case "long" => LongType
        case "float" => FloatType
        case "double" => DoubleType
        case "date" => DateType
        case "timestamp" => TimestampNTZType
        case "timestamptz" => TimestampType
        case "string" | "uuid" => StringType
        case "binary" => BinaryType
        case dec(p, sc) => DecimalType(p.toInt, sc.toInt)
        case fixed(_) => BinaryType
        case other => throw new IllegalArgumentException(
          s"unsupported iceberg type: $other")
      }
    } else node.get("type").asText() match {
      case "struct" => StructType(
        node.get("fields").elements().asScala.map { f =>
          StructField(f.get("name").asText(), toSparkType(f.get("type")),
            nullable = !f.get("required").asBoolean(),
            new MetadataBuilder()
              .putLong("parquet.field.id", f.get("id").asLong()).build())
        }.toSeq)
      case "list" => ArrayType(toSparkType(node.get("element")),
        containsNull = !node.get("element-required").asBoolean())
      case "map" => MapType(toSparkType(node.get("key")),
        toSparkType(node.get("value")),
        valueContainsNull = !node.get("value-required").asBoolean())
      case other => throw new IllegalArgumentException(
        s"unsupported iceberg nested type: $other")
    }
  }

  // -------------------------------------------------------- schema (write)

  /** Spark type → Iceberg schema JSON (ids assigned depth-first). */
  /** `startAfter`: allocate field ids strictly above it — schema
    * evolution appends fields whose ids continue from last-column-id. */
  private[sources] def toIcebergSchemaJson(st: StructType,
                                           startAfter: Int = 0): (String, Int) = {
    var nextId = startAfter
    def id(): Int = { nextId += 1; nextId }
    def quote(s: String) = mapper.writeValueAsString(s)
    def conv(dt: DataType): String = dt match {
      case BooleanType => "\"boolean\""
      case ByteType | ShortType | IntegerType => "\"int\""
      case LongType => "\"long\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case DateType => "\"date\""
      case TimestampNTZType => "\"timestamp\""
      case TimestampType => "\"timestamptz\""
      case StringType => "\"string\""
      case BinaryType => "\"binary\""
      case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
      case s: StructType =>
        val fields = s.fields.map { f =>
          val fid = id()
          s"""{"id":$fid,"name":${quote(f.name)},"required":${!f.nullable},"type":${conv(f.dataType)}}"""
        }
        s"""{"type":"struct","fields":[${fields.mkString(",")}]}"""
      case ArrayType(et, cn) =>
        val eid = id()
        s"""{"type":"list","element-id":$eid,"element":${conv(et)},"element-required":${!cn}}"""
      case MapType(kt, vt, vn) =>
        val kid = id(); val vid = id()
        s"""{"type":"map","key-id":$kid,"key":${conv(kt)},"value-id":$vid,"value":${conv(vt)},"value-required":${!vn}}"""
      case other => throw new IllegalArgumentException(
        s"no iceberg mapping for ${other.simpleString}")
    }
    val json = conv(st)
    // top-level struct json needs schema-id for the schemas array
    (json, nextId)
  }

  // ----------------------------------------------------- metadata location

  /** Latest metadata file: version-hint.text (probed FORWARD — under
    * concurrent commits a slower writer may publish a stale hint after a
    * faster one, so the hint is advisory, exactly as Iceberg's
    * HadoopTableOperations treats it), else highest v*.metadata.json,
    * else the lexically-last *.metadata.json. */
  private[sources] def latestMetadata(f: FileSystem, root: String): Path = {
    val hint = new Path(metaDir(root), "version-hint.text")
    // the hint write is not atomic (truncate-then-write, plus a checksum
    // sidecar on local fs): a read racing a writer can see an empty file,
    // a torn number, or a checksum mismatch — ALL of those just mean
    // "scan the directory instead"
    try {
      if (f.exists(hint)) {
        var v = readText(f, hint).trim.toLong
        val p = new Path(metaDir(root), s"v$v.metadata.json")
        if (f.exists(p)) {
          while (f.exists(new Path(metaDir(root), s"v${v + 1}.metadata.json"))) v += 1
          return new Path(metaDir(root), s"v$v.metadata.json")
        }
        // hint points at a missing file: fall through to scan
      }
    } catch { case _: Exception => /* advisory hint unreadable: scan */ }
    // hidden files excluded: in-flight commit temps are `.tmp_v*-<nonce>
    // .metadata.json` — visible to a raw suffix match, but parsing one is
    // a torn read and treating it as committed state double-commits the
    // losing writer's snapshot after its rebase-retry
    val metas = f.listStatus(metaDir(root)).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".metadata.json") &&
        !p.getName.startsWith("."))
    require(metas.nonEmpty, s"$root has no iceberg metadata files")
    val versioned = "v(\\d+)\\.metadata\\.json".r
    val byVersion = metas.flatMap(p => p.getName match {
      case versioned(v) => Some((v.toLong, p))
      case _ => None
    })
    if (byVersion.nonEmpty) byVersion.maxBy(_._1)._2
    else metas.maxBy(_.getName)
  }

  def isIcebergTable(spark: SparkSession, root: String): Boolean = {
    val f = fs(spark, root)
    f.exists(metaDir(root)) && f.listStatus(metaDir(root))
      .exists(p => p.getPath.getName.endsWith(".metadata.json") &&
        !p.getPath.getName.startsWith("."))  // skip in-flight commit temps
  }

  private[sources] def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  // ------------------------------------------------------- avro (driver)

  /** GenericRecord.get THROWS on absent fields; manifests from different
    * writers/versions legitimately omit optionals. */
  private def opt(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None else Option(r.get(name))

  /** Strip `parquet.field.id` metadata for the scan: Spark switches to
    * field-id resolution when the read schema carries ids, and errors on
    * files written without them (most name-mapped tables). Name-based
    * resolution is the default; the ids stay available on
    * [[tableMeta]].schema for callers that opt into id reads. */
  private[sources] def stripFieldIds(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(fd =>
      StructField(fd.name, stripFieldIds(fd.dataType), fd.nullable)))
    case a: ArrayType => a.copy(elementType = stripFieldIds(a.elementType))
    case m: MapType => m.copy(keyType = stripFieldIds(m.keyType),
      valueType = stripFieldIds(m.valueType))
    case other => other
  }

  /**
   * Historical logical names per CURRENT top-level column, derived from
   * the metadata's retained schemas (each keeps its field ids): the
   * name-mapping-style fallback that keeps files written — footer-id-less
   * — under an old name resolving after a RENAME ([[IcebergMaintenance
   * .renameColumn]]). An old name that is also a current name of a
   * DIFFERENT field, or that multiple ids ever claimed, is ambiguous and
   * excluded (those files' renamed column then reads null rather than
   * another field's data — the spec resolves this case only through
   * footer field ids).
   */
  private[sources] def historicalAliases(meta: TableMeta): Map[String, Seq[String]] = {
    if (meta.schemasJson.size <= 1) return Map.empty
    val current: Seq[(Int, String)] = meta.schemaJson.get("fields")
      .elements().asScala.map(f =>
        f.get("id").asInt() -> f.get("name").asText()).toSeq
    val idToCurrent = current.toMap
    val currentNames = current.map(_._2).toSet
    val idToCurrentType: Map[Int, String] = meta.schemaJson.get("fields")
      .elements().asScala.map(f =>
        f.get("id").asInt() -> f.get("type").toString).toMap
    val hist: Seq[(Int, String, String)] = meta.schemasJson.flatMap(s =>
      Option(s.get("fields")).toSeq.flatMap(_.elements().asScala).map(f =>
        (f.get("id").asInt(), f.get("name").asText(),
          f.get("type").toString))).distinct
    // alias columns are requested at the field's CURRENT type, which is
    // only sound while the type never changed: a promotion accompanying
    // a rename would ask the parquet reader for old files' bytes at the
    // NEW type and throw (or worse, misread). This repo's own evolution
    // ops reject retypes, so the guard fires only on foreign-written
    // metadata — fail loudly rather than coalesce garbage.
    hist.foreach { case (id, n, t) =>
      idToCurrent.get(id).filter(_ != n).foreach { cur =>
        require(idToCurrentType(id) == t,
          s"column '$cur' (field id $id) was renamed from '$n' AND " +
            s"changed type ($t -> ${idToCurrentType(id)}) across retained " +
            "schemas — reading old-name files at the current type is " +
            "unsupported; compact the table with the writer that " +
            "performed the promotion first")
      }
    }
    val renamedOnly = hist.map { case (id, n, _) => (id, n) }.distinct
      .filter { case (id, n) => idToCurrent.get(id).exists(_ != n) }
      .filterNot { case (_, n) => currentNames.contains(n) }
    // claimants counted over the FULL history — a since-DROPPED field
    // that once bore the name still makes it ambiguous (its era's files
    // would coalesce the wrong field's bytes into the alias)
    val claimants = hist.groupBy(_._2).view
      .mapValues(_.map(_._1).distinct.size).toMap
    renamedOnly.filter { case (_, n) => claimants(n) == 1 }
      .groupBy { case (id, _) => idToCurrent(id) }
      .view.mapValues(_.map(_._2)).toMap
  }

  /** The subset of `entries` provably written under the CURRENT schema
    * (their adding snapshot records the current schema-id): those files
    * carry every current name, so they scan WITHOUT alias coalescing —
    * predicates on renamed columns keep full parquet row-group pushdown
    * there. Files from older/unknown schema generations stay behind the
    * (pushdown-opaque) coalesce. Compaction rewrites files under the
    * current schema-id, so `optimize` restores full pushdown. */
  private def currentGenPaths(meta: TableMeta,
                              entries: Seq[FileEntry]): Set[String] = {
    val curId = Option(meta.schemaJson.get("schema-id")).map(_.asInt())
      .getOrElse(return Set.empty)
    val snapSchema: Map[Long, Int] = meta.snapshots
      .flatMap(s => s.schemaId.map(s.snapshotId -> _)).toMap
    entries.filter(_.addedSnapshotId.exists(sid =>
      snapSchema.get(sid).contains(curId))).map(_.path).toSet
  }

  /** Per-file constant columns of an Iceberg scan, each with its value
    * for a manifest entry (see [[MetaScan]]). */
  private[sources] type Constants = Seq[(StructField, FileEntry => Any)]

  /** Row provenance for row-level deletes: the data file's path as the
    * manifest records it (what a position-delete file must reference),
    * its scheme-normalized form (the key position deletes match on,
    * whatever scheme spelling their writer used) and its data sequence
    * number. [[scanEntries]] adds `_gf_pos`, the parquet row index. */
  private val provenance: Constants = Seq(
    (StructField("_gf_file", StringType), _.path),
    (StructField("_gf_path", StringType), e => normSchemeString(e.path)),
    (StructField("_gf_seq", LongType), _.seq))

  /** The provenance columns a `provenance = true` scan carries. */
  private[sources] val provenanceCols: Seq[String] =
    provenance.map(_._1.name) :+ "_gf_pos"

  /** Manifest-known (path, size, commit-timestamp) of each entry — what
    * [[MetaScan.parquetScan]] plans from without re-statting files —
    * with the entry's values for `constants`. */
  private def knownFiles(meta: TableMeta, entries: Seq[FileEntry],
                         constants: Constants = Nil): Seq[MetaScan.KnownFile] = {
    val tsOf: Map[Long, Long] =
      meta.snapshots.map(s => s.snapshotId -> s.timestampMs).toMap
    entries.map(e => MetaScan.KnownFile(e.path, e.size,
      e.addedSnapshotId.flatMap(tsOf.get).getOrElse(0L), constants.map(_._2(e))))
  }

  /**
   * The rows of `entries` under `readSchema`, generation-aware (see
   * [[currentGenPaths]]): current-schema files scan plain, older ones
   * through the historical-alias coalesce, the two legs unioned by
   * position. Output: `readSchema`'s columns, then — with `provenance`,
   * the input [[applyDeletes]] needs — `_gf_pos`, `_gf_file`, `_gf_path`,
   * `_gf_seq`, then the `constants`.
   */
  private[sources] def scanEntries(spark: SparkSession, meta: TableMeta,
                                   readSchema: StructType,
                                   entries: Seq[FileEntry],
                                   provenance: Boolean = false,
                                   constants: Constants = Nil): DataFrame = {
    val consts = (if (provenance) this.provenance else Nil) ++ constants
    val constSchema = StructType(consts.map(_._1))
    // `_metadata` does not resolve through the generation-split union:
    // the row index attaches inside each leg
    val tail = (if (provenance) Seq(col("_metadata.row_index").as("_gf_pos")) else Nil) ++
      constSchema.fieldNames.map(col)
    val aliases = historicalAliases(meta)
      .filter { case (cur, _) => readSchema.fieldNames.contains(cur) }
    // nested (struct-member) renames, grouped by top-level column;
    // disjoint from `aliases` — nestedAliases refuses a rename whose
    // ancestor was also renamed, so a column has one kind or neither
    val nested: Map[String, Seq[(Seq[String], Seq[String])]] = nestedAliases(meta)
      .toSeq.collect { case (path, olds)
        if readSchema.fieldNames.contains(path.head) =>
          (path.head, (path.tail, olds))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def plain(es: Seq[FileEntry]): DataFrame = {
      val df = MetaScan.parquetScan(spark, readSchema, knownFiles(meta, es, consts), constSchema)
      if (provenance) df.select(readSchema.fieldNames.map(col).toSeq ++ tail: _*) else df
    }
    def aliased(es: Seq[FileEntry]): DataFrame =
      aliasScan(spark, readSchema, knownFiles(meta, es, consts), constSchema, tail,
        aliases, nested)
    if (aliases.isEmpty && nested.isEmpty) return plain(entries)
    // generation split: current-schema files scan PLAIN (full pushdown);
    // only older generations pay the alias coalesce
    val currentGen = currentGenPaths(meta, entries)
    val (newE, oldE) = entries.partition(e => currentGen(e.path))
    if (oldE.isEmpty) plain(entries)
    else if (newE.isEmpty) aliased(entries)
    else plain(newE).union(aliased(oldE))
  }

  /**
   * One parquet scan over `files` under `readSchema` (current logical
   * names), with historical-name fallback: a column renamed after some
   * of the files were written surfaces under its OLD name in those
   * files, so the scan requests the aliases too and coalesces. Exact: a
   * file never carries both names (renames are metadata-only), missing
   * parquet columns read null, and genuine nulls coalesce to null.
   * `aliases`/`nested` are the renamed top-level columns' and struct
   * members' old names; `tail` follows the projected columns.
   *
   * Scale note: parquet ROW-GROUP pushdown of predicates on a RENAMED
   * column is lost behind the coalesce (filters on other columns still
   * push; never-renamed tables are unaffected). The heavier 100 TB lever
   * is untouched: manifest bounds key on FIELD IDS, so whole-file
   * skipping for renamed-column predicates keeps working.
   */
  private def aliasScan(spark: SparkSession, readSchema: StructType,
                        files: Seq[MetaScan.KnownFile], constSchema: StructType,
                        tail: Seq[Column], aliases: Map[String, Seq[String]],
                        nested: Map[String, Seq[(Seq[String], Seq[String])]]): DataFrame = {
    val byName = readSchema.fields.map(f => f.name -> f).toMap
    val extra = aliases.toSeq.flatMap { case (cur, olds) =>
      olds.map(o => StructField(o, byName(cur).dataType, nullable = true))
    }
    val requested = StructType(readSchema.fields.map { f =>
      nested.get(f.name) match {
        case Some(entries) => f.copy(dataType = entries.foldLeft(f.dataType) {
          case (dt, (rel, olds)) => addNestedAliasFields(dt, rel, olds)
        })
        case None => f
      }
    } ++ extra)
    val projected = readSchema.fields.toSeq.map { f =>
      aliases.get(f.name) match {
        case Some(olds) =>
          org.apache.spark.sql.functions.coalesce(
            (f.name +: olds).map(org.apache.spark.sql.functions.col): _*)
            .as(f.name)
        case None => nested.get(f.name) match {
          case Some(entries) => entries.foldLeft(
              org.apache.spark.sql.functions.col(f.name)) {
              case (c, (rel, olds)) => coalesceNestedAlias(c, rel, olds)
            }.as(f.name)
          case None => org.apache.spark.sql.functions.col(f.name)
        }
      }
    }
    MetaScan.parquetScan(spark, requested, files, constSchema)
      .select(projected ++ tail: _*)
  }

  /**
   * Enumerate every field reachable through STRUCT chains in a schema
   * JSON struct node: (id path, name path, type node). Fields under
   * list/map types are not walked — nested evolution addresses struct
   * members only (the Iceberg spec gives list elements and map entries
   * ids too, but renaming those is not supported here).
   */
  private[sources] def walkStructFields(structNode: JsonNode)
      : Seq[(Seq[Int], Seq[String], JsonNode)] = {
    def walk(node: JsonNode, idPath: Seq[Int], namePath: Seq[String])
        : Seq[(Seq[Int], Seq[String], JsonNode)] =
      Option(node.get("fields")).toSeq.flatMap(_.elements().asScala).flatMap { f =>
        val ip = idPath :+ f.get("id").asInt()
        val np = namePath :+ f.get("name").asText()
        val t = f.get("type")
        val self = (ip, np, t)
        if (t.isObject && t.get("type").asText() == "struct")
          self +: walk(t, ip, np)
        else Seq(self)
      }
    walk(structNode, Nil, Nil)
  }

  /**
   * Historical leaf names per CURRENT NESTED field path (length ≥ 2),
   * the struct-member counterpart of [[historicalAliases]]: a field
   * renamed inside its parent struct surfaces under the OLD leaf name in
   * files written before the rename, so the scan requests that leaf too
   * and coalesces INSIDE the struct. Guards (loud, because a silent skip
   * here nulls data): the renamed field's type must be unchanged across
   * the retained schemas, and every ANCESTOR struct must have kept its
   * name — a rename of both a struct and a member spans generations this
   * name-based reader cannot tell apart (the spec resolves that only
   * through footer field ids; compact the old generation first).
   * Ambiguous old names (ever claimed by a different field id under the
   * same parent, or equal to a current sibling) are excluded — those
   * files' member reads null, mirroring the top-level rule.
   */
  private[sources] def nestedAliases(meta: TableMeta)
      : Map[Seq[String], Seq[String]] = {
    if (meta.schemasJson.size <= 1) return Map.empty
    val current = walkStructFields(meta.schemaJson)
    val currentByIdPath: Map[Seq[Int], (Seq[String], JsonNode)] =
      current.map { case (ip, np, t) => ip -> (np, t) }.toMap
    val hist: Seq[(Seq[Int], Seq[String], String)] = meta.schemasJson
      .flatMap(s => walkStructFields(s).map { case (ip, np, t) =>
        (ip, np, t.toString)
      }).distinct
    // names ever borne per (parent id path, leaf name) — the ambiguity rule
    val claimants: Map[(Seq[Int], String), Int] = hist
      .map { case (ip, np, _) => (ip.init, np.last) -> ip.last }
      .distinct.groupBy(_._1).view.mapValues(_.size).toMap
    val renamedNested = hist.filter { case (ip, np, _) =>
      ip.size >= 2 && currentByIdPath.get(ip).exists(_._1.last != np.last)
    }
    renamedNested.foreach { case (ip, np, t) =>
      val (curNp, curT) = currentByIdPath(ip)
      require(curT.toString == t,
        s"nested field '${curNp.mkString(".")}' (id path ${ip.mkString(".")})" +
          s" was renamed from '${np.last}' AND its type changed across " +
          "retained schemas — reading old-name files at the current type " +
          "is unsupported; compact the old file generation first")
      // ancestor stability: every retained schema that contains an
      // ancestor id path must agree with the CURRENT ancestor names
      ip.indices.dropRight(1).foreach { i =>
        val prefix = ip.take(i + 1)
        val curPrefixNames = curNp.take(i + 1)
        hist.filter(_._1 == prefix).foreach { case (_, histNp, _) =>
          require(histNp == curPrefixNames,
            s"nested field '${curNp.mkString(".")}' was renamed while its " +
              s"ancestor '${histNp.mkString(".")}' was ALSO renamed across " +
              "retained schemas — name-based reads cannot resolve both " +
              "generations; compact the old file generation first")
        }
      }
    }
    val currentSiblingNames: Map[Seq[Int], Set[String]] = current
      .groupBy(_._1.init).view.mapValues(_.map(_._2.last).toSet).toMap
    renamedNested
      .filter { case (ip, np, _) =>
        claimants((ip.init, np.last)) == 1 &&
          !currentSiblingNames.getOrElse(ip.init, Set.empty).contains(np.last)
      }
      .groupBy { case (ip, _, _) => currentByIdPath(ip)._1 }
      .view.mapValues(_.map(_._2.last).distinct).toMap
  }

  /** Append alias leaf fields inside the struct at `rel.init` (the
    * renamed member's parent), so the parquet request schema carries the
    * OLD leaf names for pre-rename files. */
  private def addNestedAliasFields(dt: DataType, rel: Seq[String],
                                   olds: Seq[String]): DataType = dt match {
    case s: StructType if rel.size == 1 =>
      val leafType = s.fields.find(_.name == rel.head).map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"alias path leaf ${rel.head} not in ${s.simpleString}"))
      StructType(s.fields ++ olds.map(o =>
        StructField(o, leafType, nullable = true)))
    case s: StructType =>
      StructType(s.fields.map(f =>
        if (f.name == rel.head)
          f.copy(dataType = addNestedAliasFields(f.dataType, rel.tail, olds))
        else f))
    case other => throw new IllegalStateException(
      s"alias path ${rel.mkString(".")} does not navigate a struct in " +
        other.simpleString)
  }

  /** Coalesce a renamed struct member with its old-name leaves, then drop
    * the alias leaves — innermost [[org.apache.spark.sql.Column.withField]]
    * rebuild, null-struct rows stay null. */
  private def coalesceNestedAlias(base: org.apache.spark.sql.Column,
                                  rel: Seq[String], olds: Seq[String])
      : org.apache.spark.sql.Column =
    if (rel.size == 1)
      base.withField(rel.head, org.apache.spark.sql.functions.coalesce(
          (base.getField(rel.head) +: olds.map(base.getField)): _*))
        .dropFields(olds: _*)
    else
      base.withField(rel.head,
        coalesceNestedAlias(base.getField(rel.head), rel.tail, olds))

  /** Bounded LRU of parsed manifest / manifest-list files. Iceberg
    * metadata avro files are WRITE-ONCE under uuid names, so a (path,
    * mtime, length) key can never serve stale content; the one
    * getFileStatus per hit (cheap next to a full read+decode) also
    * preserves deletion semantics — an expired manifest misses the cache
    * and fails like an uncached read. A multi-action operation (write →
    * delete → optimize → read) re-reads the same manifests once per
    * action otherwise; callers only ever read the records. Entry-capped:
    * at production scale a manifest holds thousands of entries, so the
    * cache holds the working set of one operation, not a table. No
    * cross-run reuse exists to exploit — each bench invocation writes
    * fresh uuid-named files. */
  private val avroCacheMax = 32
  private val avroCache =
    new java.util.LinkedHashMap[(String, Long, Long), Seq[GenericRecord]](
      avroCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Seq[GenericRecord]]): Boolean =
        size() > avroCacheMax
    }

  private def readAvro(conf: Configuration, path: String): Seq[GenericRecord] = {
    val p = new Path(path)
    val st = p.getFileSystem(conf).getFileStatus(p)
    val key = (path, st.getModificationTime, st.getLen)
    avroCache.synchronized {
      val hit = avroCache.get(key)
      if (hit != null) return hit
    }
    val reader = new DataFileReader[GenericRecord](
      new FsInput(p, conf), new GenericDatumReader[GenericRecord]())
    val records = try reader.iterator().asScala.toVector finally reader.close()
    avroCache.synchronized { avroCache.put(key, records); () }
    records
  }

  private[sources] def writeAvro(conf: Configuration, path: Path, schema: Schema,
                        records: Seq[GenericRecord]): Long = {
    val f = path.getFileSystem(conf)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    // overwrite=false: metadata avro files are WRITE-ONCE (fresh uuid
    // names); the parse cache above keys on that, so a rewrite in place
    // must fail loudly here instead of serving stale records there
    w.create(schema, f.create(path, false))
    try records.foreach(w.append) finally w.close()
    f.getFileStatus(path).getLen
  }

  // ----------------------------------------------------------- snapshots

  final case class SnapshotInfo(snapshotId: Long, timestampMs: Long,
                                manifestList: Option[String],
                                inlineManifests: Seq[String],
                                operation: String,
                                summary: Map[String, String] = Map.empty,
                                parentId: Option[Long] = None,
                                sequenceNumber: Long = 0L,
                                schemaId: Option[Int] = None)

  /** One field of a partition spec (spec §Partition Specs): `transform`
    * is identity / bucket[N] / truncate[W] / year / month / day / hour. */
  final case class PartitionField(sourceId: Int, fieldId: Int,
                                  name: String, transform: String)

  final case class TableMeta(formatVersion: Int, location: String,
                             schema: StructType, schemaJson: JsonNode,
                             snapshots: Seq[SnapshotInfo],
                             currentSnapshotId: Option[Long],
                             lastColumnId: Int, lastSequenceNumber: Long,
                             tableUuid: String, version: Long,
                             partitionSpec: Seq[PartitionField],
                             metadataPath: String = "",
                             defaultSpecId: Int = 0,
                             lastPartitionId: Int = 999,
                             schemasJson: Seq[JsonNode] = Nil,
                             properties: Map[String, String] = Map.empty,
                             sortOrdersJson: Seq[JsonNode] = Nil,
                             defaultSortOrderId: Int = 0)

  /** Parse the latest (or given) metadata file. */
  def tableMeta(spark: SparkSession, root: String,
                metadataLocation: Option[String] = None): TableMeta = {
    val f = fs(spark, root)
    val p = metadataLocation.map(new Path(_)).getOrElse(latestMetadata(f, root))
    val node = mapper.readTree(readText(f, p))
    val fv = node.get("format-version").asInt()
    require(fv == 1 || fv == 2, s"unsupported iceberg format-version $fv")
    val schemaNode =
      if (node.has("schemas")) {
        val cur = node.get("current-schema-id").asInt()
        node.get("schemas").elements().asScala
          .find(s => s.get("schema-id").asInt() == cur)
          .getOrElse(throw new IllegalArgumentException(
            s"current-schema-id $cur not in schemas"))
      } else node.get("schema") // v1
    val snaps = Option(node.get("snapshots")).toSeq
      .flatMap(_.elements().asScala).map { s =>
      SnapshotInfo(
        s.get("snapshot-id").asLong(),
        s.get("timestamp-ms").asLong(),
        Option(s.get("manifest-list")).map(_.asText()),
        Option(s.get("manifests")).toSeq
          .flatMap(_.elements().asScala).map(_.asText()),
        Option(s.get("summary")).flatMap(su => Option(su.get("operation")))
          .map(_.asText()).getOrElse("append"),
        Option(s.get("summary")).map(su =>
          su.properties().asScala.map(e =>
            e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
        Option(s.get("parent-snapshot-id")).map(_.asLong()),
        Option(s.get("sequence-number")).map(_.asLong()).getOrElse(0L),
        Option(s.get("schema-id")).map(_.asInt()))
    }
    val versioned = "v(\\d+)\\.metadata\\.json".r
    val version = p.getName match {
      case versioned(v) => v.toLong
      case _ => 0L
    }
    // default partition spec: v2 `partition-specs` + `default-spec-id`,
    // v1 fallback `partition-spec`
    val defaultSpecId =
      Option(node.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val specFields: Seq[JsonNode] =
      if (node.has("partition-specs")) {
        node.get("partition-specs").elements().asScala
          .find(s => s.get("spec-id").asInt() == defaultSpecId)
          .map(_.get("fields").elements().asScala.toSeq).getOrElse(Nil)
      } else Option(node.get("partition-spec")).toSeq
        .flatMap(_.elements().asScala)
    val spec = specFields.map(fd => PartitionField(
      fd.get("source-id").asInt(), fd.get("field-id").asInt(),
      fd.get("name").asText(), fd.get("transform").asText()))
    val lastPartitionId =
      Option(node.get("last-partition-id")).map(_.asInt()).getOrElse(
        (999 +: spec.map(_.fieldId)).max)
    TableMeta(fv, node.get("location").asText(root),
      toSparkType(schemaNode).asInstanceOf[StructType], schemaNode,
      snaps,
      Option(node.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L),
      Option(node.get("last-column-id")).map(_.asInt()).getOrElse(0),
      Option(node.get("last-sequence-number")).map(_.asLong()).getOrElse(0L),
      Option(node.get("table-uuid")).map(_.asText())
        .getOrElse(java.util.UUID.randomUUID().toString),
      version, spec, p.toString, defaultSpecId, lastPartitionId,
      // ALL retained schema versions (v2; v1 has one) — rename-alias
      // derivation walks them ([[historicalAliases]])
      if (node.has("schemas"))
        node.get("schemas").elements().asScala.toSeq
      else Option(node.get("schema")).toSeq,
      Option(node.get("properties")).map(p =>
        p.properties().asScala.map(e =>
          e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      Option(node.get("sort-orders")).toSeq
        .flatMap(_.elements().asScala),
      Option(node.get("default-sort-order-id")).map(_.asInt()).getOrElse(0))
  }

  /** Snapshot history (id, commit time, operation) — the DESCRIBE
    * HISTORY equivalent. */
  def snapshots(spark: SparkSession, root: String): Seq[SnapshotInfo] =
    tableMeta(spark, root).snapshots.sortBy(_.timestampMs)

  // ---------------------------------------------------------------- read

  /** Iceberg paths may be absolute URIs or relative to the table. */
  private[sources] def absolutize(root: String, p: String): String =
    if (p.contains(":/") || p.startsWith("/")) p
    else s"${root.stripSuffix("/")}/$p"

  /** Strip URI schemes so delete-file paths match the data files'
    * recorded paths regardless of how either writer spelled the scheme. */
  private def normPath(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:", ""), "^/+", "/")

  private[sources] final case class FileEntry(path: String, seq: Long,
                                              equalityIds: Seq[Int],
                                              partition: Map[String, Any] = Map.empty,
                                              size: Long = 0L,
                                              records: Long = 0L,
                                              addedSnapshotId: Option[Long] = None,
                                              nullCounts: Map[Int, Long] = Map.empty,
                                              lowerBounds: Map[Int, Array[Byte]] = Map.empty,
                                              upperBounds: Map[Int, Array[Byte]] = Map.empty)

  // ------------------------------------------------- partition pruning

  /**
   * A predicate over a PARTITION FIELD (by spec field name), compared
   * against the stored (already-transformed) partition value: identity
   * values as-is, `day`/`month`/`year` as int offsets from 1970,
   * `bucket[N]` as the bucket int, `truncate[W]` as the truncated value.
   * `op` ∈ =, !=, <, <=, >, >=, in (value: Seq). Use
   * [[projectPredicate]] to derive these from source-column predicates.
   */
  final case class PartitionPredicate(name: String, op: String, value: Any)

  /** normalize partition values for comparison */
  private def normVal(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.lang.Byte => b.longValue()
    case s: java.lang.Short => s.longValue()
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l
    case f: java.lang.Float => f.doubleValue()
    case d: java.lang.Double => d
    case other => other
  }

  private def cmp(a: Any, b: Any): Int = (normVal(a), normVal(b)) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
    case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  private def evalPredicate(p: PartitionPredicate, v: Any): Boolean = {
    if (v == null) return p.op == "!=" // null partition never matches a bound
    p.op match {
      case "=" => cmp(v, p.value) == 0
      case "!=" => cmp(v, p.value) != 0
      case "<" => cmp(v, p.value) < 0
      case "<=" => cmp(v, p.value) <= 0
      case ">" => cmp(v, p.value) > 0
      case ">=" => cmp(v, p.value) >= 0
      case "in" => p.value.asInstanceOf[Seq[Any]].exists(x => cmp(v, x) == 0)
      case other => throw new IllegalArgumentException(s"unknown predicate op $other")
    }
  }

  /** Iceberg's bucket hash (spec §Bucket Transform details): 32-bit
    * murmur3_x86_32 (seed 0) over the single-value binary form —
    * int/long/date promoted to 8-byte little-endian long, string as
    * UTF-8 bytes. */
  def bucketHash(v: Any): Int = {
    val bytes = normVal(v) match {
      case l: Long =>
        java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
      case s: String => s.getBytes("UTF-8")
      case other => throw new IllegalArgumentException(
        s"bucket transform unsupported for ${other.getClass.getSimpleName}")
    }
    murmur3x86_32(bytes, 0)
  }

  def bucketOf(v: Any, n: Int): Int =
    (bucketHash(v) & Integer.MAX_VALUE) % n

  // --------------------------------------------- hidden partitioning (write)

  /** One `partition_by` entry parsed: identity `"col"`, or a transform
    * `day(ts)` / `month(ts)` / `year(ts)` / `hour(ts)` / `bucket(16, id)`
    * / `truncate(4, s)` — Iceberg HIDDEN PARTITIONING, where the field
    * name follows Java Iceberg's `<col>_<transform>` convention and the
    * stored transform string matches the spec JSON forms the reader's
    * `projectPredicate`/`evalPredicate` already consume. */
  final case class WriteTransform(fieldName: String, sourceCol: String,
                                  transform: String) {
    def resultType(srcType: DataType): DataType = transform match {
      case "identity" => srcType
      case "year" | "month" | "day" | "hour" => IntegerType
      case b if b.startsWith("bucket") => IntegerType
      case _ => srcType // truncate keeps the source type
    }
  }

  def parseTransform(spec: String): WriteTransform = {
    val fn = "^([A-Za-z_]+)\\(([^)]*)\\)$".r
    spec.trim match {
      case fn(name, args0) =>
        val args = args0.split(",").map(_.trim).filter(_.nonEmpty)
        name.toLowerCase match {
          case "identity" =>
            require(args.length == 1, s"identity(col): '$spec'")
            WriteTransform(args(0), args(0), "identity")
          case t @ ("year" | "month" | "day" | "hour") =>
            require(args.length == 1, s"$t(col): '$spec'")
            WriteTransform(s"${args(0)}_$t", args(0), t)
          case "bucket" =>
            require(args.length == 2, s"bucket(N, col): '$spec'")
            WriteTransform(s"${args(1)}_bucket", args(1), s"bucket[${args(0).toInt}]")
          case "truncate" =>
            require(args.length == 2, s"truncate(W, col): '$spec'")
            WriteTransform(s"${args(1)}_trunc", args(1), s"truncate[${args(0).toInt}]")
          case other => throw new IllegalArgumentException(
            s"unknown iceberg partition transform '$other' in '$spec'")
        }
      case plain => WriteTransform(plain, plain, "identity")
    }
  }

  /** The transformed partition value as a CODEGEN'D column (spec
    * transform math; sessions run UTC, which is what year/month over
    * timestamps assume). */
  private[sources] def transformColumn(t: WriteTransform, srcType: DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val c = col(t.sourceCol)
    val bucketR = "bucket\\[(\\d+)\\]".r
    val truncR = "truncate\\[(\\d+)\\]".r
    def seconds = srcType match {
      case TimestampNTZType => unix_seconds(c.cast(TimestampType))
      case _ => unix_seconds(c)
    }
    def floorDiv(x: org.apache.spark.sql.Column, d: Long) =
      ((x - pmod(x, lit(d))) / lit(d)).cast(IntegerType)
    // timestamps derive calendar fields from their UTC DATE (epoch-day
    // floor-division then date arithmetic) — session-timezone year()/
    // month() would write values the always-UTC read-side projection
    // then prunes incorrectly
    def utcDate: org.apache.spark.sql.Column = srcType match {
      case DateType => c
      case _ => date_add(to_date(lit("1970-01-01")), floorDiv(seconds, 86400L))
    }
    t.transform match {
      case "identity" => c
      case "year" => (year(utcDate) - lit(1970)).cast(IntegerType)
      case "month" =>
        ((year(utcDate) - lit(1970)) * lit(12) + month(utcDate) - lit(1))
          .cast(IntegerType)
      case "day" => srcType match {
        case DateType => datediff(c, to_date(lit("1970-01-01"))).cast(IntegerType)
        case _ => floorDiv(seconds, 86400L)
      }
      case "hour" => floorDiv(seconds, 3600L)
      case bucketR(n) =>
        org.apache.spark.sql.graftshim.ColumnShim.column(
          graft.expressions.IcebergBucket(
            org.apache.spark.sql.graftshim.ColumnShim.expression(c), n.toInt))
      case truncR(w) => srcType match {
        case StringType => substring(c, 1, w.toInt)
        case ByteType | ShortType | IntegerType | LongType =>
          (c - pmod(c, lit(w.toLong))).cast(srcType)
        case other => throw new IllegalArgumentException(
          s"truncate transform unsupported for ${other.simpleString}")
      }
      case other => throw new IllegalArgumentException(
        s"unknown transform '$other'")
    }
  }

  /** Unboxed executor-side forms (called from [[graft.expressions
    * .IcebergBucket]]'s generated code on hidden-partitioned writes). */
  def bucketOfLong(v: Long, n: Int): Int = {
    val bytes = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    (murmur3x86_32(bytes, 0) & Integer.MAX_VALUE) % n
  }

  def bucketOfUtf8(s: org.apache.spark.unsafe.types.UTF8String, n: Int): Int =
    (murmur3x86_32(s.getBytes, 0) & Integer.MAX_VALUE) % n

  /** murmur3_x86_32 (Austin Appleby, public domain). */
  private def murmur3x86_32(data: Array[Byte], seed: Int): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = seed
    val nblocks = data.length / 4
    var i = 0
    while (i < nblocks) {
      var k = (data(i * 4) & 0xff) | ((data(i * 4 + 1) & 0xff) << 8) |
        ((data(i * 4 + 2) & 0xff) << 16) | ((data(i * 4 + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    (data.length & 3) match {
      case 3 =>
        k1 ^= (data(tail + 2) & 0xff) << 16
        k1 ^= (data(tail + 1) & 0xff) << 8
        k1 ^= data(tail) & 0xff
      case 2 =>
        k1 ^= (data(tail + 1) & 0xff) << 8
        k1 ^= data(tail) & 0xff
      case 1 => k1 ^= data(tail) & 0xff
      case _ =>
    }
    if ((data.length & 3) != 0) {
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h ^= k1
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  /**
   * Inclusive projection of a SOURCE-column predicate onto the table's
   * partition spec (the transform math of Iceberg's
   * `Projections.inclusive`): returns partition predicates that keep a
   * superset of matching files — safe to prune with, never lossy.
   * Monotonic transforms (identity, truncate, day/month/year/hour) keep
   * range ops (relaxed to <=/>= at the truncated boundary); `bucket[N]`
   * projects equality and IN only. Timestamp values: pass
   * `java.time.Instant`/`LocalDate`/`java.sql.Timestamp`/`Date`;
   * date columns also accept epoch-day ints.
   */
  def projectPredicate(meta: TableMeta, column: String, op: String,
                       value: Any): Seq[PartitionPredicate] = {
    val idToName: Map[Int, String] = meta.schemaJson.get("fields")
      .elements().asScala.map(fd =>
        fd.get("id").asInt() -> fd.get("name").asText()).toMap
    val bucketR = "bucket\\[(\\d+)\\]".r
    val truncR = "truncate\\[(\\d+)\\]".r
    def localDate(v: Any): java.time.LocalDate = v match {
      case d: java.time.LocalDate => d
      case i: java.time.Instant => i.atZone(java.time.ZoneOffset.UTC).toLocalDate
      case t: java.sql.Timestamp => t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      case d: java.sql.Date => d.toLocalDate
      case n: Number => java.time.LocalDate.ofEpochDay(n.longValue())
      case s: String => java.time.LocalDate.parse(s.take(10))
      case other => throw new IllegalArgumentException(s"not a date/timestamp: $other")
    }
    // date/timestamp values normalize to the ORDINAL the spec stores
    // (epoch days / epoch micros) for identity and bucket transforms —
    // the generic comparator would otherwise fall back to string
    // comparison between a LocalDate and a stored day-int
    def ordinal(v: Any): Any = v match {
      case d: java.time.LocalDate => d.toEpochDay
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case i: java.time.Instant =>
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          i.getNano / 1000L)
      case t: java.sql.Timestamp => ordinal(t.toInstant)
      case other => other
    }
    meta.partitionSpec.filter(f => idToName.get(f.sourceId).contains(column))
      .flatMap { f =>
        f.transform match {
          case "identity" => op match {
            case "in" => Some(PartitionPredicate(f.name, "in",
              value.asInstanceOf[Seq[Any]].map(ordinal)))
            case _ => Some(PartitionPredicate(f.name, op, ordinal(value)))
          }
          case "void" => None
          case bucketR(n) => op match {
            case "=" => Some(PartitionPredicate(f.name, "=",
              bucketOf(ordinal(value), n.toInt)))
            case "in" => Some(PartitionPredicate(f.name, "in",
              value.asInstanceOf[Seq[Any]].map(v => bucketOf(ordinal(v), n.toInt))))
            case _ => None // buckets cannot serve range predicates
          }
          case other =>
            def transformOne(v: Any): Any = other match {
              case truncR(w) => normVal(v) match {
                case l: Long => l - java.lang.Math.floorMod(l, w.toLong)
                case s: String =>
                  // CODE-POINT truncation, matching the write side's
                  // substring(c, 1, w) semantics and the Iceberg spec —
                  // UTF-16-unit take(w) would split surrogate pairs and
                  // project a value the stored partition never equals
                  val cps = s.codePointCount(0, s.length)
                  s.substring(0, s.offsetByCodePoints(0, math.min(w.toInt, cps)))
                case v0 => throw new IllegalArgumentException(
                  s"truncate transform unsupported for ${v0.getClass.getSimpleName}")
              }
              case "day" => localDate(v).toEpochDay
              case "month" =>
                val d = localDate(v); (d.getYear - 1970) * 12 + d.getMonthValue - 1
              case "year" => localDate(v).getYear - 1970
              case "hour" =>
                // FLOOR division (matches the write side's pmod-based
                // floorDiv) — truncating `/` is off by one for pre-1970
                // timestamps and would prune the partition holding the
                // rows. Number inputs are epoch MICROS (the Iceberg
                // spec's timestamp representation, what manifests store).
                java.lang.Math.floorDiv((v match {
                  case i: java.time.Instant => i
                  case t: java.sql.Timestamp => t.toInstant
                  case n: Number =>
                    java.time.Instant.ofEpochSecond(
                      java.lang.Math.floorDiv(n.longValue(), 1000000L),
                      java.lang.Math.floorMod(n.longValue(), 1000000L) * 1000L)
                  case v0 => throw new IllegalArgumentException(s"not a timestamp: $v0")
                }).getEpochSecond, 3600L)
              case u => throw new IllegalArgumentException(s"unknown transform $u")
            }
            // truncation is monotonic but lossy: relax strict bounds so
            // values sharing the boundary partition survive
            val relaxedOp = op match {
              case "<" => "<="
              case ">" => ">="
              case o => o
            }
            op match {
              case "in" => Some(PartitionPredicate(f.name, "in",
                value.asInstanceOf[Seq[Any]].map(transformOne)))
              case "!=" => None // inclusive projection cannot use != on lossy transforms
              case _ => Some(PartitionPredicate(f.name, relaxedOp, transformOne(value)))
            }
        }
      }
  }

  /** Decode a spec "single-value binary" bound by source Spark type
    * (manifest-list partition summaries). */
  private def decodeBound(bytes: Array[Byte], dt: DataType): Option[Any] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if bytes.length == 4 => Some(bb.getInt.toLong)
      case LongType | TimestampType | TimestampNTZType if bytes.length == 8 => Some(bb.getLong)
      case StringType => Some(new String(bytes, "UTF-8"))
      case _ => None // unsupported bound type: do not prune on it
    }
  }

  /** The Spark type a partition FIELD's values carry (= the transform's
    * result type over the source column type). */
  private def partitionFieldType(meta: TableMeta, f: PartitionField): DataType = {
    val srcType: Option[DataType] = meta.schemaJson.get("fields")
      .elements().asScala.zip(meta.schema.fields.iterator)
      .collectFirst { case (js, sf) if js.get("id").asInt() == f.sourceId =>
        sf.dataType }
    f.transform match {
      case "identity" => srcType.getOrElse(StringType)
      case t if t.startsWith("truncate") => srcType.getOrElse(StringType)
      case _ => IntegerType // bucket/day/month/year/hour all store ints
    }
  }

  /** Can any partition value inside [lower, upper] satisfy `p`? */
  private def boundsMayMatch(p: PartitionPredicate, lower: Option[Any],
                             upper: Option[Any]): Boolean = (lower, upper) match {
    case (Some(lo), Some(hi)) => p.op match {
      case "=" => cmp(p.value, lo) >= 0 && cmp(p.value, hi) <= 0
      case "<" => cmp(lo, p.value) < 0
      case "<=" => cmp(lo, p.value) <= 0
      case ">" => cmp(hi, p.value) > 0
      case ">=" => cmp(hi, p.value) >= 0
      case "in" => p.value.asInstanceOf[Seq[Any]]
        .exists(v => cmp(v, lo) >= 0 && cmp(v, hi) <= 0)
      case "!=" => !(cmp(lo, hi) == 0 && cmp(lo, p.value) == 0)
      case _ => true
    }
    case _ => true // no bounds recorded: cannot prune
  }

  /** Walk a snapshot's manifests into (data, positionDelete,
    * equalityDelete) file entries with inherited sequence numbers.
    * `predicates` prune at BOTH metadata levels before any parquet is
    * touched: whole manifests via the manifest-list rows' per-field
    * bound summaries, then individual data files via their partition
    * tuples. Delete files are never pruned (a pruned data file simply
    * leaves its delete rows unmatched). */
  private def collectFiles(conf: Configuration, root: String,
                           snap: SnapshotInfo, meta: TableMeta,
                           predicates: Seq[PartitionPredicate] = Nil,
                           derivedDnf: Seq[Seq[PartitionPredicate]] = Nil)
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) = {
    val specIndex: Map[String, Int] = meta.partitionSpec.map(_.name)
      .zipWithIndex.toMap
    // manifest list → (manifest path, content, sequence); v1 inline = data
    val manifests: Seq[(String, Int, Long, Boolean)] = snap.manifestList match {
      case Some(ml) => readAvro(conf, absolutize(root, ml)).flatMap { r =>
        // bound-summary pruning is positional per SPEC: a manifest written
        // under an older (evolved) spec indexes its summaries differently,
        // so only manifests of the DEFAULT spec (which the predicates were
        // projected against) may prune here — others fall through to the
        // per-file tuple check, which matches by field NAME and is sound
        val sameSpec = opt(r, "partition_spec_id")
          .forall(_.asInstanceOf[Int] == meta.defaultSpecId)
        val keep = (predicates.isEmpty && derivedDnf.isEmpty) || !sameSpec ||
          r.getSchema.getField("partitions") == null ||
          (opt(r, "partitions") match {
            case Some(parts: java.util.Collection[_]) =>
              val summaries = parts.asScala.toSeq.map(_.asInstanceOf[GenericRecord])
              def mayMatchSummary(p: PartitionPredicate): Boolean =
                specIndex.get(p.name) match {
                  case Some(i) if i < summaries.size =>
                    val s = summaries(i)
                    val dt = partitionFieldType(meta, meta.partitionSpec(i))
                    def bound(field: String): Option[Any] =
                      opt(s, field).flatMap {
                        case bb: java.nio.ByteBuffer =>
                          val arr = new Array[Byte](bb.remaining())
                          bb.duplicate().get(arr)
                          decodeBound(arr, dt)
                        case b: Array[Byte] => decodeBound(b, dt)
                        case _ => None
                      }
                    boundsMayMatch(p, bound("lower_bound"), bound("upper_bound"))
                  case _ => true
                }
              // the explicit filter is a conjunction; the derived
              // projection is an OR of conjunctions — a manifest
              // survives when ANY disjunct group fully may-match
              predicates.forall(mayMatchSummary) &&
                (derivedDnf.isEmpty ||
                  derivedDnf.exists(_.forall(mayMatchSummary)))
            case _ => true
          })
        if (!keep) None
        else Some((r.get("manifest_path").toString,
          opt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
          opt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
          sameSpec))
      }
      case None => snap.inlineManifests.map(p => (p, 0, 0L, true))
    }
    val dataFiles = scala.collection.mutable.ArrayBuffer[FileEntry]()
    val posDeleteFiles = scala.collection.mutable.ArrayBuffer[FileEntry]()
    val eqDeleteFiles = scala.collection.mutable.ArrayBuffer[FileEntry]()
    manifests.foreach { case (mp, manifestContent, manifestSeq, defaultSpecManifest) =>
      readAvro(conf, absolutize(root, mp)).foreach { entry =>
        val status = opt(entry, "status").map(_.asInstanceOf[Int]).getOrElse(1)
        if (status != 2) { // 2 = DELETED
          val df0 = entry.get("data_file").asInstanceOf[GenericRecord]
          val content = opt(df0, "content").map(_.asInstanceOf[Int])
            .getOrElse(manifestContent)
          val path = absolutize(root, df0.get("file_path").toString)
          val fmt = df0.get("file_format").toString
          require(fmt.equalsIgnoreCase("parquet"),
            s"unsupported iceberg file format '$fmt' for $path")
          // data sequence number: explicit on the entry, else inherited
          // from the manifest-list row (the spec's inheritance rule)
          val seq = opt(entry, "sequence_number").map(_.asInstanceOf[Long])
            .getOrElse(manifestSeq)
          val eqIds = opt(df0, "equality_ids").toSeq.flatMap(
            _.asInstanceOf[java.util.Collection[Any]].asScala.map(
              _.asInstanceOf[Int]))
          // the file's partition tuple (field name -> stored value)
          val partVals: Map[String, Any] = opt(df0, "partition") match {
            case Some(pr: GenericRecord) =>
              pr.getSchema.getFields.asScala.map(fd =>
                fd.name() -> normVal(pr.get(fd.pos()))).toMap
            case _ => Map.empty
          }
          val size = opt(df0, "file_size_in_bytes")
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          val records = opt(df0, "record_count")
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          // the snapshot that ORIGINALLY added this file — carried onto
          // EXISTING entries a rewrite re-emits (spec §Manifests)
          val addedBy = opt(entry, "snapshot_id").map(_.asInstanceOf[Long])
          // per-column stats maps (avro array-of-key-value "maps"):
          // null_value_counts + lower/upper_bounds feed read()'s
          // column-bound file skipping
          def intMap[T](field: String)(conv: Any => Option[T]): Map[Int, T] =
            opt(df0, field).toSeq.flatMap {
              case c: java.util.Collection[_] => c.asScala.toSeq.flatMap {
                case r: GenericRecord =>
                  (Option(r.get("key")), Option(r.get("value"))) match {
                    case (Some(k: java.lang.Integer), Some(v)) =>
                      conv(v).map(k.intValue() -> _)
                    case _ => None
                  }
                case _ => None
              }
              case _ => Nil
            }.toMap
          def bytesOf(v: Any): Option[Array[Byte]] = v match {
            case bb: java.nio.ByteBuffer =>
              val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); Some(arr)
            case b: Array[Byte] => Some(b)
            case _ => None
          }
          content match {
            case 0 =>
              // tuple pruning is only sound against the spec the
              // predicates were projected onto: after partition evolution
              // a RE-PARAMETERIZED transform (bucket(8)->bucket(16)) keeps
              // its field NAME but changes the stored values — old-spec
              // files must be kept, their rows recovered by the
              // re-applied row filter
              def evalOn(p: PartitionPredicate): Boolean =
                partVals.get(p.name) match {
                  case Some(v) => evalPredicate(p, v)
                  case None => true // field absent: cannot prune
                }
              if (!defaultSpecManifest || (predicates.forall(evalOn) &&
                  (derivedDnf.isEmpty || derivedDnf.exists(_.forall(evalOn)))))
                dataFiles += FileEntry(path, seq, Nil, partVals, size, records, addedBy,
                nullCounts = intMap("null_value_counts") {
                  case l: java.lang.Long => Some(l.longValue()); case _ => None },
                lowerBounds = intMap("lower_bounds")(bytesOf),
                upperBounds = intMap("upper_bounds")(bytesOf))
            case 1 =>
              posDeleteFiles += FileEntry(path, seq, Nil, size = size,
                addedSnapshotId = addedBy)
            case 2 =>
              require(eqIds.nonEmpty,
                s"iceberg equality delete file $path lists no equality_ids")
              eqDeleteFiles += FileEntry(path, seq, eqIds, size = size,
                addedSnapshotId = addedBy)
            case other => throw new IllegalArgumentException(
              s"unknown iceberg content type $other")
          }
        }
      }
    }
    (dataFiles.toSeq, posDeleteFiles.toSeq, eqDeleteFiles.toSeq)
  }

  /** Live (data, positionDelete, equalityDelete) file entries of a
    * snapshot — the metadata surface [[IcebergMaintenance]] plans over. */
  private[sources] def snapshotFiles(spark: SparkSession, root: String,
                                     snap: SnapshotInfo, meta: TableMeta)
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) =
    collectFiles(spark.sessionState.newHadoopConf(), root, snap, meta)

  def read(spark: SparkSession, root: String,
           snapshotId: Option[Long] = None,
           asOfTimestampMs: Option[Long] = None,
           metadataLocation: Option[String] = None,
           partitionFilter: Seq[PartitionPredicate] = Nil,
           dataFilter: Option[Column] = None): DataFrame = {
    val meta = tableMeta(spark, root, metadataLocation)
    val target: Option[SnapshotInfo] = (snapshotId, asOfTimestampMs) match {
      case (Some(id), _) =>
        Some(meta.snapshots.find(_.snapshotId == id).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot $id not in [${meta.snapshots.map(_.snapshotId).mkString(", ")}]")))
      case (None, Some(ts)) =>
        val eligible = meta.snapshots.filter(_.timestampMs <= ts).sortBy(_.timestampMs)
        require(eligible.nonEmpty,
          s"no iceberg snapshot at or before timestamp $ts")
        Some(eligible.last)
      case _ => meta.currentSnapshotId.map(id =>
        meta.snapshots.find(_.snapshotId == id).getOrElse(
          throw new IllegalArgumentException(s"current snapshot $id missing")))
    }
    val readSchema = stripFieldIds(meta.schema).asInstanceOf[StructType]
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema)
    val snap = target.getOrElse(return empty)

    val conf = spark.sessionState.newHadoopConf()
    // a dataFilter also prunes at the MANIFEST-LIST level: its
    // projectable structure — conjuncts AND disjunctions of them (an
    // OR-of-months, a date-range union) — projects (inclusively) onto
    // the partition spec, so whole manifests whose bound summaries
    // cannot match are never even read — the two-level metadata walk a
    // 100 TB table needs
    val resolvedFilter = dataFilter.flatMap(f =>
      StatsPruning.resolveCondition(spark, readSchema, f))
    val derivedDnf: Seq[Seq[PartitionPredicate]] =
      resolvedFilter.flatMap(derivedDnfOf(meta, _)).getOrElse(Nil)
    val (dataFiles0, posDeleteFiles, eqDeleteFiles) =
      collectFiles(conf, root, snap, meta, partitionFilter, derivedDnf)
    // column-bound file skipping: drop data files whose manifest
    // lower/upper bounds prove no row can match, then RE-APPLY the
    // predicate on the scan so the prune can never change results.
    // Delete files are never pruned (a skipped data file just leaves its
    // delete rows unmatched).
    val dataFiles = resolvedFilter match {
      case Some(cond) => pruneByBounds(dataFiles0, cond, meta, readSchema)
      case None => dataFiles0
    }
    def withFilter(df: DataFrame): DataFrame =
      dataFilter.map(df.filter).getOrElse(df)
    if (dataFiles.isEmpty) return withFilter(empty)
    if (posDeleteFiles.isEmpty && eqDeleteFiles.isEmpty)
      return withFilter(scanEntries(spark, meta, readSchema, dataFiles))
    val scan = scanEntries(spark, meta, readSchema, dataFiles, provenance = true)
    withFilter(applyDeletes(spark, meta, scan, posDeleteFiles, eqDeleteFiles)
      .drop(provenanceCols: _*))
  }

  /** The OR-of-AND partition projection a resolved source-column filter
    * derives against the table's CURRENT spec (inclusive per group): a
    * file is kept when ANY group fully may-match. None/Nil when any
    * disjunct fails to project — an OR with an unconstrained side cannot
    * prune. A group whose atoms only PARTIALLY project keeps the
    * projectable subset (sound: a subset of conjuncts admits a
    * superset of files). */
  private def derivedDnfOf(meta: TableMeta,
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Seq[Seq[PartitionPredicate]]] =
    StatsPruning.dnfAtoms(cond).map(_.map(_.flatMap {
      case (c, op, v) => projectPredicate(meta, c, op, v)
    })).filter(_.forall(_.nonEmpty))

  /** The inclusive partition predicates a source-column filter derives
    * against the table's CURRENT spec — exactly what
    * `read(dataFilter = ...)` prunes with automatically; exposed so
    * callers and specs can assert the declarative path projects. */
  def derivedPartitionPredicates(spark: SparkSession, root: String,
                                 filter: Column): Seq[PartitionPredicate] = {
    val meta = tableMeta(spark, root)
    val readSchema = stripFieldIds(meta.schema).asInstanceOf[StructType]
    StatsPruning.resolveCondition(spark, readSchema, filter).toSeq
      .flatMap(StatsPruning.conjunctAtoms)
      .flatMap { case (c, op, v) => projectPredicate(meta, c, op, v) }
  }

  /** [[derivedPartitionPredicates]]' disjunctive form: the OR-of-AND
    * groups `read(dataFilter = ...)` prunes with (Nil = no projection). */
  def derivedPartitionDnf(spark: SparkSession, root: String,
                          filter: Column): Seq[Seq[PartitionPredicate]] = {
    val meta = tableMeta(spark, root)
    val readSchema = stripFieldIds(meta.schema).asInstanceOf[StructType]
    StatsPruning.resolveCondition(spark, readSchema, filter)
      .flatMap(derivedDnfOf(meta, _)).getOrElse(Nil)
  }

  /** Skipping report a caller (spec, board fixture) can assert on:
    * how many data files of the CURRENT snapshot a predicate keeps. */
  final case class Pruned(candidates: Int, kept: Int) {
    def skipped: Int = candidates - kept
  }

  def pruneReport(spark: SparkSession, root: String, filter: Column): Pruned = {
    val meta = tableMeta(spark, root)
    val snap = meta.currentSnapshotId.flatMap(id =>
      meta.snapshots.find(_.snapshotId == id))
      .getOrElse(return Pruned(0, 0))
    val (dataFiles, _, _) = collectFiles(
      spark.sessionState.newHadoopConf(), root, snap, meta)
    val readSchema = stripFieldIds(meta.schema).asInstanceOf[StructType]
    StatsPruning.resolveCondition(spark, readSchema, filter) match {
      case Some(cond) => Pruned(dataFiles.size,
        pruneByBounds(dataFiles, cond, meta, readSchema).size)
      case None => Pruned(dataFiles.size, dataFiles.size)
    }
  }

  /** Data files that MAY contain a row matching `cond`, judged on their
    * manifest column bounds (identity-partition values are IN the data
    * files, so their bounds cover partition predicates too). Missing
    * bounds, unmapped columns, nested paths: keep — skipping is sound. */
  private[sources] def pruneByBounds(files: Seq[FileEntry],
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      meta: TableMeta, readSchema: StructType): Seq[FileEntry] = {
    val ids = topLevelIds(meta.schemaJson)
    val typeOfMap = readSchema.fields.map(f => f.name -> f.dataType).toMap
    val typeOf: Seq[String] => Option[DataType] = {
      case Seq(one) => typeOfMap.get(one)
      case _ => None
    }
    def boundsFor(fe: FileEntry)(parts: Seq[String], t: DataType): StatsPruning.Bounds =
      parts match {
        case Seq(name) => ids.get(name) match {
          case None => StatsPruning.Unknown
          case Some(id) =>
            val nc = fe.nullCounts.get(id)
            if (nc.exists(n => fe.records > 0 && n == fe.records)) StatsPruning.AllNull
            else StatsPruning.Range(
              fe.lowerBounds.get(id).flatMap(decodeColumnBound(_, t)),
              fe.upperBounds.get(id).flatMap(decodeColumnBound(_, t)),
              mayHaveNull = nc.forall(_ > 0))
        }
        case _ => StatsPruning.Unknown
      }
    files.filter(fe => StatsPruning.mayMatch(cond, typeOf, boundsFor(fe)))
  }

  /** Iceberg single-value binary → the [[StatsPruning]] comparable
    * domain, by the TABLE column type. */
  private[sources] def decodeColumnBound(bytes: Array[Byte], t: DataType): Option[Any] = {
    def bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    t match {
      case ByteType | ShortType | IntegerType if bytes.length == 4 =>
        Some(new java.math.BigDecimal(bb.getInt))
      case LongType if bytes.length == 8 => Some(new java.math.BigDecimal(bb.getLong))
      case FloatType if bytes.length == 4 =>
        val x = bb.getFloat
        if (x.isNaN || x.isInfinite) None
        else Some(new java.math.BigDecimal(x.toString))
      case DoubleType if bytes.length == 8 =>
        val x = bb.getDouble
        if (x.isNaN || x.isInfinite) None
        else Some(new java.math.BigDecimal(x.toString))
      case d: DecimalType =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale))
      case DateType if bytes.length == 4 =>
        Some(java.time.LocalDate.ofEpochDay(bb.getInt.toLong).toString)
      case TimestampType | TimestampNTZType if bytes.length == 8 =>
        Some(new java.math.BigDecimal(bb.getLong)) // exact micros
      case StringType => Some(new String(bytes, "UTF-8"))
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case _ => None
    }
  }

  /**
   * Anti-join every delete class away from `scan`, a
   * [[scanEntries]]`(provenance = true)` scan of the data files: its
   * per-file `_gf_path`/`_gf_seq` constants and `_gf_pos` row index are
   * what the deletes match on. The provenance columns stay on the output
   * (callers drop [[provenanceCols]], or use them: the position-delete
   * WRITER plans from exactly these).
   */
  private[sources] def applyDeletes(spark: SparkSession, meta: TableMeta,
                                    scan0: DataFrame,
                                    posDeleteFiles: Seq[FileEntry],
                                    eqDeleteFiles: Seq[FileEntry]): DataFrame = {
    var scan = scan0
    // position deletes apply to files with data seq <= the delete's seq
    if (posDeleteFiles.nonEmpty) {
      // explicit spec schema: inference would launch a footer-merge job
      // over EVERY delete file on EVERY MOR read (at scale, thousands of
      // files); the two columns are fixed by the Iceberg v2 spec and any
      // optional trailing `row` payload column is ignored either way
      val deletes = MetaScan.parquetScan(spark, posDeleteReadSchema,
          knownFiles(meta, posDeleteFiles, Seq(deleteSeq)), StructType(Seq(deleteSeq._1)))
        .select(normPath(col("file_path")).as("_gf_path"),
          col("pos").as("_gf_pos"), col("_gf_dseq"))
      scan = scan.join(deletes,
        scan("_gf_path") === deletes("_gf_path") &&
          scan("_gf_pos") === deletes("_gf_pos") &&
          deletes("_gf_dseq") >= scan("_gf_seq"), "left_anti")
    }

    // equality deletes apply to files with data seq STRICTLY BELOW the
    // delete's seq; rows match on the delete file's equality columns
    // (field ids → names via the table schema). One anti-join per
    // distinct equality-id set (typically one).
    if (eqDeleteFiles.nonEmpty) {
      val idToName: Map[Int, String] = meta.schemaJson.get("fields")
        .elements().asScala.map(fd =>
          fd.get("id").asInt() -> fd.get("name").asText()).toMap
      eqDeleteFiles.groupBy(_.equalityIds).foreach { case (ids, files) =>
        val cols = ids.map(id => idToName.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality_ids field id $id not in the table schema (top-level " +
              "columns only are supported)")))
        // alias-aware: equality-delete files written BEFORE a rename
        // carry the old column names — read them like data files (the
        // explicit key schema also beats inference: mixed old/new-name
        // delete files would otherwise un-merge)
        val stripped = stripFieldIds(meta.schema).asInstanceOf[StructType]
        val keySchema = StructType(cols.map(c => stripped(stripped.fieldIndex(c))))
        val del = scanEntries(spark, meta, keySchema, files, constants = Seq(deleteSeq))
          .select(cols.map(c => col(c).as(s"_gfd_$c")) :+ col("_gf_dseq"): _*)
        val cond = cols.map(c => scan(c) <=> del(s"_gfd_$c")).reduce(_ && _) &&
          del("_gf_dseq") > scan("_gf_seq")
        scan = scan.join(del, cond, "left_anti")
      }
    }
    scan
  }

  /** Position-delete file columns per the Iceberg v2 spec (reserved
    * field ids 2147483546/2147483545). Read with this EXPLICIT schema:
    * schema inference over N delete files costs a footer-merge pass per
    * MOR read, and a conformant writer may append an optional `row`
    * payload column this reader never uses. */
  private val posDeleteReadSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** A delete file's sequence number, as a per-file constant. */
  private val deleteSeq: (StructField, FileEntry => Any) =
    (StructField("_gf_dseq", LongType), _.seq)

  /** Driver-side twin of [[normPath]]. */
  private def normSchemeString(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:", "").replaceFirst("^/+", "/")

  // --------------------------------------------------- position-delete write

  final case class DeleteResult(snapshotId: Option[Long], deletedRows: Long,
                                deleteFiles: Int)

  /**
   * DELETE FROM <root> WHERE <condition> as POSITION DELETES (Iceberg
   * spec v2 row-level deletes, merge-on-read): matched (file_path, pos)
   * pairs — from ONE distributed scan with `_metadata.row_index`,
   * existing deletes already anti-joined away — land in delete parquet
   * files (columns `file_path`, `pos`, sorted within files as the spec
   * requires), tracked by a content=1 DELETE manifest at the new
   * sequence number. No data file is rewritten: deleting 0.1% of a
   * 100 TB table moves kilobytes of positions. Readers apply the deletes
   * because the new sequence number is >= every live data file's
   * ([[applyDeletes]]); a later compaction ([[IcebergMaintenance
   * .optimize]]) is the purge.
   *
   * Concurrency: the commit claims `v(N+1)` via [[publishMeta]]; a
   * lost claim reclaims this attempt's files and RE-PLANS from fresh
   * metadata (a concurrent overwrite/compaction may have retired the
   * very files the positions reference — rebasing blindly would
   * silently drop the delete).
   */
  def delete(spark: SparkSession, root: String, condition: String,
             partitionFilter: Seq[PartitionPredicate] = Nil): DeleteResult = {
    val conf = spark.sessionState.newHadoopConf()
    val f = fs(spark, root)
    def attempt(at: OptimisticCommit.Attempt): OptimisticCommit.Step[DeleteResult] = {
      val meta = tableMeta(spark, root)
      require(meta.formatVersion == 2,
        s"row-level deletes need iceberg format-version 2, $root is v${meta.formatVersion}")
      val snap = meta.currentSnapshotId.flatMap(id =>
        meta.snapshots.find(_.snapshotId == id))
        .getOrElse(return OptimisticCommit.Finish(DeleteResult(None, 0L, 0)))
      // `partitionFilter` prunes candidate files through the same
      // two-level metadata pruning as read() (manifest bounds, then
      // per-file tuples) — DELETE over one partition of a 100 TB table
      // scans one partition. Caller contract: the filter must be
      // IMPLIED by `condition` (rows outside it are never examined).
      // The CONDITION ITSELF additionally projects onto the partition
      // spec and the manifest column bounds exactly like
      // read(dataFilter = ...): a file whose bounds prove no row can
      // match contributes no delete positions, so skipping its scan is
      // sound — a predicate-scoped DELETE never scans the whole table.
      val readSchema = stripFieldIds(meta.schema).asInstanceOf[StructType]
      val resolvedCond =
        StatsPruning.resolveCondition(spark, readSchema, expr(condition))
      val condDnf: Seq[Seq[PartitionPredicate]] =
        resolvedCond.flatMap(derivedDnfOf(meta, _)).getOrElse(Nil)
      val (dataFiles0, posD, eqD) =
        collectFiles(conf, root, snap, meta, partitionFilter, condDnf)
      val dataFiles = resolvedCond match {
        case Some(c) => pruneByBounds(dataFiles0, c, meta, readSchema)
        case None => dataFiles0
      }
      if (dataFiles.isEmpty) return OptimisticCommit.Finish(DeleteResult(None, 0L, 0))

      val prov = applyDeletes(spark, meta,
        scanEntries(spark, meta, readSchema, dataFiles, provenance = true), posD, eqD)
      val commitUuid = java.util.UUID.randomUUID().toString
      val delDir = new Path(root, s"data/$commitUuid")
      at.stage(delDir)
      // the spec's RESERVED field ids for position-delete columns:
      // conformant external engines resolve these columns BY ID, not
      // name — Spark's parquet writer emits the ids from the
      // `parquet.field.id` schema metadata (fieldId.write is on by
      // default), so the files read back under either resolution mode
      val fpMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 2147483546L).build()
      val posMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 2147483545L).build()
      // delete files must reference the EXACT path string the manifests
      // record: the scan's `_gf_file` constant
      val matched = prov.filter(expr(condition))
        .select(col("_gf_file").as("file_path", fpMeta), col("_gf_pos").as("pos", posMeta))
      matched
        .repartition(col("file_path"))
        .sortWithinPartitions("file_path", "pos")
        .write.mode("errorifexists").parquet(delDir.toString)
      commitDeleteSnapshot(spark, root, meta, delDir, equalityIds = Nil,
        commitUuid, at)
    }
    OptimisticCommit.run("Iceberg delete", f, root)(attempt)
  }

  /**
   * DELETE BY KEY as EQUALITY DELETES (Iceberg spec v2, content=2) — the
   * CDC / streaming-upsert shape: "delete these keys without knowing
   * their positions". The distinct key tuples land in an equality-delete
   * parquet file (columns carry the table's own field ids, so external
   * engines resolve them by id); readers drop every data row whose data
   * sequence is STRICTLY BELOW the delete's sequence and whose key
   * columns match ([[applyDeletes]]), so a later re-insert of the same
   * key SURVIVES. Unlike [[delete]], NO table scan happens at all — the
   * cost is one small parquet write plus the metadata commit,
   * independent of table size; [[IcebergMaintenance.optimize]] is the
   * purge. `deletedRows` in the result is the KEY count (the matched
   * row count is unknowable without the scan this path exists to skip).
   */
  def deleteKeys(spark: SparkSession, root: String, deletedKeys: DataFrame,
                 keys: Seq[String]): DeleteResult = {
    val f = fs(spark, root)
    def attempt(at: OptimisticCommit.Attempt): OptimisticCommit.Step[DeleteResult] = {
      val meta = tableMeta(spark, root)
      require(meta.formatVersion == 2,
        s"row-level deletes need iceberg format-version 2, $root is v${meta.formatVersion}")
      if (meta.currentSnapshotId.isEmpty)
        return OptimisticCommit.Finish(DeleteResult(None, 0L, 0))
      // key columns resolve to the table's field ids (top-level only)
      val idOf: Map[String, Int] = meta.schemaJson.get("fields")
        .elements().asScala.map(fd =>
          fd.get("name").asText() -> fd.get("id").asInt()).toMap
      val eqIds = keys.map(k => idOf.getOrElse(k,
        throw new IllegalArgumentException(
          s"equality-delete key '$k' is not a top-level table column")))
      val typeOf: Map[String, DataType] =
        meta.schema.fields.map(fd => fd.name -> fd.dataType).toMap

      val commitUuid = java.util.UUID.randomUUID().toString
      val delDir = new Path(root, s"data/$commitUuid")
      at.stage(delDir)
      deletedKeys.select(keys.map { k =>
        val m = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", idOf(k).toLong).build()
        col(k).cast(stripFieldIds(typeOf(k))).as(k, m)
      }: _*).distinct()
        .coalesce(1)
        .write.mode("errorifexists").parquet(delDir.toString)
      commitDeleteSnapshot(spark, root, meta, delDir, equalityIds = eqIds,
        commitUuid, at)
    }
    OptimisticCommit.run("Iceberg deleteKeys", f, root)(attempt)
  }

  /**
   * Publish a DELETE snapshot tracking the delete files staged in
   * `delDir` (nothing to commit when they hold no rows; position deletes when
   * `equalityIds` is empty, equality deletes otherwise) via a content=1
   * DELETES manifest at the next sequence number.
   *
   * The manifest must reference a spec whose partition-type MATCHES its
   * (empty) tuples — conformant engines resolve tuples through the spec
   * — so on a partitioned table an UNPARTITIONED spec is registered (or
   * reused) in the metadata and referenced by the delete manifest;
   * spec 0 serves directly when the table is unpartitioned. The
   * manifest and manifest list are staged in `at`, so a lost claim
   * reclaims them with the caller's delete files and re-plans.
   */
  private def commitDeleteSnapshot(spark: SparkSession, root: String,
                                   meta: TableMeta, delDir: Path,
                                   equalityIds: Seq[Int],
                                   commitUuid: String,
                                   at: OptimisticCommit.Attempt)
      : OptimisticCommit.Step[DeleteResult] = {
    val conf = spark.sessionState.newHadoopConf()
    val f = fs(spark, root)
    val files = graft.core.DriverPar.listFilesNoPerm(f, delDir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
    val counts = graft.core.DriverPar.map(files)(s =>
      parquetRowCount(conf, s.getPath))
    if (counts.sum == 0L) return OptimisticCommit.Finish(DeleteResult(None, 0L, 0))
    val node = mapper.readTree(readText(f, new Path(meta.metadataPath)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val specsNode = node.withArray("partition-specs")
    val delSpecId: Int = specsNode.elements().asScala
      .find(s => s.get("fields").size() == 0)
      .map(_.get("spec-id").asInt())
      .getOrElse {
        val maxId = specsNode.elements().asScala
          .map(_.get("spec-id").asInt()).max
        val ns = mapper.createObjectNode()
        ns.put("spec-id", maxId + 1)
        ns.putArray("fields")
        specsNode.add(ns)
        maxId + 1
      }
    val snapshotId = math.max(System.currentTimeMillis(),
      meta.snapshots.map(_.snapshotId + 1).foldLeft(0L)(math.max))
    val newSeq = meta.lastSequenceNumber + 1
    val rows = counts.sum
    val entrySchema = entrySchemaFor(Nil)
    val partSchema = entrySchema.getField("data_file").schema()
      .getField("partition").schema()
    val entries = files.lazyZip(counts).map { (s, n) =>
      val dataFile = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      dataFile.put("content", if (equalityIds.isEmpty) 1 else 2)
      dataFile.put("file_path", s.getPath.toString)
      dataFile.put("file_format", "PARQUET")
      dataFile.put("partition", new GenericData.Record(partSchema))
      dataFile.put("record_count", n)
      dataFile.put("file_size_in_bytes", s.getLen)
      if (equalityIds.nonEmpty) {
        val arr = new java.util.ArrayList[Integer]()
        equalityIds.foreach(id => arr.add(Int.box(id)))
        dataFile.put("equality_ids", arr)
      }
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", newSeq)
      e.put("file_sequence_number", newSeq)
      e.put("data_file", dataFile)
      e
    }
    val manifestPath = new Path(metaDir(root), s"manifest-$commitUuid.avro")
    val mlPath = new Path(metaDir(root), s"snap-$snapshotId-$commitUuid.avro")
    at.stage(Seq(manifestPath, mlPath))
    f.mkdirs(metaDir(root))
    val manifestLen = writeAvro(conf, manifestPath, entrySchema, entries)
    val mlRec = {
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", manifestPath.toString)
      r.put("manifest_length", manifestLen)
      r.put("partition_spec_id", delSpecId)
      r.put("content", 1) // DELETES manifest
      r.put("sequence_number", newSeq)
      r.put("min_sequence_number", newSeq)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", files.size)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r
    }
    writeAvro(conf, mlPath, manifestFileSchema,
      mlRec +: currentMlRecords(conf, root, meta))

    // ---- clone-and-patch the PLAN-TIME metadata (the node read above,
    // delete-spec registration included), claim v(N+1)
    addSnapshot(node, meta, snapshotId, newSeq, "delete", mlPath)
    OptimisticCommit.Publish(
      publishMeta(f, root, Some(meta), mapper.writeValueAsBytes(node),
        commitUuid, meta.properties),
      DeleteResult(Some(snapshotId), rows, files.size))
  }

  /** Patch plan-time metadata `node` so a new `operation` snapshot at
    * sequence `seq`, listing `mlPath` and timestamped by its id, becomes
    * current (spec §Snapshots) and enters the snapshot-log. Its schema-id
    * is the CURRENT schema's, not 0: reads key file generations on the
    * adding snapshot's schema-id to decide alias-free scans. */
  private[sources] def addSnapshot(node: com.fasterxml.jackson.databind.node.ObjectNode,
                                   meta: TableMeta, snapshotId: Long, seq: Long,
                                   operation: String, mlPath: Path): Unit = {
    node.put("last-sequence-number", seq)
    node.put("last-updated-ms", snapshotId)
    node.put("current-snapshot-id", snapshotId)
    val snapNode = node.withArray("snapshots").addObject()
    snapNode.put("snapshot-id", snapshotId)
    snapNode.put("timestamp-ms", snapshotId)
    snapNode.put("sequence-number", seq)
    meta.currentSnapshotId.foreach(snapNode.put("parent-snapshot-id", _))
    snapNode.putObject("summary").put("operation", operation)
    snapNode.put("manifest-list", mlPath.toString)
    snapNode.put("schema-id",
      Option(node.get("current-schema-id")).map(_.asInt()).getOrElse(0))
    val logNode = node.withArray("snapshot-log").addObject()
    logNode.put("snapshot-id", snapshotId)
    logNode.put("timestamp-ms", snapshotId)
  }

  // ------------------------------------------------------ incremental read

  /**
   * Incremental changes between snapshots — the Iceberg counterpart of
   * [[DeltaLog.changes]]. For each snapshot after `fromSnapshotId`
   * (EXCLUSIVE — the "I've consumed up to here" cursor; None = table
   * start) up to `toSnapshotId` (inclusive; None = current), the live
   * file sets of consecutive snapshots diff into `insert` rows (files
   * that appeared) and `delete` rows (files that vanished). Snapshots
   * whose operation is `replace` (compaction — net row change zero)
   * advance the baseline silently, like Delta's dataChange=false. Output
   * = table columns + `_change_type`, `_change_ordinal` (1-based
   * position in the consumed range), `_commit_snapshot_id`,
   * `_commit_timestamp`. Row-level delete files in the range fail fast
   * (a file-set diff cannot attribute their rows); this goes beyond the
   * Iceberg runtime's own incremental read, which rejects everything but
   * appends.
   */
  /** The deterministic CDF change-item decomposition of one snapshot
    * against its predecessor — the unit [[changes]] slices by and the
    * streaming source's file-level changelog offsets index into: the
    * appeared data files (insert class, manifest order), then the
    * vanished data files (delete class, predecessor manifest order),
    * then one optional row-delete marker (the new-delete-files-on-kept-
    * files join, atomic per snapshot). `replace` snapshots decompose to
    * zero items. */
  private[sources] final case class ChangeBreakdown(
      newData: Seq[FileEntry], removedData: Seq[FileEntry],
      keptData: Seq[FileEntry], newPos: Seq[FileEntry], newEq: Seq[FileEntry],
      prevPos: Seq[FileEntry], prevEq: Seq[FileEntry]) {
    def rowDeleteMarker: Boolean =
      (newPos.nonEmpty || newEq.nonEmpty) && keptData.nonEmpty
    def itemCount: Long =
      newData.size.toLong + removedData.size + (if (rowDeleteMarker) 1 else 0)
    /** Per-item file sizes in item order (marker weighs 0). */
    def itemSizes: Seq[Long] =
      newData.map(_.size) ++ removedData.map(_.size) ++
        (if (rowDeleteMarker) Seq(0L) else Nil)
  }

  /** A snapshot's own added data files, reconstructed WITHOUT its
    * predecessor's file list: files written by commit N carry data
    * sequence number N (spec §Sequence Numbers), so the filter equals
    * the set-diff the predecessor would have given. v1 tables (all
    * sequence numbers 0) cannot make the distinction — fail loudly
    * rather than replay the cumulative state. */
  private[sources] def ownSeqFiles(root: String, s: SnapshotInfo,
                                   files: Seq[FileEntry]): Seq[FileEntry] = {
    require(s.sequenceNumber > 0,
      s"snapshot ${s.snapshotId} of $root carries no sequence number " +
        "(format-v1 metadata, or written before sequence numbers were " +
        "round-tripped): its added files cannot be reconstructed after " +
        "its parent expired — restart the stream from a retained snapshot")
    files.filter(_.seq == s.sequenceNumber)
  }

  /** Change breakdown of a snapshot whose PREDECESSOR file list is gone
    * (history expired beneath it): an append reproduces (its own
    * sequence-number files as inserts) and a replace is a no-op; a
    * delete/overwrite's change items need the VANISHED files' content,
    * which expiry reclaimed — fail loudly. */
  private[sources] def reproducedBreakdown(root: String, s: SnapshotInfo,
      dataFiles: Seq[FileEntry]): ChangeBreakdown = {
    require(s.operation == "append" || s.operation == "replace",
      s"changelog cursor cannot resume past expired history at " +
        s"non-append snapshot ${s.snapshotId} (${s.operation}) of $root")
    if (s.operation == "replace")
      ChangeBreakdown(Nil, Nil, Nil, Nil, Nil, Nil, Nil)
    else ChangeBreakdown(ownSeqFiles(root, s, dataFiles),
      Nil, Nil, Nil, Nil, Nil, Nil)
  }

  private[sources] def changeBreakdown(
      cur: (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]),
      prev: (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]),
      operation: String): ChangeBreakdown = {
    if (operation == "replace") // compaction: no net row change
      return ChangeBreakdown(Nil, Nil, Nil, Nil, Nil, Nil, Nil)
    val (prevData, prevPos, prevEq) = prev
    val (curData, curPos, curEq) = cur
    val prevPaths = prevData.map(_.path).toSet
    val curPaths = curData.map(_.path).toSet
    ChangeBreakdown(
      newData = curData.filterNot(e => prevPaths.contains(e.path)),
      removedData = prevData.filterNot(e => curPaths.contains(e.path)),
      keptData = prevData.filter(e => curPaths.contains(e.path)),
      newPos = curPos.filterNot(e => prevPos.exists(_.path == e.path)),
      newEq = curEq.filterNot(e => prevEq.exists(_.path == e.path)),
      prevPos = prevPos, prevEq = prevEq)
  }

  /**
   * `fromItemIndex`/`untilItemIndex` slice the BOUNDARY snapshots of the
   * range by [[ChangeBreakdown]] item index — `fromItemIndex` skips the
   * first items of the FIRST emitted snapshot, `untilItemIndex` stops
   * the last one before that item. How the streaming changelog drains a
   * bulk snapshot as many bounded micro-batches.
   */
  /** `firstIsFullState` governs the oldest retained snapshot when
    * `fromSnapshotId` is None and history expired beneath it (it has a
    * dangling `parent-snapshot-id`): true presents its full cumulative
    * state as inserts (a from-the-beginning read), false reproduces only
    * its OWN change items ([[reproducedBreakdown]] — a drained streaming
    * cursor resuming past its expired snapshot). Irrelevant otherwise:
    * with a parent retained the two bases coincide. */
  def changes(spark: SparkSession, root: String,
              fromSnapshotId: Option[Long] = None,
              toSnapshotId: Option[Long] = None,
              fromItemIndex: Long = 0L,
              untilItemIndex: Long = Long.MaxValue,
              firstIsFullState: Boolean = true): DataFrame = {
    val meta = tableMeta(spark, root)
    val ordered = meta.snapshots.sortBy(s => (s.timestampMs, s.snapshotId))
    require(ordered.nonEmpty, s"$root has no snapshots")
    def indexOf(id: Long): Int = {
      val i = ordered.indexWhere(_.snapshotId == id)
      require(i >= 0, s"snapshot $id not in " +
        s"[${ordered.map(_.snapshotId).mkString(", ")}]")
      i
    }
    val fromIdx = fromSnapshotId.map(indexOf(_) + 1).getOrElse(0)
    val toIdx = toSnapshotId.map(indexOf(_) + 1).getOrElse(ordered.size)
    require(fromIdx <= toIdx,
      s"from-snapshot is later than to-snapshot ($fromSnapshotId > $toSnapshotId)")
    val conf = spark.sessionState.newHadoopConf()
    val readSchema = stripFieldIds(meta.schema).asInstanceOf[StructType]

    // Per consecutive snapshot pair the diff is FILE-SCOPED, never a
    // row-level except over full snapshots:
    //  - data files that appeared  -> insert rows (same-commit position
    //    deletes applied — a streaming upsert commit may target its own
    //    adds; equality deletes bind strictly below their sequence, so
    //    they never hit same-commit adds);
    //  - data files that vanished  -> delete rows = their LIVE rows at
    //    the previous snapshot (the files' prior delete files applied —
    //    raw reads would re-report already-deleted rows);
    //  - delete files that appeared -> delete rows = previous-snapshot
    //    live rows of the still-present files they target (position
    //    deletes join on (path, pos); equality deletes join null-safe on
    //    their id-resolved key columns; a row hit by both classes counts
    //    once). `replace` (compaction) advances the baseline silently.
    type Files = (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry])
    def files(s: SnapshotInfo): Files = collectFiles(conf, root, s, meta)
    val idToName: Map[Int, String] = meta.schemaJson.get("fields")
      .elements().asScala.map(fd =>
        fd.get("id").asInt() -> fd.get("name").asText()).toMap

    // boundary-snapshot item slicing: items [offset, offset + xs.size)
    def sliceOf(xs: Seq[FileEntry], offset: Long, lo: Long,
                hi: Long): Seq[FileEntry] = {
      val a = math.max(lo - offset, 0L)
      val b = math.min(hi - offset, xs.size.toLong)
      if (a >= b) Nil else xs.slice(a.toInt, b.toInt)
    }
    var prev: Files =
      if (fromIdx == 0) (Nil, Nil, Nil) else files(ordered(fromIdx - 1))
    val frames = (fromIdx until toIdx).flatMap { i =>
      val s = ordered(i)
      val cur = files(s)
      val bd =
        if (i == 0 && !firstIsFullState && s.parentId.isDefined)
          reproducedBreakdown(root, s, cur._1)
        else changeBreakdown(cur, prev, s.operation)
      val out: Seq[DataFrame] =
        if (bd.itemCount == 0L) Nil // compaction / no-op: no net row change
        else {
          val lo = if (i == fromIdx) fromItemIndex else 0L
          val hi = if (i == toIdx - 1) untilItemIndex else Long.MaxValue
          val newData = sliceOf(bd.newData, 0L, lo, hi)
          val removedData = sliceOf(bd.removedData, bd.newData.size.toLong, lo, hi)
          val markerIdx = bd.newData.size.toLong + bd.removedData.size
          val markerIn = bd.rowDeleteMarker && lo <= markerIdx && markerIdx < hi
          val keptData = bd.keptData
          val newPos = bd.newPos; val newEq = bd.newEq
          val prevPos = bd.prevPos; val prevEq = bd.prevEq

          def stamp(df: DataFrame, ct: String): DataFrame = df
            .withColumn("_change_type", lit(ct))
            .withColumn("_change_ordinal", lit(i - fromIdx + 1))
            .withColumn("_commit_snapshot_id", lit(s.snapshotId))
            .withColumn("_commit_timestamp", timestamp_millis(lit(s.timestampMs)))
          def liveRows(data: Seq[FileEntry], pos: Seq[FileEntry],
                       eq: Seq[FileEntry]): DataFrame =
            if (pos.isEmpty && eq.isEmpty)
              scanEntries(spark, meta, readSchema, data.toSeq)
            else applyDeletes(spark, meta,
              scanEntries(spark, meta, readSchema, data.toSeq, provenance = true), pos, eq)
              .drop(provenanceCols: _*)

          val inserts =
            if (newData.isEmpty) None
            else Some(stamp(liveRows(newData, newPos, Nil), "insert"))
          val removedDeletes =
            if (removedData.isEmpty) None
            else Some(stamp(liveRows(removedData, prevPos, prevEq), "delete"))
          val rowDeletes =
            if (!markerIn) None
            else {
              // previous-snapshot live rows of still-present files, WITH
              // provenance kept for the position join and the final dedup
              val live = applyDeletes(spark, meta,
                scanEntries(spark, meta, readSchema, keptData.toSeq, provenance = true),
                prevPos, prevEq)
              val byPos =
                if (newPos.isEmpty) None
                else {
                  val del = MetaScan.parquetScan(spark, posDeleteReadSchema,
                      knownFiles(meta, newPos))
                    .select(normPath(col("file_path")).as("_gf_path"),
                      col("pos").as("_gf_pos"))
                  Some(live.join(del, Seq("_gf_path", "_gf_pos"), "left_semi"))
                }
              val byEq = newEq.groupBy(_.equalityIds).map { case (ids, fs0) =>
                val cols = ids.map(id => idToName.getOrElse(id,
                  throw new IllegalArgumentException(
                    s"equality_ids field id $id not in the table schema")))
                // alias-aware: pre-rename equality-delete files carry
                // the old column names (see applyDeletes)
                val keySchema = StructType(cols.map(c =>
                  readSchema(readSchema.fieldIndex(c))))
                val del = scanEntries(spark, meta, keySchema, fs0.toSeq)
                  .select(cols.map(c => col(c).as(s"_gfd_$c")): _*)
                val cond = cols.map(c => live(c) <=> del(s"_gfd_$c")).reduce(_ && _)
                live.join(del, cond, "left_semi")
              }.toSeq
              val matched = (byPos.toSeq ++ byEq).reduceOption(_ union _)
              matched.map(m => stamp(
                m.dropDuplicates(Seq("_gf_path", "_gf_pos"))
                  .drop(provenanceCols: _*), "delete"))
            }
          inserts.toSeq ++ removedDeletes.toSeq ++ rowDeletes.toSeq
        }
      prev = cur
      out
    }
    frames match {
      case Seq() =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(readSchema.fields ++ Seq(
            StructField("_change_type", StringType),
            StructField("_change_ordinal", IntegerType, nullable = false),
            StructField("_commit_snapshot_id", LongType, nullable = false),
            StructField("_commit_timestamp", TimestampType))))
      case fs0 => fs0.reduce(_ union _)
    }
  }

  // --------------------------------------------------------------- write

  // spec-conformant avro schemas (field-id attributes included) for the
  // subset of optional fields this writer populates; the partition record
  // is built per-table from the identity partition columns (spec: partition
  // field ids start at 1000)
  private[sources] def avroPartType(dt: DataType): String = dt match {
    case IntegerType | DateType => "\"int\""
    case LongType => "\"long\""
    case StringType => "\"string\""
    case other => throw new IllegalArgumentException(
      s"iceberg identity partitioning unsupported for ${other.simpleString} " +
        "(int/long/string/date columns only)")
  }

  private[sources] def entrySchemaFor(partCols: Seq[StructField],
                                      partFieldIds: Seq[Int] = Nil): Schema = {
    val ids = if (partFieldIds.nonEmpty) partFieldIds
              else partCols.indices.map(1000 + _)
    val partFields = partCols.lazyZip(ids).map { (fd, id) =>
      s"""{"name":${mapper.writeValueAsString(fd.name)},"type":${avroPartType(fd.dataType)},"field-id":$id}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int","field-id":134},
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"value_counts","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k119_v120","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]}}],"default":null,"field-id":109},
         |  {"name":"null_value_counts","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}],"default":null,"field-id":110},
         |  {"name":"lower_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}],"default":null,"field-id":125},
         |  {"name":"upper_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}],"default":null,"field-id":128},
         |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
         |]}}]}""".stripMargin.replaceAll("\n", ""))
  }

  private[sources] val manifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","field-id":507,"default":null,"type":["null",{"type":"array","items":
      |  {"type":"record","name":"r508","fields":[
      |    {"name":"contains_null","type":"boolean","field-id":509},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}]}}]}
      |]}""".stripMargin.replaceAll("\n", ""))

  /** Rebuild a (possibly foreign) manifest-list record under OUR schema
    * (field-by-name): records from other writers/versions may order or
    * omit optionals differently, and the datum writer navigates by
    * writer-schema position. */
  private[sources] def rebuildMlRecord(old: GenericRecord): GenericRecord = {
    val r = new GenericData.Record(manifestFileSchema)
    manifestFileSchema.getFields.asScala.foreach { fd =>
      // nested optionals (partition summaries) only carry over when the
      // source schema matches ours — a richer foreign field_summary
      // would not serialize under our item schema; dropping the summary
      // is always safe (absent bounds simply disable manifest pruning)
      val compatible = fd.name() != "partitions" ||
        Option(old.getSchema.getField(fd.name()))
          .exists(_.schema().toString == fd.schema().toString)
      if (compatible) opt(old, fd.name()).foreach(v => r.put(fd.pos(), v))
    }
    r
  }

  /** The current snapshot's manifest-list records (data AND delete
    * manifests), rebuilt under our schema — what an append or a
    * delete-commit carries forward. */
  private[sources] def currentMlRecords(conf: Configuration, root: String,
                                        m: TableMeta): Seq[GenericRecord] =
    m.currentSnapshotId.flatMap(id => m.snapshots.find(_.snapshotId == id))
      .toSeq.flatMap { s =>
        s.manifestList.toSeq.flatMap(ml => readAvro(conf, absolutize(root, ml)))
      }.map(rebuildMlRecord)

  private def parquetRowCount(conf: Configuration, p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Hive-style path unescape (%XX sequences) for partition dir values. */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length)
        { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Iceberg "single-value binary" serialization of a RAW parquet
    * statistics value, by the column's parquet type (spec Appendix D):
    * ints/longs/floats/doubles little-endian, date as int days, timestamp
    * normalized to micros, string as UTF-8, decimal as big-endian
    * two's-complement unscaled. None = no sound bound for the type
    * (conservative omission — the column just never prunes). */
  private[sources] def encodeColumnBound(
      prim: org.apache.parquet.schema.PrimitiveType, v: Any): Option[Array[Byte]] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def le(n: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n).array()
    def le8(n: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(n).array()
    val ann = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case INT32 => ann match {
        case d: L.DecimalLogicalTypeAnnotation =>
          Some(java.math.BigInteger.valueOf(v.asInstanceOf[Int].toLong).toByteArray)
        case _ => Some(le(v.asInstanceOf[Int])) // int + date share the layout
      }
      case INT64 => ann match {
        case t: L.TimestampLogicalTypeAnnotation =>
          val micros = t.getUnit match {
            case L.TimeUnit.MILLIS => v.asInstanceOf[Long] * 1000L
            case L.TimeUnit.MICROS => v.asInstanceOf[Long]
            case L.TimeUnit.NANOS => v.asInstanceOf[Long] / 1000L
          }
          Some(le8(micros))
        case d: L.DecimalLogicalTypeAnnotation =>
          Some(java.math.BigInteger.valueOf(v.asInstanceOf[Long]).toByteArray)
        case _ => Some(le8(v.asInstanceOf[Long]))
      }
      case FLOAT =>
        val x = v.asInstanceOf[Float]
        if (x.isNaN || x.isInfinite) None
        else Some(java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putFloat(x).array())
      case DOUBLE =>
        val x = v.asInstanceOf[Double]
        if (x.isNaN || x.isInfinite) None
        else Some(java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(x).array())
      case BOOLEAN => Some(Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
      case BINARY | FIXED_LEN_BYTE_ARRAY => ann match {
        case _: L.StringLogicalTypeAnnotation =>
          val bytes = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          if (bytes.length <= 64) Some(bytes) else None // oversize: omit, sound
        case _: L.DecimalLogicalTypeAnnotation =>
          Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        case _ => None
      }
      case _ => None // INT96 etc: no stats
    }
  }

  /** Build the four per-column stats maps (value_counts 109,
    * null_value_counts 110, lower_bounds 125, upper_bounds 128) for one
    * data file's footer leaves, keyed by the TABLE field ids in `idOf`
    * (top-level columns; nested leaves carry no bounds here). Returns
    * null-able avro map values to `put` onto a data_file record. */
  private[sources] def columnStatsMaps(entrySchema: Schema, rows: Long,
      leaves: Seq[StatsPruning.LeafStats], idOf: Map[String, Int])
      : Map[String, AnyRef] = {
    val dfSchema = entrySchema.getField("data_file").schema()
    def arraySchema(field: String): Schema = {
      val u = dfSchema.getField(field).schema() // union ["null", array]
      u.getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    }
    def kv(arr: Schema, k: Int, v: Any): GenericRecord = {
      val r = new GenericData.Record(arr.getElementType)
      r.put("key", k)
      r.put("value", v)
      r
    }
    val vcS = arraySchema("value_counts"); val nvS = arraySchema("null_value_counts")
    val loS = arraySchema("lower_bounds"); val upS = arraySchema("upper_bounds")
    val vc = new GenericData.Array[GenericRecord](leaves.size, vcS)
    val nv = new GenericData.Array[GenericRecord](leaves.size, nvS)
    val lo = new GenericData.Array[GenericRecord](leaves.size, loS)
    val up = new GenericData.Array[GenericRecord](leaves.size, upS)
    leaves.foreach { ls =>
      if (ls.path.size == 1) idOf.get(ls.path.head).foreach { id =>
        vc.add(kv(vcS, id, Long.box(rows)))
        ls.nullCount.foreach(n => nv.add(kv(nvS, id, Long.box(n))))
        (ls.min.flatMap(encodeColumnBound(ls.prim, _)),
          ls.max.flatMap(encodeColumnBound(ls.prim, _))) match {
          case (Some(mn), Some(mx)) =>
            lo.add(kv(loS, id, java.nio.ByteBuffer.wrap(mn)))
            up.add(kv(upS, id, java.nio.ByteBuffer.wrap(mx)))
          case _ => () // one side unconvertible: omit both
        }
      }
    }
    Map("value_counts" -> vc, "null_value_counts" -> nv,
      "lower_bounds" -> lo, "upper_bounds" -> up)
  }

  /** Re-serialize already-decoded per-column stats (a rewritten EXISTING
    * entry must carry its original bounds forward). */
  private[sources] def columnStatsMapsFromBounds(entrySchema: Schema,
      nullCounts: Map[Int, Long], lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]]): Map[String, AnyRef] = {
    val dfSchema = entrySchema.getField("data_file").schema()
    def arraySchema(field: String): Schema =
      dfSchema.getField(field).schema().getTypes.asScala
        .find(_.getType == Schema.Type.ARRAY).get
    def arr(field: String, m: Map[Int, _], wrap: Any => Any): AnyRef = {
      val s = arraySchema(field)
      val a = new GenericData.Array[GenericRecord](m.size, s)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(s.getElementType)
        r.put("key", k); r.put("value", wrap(v)); a.add(r)
      }
      a
    }
    Map(
      "null_value_counts" -> arr("null_value_counts", nullCounts,
        v => Long.box(v.asInstanceOf[Long])),
      "lower_bounds" -> arr("lower_bounds", lower,
        v => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])),
      "upper_bounds" -> arr("upper_bounds", upper,
        v => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])))
  }

  /** Top-level `name -> field id` of an Iceberg schema JSON node. */
  private[sources] def topLevelIds(schemaJson: JsonNode): Map[String, Int] =
    schemaJson.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap

  /** Spec "single-value binary" serialization for bound summaries. */
  private[sources] def encodeBound(v: Any): Array[Byte] = v match {
    case i: Int => java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    case l: Long => java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
    case s: String => s.getBytes("UTF-8")
    case other => throw new IllegalArgumentException(s"no bound encoding for $other")
  }

  /** Atomically claim `v{version}.metadata.json` via the filesystem's
    * resolved [[CommitStore]] (same primitive discipline and seam as
    * `DeltaWriter.tryPublish` — link(2) locally, rename-if-absent on
    * HDFS-contract stores, conditional-put or lock-coordinated on object
    * stores, loud refusal otherwise). Returns false when a concurrent
    * committer claimed the version first. Called only by [[publishMeta]]
    * and the hammer tests. */
  private[graft] def tryPublishMeta(f: FileSystem, root: String, version: Long,
                                      bytes: Array[Byte], nonce: String): Boolean =
    CommitStore.forFs(f).putIfAbsent(f, metadataPath(root, version), bytes, nonce)

  private def metadataPath(root: String, version: Long) =
    new Path(metaDir(root), s"v$version.metadata.json")

  /** The one Iceberg publish, for [[OptimisticCommit.run]]: claim the
    * version after the plan-time metadata `plan` (v1 for a new table),
    * then publish the hint and trim old metadata per `properties` (the
    * committed metadata's). A version-0 plan — foreign-layout metadata
    * not named `vN` — is claimed only while its file is still the latest:
    * another engine appending a metadata file since planning is a lost
    * race, never a `v1` over stale state (the claim itself is atomic; the
    * check before it narrows the foreign writer's window). */
  private[sources] def publishMeta(f: FileSystem, root: String,
                                   plan: Option[TableMeta], bytes: Array[Byte],
                                   nonce: String,
                                   properties: Map[String, String]): OptimisticCommit.Claim = {
    val version = plan.fold(0L)(_.version) + 1
    OptimisticCommit.Claim(
      () => !plan.exists(m => m.version == 0L &&
          latestMetadata(f, root).toString != m.metadataPath) &&
        tryPublishMeta(f, root, version, bytes, nonce),
      () => {
        writeHint(f, root, version)
        enforceMetadataRetention(f, root, properties, version)
      },
      metadataPath(root, version), () => bytes)
  }

  /**
   * Honor `write.metadata.previous-versions-max` AT COMMIT TIME: after a
   * version is durably published, delete `vK.metadata.json` files older
   * than the newest N previous (≤ N+1 retained including the new
   * current) — otherwise an unattended writer accumulates metadata
   * forever (~half a million driver-listed files/year at one commit a
   * minute). Active when the property is set, or when
   * `write.metadata.delete-after-commit.enabled=true` (then N defaults
   * to 100, the Iceberg default). Runs winner-side AFTER the commit and
   * hint publish, best-effort: a crash mid-trim leaves extra old files,
   * never a broken table. Streaming bases/cursors pin SNAPSHOT ids
   * (resolved from current metadata), so trimming cannot strand a
   * stream; time travel to a trimmed version fails loudly on the
   * missing file (same contract as the manual `cleanup-metadata` verb).
   */
  private[sources] def enforceMetadataRetention(f: FileSystem, root: String,
      properties: Map[String, String], version: Long): Unit = {
    // runs AFTER the commit durably published: an unparsable or absurd
    // value (foreign-written metadata — setProperties validates its own)
    // must not make an already-landed commit LOOK failed, so garbage
    // simply disables the trim instead of throwing
    val maxPrev = properties.get("write.metadata.previous-versions-max")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ >= 1)
    val enabled = maxPrev.isDefined ||
      properties.get("write.metadata.delete-after-commit.enabled")
        .exists(_.trim.equalsIgnoreCase("true"))
    if (!enabled) return
    val keep = maxPrev.getOrElse(100)
    val versioned = "v(\\d+)\\.metadata\\.json".r
    try f.listStatus(metaDir(root)).foreach { st =>
      st.getPath.getName match {
        case versioned(v) if v.toLong <= version - keep - 1 =>
          try { f.delete(st.getPath, false); () }
          catch { case _: Exception => () }
        case _ => ()
      }
    } catch { case _: Exception => () } // listing hiccup: trim next commit
  }

  /** Winner-side hint publish: advisory only (readers probe forward), so
    * a stale late write is harmless. The don't-move-backwards guard below
    * is BEST-EFFORT only — the read-check-write is not atomic, so two
    * interleaved winners can still regress the hint; correctness never
    * depends on hint monotonicity, only on readers probing forward. */
  private[graft] def writeHint(f: FileSystem, root: String, version: Long): Unit = {
    val hintPath = new Path(metaDir(root), "version-hint.text")
    val current = try {
      if (f.exists(hintPath)) readText(f, hintPath).trim.toLong else -1L
    } catch { case _: Exception => -1L }
    if (version > current) {
      val hint = f.create(hintPath, true)
      try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    }
  }

  /**
   * Commit `df` to the Iceberg table at `root` (created on first write):
   * mode `append` adds a snapshot keeping prior data; `overwrite` adds a
   * snapshot referencing only the new files. Returns rows written.
   * `partitionBy` commits an IDENTITY-partitioned spec (spec-conformant:
   * partition field ids from 1000, per-file partition tuples in the
   * manifest, per-field bound summaries in the manifest list — which is
   * what [[read]]'s two-level pruning consumes). Identity source columns
   * are kept IN the data files as the spec requires (Spark's partitionBy
   * would strip them, so the layout job partitions on duplicated shadow
   * columns). Appends require an identical schema and partition spec.
   */
  /** `schemaPolicy` (append mode): `enforce` (default) keeps the exact
    * schema-match contract; `evolve` aligns the frame against the table —
    * missing table columns null-fill, NEW source columns widen the
    * schema in the SAME metadata commit: a new schema entry (fresh
    * schema-id) whose new fields take ids above last-column-id, prior
    * schemas retained, current-schema-id bumped (Iceberg spec v2 schema
    * evolution). Existing field ids never change, so equality-delete
    * files written before the evolution keep resolving. */
  def write(df: DataFrame, root: String, mode: String = "append",
            partitionBy: Seq[String] = Nil,
            summaryProps: Map[String, String] = Map.empty,
            schemaPolicy: DeltaSchema.Policy = DeltaSchema.Enforce,
            clusterWrite: Boolean = false): Long = {
    require(mode == "append" || mode == "overwrite",
      s"iceberg write mode must be append/overwrite, got '$mode'")
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val f = fs(spark, root)
    val exists = isIcebergTable(spark, root)
    val prev = if (exists) Some(tableMeta(spark, root)) else None
    val transforms: Seq[WriteTransform] = partitionBy.map(parseTransform)
    def specMatches(m: TableMeta): Boolean =
      m.partitionSpec.map(f => (f.name, f.transform)) ==
        transforms.map(t => (t.fieldName, t.transform))
    def validateSpec(m: TableMeta): Unit =
      require(specMatches(m),
        s"iceberg write requires the table's partition spec " +
          s"(${m.partitionSpec.map(f => s"${f.transform}:${f.name}").mkString(", ")}), got " +
          s"(${transforms.map(t => s"${t.transform}:${t.fieldName}").mkString(", ")})" +
          "; pass schemaPolicy=DeltaSchema.Evolve on an append to EVOLVE " +
          "the spec (new spec-id, prior snapshots keep theirs)")
    // PARTITION EVOLUTION: an append under Evolve with a different spec
    // registers a NEW spec-id (prior specs retained verbatim — their
    // manifests keep referencing them); overwrites stay strict
    val specEvolves: Boolean = prev match {
      case Some(m) if mode == "append" && !specMatches(m) =>
        if (schemaPolicy.mode != "evolve") validateSpec(m)
        true
      case _ => false
    }
    // align the frame to the table per the schema policy; evoFields are
    // the NEW columns that must widen the schema in this commit
    def alignAppend(m: TableMeta): (DataFrame, Seq[StructField]) = {
      val tableCols = m.schema.fieldNames.toSeq
      if (schemaPolicy.mode == "enforce") {
        // compare on id-stripped types: table-side nested fields carry
        // parquet.field.id metadata the user frame never has
        require(m.schema.map(fd => (fd.name, stripFieldIds(fd.dataType))) ==
          df.schema.map(fd => (fd.name, stripFieldIds(fd.dataType))),
          "iceberg append requires an identical schema " +
            s"(table: ${m.schema.simpleString}, frame: ${df.schema.simpleString}" +
            "; pass schemaPolicy=DeltaSchema.Evolve to widen)")
        (df, Nil)
      } else {
        val missing = tableCols.filterNot(df.columns.contains)
        val newCols = df.columns.toSeq.filterNot(tableCols.contains)
        require(missing.isEmpty || schemaPolicy.onMissing != "fail",
          s"source is missing table columns ${missing.mkString(", ")} " +
            "(on_missing_columns=fail)")
        require(newCols.isEmpty || schemaPolicy.onNew != "fail",
          s"source carries new columns ${newCols.mkString(", ")} " +
            "(on_new_columns=fail)")
        val dfType = df.schema.fields.map(fd =>
          fd.name -> stripFieldIds(fd.dataType)).toMap
        m.schema.fields.filter(fd => dfType.contains(fd.name)).foreach(fd =>
          require(dfType(fd.name) == stripFieldIds(fd.dataType),
            s"existing column ${fd.name} cannot change type " +
              s"(${fd.dataType.simpleString} -> ${dfType(fd.name).simpleString})"))
        val byName = m.schema.fields.map(fd => fd.name -> fd).toMap
        val filled = missing.foldLeft(df)((d, c) =>
          d.withColumn(c, org.apache.spark.sql.functions.lit(null)
            .cast(byName(c).dataType)))
        val widen = newCols.nonEmpty && schemaPolicy.onNew == "add_nullable"
        val kept =
          if (widen) filled.select((tableCols ++ newCols)
            .map(org.apache.spark.sql.functions.col): _*)
          else filled.select(tableCols.map(org.apache.spark.sql.functions.col): _*)
        val evo = if (!widen) Nil else newCols.map(c =>
          StructField(c, dfType(c), nullable = true))
        (kept, evo)
      }
    }
    if (!specEvolves) prev.foreach(validateSpec)
    val (data, evoFields) = prev match {
      case Some(m) if mode == "append" => alignAppend(m)
      case _ => (df, Nil)
    }
    // a NEW evolution column must not reclaim a FORMER name of any other
    // field: the name-based scan would serve that field's historical
    // bytes under the new column, and the alias fallback for the renamed
    // field would go dark (renameColumn guards the same collision)
    prev.foreach { m =>
      if (evoFields.nonEmpty && m.schemasJson.size > 1) {
        val currentIds: Map[String, Int] = m.schemaJson.get("fields")
          .elements().asScala.map(f =>
            f.get("name").asText() -> f.get("id").asInt()).toMap
        val former: Set[String] = m.schemasJson.flatMap(s =>
          Option(s.get("fields")).toSeq.flatMap(_.elements().asScala)
            .map(_.get("name").asText())).toSet -- currentIds.keySet
        val clash = evoFields.map(_.name).filter(former.contains)
        require(clash.isEmpty,
          s"cannot add column(s) ${clash.mkString(", ")}: the name was " +
            "previously used by another field — footer-id-less historical " +
            "files would become ambiguous; pick a fresh name")
      }
    }
    // partition FIELDS: transform result types (identity keeps the
    // source type; day/month/year/hour/bucket are ints)
    val srcTypeOf: Map[String, DataType] = transforms.map { t =>
      t.sourceCol -> data.schema.fields.find(_.name == t.sourceCol)
        .getOrElse(throw new IllegalArgumentException(
          s"partition source column ${t.sourceCol} not in " +
            s"${data.schema.fieldNames.mkString(", ")}")).dataType
    }.toMap
    val partCols: Seq[StructField] = transforms.map(t =>
      StructField(t.fieldName, t.resultType(srcTypeOf(t.sourceCol))))
    partCols.foreach(fd => avroPartType(fd.dataType)) // fail fast on types
    // partition-record field ids: the DEFAULT spec's own ids for a
    // matching write, fresh ids above last-partition-id for an evolving
    // one, 1000.. for a new table
    val partFieldIds: Seq[Int] = prev match {
      case Some(m) if specEvolves =>
        transforms.indices.map(m.lastPartitionId + 1 + _)
      case Some(m) if m.partitionSpec.nonEmpty => m.partitionSpec.map(_.fieldId)
      case _ => transforms.indices.map(1000 + _)
    }
    val entrySchema = entrySchemaFor(partCols, partFieldIds)

    // table field ids for the stats map keys: existing ids for an append
    // (evolution continues above last-column-id with the same assignment
    // the commit makes), fresh deterministic ids otherwise
    val statIdOf: Map[String, Int] = prev match {
      case Some(m) if mode == "append" =>
        val base = topLevelIds(m.schemaJson)
        if (evoFields.isEmpty) base
        else base ++ topLevelIds(mapper.readTree(
          toIcebergSchemaJson(StructType(evoFields.toArray), m.lastColumnId)._1))
      case _ => topLevelIds(mapper.readTree(toIcebergSchemaJson(data.schema)._1))
    }

    /** partition values of a data file, parsed from its directory path */
    def partValuesOf(p: Path): Seq[Any] = partCols.map { fd =>
      val seg = s"_p_${fd.name}="
      val dirVal = p.toString.split('/').find(_.startsWith(seg))
        .map(s => unescapePath(s.stripPrefix(seg)))
        .getOrElse(throw new IllegalStateException(s"no $seg segment in $p"))
      require(dirVal != "__HIVE_DEFAULT_PARTITION__",
        s"iceberg partitioning: null value in partition field ${fd.name}")
      fd.dataType match {
        case IntegerType => Integer.valueOf(dirVal.toInt)
        case LongType => java.lang.Long.valueOf(dirVal.toLong)
        case DateType => Integer.valueOf(
          java.time.LocalDate.parse(dirVal).toEpochDay.toInt)
        case _ => dirVal
      }
    }

    val partSchema = entrySchema.getField("data_file").schema()
      .getField("partition").schema()

    // 1. data files, staged ONCE by the first attempt and reused by every
    // later one; the parquet under data/$commitUuid is referenced by
    // NOTHING until a claim wins, so any terminal failure (null partition
    // value, schema conflict surfaced on rebase, the attempt cap, I/O
    // errors) has the funnel reclaim it. Source columns STAY in the files
    // (spec requirement), so the layout job partitions on shadow columns
    // carrying the TRANSFORMED values (hidden partitioning: the transform
    // computes inside codegen, rows route by result value).
    val commitUuid = java.util.UUID.randomUUID().toString
    val dataDir = new Path(root, s"data/$commitUuid")
    lazy val staged = {
      if (partitionBy.isEmpty)
        data.write.mode("errorifexists").parquet(dataDir.toString)
      else {
        val shadowed = transforms.foldLeft(data)((d, t) =>
          d.withColumn(s"_p_${t.fieldName}",
            transformColumn(t, srcTypeOf(t.sourceCol))))
        // optimized write: cluster by the TRANSFORMED values first, so
        // file count tracks partitions instead of tasks x partitions.
        // HASH clustering, not range: same one-task-per-value file count
        // without RangePartitioner's extra sampling pass over the input
        val clustered =
          if (clusterWrite)
            shadowed.repartition(
              transforms.map(t => col(s"_p_${t.fieldName}")): _*)
          else shadowed
        clustered.write.mode("errorifexists")
          .partitionBy(transforms.map(t => s"_p_${t.fieldName}"): _*)
          .parquet(dataDir.toString)
      }
      val files = graft.core.DriverPar.listFilesNoPerm(f, dataDir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
      // one footer read per staged file yields the row count AND the
      // per-column min/max/null-count maps the manifest entries carry —
      // what read()'s column-bound pruning (and any external Iceberg
      // planner) skips files on; parallel — serial footer reads dominated
      // wide-partition commits (driver metadata I/O, ~10 ms/file)
      val fileFooters = graft.core.DriverPar.map(files)(s =>
        StatsPruning.footerLeafStats(conf, s.getPath))
      (files, fileFooters, files.map(s => partValuesOf(s.getPath)))
    }

    // 2-4. build + atomically publish the commit. The staged data files
    // above are attempt-invariant; the manifest, manifest list and
    // metadata all embed snapshot/sequence ids, so each attempt rewrites
    // those (small, driver-side) against the then-current table state and
    // claims `v{N+1}.metadata.json` ([[publishMeta]]). Exactly one
    // committer wins a version; a loser's attempt files are reclaimed and
    // it rebases onto the winner's metadata — its staged data files are
    // never thrown away (the lost-commit class DeltaConcurrencySpec
    // proved real on local filesystems).
    OptimisticCommit.run("Iceberg write", f, root, staged = Seq(dataDir)) { at =>
      val (files, fileFooters, fileParts) = staged
      val rows = fileFooters.map(_._1).sum
      // per-field bound summaries for the manifest-list row (what read()'s
      // manifest-level pruning consumes); date partitions stored as int
      // days, matching the tuple values. Empty staged writes (a
      // filtered-out micro-batch, an empty append) carry no summaries —
      // and must not crash on vals.head
      val partitionSummaries: Seq[(Any, Any)] =
        if (fileParts.isEmpty) Nil
        else partCols.indices.map { i =>
          val vals = fileParts.map(_(i)).sortWith((a, b) => cmp(a, b) < 0)
          (vals.head, vals.last)
        }
      // the first attempt commits against the plan-time metadata
      val cur = if (at.number == 1) prev else {
        // rebase: a concurrent overwrite may have changed the schema or
        // spec an append must match — re-validate loudly, don't clobber
        val c = if (isIcebergTable(spark, root)) Some(tableMeta(spark, root)) else None
        // on rebase, an evolving append requires the spec it planned to
        // evolve FROM to still be current (no concurrent evolution)
        if (specEvolves) c.foreach(m => require(
          m.partitionSpec.map(f => (f.name, f.transform)) ==
            prev.get.partitionSpec.map(f => (f.name, f.transform)),
          s"concurrent partition-spec change at $root during evolving " +
            "append — re-run"))
        else c.foreach(validateSpec)
        // the frame was aligned against prev's schema — a concurrent
        // schema change invalidates the plan; abort rather than clobber
        if (mode == "append") (prev, c) match {
          case (Some(p), Some(m)) =>
            require(m.schemaJson == p.schemaJson,
              s"concurrent schema change at $root during append — re-run")
          case _ => ()
        }
        c
      }
      // snapshot id strictly above any prior id, so two commits in the
      // same millisecond stay distinct
      val snapshotId = math.max(System.currentTimeMillis(),
        cur.toSeq.flatMap(_.snapshots).map(_.snapshotId + 1).foldLeft(0L)(math.max))
      val seq = cur.map(_.lastSequenceNumber).getOrElse(0L) + 1
      val attemptUuid =
        if (at.number == 1) commitUuid else s"$commitUuid-r${at.number}"
      val manifestPath = new Path(metaDir(root), s"manifest-$attemptUuid.avro")
      val mlPath = new Path(metaDir(root), s"snap-$snapshotId-$attemptUuid.avro")
      at.stage(Seq(manifestPath, mlPath))
      val entries = files.lazyZip(fileFooters).lazyZip(fileParts).map { (s, fstats, pvals) =>
        val (n, leaves) = fstats
        val dataFile = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        dataFile.put("content", 0)
        dataFile.put("file_path", s.getPath.toString)
        dataFile.put("file_format", "PARQUET")
        val pr = new GenericData.Record(partSchema)
        partCols.indices.foreach(i => pr.put(i, pvals(i)))
        dataFile.put("partition", pr)
        dataFile.put("record_count", n)
        dataFile.put("file_size_in_bytes", s.getLen)
        columnStatsMaps(entrySchema, n, leaves, statIdOf).foreach {
          case (k, v) => dataFile.put(k, v)
        }
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapshotId)
        e.put("sequence_number", seq)
        e.put("file_sequence_number", seq)
        e.put("data_file", dataFile)
        e
      }
      f.mkdirs(metaDir(root))
      val manifestLen = writeAvro(conf, manifestPath, entrySchema, entries)

      // partition specs for this attempt: prior specs retained verbatim
      // (their manifests keep referencing them), plus the new one when
      // evolving; the new manifest references the spec it wrote under
      val priorSpecsRaw: Seq[String] = cur.toSeq.flatMap { m =>
        val raw = mapper.readTree(readText(f, new Path(m.metadataPath)))
        if (raw.has("partition-specs"))
          raw.get("partition-specs").elements().asScala.map(_.toString).toSeq
        else Seq(s"""{"spec-id":0,"fields":${
          Option(raw.get("partition-spec")).map(_.toString).getOrElse("[]")}}""")
      }
      val usedSpecId: Int = cur match {
        case Some(_) if specEvolves =>
          priorSpecsRaw.map(s => mapper.readTree(s).get("spec-id").asInt()).max + 1
        case Some(m) => m.defaultSpecId
        case None => 0
      }

      // manifest list: prior manifests survive an append, not an overwrite
      def manifestFileRecord(path: String, len: Long, addedFiles: Int,
                             addedRows: Long, seqNum: Long): GenericRecord = {
        val r = new GenericData.Record(manifestFileSchema)
        r.put("manifest_path", path)
        r.put("manifest_length", len)
        r.put("partition_spec_id", usedSpecId)
        r.put("content", 0)
        r.put("sequence_number", seqNum)
        r.put("min_sequence_number", seqNum)
        r.put("added_snapshot_id", snapshotId)
        r.put("added_files_count", addedFiles)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", addedRows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        if (partitionSummaries.nonEmpty) {
          val arrSchema = manifestFileSchema.getField("partitions").schema()
            .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
          val itemSchema = arrSchema.getElementType
          val arr = new java.util.ArrayList[GenericRecord]()
          partitionSummaries.foreach { case (lo, hi) =>
            val s = new GenericData.Record(itemSchema)
            s.put("contains_null", false)
            s.put("lower_bound", java.nio.ByteBuffer.wrap(encodeBound(lo)))
            s.put("upper_bound", java.nio.ByteBuffer.wrap(encodeBound(hi)))
            arr.add(s)
          }
          r.put("partitions", arr)
        }
        r
      }
      val priorManifests: Seq[GenericRecord] =
        if (mode == "overwrite") Nil
        else cur.toSeq.flatMap(currentMlRecords(conf, root, _))
      val newManifestList = Seq(manifestFileRecord(manifestPath.toString,
        manifestLen, files.size, rows, seq)) ++ priorManifests
      writeAvro(conf, mlPath, manifestFileSchema, newManifestList)

      // metadata vN+1 (snapshot history retained), version-hint LAST.
      // Appends RETAIN the prior schemas array (old snapshots keep their
      // schema); evolution appends a NEW schema entry whose added fields
      // take ids above last-column-id — existing field ids never change,
      // so equality-delete files keep resolving — and bumps
      // current-schema-id.
      val (schemasArr, schemaJson, curSchemaId, lastColumnId) = cur match {
        case Some(m) if mode == "append" =>
          val raw = mapper.readTree(readText(f, new Path(m.metadataPath)))
          val (priorArr, priorCur) =
            if (raw.has("schemas"))
              (raw.get("schemas").elements().asScala.map(_.toString).toSeq,
                raw.get("current-schema-id").asInt())
            else { // v1 single "schema" node, normalized to id 0
              val n = raw.get("schema")
                .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
              n.put("schema-id", 0)
              (Seq(n.toString), 0)
            }
          if (evoFields.isEmpty)
            (priorArr, mapper.writeValueAsString(m.schemaJson), priorCur,
              m.lastColumnId)
          else {
            val maxSchemaId = priorArr
              .map(s => mapper.readTree(s).get("schema-id").asInt()).max
            val (newFieldsJs, lastId) =
              toIcebergSchemaJson(StructType(evoFields.toArray), m.lastColumnId)
            val widened = m.schemaJson
              .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
            widened.put("schema-id", maxSchemaId + 1)
            val arr = widened.withArray("fields")
            mapper.readTree(newFieldsJs).get("fields").elements().asScala
              .foreach(fd => { arr.add(fd); () })
            (priorArr :+ widened.toString, widened.toString, maxSchemaId + 1,
              lastId)
          }
        case _ =>
          val (js, lastId) = toIcebergSchemaJson(data.schema)
          // graft the schema-id into the struct json
          val grafted = js.replaceFirst("\\{\"type\":\"struct\"",
            "{\"type\":\"struct\",\"schema-id\":0")
          (Seq(grafted), grafted, 0, lastId)
      }
      val now = snapshotId
      def summaryJson(m: Map[String, String]): String =
        m.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(v)}"
        }.mkString("{", ",", "}")
      val newSummary = summaryProps +
        ("operation" -> (if (mode == "append") "append" else "overwrite"))
      // parent-snapshot-id records direct succession (spec §Snapshots) —
      // it is what lets a drained streaming cursor whose snapshot later
      // EXPIRED prove the oldest retained snapshot is its true successor
      val parent = cur.flatMap(_.currentSnapshotId)
        .map(p => s""","parent-snapshot-id":$p""").getOrElse("")
      val newSnap =
        s"""{"snapshot-id":$snapshotId,"timestamp-ms":$now,"sequence-number":$seq$parent,
           |"summary":${summaryJson(newSummary)},
           |"manifest-list":"${mlPath.toString}","schema-id":$curSchemaId}"""
          .stripMargin.replaceAll("\n", "")
      // prior snapshots round-trip their FULL summary map — the streaming
      // sink's exactly-once batch markers live there and must survive
      // later appends — plus sequence-number and parent-snapshot-id
      // (dropping either would break sequence-scoped delete application
      // and drained-cursor recovery on every later commit)
      val priorSnaps = cur.toSeq.flatMap(_.snapshots).map { s =>
        val ml = s.manifestList.map(p => s""","manifest-list":"$p"""").getOrElse("")
        val im = if (s.inlineManifests.nonEmpty)
          s""","manifests":[${s.inlineManifests.map(p => s""""$p"""").mkString(",")}]"""
        else ""
        val sq = if (s.sequenceNumber > 0) s""","sequence-number":${s.sequenceNumber}""" else ""
        val pr = s.parentId.map(p => s""","parent-snapshot-id":$p""").getOrElse("")
        // schema-id round-trips too: it is what proves a file generation
        // post-dates a rename, restoring row-group pushdown there
        val sc = s.schemaId.map(i => s""","schema-id":$i""").getOrElse("")
        s"""{"snapshot-id":${s.snapshotId},"timestamp-ms":${s.timestampMs}$sq$pr$sc,
           |"summary":${summaryJson(s.summary + ("operation" -> s.operation))}$ml$im}"""
          .stripMargin.replaceAll("\n", "")
      }
      val allSnaps = (priorSnaps :+ newSnap).mkString(",")
      val uuid = cur.map(_.tableUuid).getOrElse(java.util.UUID.randomUUID().toString)
      // spec fields reference SOURCE columns by schema field id; the
      // transform string uses the spec JSON forms (identity, day,
      // bucket[16], truncate[4]) the reader's projection consumes
      val nameToId: Map[String, Int] = mapper.readTree(schemaJson).get("fields")
        .elements().asScala.map(fd =>
          fd.get("name").asText() -> fd.get("id").asInt()).toMap
      val specFieldsJson = transforms.lazyZip(partFieldIds).map { (t, fid) =>
        s"""{"name":${mapper.writeValueAsString(t.fieldName)},"transform":${
          mapper.writeValueAsString(t.transform)},""" +
          s""""source-id":${nameToId(t.sourceCol)},"field-id":$fid}"""
      }.mkString(",")
      val newSpecJson = s"""{"spec-id":$usedSpecId,"fields":[$specFieldsJson]}"""
      val specsArr: Seq[String] =
        if (cur.isEmpty) Seq(newSpecJson)
        else if (specEvolves) priorSpecsRaw :+ newSpecJson
        else priorSpecsRaw
      val lastPartId = math.max(
        cur.map(_.lastPartitionId).getOrElse(999),
        (999 +: partFieldIds.toSeq).max)
      // table properties round-trip verbatim (retention/behavior knobs
      // like write.metadata.previous-versions-max live here)
      val propsJson = cur.map(_.properties).getOrElse(Map.empty)
        .toSeq.sortBy(_._1).map { case (k, v) =>
          s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(v)}"
        }.mkString("{", ",", "}")
      // sort orders round-trip verbatim (a z-order compaction records
      // the table's clustering there — spec §Sort Orders)
      val sortOrdersJson = cur.map(_.sortOrdersJson).filter(_.nonEmpty)
        .map(_.map(_.toString).mkString("[", ",", "]"))
        .getOrElse("""[{"order-id":0,"fields":[]}]""")
      val defaultSortOrderId = cur.map(_.defaultSortOrderId).getOrElse(0)
      val metadataJson =
        s"""{"format-version":2,"table-uuid":"$uuid","location":"$root",
           |"properties":$propsJson,
           |"last-sequence-number":$seq,"last-updated-ms":$now,
           |"last-column-id":$lastColumnId,
           |"schemas":[${schemasArr.mkString(",")}],"current-schema-id":$curSchemaId,
           |"partition-specs":[${specsArr.mkString(",")}],"default-spec-id":$usedSpecId,
           |"last-partition-id":$lastPartId,
           |"sort-orders":$sortOrdersJson,"default-sort-order-id":$defaultSortOrderId,
           |"snapshots":[$allSnaps],"current-snapshot-id":$snapshotId,
           |"snapshot-log":[{"snapshot-id":$snapshotId,"timestamp-ms":$now}]}"""
          .stripMargin.replaceAll("\n", "")
      OptimisticCommit.Publish(
        publishMeta(f, root, cur, metadataJson.getBytes("UTF-8"), attemptUuid,
          cur.map(_.properties).getOrElse(Map.empty)),
        rows)
    }
  }
}
