package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Native Delta Lake table WRITER on the public transaction-log protocol
 * (delta.io PROTOCOL.md) — the commit side of [[DeltaLog]]. The reference
 * writes Delta through the delta-spark jar
 * (reference odibi/engine/spark_engine.py:1210-1330 save modes,
 * config.py:1355-1390 format dispatch); that jar is absent here, so this
 * implements the protocol directly:
 *
 *   - data files staged by the normal Spark parquet writer (full codegen,
 *     task-level parallelism, hive-style partition dirs), then MOVED into
 *     the table root — the data path is identical to any parquet sink
 *   - commits are `_delta_log/%020d.json` action files published by
 *     ATOMIC RENAME of a hidden temp file (the same optimistic-concurrency
 *     primitive every Delta implementation uses on rename-consistent
 *     stores); on collision the writer re-reads the log, rebases removes,
 *     and retries at the next version ([[OptimisticCommit]])
 *   - `append` adds files; `overwrite` adds files and emits `remove` for
 *     every previously-active file (old data files stay on disk — that is
 *     what makes [[DeltaLog]] time travel work); `ignore` /
 *     `errorifexists` match Spark save-mode semantics
 *   - `metaData` is written at table creation and again when overwrite
 *     changes the schema or partitioning; the table id is preserved
 *     across the table's lifetime (readers key caches on it)
 *   - every `checkpointInterval` commits a single-part
 *     `%020d.checkpoint.parquet` with the reconciled state is written
 *     plus the `_last_checkpoint` pointer, so log replay stays O(interval)
 *     regardless of table age and aged-out JSON commits stay readable
 *
 * Scale: the only driver-side work is the action log (one small JSON line
 * per file — the same metadata every Delta writer ships); data moves once
 * through the distributed parquet writer and is renamed, never copied.
 */
object DeltaWriter {

  /** Result of a commit: the version written and rows written. */
  final case class Commit(version: Long, rowsWritten: Long)

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def logDir(root: String) = new Path(root, "_delta_log")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private[sources] def q(s: String): String = mapper.writeValueAsString(s)

  /** RFC 2396-encode a log-relative path segment-by-segment (the Delta
    * `add.path` contract). '%' in on-disk names (hive-escaped partition
    * dirs) round-trips through [[DeltaLog.decodePath]]'s URI decode. */
  private[sources] def encodePath(rel: String): String =
    rel.split('/').map { seg =>
      new java.net.URI(null, null, seg, null).toASCIIString
    }.mkString("/")

  /** Hive partition-dir component `k=v` → (k, Option(v)); values are
    * hive-escaped on disk, `__HIVE_DEFAULT_PARTITION__` encodes null. */
  private[sources] def parsePartitionSegment(seg: String): (String, Option[String]) = {
    val i = seg.indexOf('=')
    require(i > 0, s"staged file path segment '$seg' is not a partition dir")
    val k = seg.substring(0, i)
    val raw = seg.substring(i + 1)
    if (raw == "__HIVE_DEFAULT_PARTITION__") (k, None)
    else (k, Some(unescapeHive(raw)))
  }

  /** Hive path escaping is %XX on a small reserved set — decode any %XX. */
  private def unescapeHive(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        Character.digit(s.charAt(i + 1), 16) >= 0 &&
        Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Name+type equality, nullability- and metadata-insensitive at EVERY
    * level — top-level nullability never participated (only name and
    * dataType compare), so nested nullability must not either: a frame
    * whose struct members are non-null would otherwise fail enforce
    * against the same-shaped table. */
  private def normType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, normType(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(normType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(normType(m.keyType), normType(m.valueType),
        valueContainsNull = true)
    case other => other
  }
  private def sameSchema(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, normType(f.dataType))).sameElements(
      b.fields.map(f => (f.name, normType(f.dataType))))

  /**
   * Write `df` to the Delta table at `root`. Modes: `append`,
   * `overwrite`, `ignore` (no-op when the table exists), `error` /
   * `errorifexists`. Returns the committed version and rows written
   * (measured by an `Observation` during the staging write — no second
   * job). Appends to a partitioned table inherit its partitioning;
   * passing a non-matching non-empty `partitionBy` fails fast.
   */
  def write(df: DataFrame, root: String, mode: String = "append",
            partitionBy: Seq[String] = Nil,
            checkpointInterval: Int = 10,
            txn: Option[(String, Long)] = None,
            replaceWhere: Map[String, String] = Map.empty,
            schemaPolicy: DeltaSchema.Policy = DeltaSchema.Enforce,
            clusterWrite: Boolean = false,
            columnMapping: Boolean = false): Commit = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val exists = DeltaLog.isDeltaTable(spark, root)
    // replaceWhere (partition-scoped overwrite, the delta-spark
    // `replaceWhere` option restricted to partition-column equality —
    // the incremental-load shape: rewrite one day/region, leave the
    // rest untouched): only files whose partition values match every
    // entry are removed, and the incoming frame must land entirely
    // inside the replaced scope (fail fast otherwise — silently
    // widening the scope is how loads corrupt neighbors).
    require(replaceWhere.isEmpty || mode.equalsIgnoreCase("overwrite"),
      "replaceWhere requires mode=overwrite")
    require(replaceWhere.isEmpty || exists,
      s"replaceWhere needs an existing Delta table at $root")
    mode.toLowerCase match {
      case "ignore" if exists => return Commit(DeltaLog.versions(spark, root).last, 0L)
      case "error" | "errorifexists" if exists =>
        throw new IllegalStateException(s"Delta table already exists at $root")
      case "append" | "overwrite" | "ignore" | "error" | "errorifexists" => ()
      case other => throw new IllegalArgumentException(s"unsupported Delta save mode '$other'")
    }
    val prior = if (exists) Some(DeltaLog.snapshot(spark, root)) else None
    // txn (SetTransaction) idempotence: a checkpoint-replayed micro-batch
    // whose (appId, version) is already committed must be a no-op — the
    // Delta streaming-sink exactly-once contract
    txn.foreach { case (appId, v) =>
      if (prior.exists(_.transactions.get(appId).exists(_ >= v)))
        return Commit(prior.get.version, 0L)
    }
    val isOverwrite = mode.equalsIgnoreCase("overwrite")
    val scoped = replaceWhere.nonEmpty
    val partCols: Seq[String] = prior match {
      case Some(p) if !isOverwrite || scoped =>
        require(partitionBy.isEmpty || partitionBy == p.partitionColumns,
          s"${if (scoped) "replaceWhere" else "append"} partitionBy $partitionBy " +
            s"does not match table partitioning ${p.partitionColumns}")
        p.partitionColumns
      case _ => partitionBy
    }
    prior.foreach { p =>
      if (scoped) require(replaceWhere.keySet.subsetOf(p.partitionColumns.toSet),
        s"replaceWhere keys ${replaceWhere.keySet} must be partition columns " +
          s"${p.partitionColumns}")
    }
    // schema policy: `enforce` (default) keeps the exact-match contract;
    // `evolve` aligns the frame (null-fill missing, widen on new columns
    // — the widened metaData rides the same commit) per the reference's
    // SchemaMode/OnNewColumns/OnMissingColumns semantics
    def stripped(st: StructType): StructType =
      StructType(st.fields.map(fd =>
        StructField(fd.name, DeltaLog.stripMeta(fd.dataType), fd.nullable)))
    var data = df
    var evolution: Option[DeltaSchema.Evolution] = None
    prior.filterNot(_ => isOverwrite && !scoped).foreach { p =>
      if (schemaPolicy.mode == "enforce")
        require(sameSchema(df.schema, stripped(p.schema)),
          s"${if (scoped) "replaceWhere" else "append"} schema " +
            s"${df.schema.simpleString} does not match Delta table " +
            s"schema ${p.schema.simpleString} (overwrite to evolve, or " +
            "pass schemaPolicy=DeltaSchema.Evolve)")
      else {
        val a = DeltaSchema.align(df, p, schemaPolicy)
        data = a.source.select(a.schema.fieldNames.map(col).toSeq: _*)
        require(sameSchema(data.schema, stripped(a.schema)),
          s"append schema ${df.schema.simpleString} does not match Delta " +
            s"table schema ${p.schema.simpleString} — existing columns " +
            "cannot change type under schema evolution")
        evolution = a.evolution
      }
    }

    // the METADATA-carrying logical schema this commit targets, plus the
    // table configuration it carries. Column-mapped tables stage
    // PHYSICAL-name files (what the reader resolves); a full overwrite
    // of a mapped table re-keys changed/new fields with fresh mapping
    // ids while same-named unchanged fields keep theirs.
    val mappedMode = prior.exists(
      _.configuration.getOrElse("delta.columnMapping.mode", "none") != "none")
    // columnMapping=true must never be SILENTLY ignored: against an
    // existing unmapped table it either upgrades (full overwrite — the
    // files rewrite anyway) or fails here, where the mistake is fixable,
    // instead of at a much later renameColumn
    require(!columnMapping || prior.isEmpty || mappedMode ||
        (isOverwrite && !scoped),
      s"columnMapping=true but $root already exists UNMAPPED — column " +
        "mapping applies at table creation or on a full overwrite")
    val (effSchema, effConf) = prior match {
      case Some(p) if !isOverwrite || scoped =>
        (evolution.map(_.schema).getOrElse(p.schema),
          evolution.map(_.configuration).getOrElse(p.configuration))
      case Some(p) if mappedMode => DeltaSchema.overwriteMapped(df.schema, p)
      case Some(p) if columnMapping =>
        // full overwrite of an unmapped table with columnMapping=true:
        // upgrade — all data files rewrite under physical names
        val (sc, conf) = DeltaSchema.createMapped(df.schema)
        (sc, p.configuration ++ conf)
      case Some(p) => (df.schema, p.configuration)
      // CREATE with column mapping: every (nested) field gets a mapping
      // id + physical name — the precondition for metadata-only
      // renameColumn/dropColumn later
      case None if columnMapping => DeltaSchema.createMapped(df.schema)
      case None => (df.schema, Map.empty[String, String])
    }
    val physOf: Map[String, String] =
      effSchema.fields.map(f => f.name -> DeltaLog.physicalName(f)).toMap

    // ---- stage data files with the ordinary distributed parquet writer
    // staging keys on the EFFECTIVE configuration, not the prior one —
    // a columnMapping=true CREATE must stage under physical names too
    val effMapped = mappedMode ||
      effConf.getOrElse("delta.columnMapping.mode", "none") != "none"
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val stageFrame =
      if (!effMapped) data
      else data.select(effSchema.fields.map(fd =>
        col(fd.name).cast(DeltaLog.toPhysical(fd.dataType))
          .as(DeltaLog.physicalName(fd))).toSeq: _*)
    val stagePartCols = partCols.map(c => physOf.getOrElse(c, c))
    // optimized write: cluster by partition values first, so file count
    // tracks PARTITIONS instead of tasks x partitions — at scale an
    // unclustered partitioned write makes every task open every partition.
    // HASH clustering, not range: a value lands in exactly one task either
    // way (same file count), but RangePartitioner pays an extra sampling
    // pass over the staged frame — at scale a second full read
    val clustered =
      if (clusterWrite && stagePartCols.nonEmpty)
        stageFrame.repartition(stagePartCols.map(col): _*)
      else stageFrame
    val (adds, rows) =
      stageAndMove(clustered, root, stagePartCols, nonce, countRows = true)
    // mapped tables key partitionValues by PHYSICAL name — resolve the
    // logical replaceWhere key both ways
    def inScope(a: DeltaLog.AddFile): Boolean =
      replaceWhere.forall { case (k, v) =>
        a.partitionValues.get(physOf.getOrElse(k, k))
          .orElse(a.partitionValues.get(k)).flatten.contains(v) }
    if (scoped) {
      val escaped = adds.filterNot(inScope)
      if (escaped.nonEmpty) {
        adds.foreach(a => f.delete(new Path(root, a.path), false))
        throw new IllegalArgumentException(
          s"replaceWhere $replaceWhere: incoming rows land outside the replaced " +
            s"scope (e.g. ${escaped.head.partitionValues}) — aborting before commit")
      }
    }

    // ---- build + atomically publish the commit: each attempt rebases
    // onto the table as it is NOW; the staged data files serve every
    // attempt and are reclaimed if none of them commits
    val tableId = prior.flatMap(_.tableId)
      .getOrElse(java.util.UUID.randomUUID().toString)
    def attempt(): OptimisticCommit.Step[Commit] = {
      val vs = DeltaLog.versions(spark, root)
      val version = if (vs.isEmpty) 0L else vs.last + 1
      // rebase: overwrite removes whatever is active NOW
      val current = if (vs.isEmpty) None else Some(DeltaLog.snapshot(spark, root))
      // a concurrent writer may have committed our txn while we raced:
      // abandon (the staged data files are reclaimed, never visible)
      val replayed = txn.exists { case (appId, v) =>
        current.exists(_.transactions.get(appId).exists(_ >= v)) }
      if (replayed) return OptimisticCommit.Finish(Commit(current.get.version, 0L))
      // an evolving append was planned against a specific schema — a
      // concurrent schema change must abort, not clobber it
      evolution.foreach(e => require(current.exists(_.schema.json == e.baselineJson),
        s"concurrent schema change at $root during an evolving append — re-run"))
      val now = System.currentTimeMillis()
      val needMeta = current.isEmpty || evolution.isDefined ||
        (isOverwrite && !scoped && current.exists(c =>
          !sameSchema(c.schema, effSchema) || c.partitionColumns != partCols ||
            c.configuration != effConf))
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val rwParam = if (scoped)
        s""","replaceWhere":${q(replaceWhere.map { case (k, v) => s"$k=$v" }.mkString(","))}"""
      else ""
      lines += s"""{"commitInfo":{"timestamp":$now,"operation":"WRITE","operationParameters":{"mode":${q(mode.toUpperCase)},"partitionBy":${q(partCols.mkString(","))}$rwParam},"engineInfo":"graft-native-delta"}}"""
      val effMappedConf =
        effConf.getOrElse("delta.columnMapping.mode", "none") != "none"
      if (current.isEmpty)
        // column mapping needs reader 2 / writer 5 (delta.io PROTOCOL.md)
        lines += (if (effMappedConf)
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
        else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      else if (effMappedConf && current.exists(_.minReaderVersion < 2))
        // upgrading an unmapped table on a full overwrite: the mapping
        // feature requires the bumped protocol in the SAME commit
        lines += """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      if (needMeta)
        // evolving/overwriting commits keep the table's configuration;
        // mapped tables' effSchema carries the mapping metadata
        lines += metaDataJson(tableId, effSchema, partCols, now, effConf)
      txn.foreach { case (appId, v) => lines += txnJson(appId, v, now) }
      if (isOverwrite) current.foreach(_.files.filter(a => !scoped || inScope(a))
        .foreach(a => lines += removeJson(a.path, now, dataChange = true)))
      adds.foreach(a => lines += addJson(encodePath(a.path), a, dataChange = true))
      OptimisticCommit.Publish(
        publish(spark, f, root, version, lines.toSeq, nonce, checkpointInterval),
        Commit(version, rows))
    }
    OptimisticCommit.run("Delta write", f, root,
      staged = adds.map(a => new Path(root, a.path)))(_ => attempt())
  }

  /** The struct type holding the member at dot `path`'s tail — i.e.
    * navigate `path.init` through struct chains. None when a segment is
    * missing or not a struct. */
  private def parentStructAt(schema: StructType,
                             path: Seq[String]): Option[StructType] =
    path.init.foldLeft(Option(schema)) { (cur, seg) =>
      cur.flatMap(_.fields.find(_.name == seg)).map(_.dataType).collect {
        case s: StructType => s
      }
    }

  /** Rebuild `schema` with the member at dot `path` transformed by
    * `edit` (None = drop); all other fields — and the edited field's
    * column-mapping metadata — untouched. */
  private def editNested(schema: StructType, path: Seq[String],
                         edit: StructField => Option[StructField]): StructType =
    StructType(schema.fields.flatMap { fd =>
      if (fd.name != path.head) Some(fd)
      else if (path.size == 1) edit(fd)
      else fd.dataType match {
        case s: StructType =>
          Some(fd.copy(dataType = editNested(s, path.tail, edit)))
        case other => throw new IllegalArgumentException(
          s"'${path.head}' is ${other.simpleString}, not a struct — " +
            "nested paths navigate struct members only")
      }
    })

  /**
   * Metadata-only RENAME of a logical column on a COLUMN-MAPPED table —
   * delta-spark's `ALTER TABLE ... RENAME COLUMN` (delta.io PROTOCOL.md,
   * Column Mapping): the field keeps its mapping id and physical name,
   * so no data file is touched and readers of every version resolve the
   * same physical parquet column under the new logical name. NESTED
   * struct members rename by dot path (`from = "a.b.c"`, `to` the new
   * leaf name) — physical resolution is already recursive, so old files
   * serve the member under its unchanged nested physical name. Refuses
   * on unmapped tables, where the logical name IS the physical column
   * and a rename would orphan every existing file.
   */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Commit =
    OptimisticCommit.run("Delta renameColumn", fs(spark, root), root) { _ =>
      val snap = DeltaLog.snapshot(spark, root)
      val (path, parent) = mappedColumn(snap, root, "renameColumn", from,
        "its logical names are the physical parquet columns")
      require(!to.contains("."),
        s"'$to' must be a leaf name — a rename cannot move a field " +
          "between structs")
      require(!parent.fieldNames.contains(to),
        s"column '${(path.init :+ to).mkString(".")}' already exists")
      val newSchema = editNested(snap.schema, path,
        fd => Some(fd.copy(name = to)))
      schemaChange(spark, root, snap, "RENAME COLUMN",
        s""""from":${q(from)},"to":${q(to)}""", newSchema,
        snap.partitionColumns.map(c => if (c == from) to else c))
    }

  /**
   * Metadata-only DROP of a logical column on a COLUMN-MAPPED table —
   * delta-spark's `ALTER TABLE ... DROP COLUMN` (delta.io PROTOCOL.md,
   * Column Mapping): the physical parquet column stays in existing files
   * but no reader resolves it (reads key on the remaining fields'
   * physical names); time travel to pre-drop versions still serves it.
   * Refuses on unmapped tables (the data would have to be rewritten),
   * on partition columns, and on the last remaining column. A stream
   * consuming the table fails loudly at the drop commit — by design
   * (resuming across a drop silently truncates the consumer's output).
   */
  def dropColumn(spark: SparkSession, root: String, name: String): Commit =
    OptimisticCommit.run("Delta dropColumn", fs(spark, root), root) { _ =>
      val snap = DeltaLog.snapshot(spark, root)
      val (path, parent) = mappedColumn(snap, root, "dropColumn", name,
        "dropping would require rewriting every data file")
      require(!snap.partitionColumns.contains(name),
        s"'$name' is a partition column — repartition the table instead")
      require(path.size > 1 || snap.schema.fields.length > 1,
        s"cannot drop the last column '$name'")
      require(path.size == 1 || parent.fields.length > 1,
        s"cannot drop '$name' — it is the last member of its struct " +
          "(parquet forbids empty groups); drop the struct itself")
      schemaChange(spark, root, snap, "DROP COLUMNS", s""""columns":${q(name)}""",
        editNested(snap.schema, path, _ => None), snap.partitionColumns)
    }

  /** The dot path of `column` and the struct holding it, on a
    * column-mapped snapshot — where a schema change is metadata-only. */
  private def mappedColumn(snap: DeltaLog.Snapshot, root: String, op: String,
                           column: String, unmappedWhy: String): (Seq[String], StructType) = {
    require(snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none",
      s"$op requires a column-mapped table (set delta.columnMapping.mode); " +
        s"$root is unmapped — $unmappedWhy")
    val path = column.split("\\.").toSeq
    val parent = parentStructAt(snap.schema, path).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$column' in ${snap.schema.simpleString} " +
          "(nested paths navigate struct members only)"))
    require(parent.fieldNames.contains(path.last),
      s"no column '$column' in ${snap.schema.simpleString}")
    (path, parent)
  }

  /** The metadata-only commit of a schema change on `snap`, checkpointed
    * on the default interval (10) like every other commit. */
  private def schemaChange(spark: SparkSession, root: String,
                           snap: DeltaLog.Snapshot, operation: String,
                           params: String, schema: StructType,
                           partCols: Seq[String]): OptimisticCommit.Step[Commit] = {
    val now = System.currentTimeMillis()
    val version = snap.version + 1
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${q(operation)},"operationParameters":{$params},"engineInfo":"graft-native-delta"}}""",
      metaDataJson(snap.tableId.getOrElse(java.util.UUID.randomUUID().toString),
        schema, partCols, now, snap.configuration))
    OptimisticCommit.Publish(
      publish(spark, fs(spark, root), root, version, lines,
        java.lang.Long.toHexString(System.nanoTime()), checkpointInterval = 10),
      Commit(version, 0L))
  }

  /**
   * Stage `df` through the ordinary distributed parquet writer under a
   * hidden temp dir, then MOVE every staged data file into the table root
   * under a fresh UUID basename (the delta-spark writer's naming contract:
   * Spark's dynamic-partition writer reuses one basename across a task's
   * partition dirs, but Delta readers — including [[DeltaLog]] — key
   * partition values on unique basenames). Returns the add actions and
   * (when `countRows`) the exact row count observed during the one staging
   * pass — no second job.
   */
  private[sources] def stageAndMove(df: DataFrame, root: String,
                                    partCols: Seq[String], nonce: String,
                                    countRows: Boolean): (Seq[DeltaLog.AddFile], Long) = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val staging = new Path(root, s"_graft_stage_$nonce")
    val obs = org.apache.spark.sql.Observation()
    val observed = if (countRows) df.observe(obs, count(lit(1)).as("rows")) else df
    var w = observed.write.mode("overwrite")
    if (partCols.nonEmpty) w = w.partitionBy(partCols: _*)
    w.parquet(staging.toString)
    val rows = if (countRows) obs.get("rows").asInstanceOf[Long] else 0L

    val staged = graft.core.DriverPar.listFilesNoPerm(f, staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val stagingUri = staging.toUri.getPath
    // parallel rename+footer loop: each staged file's move, stat and
    // footer-stats read are independent driver I/O (~10-20 ms apiece);
    // a wide-partition commit paid them serially
    val adds = graft.core.DriverPar.map(staged.zipWithIndex.toSeq) { case (s, i) =>
      val stagedRel = s.getPath.toUri.getPath.stripPrefix(stagingUri).stripPrefix("/")
      val segs = stagedRel.split('/')
      val pv: Map[String, Option[String]] =
        segs.dropRight(1).map(parsePartitionSegment).toMap
      require(pv.keySet == partCols.toSet,
        s"staged file $stagedRel partition dirs ${pv.keySet} != declared $partCols")
      val ext = stagedRel.substring(stagedRel.indexOf('.', stagedRel.lastIndexOf('/') + 1))
      val rel = (segs.dropRight(1) :+
        f"part-$i%05d-${java.util.UUID.randomUUID()}$ext").mkString("/")
      val dest = new Path(root, rel)
      f.mkdirs(dest.getParent)
      require(f.rename(s.getPath, dest), s"failed to move staged file $rel into $root")
      val st = f.getFileStatus(dest)
      // full per-file stats from the parquet footer (driver-side, one
      // footer read per file in the same loop that renames — the same
      // bounded metadata cost every Delta writer pays): numRecords because
      // the protocol's DV writer requirements mandate it on any add that
      // later carries a deletion vector, and minValues/maxValues/nullCount
      // because they are what read-side data skipping (and OPTIMIZE
      // ZORDER's whole payoff) prunes on — see [[DeltaStats.footerStats]]
      val (_, statsJson) = DeltaStats.footerStats(
        spark.sessionState.newHadoopConf(), dest)
      DeltaLog.AddFile(rel, pv, st.getLen, st.getModificationTime,
        stats = Some(statsJson))
    }
    f.delete(staging, true)
    (adds, rows)
  }

  /** Footer row count of one parquet file (sum of block row counts). */
  private[sources] def parquetRowCount(conf: org.apache.hadoop.conf.Configuration,
                                       p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** `,"stats":"…"` JSON fragment for an add action, empty when absent. */
  private[sources] def statsFragment(a: DeltaLog.AddFile): String =
    a.stats.map(s => s""","stats":${q(s)}""").getOrElse("")

  /** Atomically publish commit `version`: claim `%020d.json` via the
    * filesystem's resolved [[CommitStore]] (link(2) locally,
    * rename-if-absent on HDFS-contract stores, conditional-put or
    * lock-coordinated on object stores, LOUD refusal where no atomic
    * primitive exists). Returns false when another writer claimed the
    * version first. Called only by [[publish]] and the hammer tests. */
  private[graft] def tryPublish(f: FileSystem, root: String, version: Long,
                                lines: Seq[String], nonce: String): Boolean =
    CommitStore.forFs(f).putIfAbsent(f, commitPath(root, version),
      commitBytes(lines), nonce)

  private def commitPath(root: String, version: Long) =
    new Path(logDir(root), f"$version%020d.json")

  private def commitBytes(lines: Seq[String]) =
    (lines.mkString("\n") + "\n").getBytes("UTF-8")

  /** The one Delta publish, for [[OptimisticCommit.run]]: claim commit
    * `version`, and after a win write a checkpoint every
    * `checkpointInterval` versions (never at version 0; 0 disables). */
  private[sources] def publish(spark: SparkSession, f: FileSystem, root: String,
                               version: Long, lines: Seq[String], nonce: String,
                               checkpointInterval: Int): OptimisticCommit.Claim =
    OptimisticCommit.Claim(
      () => tryPublish(f, root, version, lines, nonce),
      () => if (checkpointInterval > 0 && version > 0 &&
          version % checkpointInterval == 0)
        writeCheckpoint(spark, root, version),
      commitPath(root, version), () => commitBytes(lines))

  /** `{"k":"v",...}` partition values of an add or cdc action. */
  private[sources] def partitionValuesJson(pv: Map[String, Option[String]]): String =
    pv.map { case (k, v) => s"${q(k)}:${v.map(q).getOrElse("null")}" }
      .mkString("{", ",", "}")

  /** An `add` action for `a` at `logPath`. Paths already in the log
    * (snapshot files) are re-emitted VERBATIM; freshly staged,
    * filesystem-relative paths go through [[encodePath]] first — it is
    * not idempotent ('%' -> '%25'), so re-encoding a hive-escaped log
    * path would orphan the live add. */
  private[sources] def addJson(logPath: String, a: DeltaLog.AddFile,
                               dataChange: Boolean): String = {
    val dv = a.deletionVector.map(d =>
      s""","deletionVector":{"storageType":${q(d.storageType)},"pathOrInlineDv":${q(d.pathOrInlineDv)}${
        d.offset.map(o => s""","offset":$o""").getOrElse("")},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
      .getOrElse("")
    s"""{"add":{"path":${q(logPath)},"partitionValues":${partitionValuesJson(a.partitionValues)},"size":${a.size},"modificationTime":${a.modificationTime},"dataChange":$dataChange${statsFragment(a)}$dv}}"""
  }

  /** A `remove` action for the log path `logPath` (emitted verbatim). */
  private[sources] def removeJson(logPath: String, now: Long,
                                  dataChange: Boolean): String =
    s"""{"remove":{"path":${q(logPath)},"deletionTimestamp":$now,"dataChange":$dataChange}}"""

  /** A `txn` (SetTransaction) action — the streaming-sink idempotence key. */
  private[sources] def txnJson(appId: String, version: Long, now: Long): String =
    s"""{"txn":{"appId":${q(appId)},"version":$version,"lastUpdated":$now}}"""

  /** `configuration` must carry the TABLE's properties — emitting `{}`
    * for a table whose config holds `delta.columnMapping.mode` or
    * `delta.enableChangeDataFeed` would wipe them on the next metaData
    * replay and corrupt mapped tables. */
  private[sources] def metaDataJson(id: String, schema: StructType,
                           partCols: Seq[String], now: Long,
                           configuration: Map[String, String] = Map.empty): String = {
    val conf = configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
    s"""{"metaData":{"id":${q(id)},"format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${q(schema.json)},"partitionColumns":[${partCols.map(q).mkString(",")}],""" +
      s""""configuration":{$conf},"createdTime":$now}}"""
  }

  /**
   * Checkpoint at `version`: the reconciled state (one `protocol` row,
   * one `metaData` row, one `add` row per active file) plus the
   * `_last_checkpoint` pointer. Keeps replay cost bounded and lets
   * aged-out JSON commits be vacuumed.
   *
   * Layout scales with the table: below
   * `graft.delta.checkpoint.v2.threshold` live files (default 50k) a
   * CLASSIC single-part parquet; at or above it a V2 checkpoint
   * (`%020d.checkpoint.<uuid>.parquet` carrying protocol/metaData/txn/
   * checkpointMetadata plus `sidecar` references) whose add actions live
   * in `_delta_log/_sidecars/<uuid>.parquet` files of
   * `graft.delta.checkpoint.sidecar.files` adds each (default 10k) —
   * written by ONE distributed job, so a million-file table's checkpoint
   * is not a single-task driver choke point, and readers can fan
   * sidecar loads out in parallel (delta.io PROTOCOL.md §V2 Spec).
   */
  def writeCheckpoint(spark: SparkSession, root: String, version: Long): Unit = {
    val snap = DeltaLog.snapshot(spark, root, versionAsOf = Some(version))
    val f = fs(spark, root)
    // the checkpoint carries the snapshot's ACTUAL protocol — writing a
    // fixed (1, 2) would downgrade feature tables (deletion vectors,
    // column mapping) and external readers could mis-read them
    def protoStruct = Row(snap.minReaderVersion, snap.minWriterVersion,
      if (snap.readerFeatures.isEmpty) null else snap.readerFeatures.toSeq.sorted,
      if (snap.writerFeatures.isEmpty) null else snap.writerFeatures.toSeq.sorted)
    def metaStruct = Row(
      snap.tableId.getOrElse("graft-" + version), Row("parquet", Map.empty[String, String]),
      snap.schema.json, snap.partitionColumns, snap.configuration, 0L)
    def addStruct(a: DeltaLog.AddFile): Row = {
      val dvRow = a.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
      Row(a.path, // already log-encoded — emit verbatim
        a.partitionValues.map { case (k, v) => k -> v.orNull },
        a.size, a.modificationTime, true, dvRow, a.stats.orNull)
    }

    /** Stage `df` as parquet, publish the part files at `dests` (one per
      * partition, in part order). Returns the published statuses. */
    def publishParts(df: org.apache.spark.sql.DataFrame,
                     dests: Int => Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val stagingDir = new Path(root,
        s"_graft_cp_${java.lang.Long.toHexString(System.nanoTime())}")
      df.write.mode("overwrite").parquet(stagingDir.toString)
      val parts = graft.core.DriverPar
        .listFilesNoPerm(f, stagingDir, recursive = false)
        .collect { case s if s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.getName.startsWith("_") => s.getPath }
        .sortBy(_.getName)
      require(parts.nonEmpty, "checkpoint staging produced no parquet")
      val out = parts.zipWithIndex.map { case (p, i) =>
        val dest = dests(i)
        f.mkdirs(dest.getParent)
        f.delete(dest, false)
        require(f.rename(p, dest), s"failed to publish checkpoint part $dest")
        f.getFileStatus(dest)
      }
      f.delete(stagingDir, true)
      out
    }

    val v2Threshold = spark.conf
      .get("graft.delta.checkpoint.v2.threshold", "50000").toInt
    if (snap.files.size >= v2Threshold) {
      // ---- V2 checkpoint with sidecars ----
      val perSidecar = math.max(1, spark.conf
        .get("graft.delta.checkpoint.sidecar.files", "10000").toInt)
      val nParts = math.max(1,
        math.ceil(snap.files.size.toDouble / perSidecar).toInt)
      val sidecarDir = new Path(logDir(root), "_sidecars")
      val addRows = snap.files.map(a => Row(addStruct(a)))
      val sidecars = publishParts(
        spark.createDataFrame(
          spark.sparkContext.parallelize(addRows, nParts), DeltaLog.CheckpointSchema("add")),
        _ => new Path(sidecarDir, s"${java.util.UUID.randomUUID()}.parquet"))
      val mainSchema = DeltaLog.CheckpointSchema(
        "protocol", "metaData", "txn", "checkpointMetadata", "sidecar")
      val mainRows =
        Row(protoStruct, null, null, null, null) +:
        Row(null, metaStruct, null, null, null) +:
        (snap.transactions.toSeq.map { case (app, v) =>
          Row(null, null, Row(app, v), null, null)
        } ++ Seq(Row(null, null, null, Row(version), null)) ++
          sidecars.map(s => Row(null, null, null, null,
            Row(s.getPath.getName, s.getLen, s.getModificationTime))))
      val mainDest = new Path(logDir(root),
        f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")
      publishParts(
        spark.createDataFrame(
          spark.sparkContext.parallelize(mainRows, 1), mainSchema),
        _ => mainDest)
    } else {
      // ---- classic single-part checkpoint ----
      val protoRow = Row(protoStruct, null, null, null)
      val metaRow = Row(null, metaStruct, null, null)
      val addRows = snap.files.map(a => Row(null, null, addStruct(a), null))
      val txnRows = snap.transactions.toSeq.map { case (app, v) =>
        Row(null, null, null, Row(app, v))
      }
      publishParts(
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            protoRow +: metaRow +: (addRows ++ txnRows), 1),
          DeltaLog.CheckpointSchema("protocol", "metaData", "add", "txn"))
          .coalesce(1),
        _ => new Path(logDir(root), f"$version%020d.checkpoint.parquet"))
    }
    val ptr = new Path(logDir(root), "_last_checkpoint")
    val out = f.create(ptr, true)
    try out.write(s"""{"version":$version,"size":${snap.files.size + snap.transactions.size + 2}}""".getBytes("UTF-8"))
    finally out.close()
  }
}
