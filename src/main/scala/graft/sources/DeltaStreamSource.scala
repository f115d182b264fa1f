package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/**
 * Delta table as a STREAMING SOURCE: tail the table's commits for new add
 * actions and emit each batch's files through the same scan machinery the
 * batch reader uses ([[DeltaLog.frameOf]]). Every read of the log goes
 * through [[DeltaLog]] — its snapshots, its decoded commits and its CDF
 * change-item order — whose caches serve repeated batches; this source
 * keeps no copy of its own. The incremental-ETL shape the
 * reference reads with `format: delta, streaming: true` through
 * delta-spark (reference odibi/config.py:2676-2685); this is the native
 * equivalent for an environment without the delta-spark jar.
 *
 * Semantics match delta-spark's DeltaSource:
 *  - default start = the CURRENT snapshot as the first batch, then new
 *    commits; `startingVersion` (a number, or "latest") tails from there
 *    instead.
 *  - `maxFilesPerTrigger` bounds each micro-batch; offsets address
 *    (version, file-index) so a batch can stop MID-commit and resume
 *    deterministically from the log alone (restart-safe).
 *  - data is append-only by contract: a commit that REMOVES files with
 *    dataChange=true fails the stream unless `ignoreDeletes` (pure
 *    deletes) or `ignoreChanges` (updates/merges — their re-written adds
 *    are re-emitted WHOLE, deletion vectors ignored, the same
 *    at-least-once caveat delta-spark documents). dataChange=false
 *    commits (OPTIMIZE) are skipped silently.
 *  - a schema-changing metaData action mid-stream fails loudly.
 *
 * Scale: getOffset/getBatch are driver-side log metadata only (the same
 * O(new commits) tailing every Delta streaming reader does); the data
 * path is one parquet scan per batch with pushdown intact.
 */
class DeltaStreamSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta streaming source needs .load(path) or option(\"path\", ...)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-delta derives its schema from the table")
    ("graft-delta", new DeltaStreamSource(sqlContext.sparkSession,
      pathOf(parameters), parameters).schema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext.sparkSession, pathOf(parameters),
      parameters, metadataPath)
}

object DeltaStreamSource {
  private val mapper = new ObjectMapper()

  private[sources] def stripFields(st: StructType): StructType =
    StructType(st.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))

  private[sources] def logicalSchema(snap: DeltaLog.Snapshot): StructType =
    stripFields(snap.schema)

  /** Stream position: all files of `version` up to `index` (exclusive)
    * are consumed; `snapshot` marks the initial-snapshot phase, whose
    * "files" are the snapshot's active list at `version`. In CDF mode a
    * tail cursor marked `fileLevel` indexes the version's CHANGE-ITEM
    * list ([[DeltaLog.changeItems]], the order [[DeltaLog.changes]]
    * slices by: cdc, else adds then removes); an unmarked CDF tail
    * cursor is from a checkpoint written when CDF drained whole
    * versions — its index counts one item per version, so index >= 1
    * means the version is fully consumed. */
  final case class DeltaSourceOffset(version: Long, index: Long, snapshot: Boolean,
                                     fileLevel: Boolean = false)
    extends OffsetV1 {
    override def json(): String =
      s"""{"version":$version,"index":$index,"snapshot":$snapshot""" +
        (if (fileLevel) ""","fileLevel":true}""" else "}")
  }

  private[sources] def parseOffset(json: String): DeltaSourceOffset = {
    val n = mapper.readTree(json)
    DeltaSourceOffset(n.get("version").asLong, n.get("index").asLong,
      n.get("snapshot").asBoolean,
      Option(n.get("fileLevel")).exists(_.asBoolean))
  }
}

class DeltaStreamSource(spark: SparkSession, root: String,
                        parameters: Map[String, String],
                        metadataPath: String = "") extends Source {
  import DeltaStreamSource._

  private def opt(k1: String, k2: String): Option[String] =
    parameters.get(k1).orElse(parameters.get(k2))
  private val maxFiles: Option[Int] =
    opt("maxFilesPerTrigger", "max_files_per_trigger").map(_.toInt)
  private val maxBytes: Option[Long] =
    opt("maxBytesPerTrigger", "max_bytes_per_trigger").map(_.toLong)
  private val ignoreDeletes =
    opt("ignoreDeletes", "ignore_deletes").exists(_.toBoolean)
  private val ignoreChanges =
    opt("ignoreChanges", "ignore_changes").exists(_.toBoolean)
  private val startingVersion: Option[String] =
    opt("startingVersion", "starting_version")
  /** CDF mode: emit the change feed (table columns + _change_type /
    * _commit_version / _commit_timestamp) instead of the data — the
    * delta-spark `readChangeFeed` streaming option. The initial snapshot
    * (when no startingVersion) arrives as `insert` rows; tail versions
    * stream through [[DeltaLog.changes]] with FILE-LEVEL (version,
    * change-item) offsets — maxFilesPerTrigger/maxBytesPerTrigger cap
    * change FILES per batch, so one bulk CDC commit drains as many
    * deterministic micro-batches and can stop mid-commit. */
  private val readChangeFeed =
    opt("readChangeFeed", "read_change_feed").exists(_.toBoolean)
  /** delta-spark's `schemaTrackingLocation`: a directory (conventionally
    * under the checkpoint) where a mid-stream ADDITIVE schema change is
    * recorded so a RESTART resumes under the widened schema — earlier
    * data null-fills the new columns. Without it, any schema change
    * fails the stream permanently. */
  private val schemaTrackLoc: Option[String] =
    opt("schemaTrackingLocation", "schema_tracking_location")
  /** OPT-IN recovery across a column DROP: with schema tracking set, a
    * drop commit records the NARROWED schema and asks for a restart,
    * which then drains the remaining commits exactly-once under it
    * (pre-drop files simply stop requesting the dropped column). OFF by
    * default — a drop silently truncating a consumer's output is the
    * classic quiet-corruption shape, so the default stays a loud
    * permanent failure. */
  private val allowColumnDrop =
    opt("allowColumnDrop", "allow_column_drop").exists(_.toBoolean)

  // the base decides batch 0: Left(snapshot version) = emit that whole
  // snapshot first; Right(v) = tail add actions from version v on.
  // PERSISTED beside the checkpoint on first resolution: a restart that
  // replays an uncommitted batch must enumerate the SAME base the
  // original run did — re-resolving against a newer table would replay
  // an empty batch and silently skip the original base's files.
  private def baseFile: Option[Path] =
    if (metadataPath.isEmpty) None
    else Some(new Path(metadataPath, "graft-delta-base"))

  private lazy val base: Either[Long, Long] =
    baseFile.flatMap(SchemaTracking.readBase(spark, _)).getOrElse {
      val b = startingVersion match {
        case None => Left(DeltaLog.versions(spark, root).last)
        case Some("latest") => Right(DeltaLog.versions(spark, root).last + 1)
        case Some(v) => Right(v.toLong)
      }
      baseFile.foreach(SchemaTracking.writeBase(spark, _, b))
      b
    }

  private lazy val snapshotAtBase: DeltaLog.Snapshot = base match {
    case Left(v) =>
      try DeltaLog.snapshot(spark, root, versionAsOf = Some(v))
      catch {
        case e: IllegalArgumentException
          if recoverPosition().exists(o => !o.snapshot) =>
          // the PERSISTED base version aged out of the log, but the
          // recovered cursor is already past the snapshot phase — the
          // base snapshot's files are never needed again, only a schema,
          // which the current snapshot (or the tracked one) governs
          DeltaLog.snapshot(spark, root)
      }
    case Right(v) =>
      // schema as of the tail start (v-1 may predate the table: use v's)
      DeltaLog.snapshot(spark, root)
  }

  /** Snapshot at a pinned version: the base when it matches, else a
    * time-travel read (served from [[DeltaLog]]'s snapshot cache). */
  private def snapshotAt(v: Long): DeltaLog.Snapshot = base match {
    case Left(b) if b == v => snapshotAtBase
    case _ => DeltaLog.snapshot(spark, root, versionAsOf = Some(v))
  }

  private def trackPath: Option[Path] =
    schemaTrackLoc.map(d => new Path(d, "graft-delta-schema-track.json"))

  private def writeTracked(version: Long, st: StructType): Unit =
    trackPath.foreach(SchemaTracking.write(spark, _, version, st))

  private val trackedAtStart: Option[(Long, StructType)] =
    trackPath.flatMap(SchemaTracking.read(spark, _))

  /** The RAW schema this run serves (mapping metadata kept when present
    * — field ids drive rename resolution on column-mapped tables): the
    * tracked one when the tracking location holds it, else the base
    * snapshot's. Tracked files written before raw persistence carry no
    * metadata, which just disables the id paths. */
  private lazy val servingRaw: StructType =
    trackedAtStart.map(_._2).getOrElse(snapshotAtBase.schema)

  /** The table schema this RUN serves: the tracked (evolved) one when the
    * tracking location holds it, else the base snapshot's. */
  private lazy val tableSchema: StructType = stripFields(servingRaw)

  /** Top-level field-id view of a fully column-mapped schema:
    * id -> (physical name, stripped type). None when any field lacks a
    * mapping id (unmapped table / legacy stripped tracked schema). */
  private def idViewTop(st: StructType): Option[Map[Long, (String, org.apache.spark.sql.types.DataType)]] =
    if (st.fields.nonEmpty &&
        st.fields.forall(_.metadata.contains("delta.columnMapping.id")))
      Some(st.fields.map(fd => fd.metadata.getLong("delta.columnMapping.id") ->
        ((DeltaLog.physicalName(fd), DeltaLog.stripMeta(fd.dataType)))).toMap)
    else None

  /** Every field of `a` resolvable in `b` by mapping id, with the same
    * physical name and PHYSICAL type (logical names free to differ —
    * the column-mapped RENAME shape, top-level or a nested struct
    * member: toPhysical keys nested members by their physical names, so
    * a member rename still counts as a rename, not a retype). */
  private def idSubset(a: StructType, b: StructType): Boolean =
    SchemaTracking.idSubset(a, b, "delta.columnMapping.id",
      f => (DeltaLog.physicalName(f), DeltaLog.toPhysical(f.dataType)))

  /** The version the served schema took effect at — metaData actions at
    * or before it with a NARROWER schema are history (their files
    * null-fill); a narrower schema AFTER it is a column drop. EAGER: a
    * lazy read would evaluate versions() at the moment of the first
    * mismatch, where latest already includes the offending commit and a
    * mid-stream DROP would silently pass as "history". */
  private val servedFromVersion: Long =
    trackedAtStart.map(_._1).getOrElse(base match {
      case Left(v) => v
      case Right(_) => DeltaLog.versions(spark, root).last
    })

  override val schema: StructType =
    if (!readChangeFeed) tableSchema
    else StructType(tableSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))

  private def isAdditive(old: StructType, wide: StructType): Boolean =
    SchemaTracking.isAdditive(old, wide)

  /** Mid-stream schema-change discipline: exact match passes; a NARROWER
    * historical schema (at/before [[servedFromVersion]]) passes — its
    * files null-fill the newer columns; a WIDENING, or on a column-mapped
    * table a RENAME (same field ids/physical names/types under new
    * logical names, so every file stays resolvable), records to the
    * tracking location and asks for a restart; anything else (drops,
    * retypes, changes without tracking) fails. Takes the RAW schema —
    * mapping metadata drives the id paths. */
  private def checkTableSchema(incomingRaw: StructType, version: Long): Unit = {
    val incoming = stripFields(incomingRaw)
    if (incoming == tableSchema) return
    // history: files written under a narrower schema null-fill; on
    // mapped tables an id-resolvable historical schema (old logical
    // names) serves fine — frames read through the CURRENT mapping
    if (version <= servedFromVersion &&
        (isAdditive(incoming, tableSchema) || idSubset(incomingRaw, servingRaw)))
      return
    val widens = isAdditive(tableSchema, incoming)
    // every served field still resolvable by id: a rename, a mapped
    // widening, or both — never a drop
    val renames = idSubset(servingRaw, incomingRaw)
    if (widens || renames) {
      // TRACKABLE only while still LIVE in the table's CURRENT schema: a
      // historical metaData whose extra columns were later DROPPED (or
      // whose ids vanished) would make the stream serve a dead column
      // and then wedge on the drop commit
      val currentRaw = DeltaLog.snapshot(spark, root).schema
      val live =
        if (renames) idSubset(incomingRaw, currentRaw) ||
          stripFields(currentRaw) == incoming
        else isAdditive(incoming, stripFields(currentRaw))
      if (!live && version <= servedFromVersion) return // obsolete history:
        // its files' extra columns prune under the served schema
      if (trackPath.isDefined && live) {
        writeTracked(version, incomingRaw)
        throw new IllegalStateException(
          s"Delta source schema changed at version $version to " +
            s"${incoming.simpleString}; the new schema was recorded at " +
            s"${schemaTrackLoc.get} — restart the stream to continue " +
            (if (renames && !widens) "(files resolve by column-mapping id)"
            else "(earlier data null-fills the new columns)"))
      }
    }
    // a DROP (every incoming field still resolvable in the served schema
    // — by name+type, or by mapping id on mapped tables): a version >
    // servedFromVersion narrowing reaches here only as a live drop
    // commit (historical narrowings returned above); recovery is an
    // explicit opt-in
    val narrowed = isAdditive(incoming, tableSchema) ||
      SchemaTracking.idNarrows(incomingRaw, servingRaw, f =>
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(f.metadata.getLong("delta.columnMapping.id"))
        else None)
    if (allowColumnDrop && trackPath.isDefined && narrowed) {
      writeTracked(version, incomingRaw)
      throw new IllegalStateException(
        s"Delta source column DROP at version $version: schema narrowed " +
          s"to ${incoming.simpleString}; recorded at ${schemaTrackLoc.get} " +
          "(allowColumnDrop=true) — restart the stream to continue under " +
          "the narrowed schema")
    }
    throw new IllegalStateException(
      s"Delta source schema changed at version $version — restart the " +
        s"stream to pick up ${incoming.simpleString}" +
        (if (trackPath.isDefined)
          " (non-additive change: schema tracking cannot resume across it)"
        else "; set schemaTrackingLocation to resume across additive " +
          "changes (and column-mapped renames)"))
  }

  private def align(df: DataFrame): DataFrame =
    SchemaTracking.align(df, schema)

  /** Align a frame read under an OLDER raw schema: on column-mapped
    * tables, columns first rename by field id to the serving schema's
    * logical names (a mapped RENAME is metadata-only — same id and
    * physical name), then null-fill/reorder as usual. Without ids this
    * is plain [[align]]. */
  private def alignFrom(df: DataFrame, sourceRaw: StructType): DataFrame = {
    val renames: Map[String, String] =
      (idViewTop(sourceRaw), idViewTop(servingRaw)) match {
        case (Some(_), Some(_)) =>
          val srcById = sourceRaw.fields.map(fd =>
            fd.metadata.getLong("delta.columnMapping.id") -> fd.name).toMap
          servingRaw.fields.toSeq.flatMap { fd =>
            val id = fd.metadata.getLong("delta.columnMapping.id")
            srcById.get(id).filter(_ != fd.name).map(_ -> fd.name)
          }.toMap
        case _ => Map.empty
      }
    // ONE simultaneous projection — sequential withColumnRenamed would
    // collide when a new logical name equals another column's OLD name
    // (swap/chain renames are legal: physical names decouple)
    val renamed =
      if (renames.isEmpty) df
      else df.select(df.columns.toSeq.map(c => renames.get(c)
        .map(n => org.apache.spark.sql.functions.col(c).as(n))
        .getOrElse(org.apache.spark.sql.functions.col(c))): _*)
    align(renamed)
  }

  /** Version `version`'s ADDED files while tailing, with the
    * append-only contract enforced. */
  private def addsOf(version: Long): Seq[DeltaLog.AddFile] = {
    val c = DeltaLog.commit(spark, root, version)
    c.metaData.foreach(m => checkTableSchema(m.schema, version))
    val adds = c.adds.filter(_.dataChange)
    val removes = c.removes.filter(_.dataChange)
    if (removes.nonEmpty && adds.isEmpty)
      require(ignoreDeletes || ignoreChanges,
        s"version $version deletes data from the stream source table " +
          s"($root); set ignoreDeletes to skip pure deletes")
    if (removes.nonEmpty && adds.nonEmpty)
      require(ignoreChanges,
        s"version $version updates rows in the stream source table " +
          s"($root); set ignoreChanges to re-emit rewritten files whole")
    adds.map(_.copy(deletionVector = None)) // re-emitted WHOLE under ignoreChanges
  }

  /** A tail version's items: its added files, or in CDF mode its change
    * items (sizes weigh the caps; the rows are read through
    * [[DeltaLog.changes]]' boundary slicing). */
  private def itemsOf(v: Long): Seq[DeltaLog.AddFile] =
    if (readChangeFeed) DeltaLog.changeItems(DeltaLog.commit(spark, root, v)).map(_._1)
    else addsOf(v)

  /** Pending (pos, file) pairs after `from`, in commit order, capped by
    * file count and/or cumulative bytes (a batch always makes progress:
    * the first file is admitted regardless of `capBytes`). */
  private def pendingAfter(from: Option[DeltaSourceOffset], cap: Option[Int],
                           capBytes: Option[Long] = None,
                           untilVersion: Option[Long] = None)
      : Seq[(DeltaSourceOffset, DeltaLog.AddFile)] = {
    val out = scala.collection.mutable.ArrayBuffer[(DeltaSourceOffset, DeltaLog.AddFile)]()
    var bytes = 0L
    def admit(pos: DeltaSourceOffset, a: DeltaLog.AddFile): Unit = {
      out += ((pos, a)); bytes += a.size
    }
    def room: Boolean = out.isEmpty ||
      (cap.forall(out.size < _) && capBytes.forall(bytes < _))
    val latest = DeltaLog.versions(spark, root).last
    // phase 1: the initial snapshot (offsets with snapshot=true). The
    // snapshot being resumed is PINNED at the cursor's own version — a
    // restart re-resolves `base` against the CURRENT table, but the
    // recovered index addresses the file list of the version the run
    // started from; commits that landed while down replay as phase 2
    // (with their delete/update contract enforced), instead of being
    // folded into a re-based file list the old index may not address.
    val snapStart: Option[Long] = base match {
      case Left(v) if from.forall(o => o.snapshot) =>
        val resumeV = from.map(_.version).getOrElse(v)
        val startIdx = from.map(_.index).getOrElse(0L)
        val files = snapshotAt(resumeV).files
        var i = startIdx
        while (i < files.size && room) {
          admit(DeltaSourceOffset(resumeV, i + 1, snapshot = true), files(i.toInt))
          i += 1
        }
        // snapshot fully consumed only when we emitted through the end
        if (startIdx >= files.size || (out.nonEmpty && out.last._1.index == files.size) ||
            files.isEmpty) Some(resumeV + 1) else None
      case Left(v) => Some(from.get.version + (if (from.get.snapshot) 1L else 0L))
      case Right(v) => Some(from.map(_.version).map(math.max(_, v)).getOrElse(v))
    }
    // phase 2: tail commits (CDF mode: ONE item per version — the batch
    // reads that version's change rows through DeltaLog.changes)
    snapStart.foreach { sv =>
      // the first version the stream still NEEDS: an index of MaxValue is
      // the fully-consumed sentinel (the 'latest'-start pin), so the need
      // starts at the NEXT version
      val earliest = DeltaLog.versions(spark, root).head
      // a fully-drained cursor in the LEGACY (v, item-count) form (from
      // checkpoints written before the (v+1, 0) advanced form existed) is
      // normalized against the still-retained log BEFORE the gap check,
      // so cleanupLogs later removing v's json never fails a restart that
      // had already consumed v whole
      val firstNeeded = from match {
        case Some(o) if !o.snapshot && o.index == Long.MaxValue => o.version + 1
        // a LEGACY (pre-file-level) CDF cursor is one item per version:
        // (v, 1) IS fully drained, no log lookup needed
        case Some(o) if !o.snapshot && readChangeFeed && !o.fileLevel &&
            o.index >= 1 => o.version + 1
        case Some(o) if !o.snapshot =>
          if (o.version >= earliest && o.version <= latest &&
              o.index >= itemsOf(o.version).size) o.version + 1
          else o.version
        case _ => sv
      }
      // fail LOUDLY when an UNCONSUMED version predates the earliest
      // retained _delta_log entry — silently skipping expired versions
      // would be a data gap the consumer can never detect (delta-spark's
      // DeltaSource errors here too). A cursor that already consumed
      // through its version (sentinel / advanced form below) is NOT a
      // gap even when that version's own log entry was cleaned up.
      if (firstNeeded < earliest && firstNeeded <= latest)
        throw new IllegalStateException(
          s"graft-delta stream at $root: version $firstNeeded is no longer " +
          s"available (earliest retained log version is $earliest). Log " +
          "entries before the requested start were cleaned up; restart the " +
          "stream from a fresh checkpoint with an available startingVersion.")
      var v = firstNeeded
      // bounded enumeration: getBatch passes its end version so a batch
      // never re-walks the whole backlog's jsons (O(batch), not O(pending))
      val stop = math.min(latest, untilVersion.getOrElse(latest))
      while (v <= stop && room) {
        val adds = itemsOf(v)
        val startIdx = from match {
          case Some(o) if !o.snapshot && o.version == v
            && (!readChangeFeed || o.fileLevel) => o.index
          case _ => 0L
        }
        var i = startIdx
        while (i < adds.size && room) {
          admit(DeltaSourceOffset(v, i + 1, snapshot = false,
            fileLevel = readChangeFeed), adds(i.toInt))
          i += 1
        }
        v += 1
      }
    }
    out.toSeq
  }

  /** One-shot upgrade-path normalization: a cursor recovered in the
    * LEGACY fully-drained (v, item-count) form re-persists as the
    * advanced (v+1, 0) form while v's log entry is STILL retained — so a
    * later cleanupLogs removing v never fails a restart that had already
    * consumed v whole. (CDF cursors keep their per-version form: their
    * batch ranges are version-addressed.) */
  private var normalizedLegacy = false
  private def normalizeLegacyPosition(): Unit = {
    if (normalizedLegacy) return
    normalizedLegacy = true
    lastReturned.foreach { o =>
      if (!o.snapshot && !readChangeFeed && o.index != Long.MaxValue && o.index > 0) {
        val vs = DeltaLog.versions(spark, root)
        if (o.version >= vs.head && o.version <= vs.last &&
            o.index >= addsOf(o.version).size) {
          val adv = DeltaSourceOffset(o.version + 1, 0L, snapshot = false)
          lastReturned = Some(adv)
          positionFile.foreach { p =>
            val f = p.getFileSystem(spark.sessionState.newHadoopConf())
            SchemaTracking.writeFile(f, p, adv.json())
          }
        }
      }
    }
  }

  override def getOffset: Option[OffsetV1] = {
    normalizeLegacyPosition()
    val last = lastReturned
    val pending = pendingAfter(last, maxFiles, maxBytes)
    if (pending.nonEmpty) {
      val lastPos = pending.last._1
      // a tail version drained to its end checkpoints as (v+1, 0) —
      // "consumed through v" — so the cursor survives v's log entry
      // expiring under retention (both modes: CDF batch ranges are
      // item-sliced now, and an advanced end bound reads as "through
      // version v, nothing of v+1")
      val advanced =
        if (!lastPos.snapshot && lastPos.index != Long.MaxValue &&
            lastPos.index >= itemsOf(lastPos.version).size)
          DeltaSourceOffset(lastPos.version + 1, 0L, snapshot = false,
            fileLevel = readChangeFeed)
        else lastPos
      setPosition(advanced)
    }
    else if (last.isEmpty) {
      // pin the BASE even with nothing to emit: a 'latest' start that
      // restarts before its first batch must not re-resolve against a
      // newer table (it would silently skip the gap)
      base match {
        case Right(v) =>
          setPosition(DeltaSourceOffset(v - 1, Long.MaxValue, snapshot = false))
        case Left(v) if snapshotAtBase.files.isEmpty =>
          setPosition(DeltaSourceOffset(v, 0L, snapshot = true))
        case Left(_) => () // a non-empty snapshot base always has a batch
      }
    }
    lastReturned.map(identity[OffsetV1])
  }

  // the consumed-through position. With maxFilesPerTrigger the offsets
  // getOffset returns are CAPPED, so a restart must not re-cap from the
  // log's beginning (it would return an offset BEHIND the checkpointed
  // start and re-emit files) — the position round-trips through a tiny
  // file under the stream's own checkpoint metadataPath, exactly the
  // restart discipline FileStreamSource uses for its seen-files map.
  private var lastReturned: Option[DeltaSourceOffset] = recoverPosition()

  private def positionFile: Option[Path] =
    if (metadataPath.isEmpty) None
    else Some(new Path(metadataPath, "graft-delta-position"))

  private def setPosition(o: DeltaSourceOffset): Unit = {
    if (lastReturned.forall(l => offsetLt(l, o))) {
      lastReturned = Some(o)
      // ATOMIC publish (temp+rename, like the base and schema files): a
      // crash mid-write must never leave a torn file that wedges restarts
      positionFile.foreach { p =>
        val f = p.getFileSystem(spark.sessionState.newHadoopConf())
        SchemaTracking.writeFile(f, p, o.json())
      }
    }
  }

  private def recoverPosition(): Option[DeltaSourceOffset] = {
    // a torn/empty/missing position file (crash mid-write under the
    // PRE-atomic publish, or mid-delete+rename) recovers from the
    // stream's own offset WAL — the engine's atomic, authoritative record
    // of the offsets already handed out. Treating it as a FRESH cursor
    // instead would let a capped getOffset re-return offsets behind the
    // committed one and replay delivered files.
    def fromWal(why: String): Option[DeltaSourceOffset] = {
      val rec = SchemaTracking.walOffsetJson(spark, metadataPath)
        .flatMap(j => scala.util.Try(parseOffset(j)).toOption)
      if (rec.isDefined)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"graft-delta: $why — recovered cursor ${rec.get.json()} from the " +
            "stream's offset WAL")
      rec
    }
    positionFile.flatMap { p =>
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      SchemaTracking.readFile(f, p) match {
        case None => fromWal(s"position file $p is absent")
        case Some(text) =>
          try Some(parseOffset(text)) catch {
            case e: Exception => fromWal(
              s"unreadable position file $p (${e.getMessage})")
          }
      }
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endOff = toOffset(end)
    val startOff = start.map(toOffset)
    setPosition(endOff) // a recovered uncommitted batch re-initializes us
    if (readChangeFeed) return cdfBatch(startOff, endOff)
    // everything in (start, end]; bounded re-enumeration from the log
    // (stopping at end's version), so a restart reproduces the batch
    // exactly without re-walking the whole backlog
    val files = pendingAfter(startOff, None, None,
        Some(if (endOff.snapshot) Long.MinValue else endOff.version))
      .takeWhile { case (pos, _) => !offsetLt(endOff, pos) }
      .map(_._2)
    val snapFor =
      if (endOff.snapshot) snapshotAt(endOff.version).copy(files = files)
      else DeltaLog.snapshot(spark, root).copy(files = files)
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else alignFrom(DeltaLog.frameOf(spark, root, snapFor), snapFor.schema)
    org.apache.spark.sql.graftshim.ColumnShim.asStreamingFrame(batch)
  }

  /** One CDF micro-batch: the snapshot slice as `insert` rows (stamped
    * with the base commit's version/timestamp) unioned with
    * [[DeltaLog.changes]] over the tail version range. */
  private def cdfBatch(startOff: Option[DeltaSourceOffset],
                       endOff: DeltaSourceOffset): DataFrame = {
    import org.apache.spark.sql.functions._
    val snapFrame: Option[DataFrame] = base match {
      case Left(v) =>
        // pin the snapshot at the cursor's own version (a restart
        // re-resolves `base`, but the recovered slice indexes address
        // the file list of the version the run started from)
        val pv =
          if (endOff.snapshot) endOff.version
          else startOff.filter(_.snapshot).map(_.version).getOrElse(v)
        val files = snapshotAt(pv).files
        val lo = startOff match {
          case Some(o) if o.snapshot => o.index
          case Some(_) => files.size.toLong // already past the snapshot
          case None => 0L
        }
        val hi = if (endOff.snapshot) endOff.index else files.size.toLong
        if (lo >= hi) None
        else {
          val ts = DeltaLog.commit(spark, root, pv).timestamp
          Some(alignFrom(DeltaLog.frameOf(spark, root,
              snapshotAt(pv).copy(files = files.slice(lo.toInt, hi.toInt)))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(pv))
            .withColumn("_commit_timestamp", timestamp_millis(lit(ts))),
            snapshotAt(pv).schema))
        }
      case Right(_) => None
    }
    // tail range in (version, change-item) coordinates. Legacy cursors
    // (no fileLevel mark) are whole-version: "v consumed" tails from
    // v+1; file-level cursors resume mid-version at their item index.
    val (tailFromV, tailFromIdx): (Long, Long) = startOff match {
      case Some(o) if o.snapshot => (o.version + 1, 0L) // after the PINNED snapshot
      case Some(o) if o.index == Long.MaxValue => (o.version + 1, 0L) // sentinel pin
      case Some(o) if !o.fileLevel => (o.version + 1, 0L) // legacy whole-version
      case Some(o) => (o.version, o.index)
      case _ => base match { case Left(v) => (v + 1, 0L); case Right(v) => (v, 0L) }
    }
    // an ADVANCED end bound (v+1, 0) means "through v, nothing of v+1" —
    // v+1 may not even exist in the log yet
    val (untilV, untilIdx): (Long, Long) =
      if (endOff.fileLevel && endOff.index == 0L) (endOff.version - 1, Long.MaxValue)
      else (endOff.version, if (endOff.fileLevel) endOff.index else Long.MaxValue)
    val tailFrame: Option[DataFrame] =
      if (endOff.snapshot || untilV < tailFromV) None
      else {
        val cur = DeltaLog.snapshot(spark, root, versionAsOf = Some(untilV))
        checkTableSchema(cur.schema, untilV)
        Some(alignFrom(DeltaLog.changes(spark, root, tailFromV, Some(untilV),
          tailFromIdx, untilIdx), cur.schema))
      }
    val frames = snapFrame.toSeq ++ tailFrame.toSeq
    val df =
      if (frames.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else frames.reduce(_.union(_))
    org.apache.spark.sql.graftshim.ColumnShim.asStreamingFrame(df)
  }

  private def toOffset(o: OffsetV1): DeltaSourceOffset = o match {
    case d: DeltaSourceOffset => d
    case other => parseOffset(other.json())
  }

  private def offsetLt(a: DeltaSourceOffset, b: DeltaSourceOffset): Boolean =
    if (a.snapshot != b.snapshot) a.snapshot // snapshot phase precedes tailing
    else if (a.version != b.version) a.version < b.version
    else a.index < b.index

  override def stop(): Unit = ()
}
