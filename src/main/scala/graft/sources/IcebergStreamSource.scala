package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/**
 * Iceberg table as a STREAMING SOURCE: tail the snapshot log and emit
 * each new snapshot's appended data files. Counterpart of
 * [[DeltaStreamSource]] for the other open table format (the Iceberg
 * runtime's own streaming read has the same shape: per-snapshot appends,
 * fail on overwrites/deletes unless told to skip).
 *
 *  - default start = the CURRENT snapshot (read MOR-correct, deletes
 *    applied) as batch 0, then new snapshots; `startingSnapshotId`
 *    (an id, or "latest") tails instead.
 *  - offsets address (snapshot, file-index) — `maxFilesPerTrigger` /
 *    `maxBytesPerTrigger` cap FILES per micro-batch, so one bulk
 *    snapshot drains as many batches and can stop MID-snapshot; a batch
 *    re-derives its file list from the manifests in commit order, so
 *    restarts reproduce it exactly. MOR base snapshots split too: the
 *    snapshot's delete files apply soundly to each file subset (deletes
 *    addressing absent files are no-ops). CDF mode caps CHANGE ITEMS
 *    (appeared/vanished files + one row-delete marker per snapshot).
 *  - tail semantics by snapshot summary operation: `append` emits the
 *    snapshot's new data files raw; `replace` (compaction, zero net row
 *    change) is skipped; `delete` fails unless ignoreDeletes/
 *    ignoreChanges; `overwrite` fails unless ignoreChanges (its added
 *    files are then emitted whole — the same at-least-once caveat the
 *    Delta source documents).
 *  - a schema change between the stream's base and a tailed snapshot
 *    fails loudly.
 */
class IcebergStreamSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-iceberg"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-iceberg streaming source needs .load(path) or option(\"path\", ...)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-iceberg derives its schema from the table")
    ("graft-iceberg", new IcebergStreamSource(sqlContext.sparkSession,
      pathOf(parameters), parameters).schema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new IcebergStreamSource(sqlContext.sparkSession, pathOf(parameters),
      parameters, metadataPath)
}

object IcebergStreamSource {
  private val mapper = new ObjectMapper()

  /** Stream position: the first `index` ADDED files of `snapshotId` are
    * consumed (`Long.MaxValue` = the whole snapshot — also what offsets
    * from pre-file-level checkpoints, which had no index, decode to);
    * `snapshot=true` marks the initial-snapshot phase. File order is
    * re-derived from the manifests in commit order, so a position is
    * restart-deterministic from table metadata alone. */
  /** `drainedTs` > 0 marks a cursor that has consumed EVERY item of its
    * snapshot, stamped with that snapshot's commit timestamp. It is what
    * lets a restart survive the snapshot EXPIRING while the stream was
    * down: a drained cursor whose snapshot is the PARENT
    * (`parent-snapshot-id`) of the oldest retained snapshot resumes
    * there instead of wedging on "cursor snapshot expired" — nothing
    * from the expired snapshot is needed, and the parent pointer proves
    * no expired commit sits in the gap. Mid-snapshot cursors
    * (drainedTs = 0) still fail loudly on expiry: resuming those WOULD
    * drop data.
    *
    * `full` marks a cursor indexing the FULL cumulative file list of the
    * log's oldest snapshot (a from-the-beginning stream reading a
    * history-expired table emits the first retained snapshot whole);
    * without it a restart could re-enumerate that snapshot under the
    * added-files-only basis and misindex every in-flight item. */
  final case class IcebergSourceOffset(snapshotId: Long, index: Long,
                                       snapshot: Boolean,
                                       drainedTs: Long = 0L,
                                       full: Boolean = false) extends OffsetV1 {
    override def json(): String = {
      val d = if (drainedTs > 0L) s""","drainedTs":$drainedTs""" else ""
      val fl = if (full) s""","full":true""" else ""
      s"""{"snapshotId":$snapshotId,"index":$index,"snapshot":$snapshot$d$fl}"""
    }
  }

  private[sources] def parseOffset(json: String): IcebergSourceOffset = {
    val n = mapper.readTree(json)
    IcebergSourceOffset(n.get("snapshotId").asLong,
      Option(n.get("index")).map(_.asLong).getOrElse(Long.MaxValue),
      n.get("snapshot").asBoolean,
      Option(n.get("drainedTs")).map(_.asLong).getOrElse(0L),
      Option(n.get("full")).exists(_.asBoolean))
  }
}

class IcebergStreamSource(spark: SparkSession, root: String,
                          parameters: Map[String, String],
                          metadataPath: String = "") extends Source {
  import IcebergStreamSource._

  private def opt(k1: String, k2: String): Option[String] =
    parameters.get(k1).orElse(parameters.get(k2))
  /** Caps FILES per micro-batch while tailing (in CDF mode: change
    * ITEMS — [[IcebergSource.ChangeBreakdown]]'s appeared/vanished files
    * plus at most one row-delete marker per snapshot). */
  private val maxFiles: Option[Int] =
    opt("maxFilesPerTrigger", "max_files_per_trigger").map(_.toInt)
  private val maxBytes: Option[Long] =
    opt("maxBytesPerTrigger", "max_bytes_per_trigger").map(_.toLong)
  private val ignoreDeletes =
    opt("ignoreDeletes", "ignore_deletes").exists(_.toBoolean)
  private val ignoreChanges =
    opt("ignoreChanges", "ignore_changes").exists(_.toBoolean)
  private val startingSnapshotId: Option[String] =
    opt("startingSnapshotId", "starting_snapshot_id")
  /** CDF mode: emit the changelog (table columns + _change_type /
    * _change_ordinal / _commit_snapshot_id / _commit_timestamp) instead
    * of the data — the initial snapshot (when no startingSnapshotId)
    * arrives as `insert` rows, tail snapshots stream through
    * [[IcebergSource.changes]]; deletes are DATA here, not errors.
    * `_change_ordinal` restarts per micro-batch (it is relative to the
    * batch's consumed range). */
  private val readChangeFeed =
    opt("readChangeFeed", "read_change_feed").exists(_.toBoolean)
  /** Schema-tracking restart, mirroring the Delta source's
    * `schemaTrackingLocation`: an ADDITIVE table-schema change is
    * recorded here and the stream asks for a restart, which then serves
    * the widened schema (older files null-fill). Without it any schema
    * change fails the stream permanently. */
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

  private def meta: IcebergSource.TableMeta = IcebergSource.tableMeta(spark, root)

  /** Snapshot log in commit order (the ordering changes() uses). */
  private def orderedSnaps(m: IcebergSource.TableMeta) =
    m.snapshots.sortBy(s => (s.timestampMs, s.snapshotId))

  // Left(id) = emit snapshot `id` whole as batch 0; Right(id) = tail
  // snapshots strictly after `id` (Long.MinValue = from the beginning).
  // PERSISTED beside the checkpoint on first resolution: a restart that
  // replays an uncommitted batch must enumerate the SAME base the
  // original run did — re-resolving against a newer table would replay
  // an empty batch and silently skip the original base's files.
  private def baseFile: Option[Path] =
    if (metadataPath.isEmpty) None
    else Some(new Path(metadataPath, "graft-iceberg-base"))

  private lazy val base: Either[Long, Long] =
    baseFile.flatMap(SchemaTracking.readBase(spark, _)).getOrElse {
      val m = meta
      val cur = m.currentSnapshotId.getOrElse(throw new IllegalArgumentException(
        s"iceberg table $root has no snapshot to stream from"))
      val b = startingSnapshotId match {
        case None => Left(cur)
        case Some("latest") => Right(cur)
        case Some(id) =>
          // tail from (and including) the given snapshot: exclusive
          // cursor is its predecessor in the log
          val ord = orderedSnaps(m)
          val i = ord.indexWhere(_.snapshotId == id.toLong)
          require(i >= 0, s"snapshot $id not in " +
            s"[${ord.map(_.snapshotId).mkString(", ")}]")
          Right(if (i == 0) Long.MinValue else ord(i - 1).snapshotId)
      }
      baseFile.foreach(SchemaTracking.writeBase(spark, _, b))
      b
    }

  private def trackPath: Option[Path] =
    schemaTrackLoc.map(d => new Path(d, "graft-iceberg-schema-track.json"))

  private def writeTracked(snapshotId: Long, st: StructType): Unit =
    trackPath.foreach(SchemaTracking.write(spark, _, snapshotId, st))

  /** RAW serving schema (`parquet.field.id` metadata kept when present —
    * the ids drive rename tracking): the tracked one when the tracking
    * location holds it, else the table's — which is then persisted
    * EAGERLY, so a restart remembers what this run served. Without that
    * memory a schema change while the stream was DOWN (a drop,
    * especially) would be adopted silently instead of hitting
    * [[schemaCheck]]'s loud gate. Tracked files written before raw
    * persistence lack ids, which just disables the id paths. */
  private val servingRaw: StructType =
    trackPath.flatMap(SchemaTracking.read(spark, _)).map(_._2)
      .getOrElse {
        val m = meta
        writeTracked(m.currentSnapshotId.getOrElse(-1L), m.schema)
        m.schema
      }

  private val tableSchema: StructType =
    IcebergSource.stripFieldIds(servingRaw).asInstanceOf[StructType]

  private def isAdditive(old: StructType, wide: StructType): Boolean =
    SchemaTracking.isAdditive(old, wide)

  /** Every field of `a` resolvable in `b` by field id with the same type
    * (logical names free to differ — the RENAME shape, top-level OR a
    * nested struct member: types compare member-by-id, so a member
    * rename still counts as a rename, not a retype). */
  private def idSubset(a: StructType, b: StructType): Boolean =
    SchemaTracking.idSubset(a, b, "parquet.field.id",
      f => SchemaTracking.idCanonical(f.dataType, "parquet.field.id"))

  override val schema: StructType =
    if (!readChangeFeed) tableSchema
    else StructType(tableSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_change_ordinal",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_snapshot_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))

  /** Current-metadata schema discipline: exact match passes; a WIDENING,
    * or a RENAME (same field ids and types under new logical names —
    * every file stays resolvable through [[IcebergSource
    * .historicalAliases]]), records to the tracking location and asks
    * for a restart; anything else — drops, retypes, changes without
    * tracking — fails. Tracked schemas persist RAW (field ids kept). */
  private def schemaCheck(m: IcebergSource.TableMeta): Unit = {
    val incoming = IcebergSource.stripFieldIds(m.schema).asInstanceOf[StructType]
    if (incoming == tableSchema) return
    val widens = isAdditive(tableSchema, incoming)
    // every served field still resolvable by id: rename / mapped
    // widening / both — never a drop
    val renames = idSubset(servingRaw, m.schema)
    if (trackPath.isDefined && (widens || renames)) {
      writeTracked(m.currentSnapshotId.getOrElse(-1L), m.schema)
      throw new IllegalStateException(
        s"Iceberg source schema changed to ${incoming.simpleString}; the " +
          s"new schema was recorded at ${schemaTrackLoc.get} — restart " +
          "the stream to continue " +
          (if (renames && !widens) "(files resolve by field id)"
          else "(earlier data null-fills the new columns)"))
    }
    // a DROP (every incoming field still resolvable in the served schema
    // by field id, RECURSIVELY — top-level columns and struct members
    // both narrow this way, possibly renamed too) recovers only by
    // explicit opt-in
    val narrowed = SchemaTracking.idNarrows(m.schema, servingRaw, f =>
      if (f.metadata.contains("parquet.field.id"))
        Some(f.metadata.getLong("parquet.field.id"))
      else None)
    if (allowColumnDrop && trackPath.isDefined && narrowed) {
      writeTracked(m.currentSnapshotId.getOrElse(-1L), m.schema)
      throw new IllegalStateException(
        s"Iceberg source column DROP: schema narrowed to " +
          s"${incoming.simpleString}; recorded at ${schemaTrackLoc.get} " +
          "(allowColumnDrop=true) — restart the stream to continue " +
          "under the narrowed schema")
    }
    throw new IllegalStateException(
      s"Iceberg source schema changed — restart the stream to pick up " +
        s"${m.schema.simpleString}" +
        (if (trackPath.isDefined)
          " (non-additive change: schema tracking cannot resume across it)"
        else "; set schemaTrackingLocation to resume across additive " +
          "changes (and renames)"))
  }

  /** Live data files + position/equality delete files of a snapshot
    * (driver metadata walk, cached — a committed snapshot's file list
    * never changes). */
  private val snapCache = scala.collection.mutable.Map[Long,
    (Seq[IcebergSource.FileEntry], Seq[IcebergSource.FileEntry],
      Seq[IcebergSource.FileEntry])]()
  private def snapFiles(m: IcebergSource.TableMeta, snapshotId: Long)
      : (Seq[IcebergSource.FileEntry], Seq[IcebergSource.FileEntry],
         Seq[IcebergSource.FileEntry]) =
    snapCache.getOrElseUpdate(snapshotId, {
      val snap = m.snapshots.find(_.snapshotId == snapshotId).getOrElse(
        throw new IllegalStateException(s"snapshot $snapshotId expired mid-stream"))
      IcebergSource.snapshotFiles(spark, root, snap, m)
    })
  private def dataFilePaths(m: IcebergSource.TableMeta, snapshotId: Long): Seq[String] =
    snapFiles(m, snapshotId)._1.map(_.path)

  /** A MOR-correct read of a SUBSET of one snapshot's data files: the
    * snapshot's delete files apply soundly to any subset (a delete row
    * addressing an absent file is a no-op), which is what lets a bulk
    * MOR base snapshot drain file-by-file under the trigger caps. */
  private def morSubset(m: IcebergSource.TableMeta, snapshotId: Long,
                        paths: Seq[String]): DataFrame = {
    val (all, posD, eqD) = snapFiles(m, snapshotId)
    val wanted = paths.toSet
    val entries = all.filter(e => wanted(e.path))
    if (posD.isEmpty && eqD.isEmpty)
      IcebergSource.scanEntries(spark, m, tableSchema, entries)
    else
      IcebergSource.applyDeletes(spark, m,
          IcebergSource.scanEntries(spark, m, tableSchema, entries, provenance = true),
          posD, eqD)
        .drop(IcebergSource.provenanceCols: _*)
  }

  /** CDF change-item decomposition of snapshot `ord(i)` against its
    * predecessor (no contract enforcement: in changelog mode deletes and
    * overwrites are DATA, not errors). Derived from the cached snapshot
    * file lists, so enumeration and [[IcebergSource.changes]]' slicing
    * index the identical deterministic item order. */
  /** True when ordinal 0 of the retained log must enumerate its OWN
    * added files only (sequence-number reproduction) rather than its
    * full cumulative state: its parent expired (the set-diff basis is
    * gone) and the cursor is NOT a full-state one. The two bases agree
    * whenever the parent IS retained, so the choice only matters after
    * expiry trimmed the log. */
  private def reproducedBase(ord: Seq[IcebergSource.SnapshotInfo],
                             i: Int, fullBase: Boolean): Boolean =
    i == 0 && !fullBase && ord.head.parentId.isDefined

  private def cdfBreakdown(m: IcebergSource.TableMeta,
                           ord: Seq[IcebergSource.SnapshotInfo],
                           i: Int,
                           fullBase: Boolean = true)
      : IcebergSource.ChangeBreakdown = {
    if (reproducedBase(ord, i, fullBase))
      IcebergSource.reproducedBreakdown(root, ord(i),
        snapFiles(m, ord(i).snapshotId)._1)
    else {
      val prev =
        if (i == 0) (Seq.empty[IcebergSource.FileEntry],
          Seq.empty[IcebergSource.FileEntry], Seq.empty[IcebergSource.FileEntry])
        else snapFiles(m, ord(i - 1).snapshotId)
      IcebergSource.changeBreakdown(snapFiles(m, ord(i).snapshotId), prev,
        ord(i).operation)
    }
  }

  /** The files snapshot `ord(i)` ADDED, with the append-only contract
    * enforced (deterministic manifest order — offsets index into it). */
  private def addedEntries(m: IcebergSource.TableMeta,
                           ord: Seq[IcebergSource.SnapshotInfo],
                           i: Int,
                           fullBase: Boolean = true)
      : Seq[IcebergSource.FileEntry] = {
    val s = ord(i)
    s.operation match {
      case "replace" => Nil // compaction: zero net row change
      case "delete" =>
        require(ignoreDeletes || ignoreChanges,
          s"snapshot ${s.snapshotId} deletes rows from the stream " +
            s"source table ($root); set ignoreDeletes to skip deletes")
        Nil
      case op =>
        if (op == "overwrite")
          require(ignoreChanges,
            s"snapshot ${s.snapshotId} overwrites rows in the stream " +
              s"source table ($root); set ignoreChanges to re-emit its " +
              "files whole")
        if (reproducedBase(ord, i, fullBase))
          IcebergSource.ownSeqFiles(root, s, snapFiles(m, s.snapshotId)._1)
        else {
          val prev: Set[String] =
            if (i == 0) Set.empty
            else dataFilePaths(m, ord(i - 1).snapshotId).toSet
          snapFiles(m, s.snapshotId)._1.filterNot(e => prev(e.path))
        }
    }
  }

  private def ordIdx(ord: Seq[IcebergSource.SnapshotInfo], id: Long,
                     what: String): Int = {
    val i = ord.indexWhere(_.snapshotId == id)
    // an expired cursor cannot be ordered against the remaining log
    // (foreign snapshot ids are random, not monotonic) — fail loudly
    // rather than guess and silently skip or re-emit
    require(i >= 0, s"$what snapshot $id expired from $root — restart " +
      "the stream from a retained snapshot")
    i
  }

  /** Tail-phase resumption point `(ordinal, itemIndex)` for a recovered
    * cursor. A retained cursor resumes in place (a snapshot-phase cursor
    * tails AFTER its snapshot). An EXPIRED cursor resumes only when it
    * is a DRAINED marker whose snapshot is the direct PARENT of the
    * oldest retained snapshot — the parent pointer proves that snapshot
    * is the true successor with no expired commit in the gap, so
    * everything delivered is exactly everything before it. A mid-snapshot
    * expired cursor (resume would drop the snapshot's undelivered tail)
    * or a broken succession (an expired commit in the gap would be
    * skipped) still fails loudly. */
  private def tailResume(ord: Seq[IcebergSource.SnapshotInfo],
                         o: IcebergSourceOffset): (Int, Long) = {
    val i = ord.indexWhere(_.snapshotId == o.snapshotId)
    if (i >= 0) { if (o.snapshot) (i + 1, 0L) else (i, o.index) }
    else if (o.drainedTs > 0L && ord.nonEmpty &&
        ord.head.parentId.contains(o.snapshotId)) (0, 0L)
    else (ordIdx(ord, o.snapshotId, "stream cursor"), 0L) // throws
  }

  /** Pending (position, data-file path) pairs after `from`, in commit
    * order, FILE by FILE, capped by count and/or cumulative bytes (the
    * first admission always goes through, so a batch makes progress).
    * A `None` path is a marker: the whole-snapshot MOR base batch, or a
    * fileless snapshot whose position still records progress. */
  private def pendingAfter(from: Option[IcebergSourceOffset], cap: Option[Int],
                           capBytes: Option[Long] = None,
                           untilId: Option[Long] = None)
      : Seq[(IcebergSourceOffset, Option[String])] = {
    val m = meta
    val ord = orderedSnaps(m)
    val out = scala.collection.mutable.ArrayBuffer[(IcebergSourceOffset, Option[String])]()
    var bytes = 0L
    def admit(o: IcebergSourceOffset, p: Option[String], size: Long): Unit = {
      out += ((o, p)); bytes += size
    }
    def room: Boolean = out.isEmpty ||
      (cap.forall(out.size < _) && capBytes.forall(bytes < _))

    // phase 1: the base snapshot (offsets with snapshot=true), FILE by
    // FILE even under MOR — the snapshot's delete files apply soundly to
    // any data-file subset ([[morSubset]]). The snapshot being resumed
    // is PINNED by the cursor's own snapshotId — a restart re-resolves
    // `base` against the CURRENT table, but the recovered index
    // addresses the file list of the snapshot the run started from;
    // commits that landed while down replay as phase 2.
    val baseConsumed: Boolean = base match {
      case Left(_) if from.exists(o => o.snapshot && o.drainedTs > 0L &&
          !ord.exists(_.snapshotId == o.snapshotId)) =>
        true // drained snapshot-phase cursor whose snapshot since expired
      case Left(id) if from.forall(_.snapshot) =>
        val resumeId = from.map(_.snapshotId).getOrElse(id)
        val files = snapFiles(m, resumeId)._1
        val startIdx = from.map(_.index).getOrElse(0L)
        if (startIdx >= files.size) true
        else {
          val ts = m.snapshots.find(_.snapshotId == resumeId)
            .map(_.timestampMs).getOrElse(0L)
          var i = startIdx
          while (i < files.size && room) {
            admit(IcebergSourceOffset(resumeId, i + 1, snapshot = true,
                drainedTs = if (i + 1 == files.size) ts else 0L),
              Some(files(i.toInt).path), files(i.toInt).size)
            i += 1
          }
          i >= files.size
        }
      case _ => true // cursor already tailing, or no snapshot phase
    }

    // phase 2: tailed snapshots, file by file
    if (baseConsumed) {
      val (startOrd, startIdx): (Int, Long) = from match {
        case Some(o) => tailResume(ord, o)
        case None => base match {
          case Left(id) => (ordIdx(ord, id, "base") + 1, 0L)
          case Right(Long.MinValue) => (0, 0L)
          case Right(id) => (ordIdx(ord, id, "base") + 1, 0L)
        }
      }
      // ordinal 0's enumeration basis: full cumulative state for a
      // from-the-beginning stream (and for a cursor stamped `full`),
      // added-files-only otherwise — see [[reproducedBase]]
      val fullBase: Boolean = from match {
        case Some(o) => o.full && ord.headOption.exists(_.snapshotId == o.snapshotId)
        case None => base == Right(Long.MinValue)
      }
      // bounded enumeration: getBatch passes its end snapshot so a batch
      // never re-walks the whole backlog's manifests
      val stopOrd = untilId.map(id => ordIdx(ord, id, "batch-end"))
        .getOrElse(ord.size - 1)
      var s = startOrd
      while (s <= stopOrd && room) {
        // item list per snapshot: data files added (non-CDF, contract
        // enforced) or the CDF change-item decomposition (path-less
        // stand-ins — the batch reads through changes()' item slicing)
        val added: Seq[(Option[String], Long)] =
          if (readChangeFeed)
            cdfBreakdown(m, ord, s, fullBase).itemSizes.map((None: Option[String], _))
          else addedEntries(m, ord, s, fullBase).map(e => (Some(e.path), e.size))
        val first = if (s == startOrd) startIdx else 0L
        // stamp full-basis offsets so a restart re-enumerates ordinal 0
        // under the same basis (irrelevant when the two bases coincide —
        // a genuinely-first snapshot has no parent)
        val stampFull = s == 0 && fullBase && ord.head.parentId.isDefined
        if (added.isEmpty) {
          // fileless snapshot (compaction, skipped delete, empty
          // append): a marker position still records progress past it
          val alreadyMarked = s == startOrd &&
            from.exists(o => !o.snapshot && o.snapshotId == ord(s).snapshotId)
          if (!alreadyMarked)
            admit(IcebergSourceOffset(ord(s).snapshotId, 0L, snapshot = false,
              drainedTs = ord(s).timestampMs, full = stampFull), None, 0L)
        } else {
          var i = first
          while (i < added.size && room) {
            admit(IcebergSourceOffset(ord(s).snapshotId, i + 1, snapshot = false,
                drainedTs = if (i + 1 == added.size) ord(s).timestampMs else 0L,
                full = stampFull),
              added(i.toInt)._1, added(i.toInt)._2)
            i += 1
          }
        }
        s += 1
      }
    }
    out.toSeq
  }

  override def getOffset: Option[OffsetV1] = {
    val pending = pendingAfter(lastReturned, maxFiles, maxBytes).map(_._1)
    if (pending.nonEmpty) setPosition(pending.last)
    else if (lastReturned.isEmpty) {
      // nothing to emit yet, but the BASE must still be pinned: a
      // 'latest' start that restarts before its first batch would
      // otherwise re-resolve against a newer table and drop the gap
      base match {
        case Right(id) =>
          setPosition(IcebergSourceOffset(id, Long.MaxValue, snapshot = false))
        case Left(_) => () // a snapshot base always has a pending batch
      }
    }
    lastReturned.map(identity[OffsetV1])
  }

  private var lastReturned: Option[IcebergSourceOffset] = recoverPosition()

  private def positionFile: Option[Path] =
    if (metadataPath.isEmpty) None
    else Some(new Path(metadataPath, "graft-iceberg-position"))

  private def setPosition(o: IcebergSourceOffset): Unit = {
    // commit-ORDER comparison (foreign snapshot ids are random, not
    // monotonic): later position in the snapshot log wins; unknown ids
    // (engine-recovered offsets for snapshots since expired) accept
    val newer = lastReturned.forall { l =>
      if (l == o) false
      else if (l.snapshot != o.snapshot) l.snapshot // snapshot phase first
      else if (l.snapshotId == o.snapshotId) l.index < o.index
      else {
        val ord = orderedSnaps(meta)
        val li = ord.indexWhere(_.snapshotId == l.snapshotId)
        val oi = ord.indexWhere(_.snapshotId == o.snapshotId)
        li < 0 || oi < 0 || li < oi
      }
    }
    if (newer) {
      lastReturned = Some(o)
      // ATOMIC publish (temp+rename, like the base and schema files): a
      // crash mid-write must never leave a torn file that wedges restarts
      positionFile.foreach { p =>
        val f = p.getFileSystem(spark.sessionState.newHadoopConf())
        SchemaTracking.writeFile(f, p, o.json())
      }
    }
  }

  private def recoverPosition(): Option[IcebergSourceOffset] = {
    // a torn/empty/missing position file (crash mid-write under the
    // PRE-atomic publish, or mid-delete+rename) recovers from the
    // stream's own offset WAL — the engine's atomic, authoritative record
    // of the offsets already handed out. Treating it as a FRESH cursor
    // instead would let a capped getOffset re-return offsets behind the
    // committed one and replay delivered files.
    def fromWal(why: String): Option[IcebergSourceOffset] = {
      val rec = SchemaTracking.walOffsetJson(spark, metadataPath)
        .flatMap(j => scala.util.Try(parseOffset(j)).toOption)
      if (rec.isDefined)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"graft-iceberg: $why — recovered cursor ${rec.get.json()} from " +
            "the stream's offset WAL")
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
    setPosition(endOff)
    // restart initialization replay: the engine re-issues the last
    // COMMITTED batch's getBatch at restart purely to re-prime V1 source
    // state and discards the frame. If that batch ended on a DRAINED
    // snapshot that has since EXPIRED, its content is unreconstructable —
    // and need not be reconstructed; serve an empty frame. Gated on the
    // commit log: an UNCOMMITTED batch with an expired end is genuine
    // data loss and still fails loudly below.
    if (endOff.drainedTs > 0L &&
        !meta.snapshots.exists(_.snapshotId == endOff.snapshotId) &&
        SchemaTracking.isCommittedEnd(spark, metadataPath, endOff.json()))
      return streamingUnion(Nil)
    if (readChangeFeed) return cdfBatch(startOff, endOff)
    val m = meta
    schemaCheck(m)
    val ord = orderedSnaps(m)
    def offsetLt(a: IcebergSourceOffset, b: IcebergSourceOffset): Boolean =
      if (a.snapshot != b.snapshot) a.snapshot // snapshot phase precedes tail
      else if (a.snapshotId == b.snapshotId) a.index < b.index
      else ordIdx(ord, a.snapshotId, "batch") < ordIdx(ord, b.snapshotId, "batch")
    // an expired END offset would silently return an empty batch and
    // advance the checkpoint past never-delivered rows — ordIdx fails
    ordIdx(ord, endOff.snapshotId, "batch-end")
    // everything in (start, end]; bounded re-enumeration from table
    // metadata (stopping at end's snapshot), so a restart reproduces the
    // batch exactly without re-walking the whole backlog
    // (a snapshot-phase end bounds phase 2 to nothing: stopOrd lands on
    // the base itself, before the first tail snapshot)
    val inRange = pendingAfter(startOff, None, None,
        untilId = Some(endOff.snapshotId))
      .takeWhile { case (pos, _) => !offsetLt(endOff, pos) }
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // snapshot-phase file slices read MOR-correct against the pinned
    // snapshot's delete files (legacy whole-snapshot MaxValue offsets
    // replay through the same path: the slice is then every file); tail
    // files are raw appends
    val snapPaths = inRange.collect { case (pos, Some(p)) if pos.snapshot => p }
    if (snapPaths.nonEmpty) {
      val sid = inRange.collectFirst {
        case (pos, Some(_)) if pos.snapshot => pos.snapshotId }.get
      frames += morSubset(m, sid, snapPaths)
    }
    val tailPaths = inRange.collect {
      case (pos, Some(p)) if !pos.snapshot => (p, pos.snapshotId) }
    if (tailPaths.nonEmpty)
      // pseudo-entries carrying the adding snapshot id: tail files from
      // post-rename snapshots then scan alias-free (full pushdown)
      frames += IcebergSource.scanEntries(spark, m, tableSchema,
        tailPaths.map { case (p, sid) => IcebergSource.FileEntry(p, 0L, Nil,
          addedSnapshotId = Some(sid)) })
    streamingUnion(frames.toSeq)
  }

  /** One changelog micro-batch: a FILE SLICE of the base snapshot as
    * stamped `insert` rows (MOR-correct), unioned with
    * [[IcebergSource.changes]] over the tail range sliced at the
    * boundary snapshots by change-item index — so one bulk snapshot
    * drains as many bounded, restart-deterministic micro-batches. */
  private def cdfBatch(startOff: Option[IcebergSourceOffset],
                       endOff: IcebergSourceOffset): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = meta
    schemaCheck(m)
    val ord = orderedSnaps(m)
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // phase 1: the pinned base snapshot, file-sliced (legacy
    // whole-snapshot MaxValue offsets decode to the full list)
    base match {
      case Left(_) if startOff.exists(o => o.snapshot && o.drainedTs > 0L &&
          !m.snapshots.exists(_.snapshotId == o.snapshotId)) =>
        () // drained snapshot-phase cursor whose snapshot since expired
      case Left(baseId) =>
        val pinId =
          if (endOff.snapshot) endOff.snapshotId
          else startOff.filter(_.snapshot).map(_.snapshotId).getOrElse(baseId)
        val files = snapFiles(m, pinId)._1
        val lo: Long = startOff match {
          case Some(o) if o.snapshot =>
            if (o.index == Long.MaxValue) files.size.toLong else o.index
          case Some(_) => files.size.toLong // already past the snapshot
          case None => 0L
        }
        val hi: Long =
          if (!endOff.snapshot) files.size.toLong
          else if (endOff.index == Long.MaxValue) files.size.toLong
          else endOff.index
        if (lo < hi) {
          val ts = m.snapshots.find(_.snapshotId == pinId)
            .map(_.timestampMs).getOrElse(0L)
          frames += morSubset(m, pinId,
              files.slice(lo.toInt, hi.toInt).map(_.path))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_change_ordinal", lit(0))
            .withColumn("_commit_snapshot_id", lit(pinId))
            .withColumn("_commit_timestamp", timestamp_millis(lit(ts)))
        }
      case Right(_) => ()
    }
    // phase 2: the tail, in (snapshot, change-item) coordinates.
    // changes() ranges are exclusive of fromSnapshotId, so a mid-snapshot
    // cursor passes its PREDECESSOR plus its item index.
    if (!endOff.snapshot) {
      def expiredCheck(id: Long): Unit =
        require(m.snapshots.exists(_.snapshotId == id),
          s"changelog cursor snapshot $id expired from $root — restart " +
            "the stream from a retained snapshot")
      val fromSpec: Option[(Option[Long], Long, Boolean)] = startOff match {
        case Some(o) if !o.snapshot && o.index == Long.MaxValue =>
          Some((Some(o.snapshotId), 0L, true)) // legacy whole-snapshot
        case Some(o) =>
          // tailResume resolves retained cursors in place and a DRAINED
          // cursor whose snapshot expired through its successor's parent
          // pointer (a fully consumed snapshot expiring must not wedge
          // the restart); mid-snapshot expired cursors and broken
          // succession still fail loudly inside it
          val (startOrd, startIdx) = tailResume(ord, o)
          val firstFull =
            o.full && ord.headOption.exists(_.snapshotId == o.snapshotId)
          if (startOrd >= ord.size) None // nothing newer retained
          else Some((if (startOrd == 0) None
                     else Some(ord(startOrd - 1).snapshotId),
                     startIdx, firstFull))
        case None => base match {
          case Left(id) => Some((Some(id), 0L, true))
          case Right(Long.MinValue) => Some((None, 0L, true))
          case Right(id) => Some((Some(id), 0L, true))
        }
      }
      fromSpec.foreach { case (fromExcl, fromItem, firstFull) =>
        // an expired cursor cannot be silently skipped (it would drop
        // the gap) — fail loudly like the non-CDF expired-snapshot error
        fromExcl.foreach(expiredCheck)
        val untilItem =
          if (endOff.index == Long.MaxValue) Long.MaxValue else endOff.index
        frames += IcebergSource.changes(spark, root,
          fromSnapshotId = fromExcl, toSnapshotId = Some(endOff.snapshotId),
          fromItemIndex = fromItem, untilItemIndex = untilItem,
          firstIsFullState = firstFull)
      }
    }
    streamingUnion(frames.toSeq)
  }

  private def streamingUnion(frames: Seq[DataFrame]): DataFrame = {
    // null-fill/reorder each frame to the stream's declared schema —
    // frames read from pre-widening snapshots lack the new columns
    val df =
      if (frames.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else frames.map(f => SchemaTracking.align(f, schema)).reduce(_.union(_))
    org.apache.spark.sql.graftshim.ColumnShim.asStreamingFrame(df)
  }

  private def toOffset(o: OffsetV1): IcebergSourceOffset = o match {
    case i: IcebergSourceOffset => i
    case other => parseOffset(other.json())
  }

  override def commit(end: OffsetV1): Unit = {
    // a committed batch's snapshots are never re-read (offsets only move
    // forward): evict their cached file lists, keeping the cursor's
    // predecessor (addedEntries diffs against it)
    val endOff = toOffset(end)
    val ord = orderedSnaps(meta)
    val i = ord.indexWhere(_.snapshotId == endOff.snapshotId)
    if (i > 1) {
      val old = ord.take(i - 1).map(_.snapshotId).toSet
      snapCache.keys.filter(old).toSeq.foreach(snapCache.remove)
    }
  }
  override def stop(): Unit = ()
}
