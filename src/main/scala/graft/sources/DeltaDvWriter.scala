package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Delta deletion-vector WRITE path (delta.io PROTOCOL.md "Deletion
 * Vectors"; reference posture: odibi/transformers/delete_detection.py:531-681
 * hard-deletes, re-expressed as DV commits instead of full-file rewrites).
 *
 * A DELETE marks matched row positions deleted per data file and commits
 * `remove` + re-`add` of the SAME file carrying a deletion-vector
 * descriptor — no data file is rewritten, so a delete of 0.1% of a
 * 100 TB table moves kilobytes of bitmaps instead of rewriting
 * terabytes. Pieces:
 *
 *  - matched positions come from ONE distributed scan with
 *    `_metadata.row_index`, existing DVs anti-joined away (so new
 *    positions never overlap the already-deleted set and merged
 *    cardinalities stay exact);
 *  - DV payloads are RoaringBitmapArray bytes ([[DeletionVectors
 *    .encodePositions]]) written EXECUTOR-SIDE into shared
 *    `deletion_vector_<uuid>.bin` files (format version 1; per vector:
 *    4-byte BE size, data, 4-byte BE CRC-32 — the layout
 *    [[DeletionVectors.payload]] reads back), many vectors per file at
 *    descriptor offsets — the driver only sees the small descriptor
 *    list, never row positions;
 *  - files that already carry a DV get a MERGED bitmap (old positions
 *    union new; the new file supersedes, the old bin file becomes
 *    vacuumable garbage);
 *  - the commit also stages CDF `cdc` files (`_change_data/`) holding
 *    the deleted rows with `_change_type = "delete"`, so
 *    [[DeltaLog.changes]] attributes DV deletes exactly (the protocol:
 *    cdc actions supersede add/remove for change purposes);
 *  - the protocol action upgrades to reader 3 / writer 7 with the
 *    `deletionVectors` table feature (plus `timestampNtz` when the
 *    schema needs it) — the same upgrade delta-spark performs on first
 *    DV write.
 */
object DeltaDvWriter {

  import DeltaWriter.q

  final case class DeleteResult(version: Long, deletedRows: Long,
                                filesTouched: Int, dvFiles: Int)

  /** One row-level commit: DV deletes + appended files, atomically. */
  final case class RowCommitResult(version: Long, deletedRows: Long,
                                   appendedRows: Long, filesTouched: Int,
                                   filesAdded: Int, dvFiles: Int)

  /**
   * What one row-level commit mutates: `matched` target rows to
   * DV-delete (with provenance columns), `append` rows to add, and an
   * optional `cdc` frame (table schema + `_change_type`) that REPLACES
   * the derived delete/insert change rows — a MERGE stages
   * update_preimage/update_postimage/insert, the faithful Delta CDF
   * classification, instead of the delete+insert a plain delete
   * derives.
   */
  final case class RowPlan(matched: DataFrame,
                           append: Option[DataFrame] = None,
                           cdc: Option[DataFrame] = None,
                           cleanup: () => Unit = () => ())

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /**
   * DELETE FROM <root> WHERE <condition> via deletion vectors.
   * `partitionFilter` prunes CANDIDATE FILES driver-side before the
   * position scan — `DELETE WHERE day='2026-08-01' AND bad` over a
   * day-partitioned 100 TB table must scan one day, not the table. The
   * caller guarantees the filter is IMPLIED by `condition` (the same
   * contract as replaceWhere); rows outside the filter are never
   * examined, so a non-implied filter silently narrows the delete.
   */
  def delete(spark: SparkSession, root: String, condition: String,
             checkpointInterval: Int = 10, cdf: Boolean = true,
             partitionFilter: Map[String, String] = Map.empty): DeleteResult =
    deleteMatching(spark, root, _.filter(expr(condition)), condition,
      checkpointInterval, cdf, partitionFilter,
      // stats-based candidate pruning: a file whose add-action min/max
      // bounds prove no row can match contributes no positions, so its
      // scan is skipped — the same skipping read(dataFilter) does, now
      // on the DELETE planner (sound: the condition re-applies on scan)
      candidatePrune = Some(expr(condition)))

  /** Hard-delete by key set (the detect_deletes apply_mode=hard shape):
    * rows whose `keys` tuple appears in `deletedKeys` are DV-deleted. */
  def deleteKeys(spark: SparkSession, root: String, deletedKeys: DataFrame,
                 keys: Seq[String], checkpointInterval: Int = 10,
                 cdf: Boolean = true,
                 partitionFilter: Map[String, String] = Map.empty): DeleteResult = {
    val dk = deletedKeys.select(keys.map(col): _*).distinct()
    deleteMatching(spark, root, _.join(dk, keys, "left_semi"),
      s"keys in (${keys.mkString(", ")})", checkpointInterval, cdf,
      partitionFilter)
  }

  private def deleteMatching(spark: SparkSession, root: String,
                             matchRows: DataFrame => DataFrame,
                             predicateDesc: String,
                             checkpointInterval: Int,
                             cdf: Boolean,
                             partitionFilter: Map[String, String] = Map.empty,
                             candidatePrune: Option[Column] = None): DeleteResult = {
    val r = rowLevelCommit(spark, root,
      prov => RowPlan(matchRows(prov)), "DELETE", predicateDesc,
      checkpointInterval, cdf, partitionFilter, txn = None,
      candidatePrune = candidatePrune)
    DeleteResult(r.version, r.deletedRows, r.filesTouched, r.dvFiles)
  }

  /**
   * ONE atomic row-level commit combining DV deletes and appended data
   * files — the primitive under [[DeltaMerge]]'s copy-on-write MERGE.
   * `plan` receives the live table WITH provenance (every logical
   * column plus `_gf_file`, the data file's log path, and `_gf_ridx`,
   * its parquet row index; existing DVs already applied) and returns
   *
   *   (matchedRows, appendRows, cleanup)
   *
   * where `matchedRows` are the target rows to DELETE (must keep the
   * provenance columns; duplicate positions are deduped inside the
   * bitmap aggregation, so a many-to-one source join cannot inflate
   * cardinalities — but CDF delete rows and the caller's append rows
   * would still duplicate, so callers owe Delta MERGE's own contract:
   * each target row matches at most one source row),
   * `appendRows` are new rows to ADD in the same commit (LOGICAL table
   * schema; under column mapping the staged data files, partition dirs
   * and cdc files are renamed to physical names automatically), and
   * `cleanup` releases whatever `plan` persisted.
   *
   * Write amplification is touched-files + appended bytes, never table
   * size: untouched files' add entries are simply NOT re-emitted (the
   * Delta log is delta-based), so a 100-row upsert into a 100 TB table
   * moves kilobytes of bitmaps plus one small data file. On a lost
   * version race every artifact of the attempt (DV bins, cdc files,
   * staged data files) is reclaimed and the WHOLE plan re-runs against
   * fresh metadata — positions are never rebased blindly. `txn` gives
   * streaming sinks the SetTransaction exactly-once contract.
   */
  private[sources] def rowLevelCommit(spark: SparkSession, root: String,
                                      plan: DataFrame => RowPlan,
                                      operation: String,
                                      predicateDesc: String,
                                      checkpointInterval: Int,
                                      cdf: Boolean,
                                      partitionFilter: Map[String, String],
                                      txn: Option[(String, Long)],
                                      evolve: Option[DeltaSchema.Evolution] = None,
                                      candidatePrune: Option[Column] = None)
      : RowCommitResult = {
    require(DeltaLog.isDeltaTable(spark, root), s"$root is not a Delta table")
    val f = fs(spark, root)
    def attempt(at: OptimisticCommit.Attempt): OptimisticCommit.Step[RowCommitResult] = {
      val snap0 = DeltaLog.snapshot(spark, root)
      // an evolving commit was planned against a specific schema — a
      // concurrent schema change must abort, not clobber the other
      // writer's columns with a stale widened metaData
      evolve.foreach(e => require(snap0.schema.json == e.baselineJson,
        s"concurrent schema change at $root during an evolving merge — re-run"))
      // effSchema: what the table's schema WILL be after this commit —
      // appended files, cdc files and the metaData action all target it;
      // old files simply lack the new columns (reads null-fill them)
      val effSchema = evolve.map(_.schema).getOrElse(snap0.schema)
      // SetTransaction idempotence: a checkpoint-replayed micro-batch
      // whose (appId, version) already committed must be a no-op
      val replayed = txn.exists { case (appId, v) =>
        snap0.transactions.get(appId).exists(_ >= v) }
      if (replayed) return OptimisticCommit.Finish(noCommit(snap0.version))
      val mapped =
        snap0.configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
      val physOf = DeltaLog.physicalNames(snap0)
      // candidate pruning: only files inside the declared partition scope
      // are scanned for positions (and re-added with vectors)
      val snapP = DeltaLog.inPartitions(snap0, partitionFilter)
      // min/max-stats candidate pruning (DELETE WHERE shape): files whose
      // bounds prove no match are left untouched — neither scanned for
      // positions nor re-listed; sound because the predicate re-applies
      // on the scanned rows and an unmatched file gains no vector
      val snap = candidatePrune match {
        case Some(c) if snapP.files.nonEmpty =>
          snapP.copy(files = DeltaStats.prune(spark, snapP, c).files)
        case _ => snapP
      }
      // an empty candidate set still feeds plan() an empty provenance
      // frame — a MERGE into an empty (or fully-pruned) table degenerates
      // to pure insert, not a no-op
      val prov =
        if (snap.files.nonEmpty)
          DeltaLog.scanFiles(spark, root, snap, snap.files.map((_, Nil)), withPos = true)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(DeltaLog.stripMeta(snap.schema).asInstanceOf[StructType].fields ++
            Seq(StructField("_gf_file", StringType),
              StructField("_gf_ridx", LongType))))

      // provenance keys on the log path, unique within a snapshot
      val byFile: Map[String, DeltaLog.AddFile] = snap.files.map(a => a.path -> a).toMap

      val rp = plan(prov)
      val appendRows = rp.append
      val matched = rp.matched
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // ---- per-file deleted positions -> executor-written DV files.
        // collect_SET dedupes positions inside the one aggregation a
        // bitmap build needs anyway (no extra exchange), so a
        // many-to-one merge join can never inflate cardinalities;
        // callers still owe the MERGE contract (unique source matches)
        // for their APPEND/CDF rows, same as Delta's own MERGE.
        val grouped = matched
          .groupBy("_gf_file")
          .agg(sort_array(collect_set(col("_gf_ridx"))).as("_gf_pos"))
        val descriptors = writeDvFiles(spark, root, snap, grouped)
        val dvBins = descriptors.map(_.enc).distinct
        at.stage(dvBins.map(enc => DeletionVectors.dvFilePath(root,
          DeletionVectors.Descriptor("u", enc, None, 0, 0L))))
        val newDeleted = descriptors.map(_.newCount).sum
        val partCols = snap.partitionColumns
        val nonce = java.lang.Long.toHexString(System.nanoTime())

        // ---- appended data files, staged through the ordinary
        // distributed parquet writer (tight stats stamped per file).
        // Column-mapped tables stage PHYSICAL-name files (the rename the
        // read path performs in reverse); partition dirs + add-action
        // partitionValues key physical too, which is what the reader
        // resolves for mapped tables.
        // frames referencing only the PRE-evolution columns (an empty
        // matched frame, derived cdc rows) null-fill the new ones
        def conform(df: DataFrame): DataFrame = {
          val have = df.columns.toSet
          val out = effSchema.fields.filterNot(fd => have(fd.name))
            .foldLeft(df) { (d, fd) =>
              d.withColumn(fd.name, lit(null).cast(DeltaLog.stripMeta(fd.dataType)))
            }
          out.select(effSchema.fieldNames.map(col).toSeq: _*)
        }
        def toPhysical(df: DataFrame): DataFrame =
          if (!mapped) df
          else df.select(effSchema.fields.map(fd =>
            col(fd.name).cast(DeltaLog.toPhysical(fd.dataType))
              .as(DeltaLog.physicalName(fd))).toSeq: _*)
        appendRows.foreach { df =>
          require(df.schema.map(fd => (fd.name, fd.dataType)) ==
            effSchema.map(fd => (fd.name, DeltaLog.stripMeta(fd.dataType))),
            s"append schema ${df.schema.simpleString} does not match Delta " +
              s"table schema ${effSchema.simpleString}")
        }
        val stagePartCols = partCols.map(c => physOf.getOrElse(c, c))
        val (adds0, appended) = appendRows match {
          case Some(df) =>
            DeltaWriter.stageAndMove(toPhysical(df), root, stagePartCols,
              nonce, countRows = true)
          case None => (Nil, 0L)
        }
        at.stage(adds0.map(a => new Path(root, a.path)))
        // a no-match merge stages empty part files — don't commit them
        val (emptyAdds, adds) = adds0.partition(_.numRecords.contains(0L))
        emptyAdds.foreach(a => f.delete(new Path(root, a.path), false))
        // a partition-scoped merge must not write outside its scope
        // (the replaceWhere discipline): appended rows landing in other
        // partitions mean the caller's filter was NOT implied by the
        // source — abort before commit rather than corrupt neighbors
        if (partitionFilter.nonEmpty) {
          val escaped = adds.filterNot(DeltaLog.inPartition(_, partitionFilter, physOf))
          // the funnel reclaims every artifact of the aborted attempt —
          // the staged adds AND this attempt's DV bin files
          if (escaped.nonEmpty) throw new IllegalArgumentException(
            s"partition-scoped merge $partitionFilter: appended rows land " +
              s"outside the scope (e.g. ${escaped.head.partitionValues}) — " +
              "aborting before commit")
        }
        if (descriptors.isEmpty && adds.isEmpty)
          return OptimisticCommit.Finish(noCommit(snap0.version))

        // ---- CDF change files: deleted rows AND inserted rows (cdc
        // actions supersede add/remove for change purposes, so a commit
        // that stages cdc for its deletes must stage its inserts too).
        // Under column mapping cdc files store PHYSICAL column names
        // (what the change reader scans with), partition dirs included;
        // the nested rename is the read path's positional struct cast
        // in reverse
        val cdcActions: Seq[CdcFile] =
          if (!cdf) Nil
          else {
            val changes = rp.cdc match {
              case Some(override0) =>
                // caller-classified change rows (update_preimage /
                // update_postimage / insert / delete), renamed physical
                // under column mapping like every other cdc file
                require(override0.columns.contains("_change_type"),
                  "cdc override frame must carry _change_type")
                if (!mapped) override0
                else override0.select(effSchema.fields.map(f =>
                  col(f.name).cast(DeltaLog.toPhysical(f.dataType))
                    .as(DeltaLog.physicalName(f))) :+ col("_change_type"): _*)
              case None =>
                val deletes = toPhysical(conform(matched.drop("_gf_file", "_gf_ridx")))
                  .withColumn("_change_type", lit("delete"))
                appendRows match {
                  case Some(df) =>
                    // the insert rows need the SAME physical rename as the
                    // delete rows — a logical-named union on a mapped
                    // table throws, and cdc files must store physical
                    deletes.unionByName(
                      toPhysical(conform(df)).withColumn("_change_type", lit("insert")))
                  case None => deletes
                }
            }
            stageCdc(spark, root, changes,
              partCols.map(c => physOf.getOrElse(c, c)), nonce)
          }
        at.stage(cdcActions.map(c => new Path(root, c.path)))

        // ---- commit: remove + re-add with DV, protocol upgrade
        val now = System.currentTimeMillis()
        val lines = scala.collection.mutable.ArrayBuffer[String]()
        lines += s"""{"commitInfo":{"timestamp":$now,"operation":${q(operation)},"operationParameters":{"predicate":${q(predicateDesc)}},"engineInfo":"graft-native-delta"}}"""
        // the reader-3/writer-7 deletionVectors upgrade only when this
        // commit actually writes a vector — a pure-insert merge must not
        // feature-upgrade the table
        if (descriptors.nonEmpty) lines += protocolJson(snap, effSchema)
        // schema evolution: the widened metaData rides the SAME commit
        // as the data it admits — readers see rows + schema atomically.
        // Nothing to commit → nothing to evolve (the schema change lands
        // with the data that needs it).
        evolve.foreach { e =>
          lines += DeltaWriter.metaDataJson(
            snap0.tableId.getOrElse(java.util.UUID.randomUUID().toString),
            e.schema, snap0.partitionColumns, now, e.configuration)
        }
        txn.foreach { case (appId, v) => lines += DeltaWriter.txnJson(appId, v, now) }
        descriptors.foreach { d =>
          val a = byFile.getOrElse(d.file, throw new IllegalStateException(
            s"matched file ${d.file} not in snapshot"))
          // DV writer requirement (PROTOCOL.md): a DV-carrying add MUST
          // record stats with the file's PHYSICAL numRecords and
          // tightBounds=false — delta-spark DML on the table fails
          // without it. Prior stats already hold the physical count;
          // a stats-less foreign add falls back to one footer read.
          // min/max/nullCount stay (valid non-tight bounds survive
          // row-level deletes), so data skipping keeps working on
          // DV-carrying files.
          val n = a.numRecords.getOrElse(DeltaWriter.parquetRowCount(
            spark.sessionState.newHadoopConf(),
            new Path(DeltaLog.absolutize(root, a.path))))
          val stats = DeltaStats.loosen(
            a.stats.getOrElse(s"""{"numRecords":$n}"""), n)
          // the path is re-emitted exactly as the log stored it
          lines += DeltaWriter.removeJson(a.path, now, dataChange = true)
          lines += DeltaWriter.addJson(a.path, a.copy(stats = Some(stats),
            deletionVector = Some(DeletionVectors.Descriptor(
              "u", d.enc, Some(d.offset), d.size, d.cardinality))),
            dataChange = true)
        }
        adds.foreach(a => lines +=
          DeltaWriter.addJson(DeltaWriter.encodePath(a.path), a, dataChange = true))
        cdcActions.foreach { c =>
          lines += s"""{"cdc":{"path":${q(DeltaWriter.encodePath(c.path))},"partitionValues":${DeltaWriter.partitionValuesJson(c.partitionValues)},"size":${c.size},"dataChange":false}}"""
        }
        // a lost claim means the snapshot moved (files may have been
        // rewritten/overwritten): the funnel reclaims this attempt's
        // artifacts and the next attempt RE-PLANS from fresh metadata —
        // positions are never rebased blindly
        val version = snap0.version + 1
        OptimisticCommit.Publish(
          DeltaWriter.publish(spark, f, root, version, lines.toSeq, nonce,
            checkpointInterval),
          RowCommitResult(version, newDeleted, appended,
            descriptors.size, adds.size, dvBins.size))
      } finally { matched.unpersist(); rp.cleanup() }
    }
    OptimisticCommit.run(s"Delta $operation", f, root)(attempt)
  }

  private def noCommit(version: Long) = RowCommitResult(version, 0L, 0L, 0, 0, 0)

  // ------------------------------------------------------------ DV output

  private final case class DvRef(file: String, enc: String, offset: Int,
                                 size: Int, cardinality: Long, newCount: Long)

  /** Write the per-file bitmaps into shared DV bin files, executor-side:
    * each task with rows creates ONE `deletion_vector_<uuid>.bin` holding
    * every file-vector routed to it. Existing DVs are merged here (the
    * scan excluded their positions, so cardinality adds exactly). */
  private def writeDvFiles(spark: SparkSession, root: String,
                           snap: DeltaLog.Snapshot,
                           grouped: DataFrame): Seq[DvRef] = {
    val f = fs(spark, root)
    val oldPayloads: Map[String, Array[Byte]] = snap.files
      .filter(_.deletionVector.isDefined).map { a =>
        a.path -> DeletionVectors.payload(f, root, a.deletionVector.get)
      }.toMap
    val oldB = spark.sparkContext.broadcast(oldPayloads)
    val entries = confEntries(spark.sessionState.newHadoopConf())
    val rootStr = root
    val nParts = math.max(1, math.min(32, snap.files.size / 64 + 1))
    grouped.repartition(nParts).rdd.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val conf = rebuild(entries)
        val uuid = UUID.randomUUID()
        val bb = java.nio.ByteBuffer.allocate(16)
        bb.putLong(uuid.getMostSignificantBits)
        bb.putLong(uuid.getLeastSignificantBits)
        val enc = DeletionVectors.z85Encode(bb.array()) // 20 chars, no prefix
        val path = new Path(rootStr, s"deletion_vector_$uuid.bin")
        val fsx = path.getFileSystem(conf)
        val out = fsx.create(path, false)
        val refs = scala.collection.mutable.ArrayBuffer[DvRef]()
        try {
          out.write(1) // format version
          var offset = 1
          while (it.hasNext) {
            val r = it.next()
            val file = r.getString(0)
            val positions = r.getSeq[Long](1)
            val old = oldB.value.get(file)
              .map(DeletionVectors.decodePositions).getOrElse(Array.empty[Long])
            val data = DeletionVectors.encodePositions(old.toSeq ++ positions)
            val crc = new java.util.zip.CRC32()
            crc.update(data)
            out.writeInt(data.length)          // big-endian, as payload() reads
            out.write(data)
            out.writeInt(crc.getValue.toInt)
            refs += DvRef(file, enc, offset, data.length,
              old.length.toLong + positions.size, positions.size.toLong)
            offset += 4 + data.length + 4
          }
        } finally out.close()
        refs.iterator
      }
    }.collect().toSeq
  }

  // ----------------------------------------------------------- CDC output

  private final case class CdcFile(path: String,
                                   partitionValues: Map[String, Option[String]],
                                   size: Long)

  /** Stage CDF rows under `_change_data/` (hive-partitioned like the data
    * files so the change reader can attach partition values by file). */
  private def stageCdc(spark: SparkSession, root: String, cdcDf: DataFrame,
                       partCols: Seq[String], nonce: String): Seq[CdcFile] = {
    val f = fs(spark, root)
    val staging = new Path(root, s"_graft_stage_cdc_$nonce")
    var w = cdcDf.write.mode("overwrite")
    if (partCols.nonEmpty) w = w.partitionBy(partCols: _*)
    w.parquet(staging.toString)
    val staged = graft.core.DriverPar.listFilesNoPerm(f, staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val stagingUri = staging.toUri.getPath
    val out = staged.zipWithIndex.map { case (s, i) =>
      val stagedRel = s.getPath.toUri.getPath.stripPrefix(stagingUri).stripPrefix("/")
      val segs = stagedRel.split('/')
      val pv: Map[String, Option[String]] =
        segs.dropRight(1).map(DeltaWriter.parsePartitionSegment).toMap
      val rel = ("_change_data" +: segs.dropRight(1) :+
        f"cdc-$i%05d-${UUID.randomUUID()}.parquet").mkString("/")
      val dest = new Path(root, rel)
      f.mkdirs(dest.getParent)
      require(f.rename(s.getPath, dest), s"failed to move cdc file $rel")
      CdcFile(rel, pv, f.getFileStatus(dest).getLen)
    }
    f.delete(staging, true)
    out
  }

  // ------------------------------------------------------------- protocol

  private def hasNtz(dt: DataType): Boolean = dt match {
    case _: TimestampNTZType => true
    case s: StructType => s.fields.exists(fd => hasNtz(fd.dataType))
    case a: ArrayType => hasNtz(a.elementType)
    case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
    case _ => false
  }

  /** Reader 3 / writer 7 with the deletionVectors table feature MERGED
    * into the table's existing protocol — newest protocol wins on
    * replay, so a DV commit that dropped an existing feature
    * (columnMapping, v2Checkpoint, ...) would silently downgrade the
    * table for external readers. Legacy protocol versions imply feature
    * sets (PROTOCOL.md's upgrade rules); crossing to the feature
    * protocol spells them out. */
  private[sources] def protocolJson(snap: DeltaLog.Snapshot,
                                    schema: StructType): String = {
    val legacyReader: Set[String] =
      if (snap.minReaderVersion >= 2) Set("columnMapping") else Set.empty
    val legacyWriter: Set[String] = {
      val ladder = Seq(
        2 -> Set("appendOnly", "invariants"),
        3 -> Set("checkConstraints"),
        4 -> Set("generatedColumns", "changeDataFeed"),
        5 -> Set("columnMapping"),
        6 -> Set("identityColumns"))
      ladder.filter(_._1 <= snap.minWriterVersion).flatMap(_._2).toSet
    }
    val ntz =
      if (schema.fields.exists(fd => hasNtz(fd.dataType))) Set("timestampNtz")
      else Set.empty[String]
    val readerFeats = (legacyReader ++ snap.readerFeatures ++ ntz +
      "deletionVectors").toSeq.sorted
    // reader-writer features appear in BOTH lists; legacy writer-only
    // features stay writer-side
    val writerFeats = (legacyWriter ++ snap.writerFeatures ++
      readerFeats).toSeq.sorted
    s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":${
      readerFeats.map(q).mkString("[", ",", "]")},"writerFeatures":${
      writerFeats.map(q).mkString("[", ",", "]")}}}"""
  }

  // --------------------------------------------------- conf ship (no SerializableConfiguration)

  private def confEntries(conf: Configuration): Seq[(String, String)] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq

  private def rebuild(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
