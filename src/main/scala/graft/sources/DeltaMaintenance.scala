package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Table maintenance for the native Delta writer — the OPTIMIZE /
 * Z-ORDER / VACUUM surface the reference drives through the delta-spark
 * jar (reference odibi/engine/spark_engine.py OPTIMIZE/ZORDER paths,
 * config.py write-config `optimize`/`zorder_by` keys). That jar is absent
 * here, so these run directly on the public transaction-log protocol via
 * [[DeltaLog]] (read side) and [[DeltaWriter]] (commit side):
 *
 *   - `optimize` bin-packs each partition's small active files into
 *     ~`targetFileBytes` outputs and commits `remove`+`add` with
 *     `dataChange=false` — readers see identical rows before and after,
 *     streaming readers skip the rewrite, and time travel to pre-OPTIMIZE
 *     versions still resolves (old files stay until VACUUM)
 *   - `optimize(zorderBy=...)` rewrites ALL active files Z-order-clustered
 *     (bit-interleaved range layout via [[Sources.zOrderFrame]]) so file
 *     min/max ranges are tight on every cluster column — the data-skipping
 *     point of OPTIMIZE ZORDER
 *   - `vacuum` deletes data files no longer referenced by the CURRENT
 *     version once older than the retention window (the standard Delta
 *     trade: time travel beyond retention dies, storage is reclaimed)
 *   - `history` surfaces the per-version commitInfo as a DataFrame (the
 *     DESCRIBE HISTORY equivalent)
 *
 * Scale: the rewrite is ONE distributed job regardless of partition
 * count — candidate files scan through the ordinary parquet reader, each
 * file's driver-assigned bin rides the scan as a per-file constant
 * column, and `repartition(bins, _gf_bin)` lands every bin in one task.
 * Driver state is file METADATA only (the same per-file actions every
 * Delta writer ships). Concurrency: the commit loop re-reads the log and
 * verifies every file it removes is still active — a concurrent writer
 * wins and the optimize aborts cleanly (staged files deleted) rather
 * than resurrecting overwritten data.
 */
object DeltaMaintenance {

  final case class OptimizeResult(version: Option[Long],
                                  filesRemoved: Int, filesAdded: Int,
                                  bytesRemoved: Long, bytesAdded: Long)

  final case class VacuumResult(deleted: Seq[String], bytes: Long, dryRun: Boolean)

  final case class RestoreResult(version: Long, restoredToVersion: Long,
                                 filesAdded: Int, filesRemoved: Int)

  /**
   * RESTORE TABLE TO VERSION AS OF — delta-spark's RESTORE re-expressed
   * on the native log: ONE new commit makes the table state equal the
   * target version's state (files present there but retired since are
   * re-added — deletion vectors included — files added since are
   * removed; metaData is re-emitted when schema/partitioning/config
   * drifted). Pure metadata: no data file moves, history stays intact
   * (the restore itself is just another version, so it can be
   * time-traveled past or restored again). Fails fast when any target
   * file was already VACUUMed — a metadata restore cannot resurrect
   * deleted bytes.
   */
  /** RESTORE TO TIMESTAMP: resolve the newest version whose commit time
    * is at or before the instant (the time-travel contract), restore to
    * it. */
  def restoreTimestamp(spark: SparkSession, root: String, timestampMs: Long,
                       checkpointInterval: Int = 10): RestoreResult =
    restore(spark, root,
      DeltaLog.snapshot(spark, root, timestampAsOfMs = Some(timestampMs)).version,
      checkpointInterval)

  def restore(spark: SparkSession, root: String, version: Long,
              checkpointInterval: Int = 10): RestoreResult = {
    import DeltaWriter.q
    val f = fs(spark, root)
    val tgt = DeltaLog.snapshot(spark, root, versionAsOf = Some(version))
    // vacuumed target files make the restore impossible — check first
    val missing = tgt.files.filterNot(a =>
      f.exists(new Path(DeltaLog.absolutize(root, a.path))))
    require(missing.isEmpty,
      s"cannot restore $root to version $version: ${missing.size} data " +
        s"files were vacuumed (e.g. ${missing.head.path})")
    OptimisticCommit.run("Delta restore", f, root) { _ =>
      val cur = DeltaLog.snapshot(spark, root)
      require(version <= cur.version,
        s"restore target $version is above current ${cur.version}")
      val curBy = cur.files.map(a => a.path -> a).toMap
      val tgtBy = tgt.files.map(a => a.path -> a).toMap
      // re-add files absent now or carrying a DIFFERENT deletion vector
      // (a later delete widened the bitmap — the restore narrows it back)
      val adds = tgt.files.filter(a => !curBy.get(a.path).contains(a))
      val removes = cur.files.filterNot(a => tgtBy.contains(a.path))
      val metaChanged = cur.schema.json != tgt.schema.json ||
        cur.partitionColumns != tgt.partitionColumns ||
        cur.configuration != tgt.configuration
      if (version == cur.version || (adds.isEmpty && removes.isEmpty && !metaChanged))
        OptimisticCommit.Finish(RestoreResult(cur.version, version, 0, 0))
      else {
        val now = System.currentTimeMillis()
        val lines = scala.collection.mutable.ArrayBuffer[String]()
        lines += s"""{"commitInfo":{"timestamp":$now,"operation":"RESTORE","operationParameters":{"version":${q(version.toString)}},"engineInfo":"graft-native-delta"}}"""
        if (metaChanged)
          // the restore must carry the TARGET version's configuration too —
          // dropping it would wipe delta.columnMapping.mode / CDF flags
          lines += DeltaWriter.metaDataJson(
            tgt.tableId.getOrElse(java.util.UUID.randomUUID().toString),
            tgt.schema, tgt.partitionColumns, now, tgt.configuration)
        // both sides are snapshot files: their log paths are re-emitted
        // verbatim, deletion vectors included
        removes.foreach(a => lines += DeltaWriter.removeJson(a.path, now, dataChange = true))
        adds.foreach(a => lines += DeltaWriter.addJson(a.path, a, dataChange = true))
        val newVersion = cur.version + 1
        OptimisticCommit.Publish(
          DeltaWriter.publish(spark, f, root, newVersion, lines.toSeq,
            java.lang.Long.toHexString(System.nanoTime()), checkpointInterval),
          RestoreResult(newVersion, version, adds.size, removes.size))
      }
    }
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /**
   * Compact the table's small active files (and/or Z-order-cluster it).
   *
   * Without `zorderBy`: per partition, active files smaller than
   * `targetFileBytes` are greedily bin-packed (largest-first) into bins of
   * at most `targetFileBytes`; a partition contributes only when it has
   * >= 2 small files (rewriting a lone file moves bytes for nothing).
   *
   * With `zorderBy`: every active file is rewritten through the Z-order
   * layout (unpartitioned tables only — the linear rank scaling is global,
   * so per-hive-partition ranges would need recomputing per partition; the
   * reference's ZORDER targets unpartitioned/liquid tables for the same
   * reason). Output file count tracks total bytes / `targetFileBytes`.
   *
   * `partitionFilter` restricts compaction to partitions whose values
   * match every (column -> string value) entry — the OPTIMIZE WHERE form.
   */
  def optimize(spark: SparkSession, root: String,
               targetFileBytes: Long = 128L << 20,
               zorderBy: Seq[String] = Nil,
               partitionFilter: Map[String, String] = Map.empty,
               checkpointInterval: Int = 10): OptimizeResult = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val snap = DeltaLog.snapshot(spark, root)
    require(zorderBy.forall(c => !snap.partitionColumns.contains(c)),
      s"zorderBy ${zorderBy.mkString(",")} overlaps the partition columns " +
        s"${snap.partitionColumns.mkString(",")} — a partition column is " +
        "constant per file already; z-order the non-partition dimensions")
    require(partitionFilter.keySet.subsetOf(snap.partitionColumns.toSet),
      s"partitionFilter keys ${partitionFilter.keySet} must be partition " +
        s"columns ${snap.partitionColumns}")

    val groups = snap.files
      .filter(a => partitionFilter.forall { case (k, v) =>
        a.partitionValues.get(k).flatten.contains(v) })
      .groupBy(_.partitionValues)

    // driver-side bin assignment: largest-first greedy pack per partition
    val rewrite: Seq[(Int, Seq[DeltaLog.AddFile])] =
      if (zorderBy.nonEmpty) {
        val all = groups.values.flatten.toSeq
        if (all.isEmpty) Nil else Seq((0, all)) // bin ids unused by zorder path
      } else {
        val bins = scala.collection.mutable.ArrayBuffer[Seq[DeltaLog.AddFile]]()
        groups.toSeq.sortBy(_._1.toSeq.sortBy(_._1).mkString(",")).foreach { case (_, files) =>
          val small = files.filter(_.size < targetFileBytes)
          if (small.size >= 2) {
            var open = scala.collection.mutable.ArrayBuffer[DeltaLog.AddFile]()
            var openBytes = 0L
            small.sortBy(-_.size).foreach { a =>
              if (openBytes + a.size > targetFileBytes && open.nonEmpty) {
                bins += open.toSeq; open = scala.collection.mutable.ArrayBuffer(); openBytes = 0L
              }
              open += a; openBytes += a.size
            }
            if (open.nonEmpty) bins += open.toSeq
          }
        }
        // a partition whose small files still pack into as many bins as
        // files gains nothing — keep only bins that actually merge, unless
        // sibling bins in the same partition shrink the total count
        bins.toSeq.zipWithIndex.map(_.swap).filter(_._2.size >= 2)
      }
    if (rewrite.isEmpty) return OptimizeResult(None, 0, 0, 0L, 0L)

    val removes = rewrite.flatMap(_._2)
    val bytesRemoved = removes.map(_.size).sum
    val partCols = snap.partitionColumns
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val f = fs(spark, root)

    val adds: Seq[DeltaLog.AddFile] =
      if (zorderBy.nonEmpty) {
        // re-cluster the selected files through the Z-order layout; the
        // input is immutable parquet on disk, so the layout's stats/
        // sample/write passes re-scan cheaply instead of pinning executor
        // memory. Partitioned tables cluster WITHIN partitions (range
        // partitioning leads with the partition columns) and
        // partitionFilter scopes the rewrite to one day/region.
        val numFiles = math.max(1, math.ceil(bytesRemoved.toDouble / targetFileBytes).toInt)
        // DV-carrying inputs compact to their LIVE rows (the rewrite is
        // also the purge: the new file drops the vector)
        val scan = DeltaLog.scanFiles(spark, root, snap, removes.map((_, Nil)))
        // z ranges from the LOG's add-action stats, not a min/max scan:
        // the rewrite then reads every selected file exactly ONCE (the
        // Iceberg optimize path derives the same hint from manifest
        // bounds). Files missing a bound fall back to zOrderFrame's own
        // stats pass.
        val clustered = Sources.zOrderFrame(scan, zorderBy, numFiles = numFiles,
          partitionCols = partCols,
          statsHint = DeltaStats.zRanges(snap, removes, zorderBy))
        DeltaWriter.stageAndMove(clustered, root, partCols, nonce, countRows = false)._1
      } else {
        // one distributed job for every bin across every partition: each
        // file's bin id is a per-file constant of the scan, and
        // `repartition(bins, _gf_bin)` lands each bin in one task
        val routed = DeltaLog.scanFiles(spark, root, snap,
          rewrite.flatMap { case (bin, files) => files.map((_, Seq(bin))) },
          Seq(StructField("_gf_bin", IntegerType)))
        val packed = routed
          .repartition(rewrite.size, col("_gf_bin"))
          .drop("_gf_bin")
        DeltaWriter.stageAndMove(packed, root, partCols, nonce, countRows = false)._1
      }
    val bytesAdded = adds.map(_.size).sum

    // ---- commit: remove+add with dataChange=false, conflict-checked
    OptimisticCommit.run("Delta optimize", f, root,
        staged = adds.map(a => new Path(root, a.path))) { _ =>
      val current = DeltaLog.snapshot(spark, root)
      val currentByPath = current.files.map(a => a.path -> a.deletionVector).toMap
      // a file must still be active AND carry the SAME deletion vector we
      // planned against: a concurrent overwrite/optimize retiring it, or
      // a concurrent DV delete marking more rows, would make this commit
      // resurrect dead rows. A conflict ABORTS (the staged files are
      // reclaimed) — rebasing cannot repair a rewrite of retired inputs
      if (!removes.forall(r => currentByPath.get(r.path).contains(r.deletionVector)))
        throw new IllegalStateException(
          s"concurrent commit at $root changed files being optimized — rerun optimize")
      val version = current.version + 1
      val now = System.currentTimeMillis()
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val zp = if (zorderBy.isEmpty) "" else zorderBy.mkString(",")
      lines += s"""{"commitInfo":{"timestamp":$now,"operation":"OPTIMIZE","operationParameters":{"targetSize":${DeltaWriter.q(targetFileBytes.toString)},"zOrderBy":${DeltaWriter.q(zp)}},"engineInfo":"graft-native-delta"}}"""
      // removes re-emit the snapshot's log-encoded paths verbatim; only
      // the adds (fresh filesystem-relative paths) need encoding
      removes.foreach(a => lines += DeltaWriter.removeJson(a.path, now, dataChange = false))
      adds.foreach(a =>
        lines += DeltaWriter.addJson(DeltaWriter.encodePath(a.path), a, dataChange = false))
      OptimisticCommit.Publish(
        DeltaWriter.publish(spark, f, root, version, lines.toSeq, nonce, checkpointInterval),
        OptimizeResult(Some(version), removes.size, adds.size, bytesRemoved, bytesAdded))
    }
  }

  /**
   * Delete data files not referenced by the CURRENT snapshot whose
   * modification time is older than `retentionHours`. Hidden dirs
   * (`_delta_log`, staging temps, anything `_`/`.`-prefixed that is not a
   * hive `k=v` partition dir) are never touched. `dryRun` lists without
   * deleting. Time travel to versions whose files age out stops resolving
   * — the documented Delta VACUUM contract.
   */
  def vacuum(spark: SparkSession, root: String,
             retentionHours: Double = 168.0,
             dryRun: Boolean = false): VacuumResult = {
    require(retentionHours >= 0, "retentionHours must be >= 0")
    val snap = DeltaLog.snapshot(spark, root)
    val f = fs(spark, root)
    val rootPath = f.makeQualified(new Path(root))
    val active: Set[Path] = (snap.files
      .map(a => f.makeQualified(new Path(DeltaLog.absolutize(root, a.path)))) ++
      // live deletion-vector bin files are referenced only through add
      // descriptors, never as add paths — deleting one bricks every read
      snap.files.flatMap(_.deletionVector)
        .filter(d => d.storageType == "u" || d.storageType == "p")
        .map(d => f.makeQualified(DeletionVectors.dvFilePath(root, d)))).toSet
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong

    def hidden(name: String): Boolean =
      (name.startsWith("_") || name.startsWith(".")) && !name.contains("=")

    val candidates = scala.collection.mutable.ArrayBuffer[FileStatus]()
    def walk(dir: Path): Unit =
      f.listStatus(dir).foreach { s =>
        if (hidden(s.getPath.getName)) ()
        else if (s.isDirectory) walk(s.getPath)
        else if (!active.contains(f.makeQualified(s.getPath)) &&
          s.getModificationTime < cutoff)
          candidates += s
      }
    walk(rootPath)

    val bytes = candidates.map(_.getLen).sum
    val rel = candidates.map(_.getPath.toUri.getPath
      .stripPrefix(rootPath.toUri.getPath).stripPrefix("/")).toSeq
    if (!dryRun) candidates.foreach { s =>
      f.delete(s.getPath, false)
      // prune now-empty partition dirs up to (not including) the root
      var parent = s.getPath.getParent
      while (parent != null && f.makeQualified(parent) != rootPath &&
        f.listStatus(parent).isEmpty) {
        f.delete(parent, false); parent = parent.getParent
      }
    }
    VacuumResult(rel.sorted, bytes, dryRun)
  }

  final case class LogCleanupResult(deletedCommits: Seq[Long],
                                    deletedCheckpoints: Seq[String],
                                    deletedSidecars: Seq[String],
                                    dryRun: Boolean)

  /**
   * Log-retention cleanup (the `delta.logRetentionDuration` equivalent):
   * delete commit jsons and superseded checkpoints strictly BELOW the
   * newest checkpointed version once older than `retentionHours`, plus
   * `_sidecars` files no RETAINED checkpoint references (V2 checkpoints
   * superseded by a newer one would otherwise leak their shards
   * forever). State at/after the newest checkpoint replays exactly as
   * before; time travel to cleaned versions becomes unavailable — the
   * standard Delta trade. Streaming cursors that fully consumed the
   * cleaned versions survive (their positions advance past drained
   * versions); a cursor with UNCONSUMED cleaned versions fails loudly
   * rather than silently skipping data.
   */
  def cleanupLogs(spark: SparkSession, root: String,
                  retentionHours: Double = 720.0,
                  dryRun: Boolean = false): LogCleanupResult = {
    require(retentionHours >= 0, "retentionHours must be >= 0")
    val f = fs(spark, root)
    val log = DeltaLog.listLog(f, root)
    // a sidecar reference that cannot be read counts as missing
    def sidecarsOf(st: FileStatus): Option[Seq[Path]] =
      try Some(DeltaLog.sidecars(spark, root, st)) catch { case _: Exception => None }
    // `newest` may only be a COMPLETE checkpoint (the reader's rule) —
    // keying retention on a torn multi-part set would delete the commits
    // and checkpoints it cannot actually replace and brick the table.
    // Stricter than the reader: a V2 checkpoint counts only while every
    // sidecar it references exists.
    val newest = log.checkpoints.find(cp => !cp.v2 ||
      cp.parts.forall(st => sidecarsOf(st).exists(_.forall(f.exists))))
      .map(_.version).getOrElse(return LogCleanupResult(Nil, Nil, Nil, dryRun))
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    def aged(s: FileStatus): Boolean = s.getModificationTime < cutoff

    val oldCommits = log.commits.filter { case (v, s) => v < newest && aged(s) }
    val oldCheckpoints = log.checkpointFiles.filter { case (v, _, s) => v < newest && aged(s) }
    val deadCp = oldCheckpoints.map(_._3.getPath.getName).toSet

    // sidecars referenced by any RETAINED V2 checkpoint must stay; if a
    // retained main file cannot be read, SKIP sidecar GC entirely rather
    // than risk collecting a live shard
    val retainedV2 = log.checkpointFiles.collect {
      case (_, DeltaLog.V2, s) if !deadCp(s.getPath.getName) => s
    }
    val referenced = retainedV2.map(sidecarsOf)
    val sidecarDir = DeltaLog.sidecarDir(root)
    val oldSidecars =
      if (referenced.exists(_.isEmpty) || !f.exists(sidecarDir)) Seq.empty[FileStatus]
      else {
        val refs = referenced.flatten.flatten.map(_.getName).toSet
        f.listStatus(sidecarDir).toSeq.filter(s => !refs(s.getPath.getName) && aged(s))
      }

    if (!dryRun)
      (oldCommits.map(_._2) ++ oldCheckpoints.map(_._3) ++ oldSidecars)
        .foreach(s => f.delete(s.getPath, false))
    LogCleanupResult(oldCommits.map(_._1), oldCheckpoints.map(_._3.getPath.getName).sorted,
      oldSidecars.map(_.getPath.getName).sorted, dryRun)
  }

  /** Per-version commitInfo — the DESCRIBE HISTORY equivalent. Bounded by
    * log size (one small JSON per commit), assembled on the driver. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = DeltaLog.commits(spark, root).map { c =>
      Row(c.version, c.timestamp, c.operation.orNull, c.operationParameters.orNull,
        c.engineInfo.orNull, c.adds.size, c.removes.size)
    }
    val schema = StructType(Seq(
      StructField("version", LongType), StructField("timestamp", LongType),
      StructField("operation", StringType),
      StructField("operation_parameters", StringType),
      StructField("engine_info", StringType),
      StructField("num_added_files", IntegerType),
      StructField("num_removed_files", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
