package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Table maintenance for the native Iceberg source/sink — the
 * rewrite_data_files / expire_snapshots surface the Iceberg runtime
 * ships as Spark procedures, rebuilt on the public spec via
 * [[IcebergSource]]'s metadata readers:
 *
 *  - `optimize` bin-packs each partition's small live files into
 *    ~`targetFileBytes` outputs and commits a `replace` snapshot (net
 *    row change zero — [[IcebergSource.changes]] already skips replace
 *    snapshots, the same contract as Delta's dataChange=false); kept
 *    files carry their original sequence numbers as EXISTING entries,
 *    so sequence-aware semantics are unchanged;
 *  - `expireSnapshots` drops aged snapshots from the metadata (current
 *    always survives) and deletes the manifest lists, manifests and
 *    data files no retained snapshot references — the storage-reclaim /
 *    time-travel trade every Iceberg deployment schedules.
 *
 * Scale: the rewrite is ONE distributed job (each file's bin id a
 * per-file constant of the scan, `repartition(bins)`) regardless of
 * partition count; all other work is driver-side metadata bounded by
 * manifest counts.
 */
object IcebergMaintenance {

  import IcebergSource._

  final case class OptimizeResult(snapshotId: Option[Long],
                                  filesRemoved: Int, filesAdded: Int,
                                  bytesRemoved: Long, bytesAdded: Long)

  final case class ExpireResult(expiredSnapshots: Seq[Long],
                                deletedFiles: Seq[String], dryRun: Boolean)

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** coerce a (normalized) partition value into the avro field's type */
  private def coerce(v: Any, t: org.apache.avro.Schema.Type): AnyRef = (v, t) match {
    case (l: Long, org.apache.avro.Schema.Type.INT) => Integer.valueOf(l.toInt)
    case (l: Long, _) => java.lang.Long.valueOf(l)
    case (i: Int, org.apache.avro.Schema.Type.LONG) => java.lang.Long.valueOf(i.toLong)
    case (other, _) => other.asInstanceOf[AnyRef]
  }

  /** Partition fields of the current spec as StructFields, named by the
    * SPEC FIELD name and typed by the transform's RESULT type (spec
    * §Partition Transforms): identity/truncate keep the source type;
    * year/month/day/hour and bucket[N] store ints. Maintenance never
    * recomputes a transform — a rewrite merges files WITHIN one
    * partition tuple, so kept and compacted entries alike reuse the
    * stored tuple values. */
  private def partitionStructFields(meta: TableMeta): Seq[StructField] = {
    val byId: Map[Int, StructField] = meta.schemaJson.get("fields")
      .elements().asScala.zip(meta.schema.fields.iterator)
      .map { case (js, sf) => js.get("id").asInt() -> sf }.toMap
    val bucketR = "bucket\\[(\\d+)\\]".r
    val truncR = "truncate\\[(\\d+)\\]".r
    meta.partitionSpec.map { f =>
      val src = byId.getOrElse(f.sourceId,
        throw new IllegalArgumentException(s"spec source-id ${f.sourceId} not in schema"))
      val dt = f.transform match {
        case "identity" => src.dataType
        case "year" | "month" | "day" | "hour" => IntegerType
        case bucketR(_) => IntegerType
        case truncR(_) => src.dataType
        case other => throw new IllegalArgumentException(
          s"iceberg maintenance: unsupported partition transform '$other' on ${f.name}")
      }
      StructField(f.name, dt)
    }
  }

  /** Clone-and-patch the PLAN-TIME metadata json (never whatever is
    * latest at commit time — a concurrent `write()` landing during a
    * long job must surface as a lost claim, not a silent lost update) and
    * publish it as the version after `meta` through
    * [[IcebergSource.publishMeta]]; a lost claim re-plans the whole
    * operation against the winner's metadata. */
  private def patchMetadata(spark: SparkSession, root: String,
                            meta: IcebergSource.TableMeta,
                            patch: ObjectNode => Unit): OptimisticCommit.Claim = {
    val f = fs(spark, root)
    // the ACTUAL plan-time file, not a reconstructed `v$N` name — tables
    // with foreign layouts (e.g. `00001-<uuid>.metadata.json`, version 0)
    // are reachable only through the path latestMetadata resolved at plan
    // time
    val metaPath = new Path(meta.metadataPath)
    require(f.exists(metaPath), s"plan-time metadata $metaPath vanished")
    val node = mapper.readTree(readText(f, metaPath))
      .asInstanceOf[ObjectNode]
    patch(node)
    // retention from the PATCHED node, not plan-time meta: a
    // set-properties commit must itself honor the retention it configures
    val props = Option(node.get("properties")).map(p =>
      p.properties().asScala.map(e =>
        e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    publishMeta(f, root, Some(meta), mapper.writeValueAsBytes(node),
      java.util.UUID.randomUUID().toString, props)
  }

  /** A metadata-only commit: patch the metadata planned by `plan`,
    * returning the new metadata version. */
  private def metadataCommit(spark: SparkSession, root: String, what: String)
                            (plan: TableMeta => Option[ObjectNode => Unit]): Long =
    OptimisticCommit.run(s"Iceberg $what", fs(spark, root), root) { _ =>
      val meta = tableMeta(spark, root)
      plan(meta) match {
        case Some(patch) =>
          OptimisticCommit.Publish(patchMetadata(spark, root, meta, patch), meta.version + 1)
        case None => OptimisticCommit.Finish(meta.version)
      }
    }

  /**
   * Bin-pack each partition's small live files (< `targetFileBytes`,
   * >= 2 per partition) into ~target-sized outputs; commit a `replace`
   * snapshot. No-op (None) when nothing qualifies. Tables carrying
   * row-level delete files compact MERGE-ON-READ: deletes targeting the
   * compacted files apply during the rewrite (the purge), delete
   * manifests carry over for the files that remain.
   *
   * With `zorderBy`: EVERY live file rewrites Z-order-clustered
   * (bit-interleaved range layout, [[Sources.zOrderFrame]]) within its
   * partition tuple, so each output file covers a narrow range on every
   * clustered dimension and the manifest lower/upper bounds admit far
   * fewer files under multi-dimensional predicates — the same lever
   * Delta's `optimize(zorderBy)` pulls. The commit also records the
   * clustering as the table's default sort order (spec §Sort Orders),
   * round-tripped by every subsequent commit.
   */
  def optimize(spark: SparkSession, root: String,
               targetFileBytes: Long = 128L << 20,
               zorderBy: Seq[String] = Nil): OptimizeResult =
    OptimisticCommit.run("Iceberg optimize", fs(spark, root), root)(at =>
      optimizeAttempt(spark, root, targetFileBytes, zorderBy, at))

  private def optimizeAttempt(spark: SparkSession, root: String,
                              targetFileBytes: Long, zorderBy: Seq[String],
                              at: OptimisticCommit.Attempt)
      : OptimisticCommit.Step[OptimizeResult] = {
    val f = fs(spark, root)
    val meta = tableMeta(spark, root)
    val snap = meta.currentSnapshotId.flatMap(id =>
      meta.snapshots.find(_.snapshotId == id)).getOrElse(
      throw new IllegalArgumentException(s"$root has no current snapshot"))
    val (data, pos, eq) = snapshotFiles(spark, root, snap, meta)
    val partFields = partitionStructFields(meta)

    def sizeOf(e: FileEntry): Long =
      if (e.size > 0) e.size else f.getFileStatus(new Path(e.path)).getLen

    zorderBy.foreach { c =>
      require(meta.schema.fieldNames.contains(c),
        s"zorder column '$c' not in ${meta.schema.fieldNames.mkString(", ")}")
      val srcIds = meta.partitionSpec.filter(_.transform == "identity")
        .map(_.sourceId).toSet
      val cId = meta.schemaJson.get("fields").elements().asScala
        .find(_.get("name").asText() == c).get.get("id").asInt()
      require(!srcIds.contains(cId),
        s"zorder column '$c' identity-partitions the table — it is " +
          "constant per file already; z-order the non-partition dimensions")
    }
    // greedy largest-first bin pack per partition tuple; with zorderBy,
    // EVERY live file re-clusters (one rewrite group per partition tuple)
    val byPart = data.groupBy(_.partition)
    val bins = scala.collection.mutable.ArrayBuffer[(Map[String, Any], Seq[FileEntry])]()
    if (zorderBy.nonEmpty) {
      byPart.foreach { case (part, files) =>
        if (files.nonEmpty) bins += ((part, files))
      }
    } else byPart.foreach { case (part, files) =>
      val small = files.filter(sizeOf(_) < targetFileBytes)
      if (small.size >= 2) {
        val sorted = small.sortBy(-sizeOf(_))
        val open = scala.collection.mutable.ArrayBuffer[(Long, scala.collection.mutable.ArrayBuffer[FileEntry])]()
        sorted.foreach { e =>
          val sz = sizeOf(e)
          open.find(_._1 + sz <= targetFileBytes) match {
            case Some(b) =>
              open(open.indexOf(b)) = (b._1 + sz, b._2 += e)
            case None =>
              open += ((sz, scala.collection.mutable.ArrayBuffer(e)))
          }
        }
        open.filter(_._2.size >= 2).foreach(b => bins += ((part, b._2.toSeq)))
      }
    }
    if (bins.isEmpty) return OptimisticCommit.Finish(OptimizeResult(None, 0, 0, 0L, 0L))

    // one distributed rewrite: file → bin id, repartition per bin
    val readSchema = {
      def strip(dt: DataType): DataType = dt match {
        case s: StructType => StructType(s.fields.map(fd =>
          StructField(fd.name, strip(fd.dataType), fd.nullable)))
        case other => other
      }
      strip(meta.schema).asInstanceOf[StructType]
    }
    val binOf: Map[String, Int] = bins.zipWithIndex.flatMap { case ((_, files), i) =>
      files.map(_.path -> i)
    }.toMap
    val candidateEntries = bins.flatMap(_._2).toSeq
    val commitUuid = java.util.UUID.randomUUID().toString
    val outDir = new Path(root, s"data/$commitUuid")
    val manifestPath = new Path(metaDir(root), s"manifest-$commitUuid.avro")
    at.stage(Seq(outDir, manifestPath))
    // alias-aware scan: a compaction that read pre-rename files under
    // the current name only would REWRITE the renamed column as null —
    // permanent data loss the alias fallback could never repair. Each
    // file's bin id is a per-file constant of the scan.
    val withDeletes = pos.nonEmpty || eq.nonEmpty
    val scan = IcebergSource.scanEntries(spark, meta, readSchema, candidateEntries,
      provenance = withDeletes,
      constants = Seq((StructField("_gf_bin", IntegerType), e => binOf(e.path))))
    // merge-on-read compaction IS the purge: row-level deletes targeting
    // the compacted files are applied during the rewrite (the new files
    // get the fresh sequence number, so the old deletes no longer bind)
    val routed =
      if (!withDeletes) scan
      else IcebergSource.applyDeletes(spark, meta, scan, pos, eq)
        .drop(IcebergSource.provenanceCols: _*)
    // observe the routed rows INSIDE the rewrite job: a mis-routed row
    // (null bin) would land outside the listed dirs and silently vanish
    val obs = org.apache.spark.sql.Observation()
    val observed = routed.observe(obs,
      count(lit(1)).as("rows"), count(col("_gf_bin")).as("binned"))
    val clustered =
      if (zorderBy.isEmpty) observed.repartition(bins.size, col("_gf_bin"))
      else {
        // range-partition leading with the bin (= partition tuple) so
        // every output file holds ONE tuple's rows over a narrow z-range
        val totalBytes = bins.flatMap(_._2).map(sizeOf).sum
        val outFiles = math.max(bins.size,
          math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        // z ranges from MANIFEST bounds, not a stats scan: the rewrite
        // then reads every live file ONCE (a second min/max pass would
        // double the compaction I/O) and the row-conservation
        // Observation binds to the write action itself. Bounds cover
        // MOR-deleted rows too — slightly wide ranges cost a few empty
        // buckets, never correctness. Files missing a bound fall back
        // to the scan-based stats inside zOrderFrame.
        val typeOfCol = meta.schema.fields.map(fd => fd.name -> fd.dataType).toMap
        val statIdOf = IcebergSource.topLevelIds(meta.schemaJson)
        def toD(bytes: Array[Byte], dt: DataType): Option[Double] = dt match {
          case DateType if bytes.length == 4 =>
            Some(java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt * 86400.0)
          case TimestampType | TimestampNTZType if bytes.length == 8 =>
            Some(java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong / 1e6)
          case _: NumericType =>
            IcebergSource.decodeColumnBound(bytes, dt).collect {
              case bd: java.math.BigDecimal => bd.doubleValue() }
          case _ => None
        }
        val allFiles = bins.flatMap(_._2)
        val statsHint: Map[String, (Double, Double)] = zorderBy.flatMap { c =>
          (for {
            id <- statIdOf.get(c)
            dt <- typeOfCol.get(c)
            los <- Some(allFiles.map(_.lowerBounds.get(id).flatMap(toD(_, dt))))
            his <- Some(allFiles.map(_.upperBounds.get(id).flatMap(toD(_, dt))))
            if los.forall(_.isDefined) && his.forall(_.isDefined)
          } yield c -> ((los.flatten.min, his.flatten.max))).toSeq
        }.toMap
        Sources.zOrderFrame(observed, zorderBy, numFiles = outFiles,
          partitionCols = Seq("_gf_bin"), statsHint = statsHint)
      }
    clustered
      .write.partitionBy("_gf_bin").mode("errorifexists").parquet(outDir.toString)
    val routedRows = obs.get("rows").asInstanceOf[Long]
    require(obs.get("binned").asInstanceOf[Long] == routedRows,
      s"optimize routed ${routedRows - obs.get("binned").asInstanceOf[Long]} " +
        "rows to a null bin — aborting before commit")

    // new entries: one manifest holding EXISTING kept files (original
    // seq) + ADDED compacted outputs (new seq)
    val newSeq = meta.lastSequenceNumber + 1
    val snapshotId = math.max(System.currentTimeMillis(),
      meta.snapshots.map(_.snapshotId + 1).foldLeft(0L)(math.max))
    val entrySchema = entrySchemaFor(partFields)
    val partSchema = entrySchema.getField("data_file").schema()
      .getField("partition").schema()
    def entry(status: Int, path: String, size: Long, records: Long,
              seq: Long, part: Map[String, Any],
              addedBy: Option[Long] = None,
              colStats: Map[String, AnyRef] = Map.empty): GenericRecord = {
      val dataFile = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      dataFile.put("content", 0)
      dataFile.put("file_path", path)
      dataFile.put("file_format", "PARQUET")
      val pr = new GenericData.Record(partSchema)
      partFields.zipWithIndex.foreach { case (fd, i) =>
        part.get(fd.name).foreach(v =>
          pr.put(i, coerce(v, partSchema.getFields.get(i).schema().getType)))
      }
      dataFile.put("partition", pr)
      dataFile.put("record_count", records)
      dataFile.put("file_size_in_bytes", size)
      colStats.foreach { case (k, v) => dataFile.put(k, v) }
      val e = new GenericData.Record(entrySchema)
      e.put("status", status)
      // EXISTING entries keep the snapshot that ORIGINALLY added the
      // file (spec §Manifests) — or NULL when the source manifest used
      // snapshot-id inheritance: stamping THIS snapshot would lie that
      // a kept pre-rename file is current-generation and read its
      // renamed columns alias-free (as null). Only ADDED entries stamp
      // this snapshot.
      e.put("snapshot_id",
        if (status == 1) java.lang.Long.valueOf(snapshotId)
        else addedBy.map(java.lang.Long.valueOf(_)).orNull)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      e.put("data_file", dataFile)
      e
    }
    val compacted = bins.flatMap(_._2.map(_.path)).toSet
    val kept = data.filterNot(e => compacted.contains(e.path))
    val conf = spark.sessionState.newHadoopConf()
    val newFiles: Seq[(String, Long, Long, Map[String, Any], Seq[StatsPruning.LeafStats])] =
      graft.core.DriverPar.map(bins.zipWithIndex.toSeq) { case ((part, _), i) =>
        val binDir = new Path(outDir, s"_gf_bin=$i")
        if (!f.exists(binDir)) Nil
        else graft.core.DriverPar.map(f.listStatus(binDir).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))) { s =>
            // one footer read: row count + the column stats the new
            // manifest entries carry (compaction must not lose skipping)
            val (n, leaves) = StatsPruning.footerLeafStats(conf, s.getPath)
            (s.getPath.toString, s.getLen, n, part, leaves)
          }
      }.flatten
    // row conservation: without deletes, output rows must equal the
    // manifests' record counts; under merge-on-read the expectation is
    // the DV-applied row count the rewrite job itself observed
    val compactedRecords = bins.flatMap(_._2.map(_.records)).sum
    val rewritten = newFiles.map(_._3).sum
    if (pos.isEmpty && eq.isEmpty && compactedRecords > 0)
      require(rewritten == compactedRecords,
        s"optimize row mismatch: compacted $compactedRecords rows but " +
          s"rewrote $rewritten — aborting before commit")
    else
      require(rewritten == routedRows,
        s"optimize row mismatch: routed $routedRows live rows but " +
          s"rewrote $rewritten — aborting before commit")
    val statIds = IcebergSource.topLevelIds(meta.schemaJson)
    val entries =
      kept.map(e => entry(0, e.path, sizeOf(e), e.records, e.seq, e.partition,
        e.addedSnapshotId,
        colStats = IcebergSource.columnStatsMapsFromBounds(entrySchema,
          e.nullCounts, e.lowerBounds, e.upperBounds))) ++
        newFiles.map { case (p, sz, n, part, leaves) =>
          entry(1, p, sz, n, newSeq, part,
            colStats = IcebergSource.columnStatsMaps(entrySchema, n, leaves, statIds))
        }
    val manifestLen = writeAvro(conf, manifestPath, entrySchema, entries)

    val mlRecord = {
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", manifestPath.toString)
      r.put("manifest_length", manifestLen)
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", newSeq)
      r.put("min_sequence_number",
        (kept.map(_.seq) :+ newSeq).min)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", newFiles.size)
      r.put("existing_files_count", kept.size)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", newFiles.map(_._3).sum)
      r.put("existing_rows_count", kept.map(_.records).sum)
      r.put("deleted_rows_count", 0L)
      r
    }
    // delete manifests carry over ONLY while a kept (un-compacted) file
    // could still bind to them: position deletes bind to data sequences
    // <= their own, equality deletes strictly below — so a delete
    // manifest whose sequence number is BELOW every kept file's can
    // never affect any current or future file (rewritten/appended files
    // always take a higher sequence) and is retired here. A full
    // compaction (kept = ∅) therefore drops the delete machinery from
    // the snapshot entirely: post-compaction reads are plain scans with
    // no delete-file parquet reads and no anti-joins (the dangling
    // entries previously cost every reader that machinery until
    // snapshot expiry).
    val minKeptSeq: Long =
      if (kept.isEmpty) Long.MaxValue else kept.map(_.seq).min
    val deleteMls = IcebergSource.currentMlRecords(conf, root, meta)
      .filter(r => Option(r.get("content")).exists(_.asInstanceOf[Int] == 1))
      .filter(r => Option(r.get("sequence_number"))
        .exists(_.asInstanceOf[Long] >= minKeptSeq))
    val mlPath = new Path(metaDir(root), s"snap-$snapshotId-$commitUuid.avro")
    at.stage(mlPath)
    writeAvro(conf, mlPath, manifestFileSchema, mlRecord +: deleteMls)

    OptimisticCommit.Publish(patchMetadata(spark, root, meta, { node =>
        // compaction rewrites files under the CURRENT schema: recording
        // its id is what restores alias-free scans (full row-group
        // pushdown) for the compacted generation after a rename
        addSnapshot(node, meta, snapshotId, newSeq, "replace", mlPath)
        if (zorderBy.nonEmpty) {
          // record the clustering as the DEFAULT sort order (spec §Sort
          // Orders) — declarative metadata every engine can read, and
          // what a scheduler checks before re-running the compaction
          val idOf: Map[String, Int] = meta.schemaJson.get("fields")
            .elements().asScala.map(fd =>
              fd.get("name").asText() -> fd.get("id").asInt()).toMap
          val priorMax = Option(node.get("sort-orders")).toSeq
            .flatMap(_.elements().asScala)
            .map(_.get("order-id").asInt()).foldLeft(0)(math.max)
          val fieldsJs = zorderBy.map(c =>
            s"""{"transform":"identity","source-id":${idOf(c)},""" +
              s""""direction":"asc","null-order":"nulls-first"}""")
            .mkString(",")
          val orderJs =
            s"""{"order-id":${priorMax + 1},"fields":[$fieldsJs]}"""
          node.withArray("sort-orders").add(mapper.readTree(orderJs))
          node.put("default-sort-order-id", priorMax + 1)
        }
      }),
      OptimizeResult(Some(snapshotId), compacted.size, newFiles.size,
        bins.flatMap(_._2.map(sizeOf)).sum, newFiles.map(_._2).sum))
  }

  /**
   * Expire snapshots beyond the last `keepLast` (and/or older than
   * `olderThanMs`); the CURRENT snapshot always survives. Deletes the
   * expired snapshots' manifest lists, manifests and data files that no
   * retained snapshot references. `dryRun` lists without deleting.
   */
  /**
   * Roll the table's CURRENT pointer back to an earlier snapshot (the
   * Iceberg runtime's `rollback_to_snapshot`): ONE metadata commit
   * setting `current-snapshot-id` — no file moves, every snapshot stays
   * in history, so the rollback itself can be rolled forward again.
   * Readers see the older state immediately; [[expireSnapshots]] is
   * what later discards the rolled-past snapshots' files. Returns the
   * new metadata version (unchanged when already current).
   */
  def rollback(spark: SparkSession, root: String, snapshotId: Long): Long =
    metadataCommit(spark, root, "rollback") { meta =>
      require(meta.snapshots.exists(_.snapshotId == snapshotId),
        s"snapshot $snapshotId not in " +
          s"[${meta.snapshots.map(_.snapshotId).mkString(", ")}]")
      if (meta.currentSnapshotId.contains(snapshotId)) None
      else Some { node =>
        val now = System.currentTimeMillis()
        node.put("current-snapshot-id", snapshotId)
        node.put("last-updated-ms", now)
        if (node.has("snapshot-log")) {
          val logNode = mapper.createObjectNode()
          logNode.put("snapshot-id", snapshotId)
          logNode.put("timestamp-ms", now)
          node.withArray("snapshot-log").add(logNode)
          ()
        }
      }
    }

  /**
   * Set (or overwrite) table properties as a METADATA-ONLY commit (spec
   * §Table Metadata `properties`) — the declarative way to configure
   * behavior knobs like `write.metadata.previous-versions-max`, which
   * every subsequent commit then honors
   * ([[IcebergSource.enforceMetadataRetention]]). Returns the committed
   * metadata version; existing properties not named stay untouched.
   */
  def setProperties(spark: SparkSession, root: String,
                    props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties needs at least one property")
    // validate BEFORE the commit publishes: a bad retention value must
    // fail here, not throw after every later commit has already landed
    props.get("write.metadata.previous-versions-max").foreach { v =>
      val n = scala.util.Try(v.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"write.metadata.previous-versions-max must be an integer, got '$v'"))
      require(n >= 1,
        s"write.metadata.previous-versions-max must be >= 1, got $n")
    }
    metadataCommit(spark, root, "setProperties") { _ =>
      Some { node =>
        val p =
          if (node.has("properties"))
            node.get("properties")
              .asInstanceOf[ObjectNode]
          else node.putObject("properties")
        props.foreach { case (k, v) => p.put(k, v) }
        node.put("last-updated-ms", System.currentTimeMillis())
        ()
      }
    }
  }

  /** Navigate a schema struct node along `path` (CURRENT names, struct
    * chains only — not through list/map). Returns the FIELD nodes, one
    * per segment, or None when any segment is missing / non-struct. */
  private def fieldChain(schemaNode: JsonNode,
                         path: Seq[String]): Option[Seq[JsonNode]] = {
    def step(structNode: JsonNode, rest: Seq[String],
             acc: Seq[JsonNode]): Option[Seq[JsonNode]] = rest match {
      case Seq() => Some(acc)
      case head +: tail =>
        Option(structNode.get("fields")).toSeq
          .flatMap(_.elements().asScala)
          .find(_.get("name").asText() == head) match {
          case Some(f) =>
            val t = f.get("type")
            if (tail.isEmpty) Some(acc :+ f)
            else if (t.isObject && t.get("type").asText() == "struct")
              step(t, tail, acc :+ f)
            else None
          case None => None
        }
    }
    step(schemaNode, path, Nil)
  }

  /**
   * Metadata-only RENAME of a column — TOP-LEVEL (`from = "a"`) or a
   * NESTED struct member addressed by dot path (`from = "a.b.c"`; `to`
   * is the new LEAF name). Iceberg spec schema evolution: a new schema
   * entry with the SAME field ids under the new name,
   * `current-schema-id` bumped; no data file is touched, partition specs
   * reference source-ids and are unaffected. Readers resolve renamed
   * columns in old files through [[IcebergSource.historicalAliases]]
   * (top-level) / [[IcebergSource.nestedAliases]] (struct members) —
   * the retained schemas carry every former name. Refuses when the new
   * name is a former name of a DIFFERENT field under the same parent
   * (old files would become ambiguous without footer field ids), and a
   * NESTED rename additionally refuses when any ancestor struct was
   * itself renamed across the retained schemas (the read path cannot
   * resolve both generations by name; compact first).
   */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Long =
    metadataCommit(spark, root, "renameColumn") { meta =>
      require(!to.contains("."),
        s"'$to' must be a leaf name — a rename cannot move a field " +
          "between structs")
      val path = from.split("\\.").toSeq
      val chain = fieldChain(meta.schemaJson, path).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$from' in ${meta.schema.simpleString} " +
            "(nested paths navigate struct members only)"))
      val idPath = chain.map(_.get("id").asInt())
      val fromId = idPath.last
      // sibling collision in the CURRENT schema
      val siblings =
        if (path.size == 1) meta.schemaJson
        else chain(chain.size - 2).get("type")
      require(!Option(siblings.get("fields")).toSeq
          .flatMap(_.elements().asScala)
          .exists(_.get("name").asText() == to),
        s"column '${(path.init :+ to).mkString(".")}' already exists")
      // foreign former-name claim + ancestor stability, over ALL retained
      // schemas (walk by ID paths — ids never change across schemas)
      val histAll = meta.schemasJson.flatMap(s =>
        IcebergSource.walkStructFields(s).map { case (ip, np, t) =>
          (ip, np, t.toString) })
      val foreignClaim = histAll.exists { case (ip, np, _) =>
        ip.init == idPath.init && np.last == to && ip.last != fromId }
      require(!foreignClaim,
        s"'$to' was previously the name of a different field — renaming " +
          "onto it would make footer-id-less historical files ambiguous")
      if (path.size > 1) {
        val curNames = path
        idPath.indices.dropRight(1).foreach { i =>
          val prefix = idPath.take(i + 1)
          histAll.filter(_._1 == prefix).foreach { case (_, np, _) =>
            require(np == curNames.take(i + 1),
              s"ancestor '${np.mkString(".")}' of '$from' was itself " +
                "renamed across retained schemas — renaming a member too " +
                "would leave file generations name-based reads cannot " +
                "resolve; compact the old generation first")
          }
        }
      }
      // subtree stability: the renamed field's TYPE (its whole member
      // subtree, names included) must be identical across every retained
      // schema — renaming a struct AFTER one of its members was renamed
      // or dropped would trip the alias type guard on every later scan,
      // leaving the table unreadable with no recovery (the schemas
      // array, not the files, carries the history). The symmetric order
      // (struct first, member second) is refused by the ancestor guard
      // above; this closes the other direction, at any depth.
      val curType = chain.last.get("type").toString
      histAll.filter(_._1 == idPath).foreach { case (_, np, t) =>
        require(t == curType,
          s"'$from' (formerly '${np.mkString(".")}') has member evolution " +
            "history across retained schemas — renaming it now would make " +
            "pre-evolution file generations unreadable behind the alias " +
            "type guard; evolve members only AFTER renaming the struct")
      }
      Some(evolveSchema("renameColumn") { renamed =>
        fieldChain(renamed, path).getOrElse(
          throw new IllegalStateException(s"path $from vanished mid-patch"))
          .last.asInstanceOf[ObjectNode]
          .put("name", to)
      })
    }

  /**
   * Metadata-only DROP of a column — TOP-LEVEL (`name = "a"`) or a
   * NESTED struct member addressed by dot path (`name = "a.b.c"`).
   * Iceberg schema evolution: a new schema entry WITHOUT the field,
   * `current-schema-id` bumped; no file rewritten — readers simply stop
   * requesting the column (nested drops stop requesting the member
   * inside its parent struct), and time travel via retained snapshots'
   * schema history is unaffected. Refuses when a partition-spec field
   * sources the column or ANY id in its subtree (the spec would dangle),
   * on the last remaining top-level column, and on the last member of a
   * struct (parquet forbids empty groups). The dropped field's ids stay
   * burned: [[IcebergSource.write]]'s evolution guard keeps its former
   * names from being reclaimed by a different field.
   */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    metadataCommit(spark, root, "dropColumn") { meta =>
      val path = name.split("\\.").toSeq
      val chain = fieldChain(meta.schemaJson, path).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' in ${meta.schema.simpleString} " +
            "(nested paths navigate struct members only)"))
      val parentFields =
        (if (path.size == 1) meta.schemaJson
         else chain(chain.size - 2).get("type"))
          .get("fields").elements().asScala.size
      require(parentFields > 1,
        if (path.size == 1) s"cannot drop the last column '$name'"
        else s"cannot drop '$name' — it is the last member of its " +
          "struct (parquet forbids empty groups); drop the struct itself")
      // partition specs reference source-ids anywhere in the tree: a
      // dropped STRUCT takes its whole subtree's ids with it
      val droppedIds: Set[Int] = {
        def typeIds(t: JsonNode): Seq[Int] =
          if (!t.isObject) Nil
          else t.get("type").asText() match {
            case "struct" => Option(t.get("fields")).toSeq
              .flatMap(_.elements().asScala)
              .flatMap(f => f.get("id").asInt() +: typeIds(f.get("type")))
            case "list" => t.get("element-id").asInt() +:
              typeIds(t.get("element"))
            case "map" => Seq(t.get("key-id").asInt(),
              t.get("value-id").asInt()) ++
              typeIds(t.get("key")) ++ typeIds(t.get("value"))
            case _ => Nil
          }
        (chain.last.get("id").asInt() +: typeIds(chain.last.get("type"))).toSet
      }
      val dangling = meta.partitionSpec.filter(p => droppedIds.contains(p.sourceId))
      require(dangling.isEmpty,
        s"'$name' sources partition field(s) " +
          s"${dangling.map(_.name).mkString(", ")}" +
          " — drop would dangle the partition spec")
      Some(evolveSchema("dropColumn") { next =>
        val holder =
          if (path.size == 1) next
          else fieldChain(next, path.init).getOrElse(
            throw new IllegalStateException(s"path $name vanished mid-patch"))
            .last.get("type")
        val fields = holder.asInstanceOf[ObjectNode]
          .withArray("fields")
        val kept = fields.elements().asScala
          .filterNot(_.get("name").asText() == path.last).toSeq
        fields.removeAll()
        kept.foreach(fields.add)
      })
    }

  /** The metadata patch of a schema change (Iceberg spec v2 schema
    * evolution): a copy of the current schema, edited by `edit`, joins
    * the retained schemas under a fresh schema-id and becomes current. */
  private def evolveSchema(what: String)(edit: ObjectNode => Unit)
      : ObjectNode => Unit = { node =>
    require(node.has("schemas"),
      s"$what requires a metadata layout with a schemas array")
    val schemas = node.withArray("schemas")
    val curId = node.get("current-schema-id").asInt()
    val next = schemas.elements().asScala
      .find(_.get("schema-id").asInt() == curId)
      .getOrElse(throw new IllegalStateException(
        s"current-schema-id $curId not in schemas"))
      .deepCopy[ObjectNode]()
    val maxId = schemas.elements().asScala.map(_.get("schema-id").asInt()).max
    next.put("schema-id", maxId + 1)
    edit(next)
    schemas.add(next)
    node.put("current-schema-id", maxId + 1)
    node.put("last-updated-ms", System.currentTimeMillis())
    ()
  }

  def expireSnapshots(spark: SparkSession, root: String,
                      keepLast: Int = 1,
                      olderThanMs: Option[Long] = None,
                      dryRun: Boolean = false): ExpireResult = {
    val f = fs(spark, root)
    val res = OptimisticCommit.run("Iceberg expireSnapshots", f, root)(_ =>
      expirePlan(spark, root, keepLast, olderThanMs, dryRun))
    // reclaim storage only AFTER the patched metadata committed: a crash
    // between the two leaves harmless orphan files behind a valid table,
    // never metadata referencing deleted files (which would brick every
    // later read and re-expire)
    if (!dryRun) res.deletedFiles.foreach(p => f.delete(new Path(p), false))
    res
  }

  private def expirePlan(spark: SparkSession, root: String,
                         keepLast: Int, olderThanMs: Option[Long],
                         dryRun: Boolean): OptimisticCommit.Step[ExpireResult] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, root)
    val meta = tableMeta(spark, root)
    val ordered = meta.snapshots.sortBy(s => (s.timestampMs, s.snapshotId))
    // keep: the newest keepLast, anything at/after the cutoff (when one
    // is given), and always the current snapshot
    val keepSet: Set[Long] = (ordered.takeRight(keepLast).map(_.snapshotId) ++
      ordered.filter(s => olderThanMs.exists(s.timestampMs >= _)).map(_.snapshotId) ++
      meta.currentSnapshotId.toSeq).toSet
    val expired = ordered.filterNot(s => keepSet.contains(s.snapshotId))
    if (expired.isEmpty) return OptimisticCommit.Finish(ExpireResult(Nil, Nil, dryRun))

    // file references per snapshot (manifest list + manifests + data).
    // RETAINED snapshots read strictly (an unreadable manifest there is
    // real corruption and must not silently shrink the keep set, which
    // would delete still-needed files); EXPIRED snapshots read
    // tolerantly — a snapshot whose files a previous crashed/legacy run
    // already reclaimed simply contributes nothing to the doom list.
    def refs(s: SnapshotInfo, tolerant: Boolean): Set[String] =
      try {
        val (d, p, e) = snapshotFiles(spark, root, s, meta)
        (d ++ p ++ e).map(_.path).toSet ++
          s.manifestList.map(absolutize(root, _)).toSet ++
          s.manifestList.toSeq.flatMap(ml =>
            readManifestPaths(spark, root, ml))
      } catch {
        case _: Exception if tolerant =>
          s.manifestList.map(absolutize(root, _)).toSet
            .filter(p => f.exists(new Path(p)))
      }
    val retained = ordered.filter(s => keepSet.contains(s.snapshotId))
    val keepFiles = retained.flatMap(refs(_, tolerant = false)).toSet
    val doomed = expired.flatMap(refs(_, tolerant = true)).toSet -- keepFiles

    val result = ExpireResult(expired.map(_.snapshotId), doomed.toSeq.sorted, dryRun)
    if (dryRun) OptimisticCommit.Finish(result)
    else OptimisticCommit.Publish(patchMetadata(spark, root, meta, { node =>
        val snaps = node.withArray("snapshots")
        val keptNodes = snaps.elements().asScala.filter(s =>
          keepSet.contains(s.get("snapshot-id").asLong())).toSeq
        snaps.removeAll()
        keptNodes.foreach(snaps.add)
        if (node.has("snapshot-log")) {
          val log = node.withArray("snapshot-log")
          val keptLog = log.elements().asScala.filter(s =>
            keepSet.contains(s.get("snapshot-id").asLong())).toSeq
          log.removeAll()
          keptLog.foreach(log.add)
        }
      }), result)
  }

  /**
   * Historical-metadata retention — the spec's
   * `write.metadata.previous-versions-max` behavior (Iceberg table spec,
   * "Table Metadata", delete-after-commit): keep the newest `keepLast`
   * version-named `vN.metadata.json` files (the CURRENT one always
   * survives — deletion is bounded by `current - keepLast`, so files a
   * concurrent commit lands ABOVE current are never touched) and delete
   * older ones. Without this, a commit-per-minute table accumulates half
   * a million driver-listed metadata files per year.
   *
   * What this does NOT touch: snapshots, manifests and data files
   * ([[expireSnapshots]] owns those — snapshot history lives in the
   * CURRENT metadata and is fully preserved), non-version-named metadata
   * files (foreign layouts are left alone), `version-hint.text` (it is
   * advisory; [[IcebergSource.latestMetadata]] falls back to a directory
   * scan when the hint points at a deleted file). Streaming bases and
   * cursors pin SNAPSHOT ids, which resolve from the current metadata —
   * retiring historical metadata files cannot strand a stream. The one
   * capability spent is time travel via `metadataLocation` to a retired
   * version, which fails loudly on the missing file.
   */
  def cleanupMetadata(spark: SparkSession, root: String,
                      keepLast: Int = 100,
                      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, root)
    val versioned = "v(\\d+)\\.metadata\\.json".r
    // resolve the CURRENT version the way readers do (hint + forward
    // probe, else directory scan) — never key retention on a stale hint
    val curV = latestMetadata(f, root).getName match {
      case versioned(v) => v.toLong
      case _ => return Nil // foreign layout: no version-named chain here
    }
    val olds = f.listStatus(metaDir(root)).toSeq.map(_.getPath)
      .flatMap(p => p.getName match {
        case versioned(v) => Some((v.toLong, p))
        case _ => None
      })
      .filter { case (v, _) => v <= curV - keepLast }
      .sortBy(_._1)
    if (!dryRun) olds.foreach { case (_, p) => f.delete(p, false) }
    olds.map(_._2.toString)
  }

  /** manifest paths referenced by a manifest list */
  private def readManifestPaths(spark: SparkSession, root: String,
                                manifestList: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = new org.apache.avro.file.DataFileReader[GenericRecord](
      new org.apache.avro.mapred.FsInput(
        new Path(absolutize(root, manifestList)), conf),
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.map(r =>
      absolutize(root, r.get("manifest_path").toString)).toVector
    finally reader.close()
  }
}
