package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType,
  LongType, MapType, StringType, StructField, StructType, TimestampType}

import scala.jdk.CollectionConverters._

/**
 * Native read-only Delta Lake table reader, built directly on the PUBLIC
 * Delta transaction-log protocol (delta.io PROTOCOL.md) — no delta-spark
 * jar (absent in this environment). Covers the reference's Delta read
 * surface: plain reads, `versionAsOf` / `timestampAsOf` time travel
 * (reference odibi/config.py:1355-1390, spark_engine.py:540-545) and the
 * snapshot diff that `detect_deletes` consumes. Writes stay on
 * [[VersionedTable]]; a user pointing the engine at an EXISTING
 * `_delta_log` table now gets real data back.
 *
 * Protocol subset implemented:
 *   - commit files `_delta_log/%020d.json` (newline-delimited JSON actions)
 *   - single-part checkpoints `%020d.checkpoint.parquet` and multi-part
 *     `%020d.checkpoint.%010d.%010d.parquet` (replay starts from the
 *     newest complete checkpoint at or before the target version)
 *   - actions: `metaData` (schemaString = Spark StructType JSON,
 *     partitionColumns, configuration), `protocol`, `add`, `remove`,
 *     `txn` (the streaming sink's watermark), `cdc` (the change feed) and
 *     `commitInfo` (the commit timestamp, for timestampAsOf, the change
 *     feed and history)
 *   - state reconstruction: newest metaData/protocol win; an `add` of a
 *     path supersedes earlier adds; a `remove` drops the path
 *   - partition values: `add.partitionValues` strings cast to the table
 *     schema (files of a partitioned table do not store those columns)
 *
 * Deletion vectors ARE supported on the read path (see
 * [[DeletionVectors]]): files whose `add` carries a DV are scanned with
 * `_metadata.row_index` and the deleted positions are dropped by an
 * anti-join (DV payloads decode on executors). Column mapping modes
 * `name` AND `id` are supported: per the protocol both modes store data
 * under each field's `delta.columnMapping.physicalName` (id mode adds
 * parquet field ids on top of the same physical names), so the scan uses
 * the physical schema (recursively, nested struct fields included) and
 * the result is renamed back to logical names — nested renames via a
 * positional struct cast, which is a pure rename because the types are
 * identical. `add.partitionValues` keys are physical names under mapping,
 * logical otherwise; the reader accepts either. Fails fast (never
 * silently mis-reads) on tables requiring features this reader does not
 * implement: unknown reader features at protocol v3+. Checkpoints load
 * in all three layouts — classic single-file, multi-part, and V2
 * (uuid-named json/parquet with sidecar file actions).
 *
 * This object is the one reader of `_delta_log`: the listing, the
 * checkpoint completeness rules, the decoding of each commit file into a
 * typed [[Commit]] (once, cached) and the CDF change-item order
 * ([[changeItems]]). Snapshot replay, time travel, the change feed, the
 * streaming source ([[DeltaStreamSource]]) and `history` / `cleanupLogs`
 * ([[DeltaMaintenance]]) all read the log through it.
 *
 * Scale: log replay is driver-side metadata work — the same model every
 * Delta implementation uses (the active-file list must reach the planner
 * anyway), and it is incremental. [[snapshot]] lists `_delta_log` once
 * per call (so "latest" never misses a commit), starts from the newest
 * cached snapshot of the table at or below the target and replays only
 * the commits after it. The cache is a 16-entry LRU keyed on (qualified
 * root, version); an entry serves only while the listing shows its
 * commit file with the recorded (mtime, length) — commit files are
 * write-once, so anything else means the table was re-created at that
 * path. With no usable base, or when a commit after it has been cleaned
 * up, the load falls back to the newest checkpoint, read in one Spark
 * job with the fixed [[CheckpointSchema]]. The DATA path is one parquet
 * scan over the active files; for partitioned tables the partition
 * values ride the scan as per-file constant columns ([[MetaScan]]), so
 * 100 TB of data still moves through a single columnar scan with
 * pushdown intact.
 */
object DeltaLog {

  final case class AddFile(path: String, partitionValues: Map[String, Option[String]],
                           size: Long, modificationTime: Long,
                           deletionVector: Option[DeletionVectors.Descriptor] = None,
                           stats: Option[String] = None,
                           dataChange: Boolean = true) {
    /** `stats.numRecords` when recorded. With `tightBounds=false` (a
      * DV-carrying add) this is the PHYSICAL row count of the parquet
      * file; with tight bounds it equals the physical count too (a file
      * only diverges logically once a DV exists, and the DV writer
      * re-stamps non-tight stats then) — so either way it is the footer
      * row count, usable without re-reading the footer. */
    def numRecords: Option[Long] =
      stats.flatMap { s =>
        val n = mapper.readTree(s)
        Option(n.get("numRecords")).filterNot(_.isNull).map(_.asLong())
      }
  }

  final case class Snapshot(version: Long, schema: StructType,
                            partitionColumns: Seq[String],
                            configuration: Map[String, String],
                            files: Seq[AddFile],
                            tableId: Option[String] = None,
                            transactions: Map[String, Long] = Map.empty,
                            minReaderVersion: Int = 1,
                            minWriterVersion: Int = 2,
                            readerFeatures: Set[String] = Set.empty,
                            writerFeatures: Set[String] = Set.empty)

  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def logDir(root: String) = new Path(root, "_delta_log")

  /** Where V2 checkpoints keep their sidecar files. */
  private[sources] def sidecarDir(root: String) = new Path(logDir(root), "_sidecars")

  /** True when `root/_delta_log` exists with at least one commit. */
  def isDeltaTable(spark: SparkSession, root: String): Boolean =
    listLog(fs(spark, root), root).commits.nonEmpty

  private def commitVersion(name: String): Option[Long] =
    if (name.length == 25 && name.endsWith(".json") && name.take(20).forall(_.isDigit))
      Some(name.take(20).toLong)
    else None

  private[sources] sealed trait CheckpointKind
  private case object Classic extends CheckpointKind
  private final case class MultiPart(part: Int, of: Int) extends CheckpointKind
  /** UUID-named V2 checkpoint (file actions may live in sidecars). */
  private[sources] case object V2 extends CheckpointKind

  // %020d.checkpoint.parquet | %020d.checkpoint.%010d.%010d.parquet |
  // %020d.checkpoint.<uuid>.parquet|json  (the v2Checkpoint naming)
  private def checkpointVersion(name: String): Option[(Long, CheckpointKind)] = {
    val single = "^(\\d{20})\\.checkpoint\\.parquet$".r
    val multi = "^(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet$".r
    val v2 = "^(\\d{20})\\.checkpoint\\.([A-Za-z0-9][A-Za-z0-9-]*)\\.(parquet|json)$".r
    name match {
      case single(v) => Some((v.toLong, Classic))
      case multi(v, part, of) => Some((v.toLong, MultiPart(part.toInt, of.toInt)))
      case v2(v, _, _) => Some((v.toLong, V2))
      case _ => None
    }
  }

  /** A complete checkpoint: every part present, in part order. `v2`
    * marks a UUID-named one (json or parquet), whose file actions may
    * live in sidecars. */
  private[sources] final case class Checkpoint(version: Long, parts: Seq[FileStatus],
                                               v2: Boolean)

  /** One listing of `_delta_log`: each commit file's status by version
    * (ascending) and every checkpoint file. [[snapshot]] resolves
    * "latest", validates its cached base and picks a checkpoint from
    * this one view of the log; `cleanupLogs` keys retention on it. */
  private[sources] final case class LogListing(
      commits: Seq[(Long, FileStatus)],
      checkpointFiles: Seq[(Long, CheckpointKind, FileStatus)]) {
    def versions: Seq[Long] = commits.map(_._1)
    lazy val commitStatus: Map[Long, FileStatus] = commits.toMap

    /** The complete checkpoints, newest first. Per version a classic
      * single file wins, then a V2 file, then a multi-part set with
      * every part present; a torn multi-part set is skipped. */
    lazy val checkpoints: Seq[Checkpoint] =
      checkpointFiles.groupBy(_._1).toSeq.sortBy(-_._1).flatMap { case (v, entries) =>
        entries.collectFirst { case (_, Classic, s) => Checkpoint(v, Seq(s), v2 = false) }
          .orElse(entries.collectFirst { case (_, V2, s) => Checkpoint(v, Seq(s), v2 = true) })
          .orElse {
            val multi = entries.collect { case (_, MultiPart(p, of), s) => (p, of, s) }
            multi.map(_._2).distinct match {
              case Seq(of) if multi.map(_._1).sorted == (1 to of) =>
                Some(Checkpoint(v, multi.sortBy(_._1).map(_._3), v2 = false))
              case _ => None
            }
          }
      }
  }

  private[sources] def listLog(f: FileSystem, root: String): LogListing = {
    val statuses = if (!f.exists(logDir(root))) Seq.empty[FileStatus]
      else f.listStatus(logDir(root)).toSeq
    LogListing(
      statuses.flatMap(s => commitVersion(s.getPath.getName).map(_ -> s)).sortBy(_._1),
      statuses.flatMap(s => checkpointVersion(s.getPath.getName).map { case (v, kind) =>
        (v, kind, s)
      }))
  }

  /** Committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    listLog(fs(spark, root), root).versions

  /**
   * The checkpoint parquet schema, the one definition behind the writer
   * ([[DeltaWriter.writeCheckpoint]]) and the reader ([[loadCheckpoint]]):
   * the protocol's action structs, restricted to the fields graft writes
   * and reads. Reading with it instead of inferring saves a footer-scan
   * job per cold load; fields a foreign checkpoint lacks read as null and
   * fields it adds are not read.
   */
  private[sources] object CheckpointSchema {
    private val protocol = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    private val format = StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))
    private val metaData = StructType(Seq(
      StructField("id", StringType),
      StructField("format", format),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    private val deletionVector = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    private val add = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", deletionVector),
      StructField("stats", StringType)))
    private val txn = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    private val sidecar = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    private val checkpointMetadata = StructType(Seq(StructField("version", LongType)))
    private val actions = StructType(Seq(
      StructField("protocol", protocol), StructField("metaData", metaData),
      StructField("add", add), StructField("txn", txn),
      StructField("sidecar", sidecar),
      StructField("checkpointMetadata", checkpointMetadata)))

    /** The action columns `names`, in that order (rows are positional). */
    def apply(names: String*): StructType = StructType(names.map(actions(_)))
  }

  /** add.path is an RFC 2396 URL-encoded path, relative to the table root
    * (absolute URIs appear in shallow clones — passed through). */
  private[sources] def decodePath(raw: String): String =
    try new java.net.URI(raw).getPath match {
      case null | "" => raw
      case p => if (raw.contains("://")) raw else p
    } catch { case _: java.net.URISyntaxException => raw }

  private[sources] def absolutize(root: String, raw: String): String = {
    val decoded = decodePath(raw)
    if (raw.contains("://") || decoded.startsWith("/")) decoded
    else s"${root.stripSuffix("/")}/$decoded"
  }

  // ------------------------------------------------------ commit decoding

  /** A `metaData` action. */
  private[sources] final case class MetaData(id: Option[String], schema: StructType,
                                             partitionColumns: Seq[String],
                                             configuration: Map[String, String])

  /** A `protocol` action. */
  private[sources] final case class Protocol(minReader: Int, minWriter: Int,
                                             readerFeatures: Set[String],
                                             writerFeatures: Set[String])

  /**
   * One commit file, decoded once ([[commitCache]]). `timestamp` is the
   * commit's time for time travel, the change feed and `history`: the
   * largest `commitInfo.timestamp`, else the file's mtime.
   * `fileActions` are the add, remove and cdc actions in log order, as
   * (kind, [[AddFile]]) with each file's `dataChange`; a remove's size,
   * partition values and deletion vector are whatever the log records
   * (often none).
   */
  private[sources] final case class Commit(version: Long, timestamp: Long,
                                           operation: Option[String],
                                           operationParameters: Option[String],
                                           engineInfo: Option[String],
                                           metaData: Option[MetaData],
                                           protocol: Option[Protocol],
                                           txns: Seq[(String, Long)],
                                           fileActions: Seq[(String, AddFile)]) {
    lazy val adds: Seq[AddFile] = filesOf("add")
    lazy val removes: Seq[AddFile] = filesOf("remove")
    lazy val cdc: Seq[AddFile] = filesOf("cdc")
    private def filesOf(kind: String) = fileActions.collect { case (`kind`, a) => a }
  }

  private def field(n: JsonNode, k: String): Option[JsonNode] =
    Option(n.get(k)).filterNot(_.isNull)

  private def strings(n: JsonNode, k: String): Seq[String] =
    field(n, k).toSeq.flatMap(_.elements().asScala).map(_.asText())

  private def decodeFile(a: JsonNode): AddFile = {
    def long(k: String) = field(a, k).map(_.asLong()).getOrElse(0L)
    AddFile(a.get("path").asText(),
      field(a, "partitionValues").map(_.properties().asScala.map { e =>
        e.getKey -> Some(e.getValue).filterNot(_.isNull).map(_.asText())
      }.toMap).getOrElse(Map.empty),
      long("size"), long("modificationTime"),
      field(a, "deletionVector").map(d => DeletionVectors.Descriptor(
        d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
        field(d, "offset").map(_.asInt()), d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong())),
      field(a, "stats").map(_.asText()).filter(_.nonEmpty),
      field(a, "dataChange").forall(_.asBoolean(true)))
  }

  /** The actions `nodes` (one JSON object each) as version `version`'s
    * [[Commit]]; `mtime` stands in for a missing commit timestamp. */
  private def decode(version: Long, nodes: Seq[JsonNode], mtime: Long): Commit = {
    def actions(kind: String) = nodes.flatMap(field(_, kind))
    val infos = actions("commitInfo")
    def info(k: String) = infos.flatMap(field(_, k)).lastOption
    Commit(version,
      infos.flatMap(field(_, "timestamp")).map(_.asLong()).maxOption.filter(_ > 0)
        .getOrElse(mtime),
      info("operation").map(_.asText()), info("operationParameters").map(_.toString),
      info("engineInfo").map(_.asText()),
      actions("metaData").lastOption.map(m => MetaData(field(m, "id").map(_.asText()),
        DataType.fromJson(m.get("schemaString").asText()).asInstanceOf[StructType],
        strings(m, "partitionColumns"),
        field(m, "configuration").map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))),
      actions("protocol").lastOption.map(p => Protocol(
        field(p, "minReaderVersion").map(_.asInt()).getOrElse(1),
        field(p, "minWriterVersion").map(_.asInt()).getOrElse(2),
        strings(p, "readerFeatures").toSet, strings(p, "writerFeatures").toSet)),
      actions("txn").map(t => t.get("appId").asText() -> t.get("version").asLong()),
      nodes.flatMap(n => Seq("add", "remove", "cdc")
        .flatMap(kind => field(n, kind).map(a => kind -> decodeFile(a)))))
  }

  private def readNodes(f: FileSystem, p: Path): Seq[JsonNode] = {
    val in = f.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map(mapper.readTree).toVector
  }

  /** Bounded LRU of decoded commits. Delta commit files (vN.json) are
    * WRITE-ONCE — the commit claim is an atomic create and nothing ever
    * rewrites one — so a (path, mtime, length) key can never serve stale
    * content, and the status each hit needs (a listing's, or one
    * getFileStatus) preserves log-retention semantics (a vacuumed commit
    * misses the cache and fails like an uncached read). Snapshot replay,
    * time-travel timestamp resolution, CDF ranges, the streaming source
    * and `history` share it. Callers only read the commits. */
  private val commitCacheMax = 64
  private val commitCache =
    new java.util.LinkedHashMap[(String, Long, Long), Commit](
      commitCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Commit]): Boolean =
        size() > commitCacheMax
    }

  /** Version `version`'s commit from its file's status — a `_delta_log`
    * listing carries every commit's, so replay pays no round trip. */
  private def commitAt(f: FileSystem, version: Long, st: FileStatus): Commit = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    commitCache.synchronized {
      val hit = commitCache.get(key)
      if (hit != null) return hit
    }
    val c = decode(version, readNodes(f, st.getPath), st.getModificationTime)
    commitCache.synchronized { commitCache.put(key, c); () }
    c
  }

  /** Version `version`'s commit: one status call, no listing. */
  private[sources] def commit(spark: SparkSession, root: String, version: Long): Commit = {
    val f = fs(spark, root)
    commitAt(f, version, f.getFileStatus(new Path(logDir(root), f"$version%020d.json")))
  }

  /** Every commit of one listing of the log, ascending. */
  private[sources] def commits(spark: SparkSession, root: String): Seq[Commit] = {
    val f = fs(spark, root)
    listLog(f, root).commits.map { case (v, st) => commitAt(f, v, st) }
  }

  // ------------------------------------------------------ state replay

  private val supportedReaderFeatures =
    Set("timestampNtz", "columnMapping", "deletionVectors", "v2Checkpoint")

  private final class State {
    var meta: MetaData = _
    // retained on the snapshot: a feature-upgrading writer (the DV
    // delete) must MERGE the table's existing features, never clobber
    var protocol = Protocol(1, 2, Set.empty, Set.empty)
    val files = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    // txn (SetTransaction) actions: the streaming sink's exactly-once
    // watermark — highest committed version per appId
    val txns = scala.collection.mutable.HashMap[String, Long]()

    /** Newest metaData/protocol win; file actions apply in log order,
      * so a remove and re-add of one path — a deletion-vector update —
      * leaves the new add. */
    def apply(c: Commit): Unit = {
      c.metaData.foreach { m =>
        val mapping = m.configuration.getOrElse("delta.columnMapping.mode", "none")
        require(Set("none", "name", "id").contains(mapping),
          s"unsupported Delta column mapping mode '$mapping'")
        meta = m
      }
      c.protocol.foreach { p =>
        if (p.minReader >= 3) {
          val unknown = p.readerFeatures -- supportedReaderFeatures
          require(unknown.isEmpty,
            s"unsupported Delta reader features: ${unknown.mkString(", ")}")
        } else require(p.minReader <= 2,
          s"unsupported Delta minReaderVersion ${p.minReader}")
        protocol = p
      }
      c.fileActions.foreach {
        case ("add", a) => files.update(a.path, a)
        case ("remove", r) => files.remove(r.path)
        case _ => () // cdc files are change data, not table state
      }
      c.txns.foreach { case (app, v) =>
        txns.update(app, math.max(txns.getOrElse(app, Long.MinValue), v))
      }
    }

    /** Resume from a reconstructed snapshot: the cached base that the
      * commits after it replay onto. */
    def seed(s: Snapshot): Unit = {
      meta = MetaData(s.tableId, s.schema, s.partitionColumns, s.configuration)
      protocol = Protocol(s.minReaderVersion, s.minWriterVersion,
        s.readerFeatures, s.writerFeatures)
      s.files.foreach(a => files.update(a.path, a))
      txns ++= s.transactions
    }

    def snapshot(version: Long): Snapshot =
      Snapshot(version, meta.schema, meta.partitionColumns, meta.configuration,
        files.values.toVector, meta.id, txns.toMap, protocol.minReader,
        protocol.minWriter, protocol.readerFeatures, protocol.writerFeatures)
  }

  /** A V2 checkpoint's sidecar path: bare names live under
    * `_delta_log/_sidecars/`, absolute URIs pass through. */
  private def sidecarOf(root: String, action: JsonNode): Option[Path] =
    field(action, "sidecar").map(_.get("path").asText()).map { p =>
      if (p.contains(":/") || p.startsWith("/")) new Path(p)
      else new Path(sidecarDir(root), p)
    }

  /** The action rows of checkpoint or sidecar parquet files, one JSON
    * object each (null action classes omitted): ONE scan + collect for
    * every class, with the fixed [[CheckpointSchema]] — the files are
    * planned from their known statuses without a footer read. */
  private def parquetActions(spark: SparkSession,
                             files: Seq[MetaScan.KnownFile]): Iterator[JsonNode] = {
    val classes = Seq("metaData", "protocol", "add", "txn", "sidecar")
    MetaScan.parquetScan(spark, CheckpointSchema(classes: _*), files)
      .select(to_json(struct(classes.map(col): _*))).collect().iterator
      .map(r => mapper.readTree(r.getString(0)))
  }

  /** A checkpoint's actions: a json-format V2 checkpoint's lines, else
    * its parquet parts' rows. */
  private def checkpointActions(spark: SparkSession, root: String,
                                parts: Seq[FileStatus]): Iterator[JsonNode] =
    if (parts.head.getPath.getName.endsWith(".json"))
      readNodes(fs(spark, root), parts.head.getPath).iterator
    else parquetActions(spark,
      parts.map(s => MetaScan.KnownFile(s.getPath.toString, s.getLen, s.getModificationTime)))

  /** The sidecar files the V2 checkpoint file `st` references. */
  private[sources] def sidecars(spark: SparkSession, root: String,
                                st: FileStatus): Seq[Path] =
    checkpointActions(spark, root, Seq(st)).flatMap(sidecarOf(root, _)).toVector

  /** Load `cp` into `state`, then the sidecars it references, all of them
    * in ONE scan (per-file reads cost one driver round trip each; sizes
    * come from the files, not from `sidecar.sizeInBytes`). Checkpoints
    * hold the already-reconciled state: their remove actions are vacuum
    * tombstones, not state. */
  private def loadCheckpoint(spark: SparkSession, state: State, root: String,
                             cp: Checkpoint): Unit = {
    def load(actions: Iterator[JsonNode]): Seq[Path] =
      actions.filterNot(_.has("remove")).flatMap { n =>
        state.apply(decode(cp.version, Seq(n), 0L))
        sidecarOf(root, n)
      }.toVector
    val sidecars = load(checkpointActions(spark, root, cp.parts))
    if (sidecars.nonEmpty)
      load(parquetActions(spark, sidecars.map(p => MetaScan.KnownFile(p.toString, 0L))))
  }

  /** Bounded LRU of reconstructed snapshots, keyed (qualified table
    * root, version), each with its commit file's (mtime, length). A
    * snapshot at version v is a pure function of the commits 0..v, which
    * are WRITE-ONCE (the same invariant as [[commitCache]]) — but a table
    * deleted and re-created at the same path rewrites them, so an entry
    * serves only while the listing still shows its commit file with the
    * recorded (mtime, length); any other entry is dropped on sight. 16
    * entries cover the working set of a few tables that a writer, a
    * reader and a stream touch at neighbouring versions; neighbouring
    * entries share their [[AddFile]]s, so an entry beyond the first
    * costs one pointer per live file. */
  private val snapshotCacheMax = 16
  private final case class CachedSnapshot(snap: Snapshot, commitMtime: Long,
                                          commitLen: Long) {
    def matches(st: FileStatus): Boolean =
      st.getModificationTime == commitMtime && st.getLen == commitLen
  }
  private val snapshotCache =
    new java.util.LinkedHashMap[(String, Long), CachedSnapshot](
      snapshotCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), CachedSnapshot]): Boolean =
        size() > snapshotCacheMax
    }

  /** The newest valid cached snapshot of `table` at or below `target`
    * whose later commits up to `target` are all still in the log. */
  private def cachedBase(table: String, log: LogListing,
                         target: Long): Option[Snapshot] =
    snapshotCache.synchronized {
      val mine = snapshotCache.asScala.toSeq.collect {
        case ((t, v), c) if t == table => (v, c)
      }
      val (valid, stale) =
        mine.partition { case (v, c) => log.commitStatus.get(v).exists(c.matches) }
      stale.foreach { case (v, _) => snapshotCache.remove((table, v)) }
      val base = valid.filter(_._1 <= target).maxByOption(_._1)
      base.foreach { case (v, _) => snapshotCache.get((table, v)) } // LRU touch
      base.map(_._2.snap)
        .filter(b => (b.version + 1 to target).forall(log.commitStatus.contains))
    }

  /** Reconstruct table state at `versionAsOf` / `timestampAsOfMs` /
    * latest. timestampAsOf picks the newest version whose commit
    * timestamp ([[Commit]]`.timestamp`) is <= the requested instant —
    * the Delta time-travel contract.
    *
    * Incremental: one listing of `_delta_log` resolves the target (a new
    * commit is never missed), then the newest cached snapshot at or below
    * it is the base and only the commits after it replay. The checkpoint
    * is read only with no cached base, or when a commit after the base
    * has been cleaned up. */
  def snapshot(spark: SparkSession, root: String,
               versionAsOf: Option[Long] = None,
               timestampAsOfMs: Option[Long] = None): Snapshot = {
    val f = fs(spark, root)
    val log = listLog(f, root)
    val vs = log.versions
    require(vs.nonEmpty, s"$root is not a Delta table (no _delta_log commits)")
    def commitOf(v: Long) = commitAt(f, v, log.commitStatus(v))
    val target = (versionAsOf, timestampAsOfMs) match {
      case (Some(v), _) =>
        require(log.commitStatus.contains(v),
          s"version $v not in Delta log [${vs.head}..${vs.last}]")
        v
      case (None, Some(ts)) =>
        val eligible = vs.filter(v => commitOf(v).timestamp <= ts)
        require(eligible.nonEmpty,
          s"no Delta commit at or before timestamp $ts (earliest is version ${vs.head})")
        eligible.last
      case _ => vs.last
    }
    val table = f.makeQualified(new Path(root)).toString
    val base = cachedBase(table, log, target)
    if (base.exists(_.version == target)) return base.get
    val state = new State
    val replayFrom = base match {
      case Some(b) =>
        state.seed(b)
        b.version + 1
      case None =>
        val cp = log.checkpoints.find(_.version <= target)
        cp.foreach(loadCheckpoint(spark, state, root, _))
        cp.map(_.version + 1).getOrElse(0L)
    }
    // aged-out commits (log retention cleanup) are only safe to skip when
    // a checkpoint covers them; replaying a partial suffix would silently
    // drop the oldest files
    require(vs.head <= replayFrom,
      s"Delta log at $root starts at version ${vs.head} with no checkpoint " +
        s"covering versions 0..${vs.head - 1} — state cannot be reconstructed")
    val toReplay = vs.filter(v => v >= replayFrom && v <= target)
    require(toReplay == (replayFrom to target),
      s"Delta log at $root has gaps in versions $replayFrom..$target")
    toReplay.foreach(v => state.apply(commitOf(v)))
    require(state.meta != null,
      s"Delta log at $root yields no metaData action up to version $target")
    val snap = state.snapshot(target)
    val st = log.commitStatus(target)
    snapshotCache.synchronized {
      snapshotCache.put((table, target),
        CachedSnapshot(snap, st.getModificationTime, st.getLen))
    }
    snap
  }

  /** `delta.columnMapping.physicalName` when present (mapping modes
    * `name`/`id` set it on EVERY field), else the logical name. */
  private[sources] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Logical schema → the schema as written in the data files: every
    * (nested) field renamed to its physicalName, metadata dropped. */
  private[sources] def toPhysical(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physicalName(f), toPhysical(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = toPhysical(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = toPhysical(m.keyType), valueType = toPhysical(m.valueType))
    case other => other
  }

  /** Logical names kept, column-mapping metadata dropped — the cast
    * target that renames physical nested fields back to logical. */
  private[sources] def stripMeta(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, stripMeta(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = stripMeta(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = stripMeta(m.keyType), valueType = stripMeta(m.valueType))
    case other => other
  }

  /**
   * Read the table at a version/timestamp. One parquet scan over the
   * active files (pushdown and pruning intact); partitioned tables carry
   * their partition values as per-file constants of the scan — partition
   * columns are NOT stored in Delta data files.
   * `partitionFilter` prunes FILES driver-side before the scan touches
   * parquet (equality on partition-column values, the replaceWhere
   * scoping shape): a day/region load over a 100 TB partitioned table
   * must list one partition's files, not filter post-scan.
   */
  def read(spark: SparkSession, root: String,
           versionAsOf: Option[Long] = None,
           timestampAsOfMs: Option[Long] = None,
           partitionFilter: Map[String, String] = Map.empty,
           dataFilter: Option[Column] = None): DataFrame = {
    val snap1 = inPartitions(snapshot(spark, root, versionAsOf, timestampAsOfMs),
      partitionFilter)
    // stats-based data skipping: drop files whose min/max/nullCount prove
    // no row can match, then RE-APPLY the predicate on the scan so
    // correctness never depends on the prune (and Spark still pushes it
    // into the parquet reader for page-level skipping)
    val snap = dataFilter match {
      case Some(f) => snap1.copy(files = DeltaStats.prune(spark, snap1, f).files)
      case None => snap1
    }
    dataFilter.foldLeft(frameOf(spark, root, snap))((df, f) => df.filter(f))
  }

  /** Logical column name -> physical (column-mapped tables key
    * partitionValues and parquet columns by physical name). */
  private[sources] def physicalNames(snap: Snapshot): Map[String, String] =
    snap.schema.fields.map(f => f.name -> physicalName(f)).toMap

  /** `snap` narrowed to the files inside `partitionFilter` (logical
    * partition column -> value). */
  private[sources] def inPartitions(snap: Snapshot,
                                    partitionFilter: Map[String, String]): Snapshot =
    if (partitionFilter.isEmpty) snap else {
      val unknown = partitionFilter.keySet -- snap.partitionColumns.toSet
      require(unknown.isEmpty,
        s"partitionFilter keys $unknown are not partition columns " +
          s"${snap.partitionColumns}")
      val physOf = physicalNames(snap)
      snap.copy(files = snap.files.filter(inPartition(_, partitionFilter, physOf)))
    }

  /** Whether `a` lies inside `partitionFilter`; partitionValues are keyed
    * by physical names under column mapping (`physOf`), by logical names
    * in loosely-written logs. */
  private[sources] def inPartition(a: AddFile, partitionFilter: Map[String, String],
                                   physOf: Map[String, String]): Boolean =
    partitionFilter.forall { case (k, v) => partitionValue(a, k, physOf).contains(v) }

  private def partitionValue(a: AddFile, c: String,
                             physOf: Map[String, String]): Option[String] =
    a.partitionValues.get(physOf.getOrElse(c, c)).orElse(a.partitionValues.get(c)).flatten

  /**
   * The DataFrame of exactly `snap.files` — the building block behind
   * [[read]] and the streaming source's per-batch frames.
   */
  private[sources] def frameOf(spark: SparkSession, root: String,
                               snap: Snapshot): DataFrame =
    if (snap.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], stripMeta(snap.schema).asInstanceOf[StructType])
    else scanFiles(spark, root, snap, snap.files.map((_, Nil)))

  /**
   * One parquet scan over `files` of `snap`'s table (physical schema
   * under column mapping, renamed back), each file paired with its
   * values for the extra `constants` columns. Per-file constants of the
   * scan ([[MetaScan]]) carry `_gf_file` — the path exactly as the log
   * records it, unique within a snapshot — and the partition values
   * (Delta does not store them in data files), cast from the log's
   * strings to the declared types. Deletion vectors drop their rows by
   * an anti-join on (`_gf_file`, `_metadata.row_index`).
   *
   * Output: the logical table columns, then `dataExtra` (columns the
   * files themselves carry, e.g. a cdc file's `_change_type`), then
   * `_gf_file` and `_gf_ridx` (parquet row index) when `withPos`, then
   * `constants`.
   */
  private[sources] def scanFiles(spark: SparkSession, root: String, snap: Snapshot,
                                 files: Seq[(AddFile, Seq[Any])],
                                 constants: Seq[StructField] = Nil,
                                 dataExtra: Seq[StructField] = Nil,
                                 withPos: Boolean = false): DataFrame = {
    val physOf = physicalNames(snap)
    val mapped =
      snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
    val partCols = snap.partitionColumns
    val logicalType: Map[String, DataType] =
      snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val dataFields = snap.schema.fields.filterNot(fd => partCols.contains(fd.name))
    val dataSchema = StructType((
      if (mapped) dataFields.toSeq.map(f =>
        StructField(physicalName(f), toPhysical(f.dataType), f.nullable))
      else dataFields.toSeq) ++ dataExtra)
    val constSchema = StructType(StructField("_gf_file", StringType) +:
      (partCols.map(c => StructField(s"_gf_pv_$c", StringType)) ++ constants))
    val scan = MetaScan.parquetScan(spark, dataSchema, files.map { case (a, vs) =>
      MetaScan.KnownFile(absolutize(root, a.path), 0L, constants =
        a.path +: (partCols.map(c => partitionValue(a, c, physOf).orNull) ++ vs))
    }, constSchema)
    val dvFiles = files.map(_._1).filter(_.deletionVector.isDefined)
    val withRidx =
      if (dvFiles.isEmpty && !withPos) scan
      else scan.withColumn("_gf_ridx", col("_metadata.row_index"))
    val live =
      if (dvFiles.isEmpty) withRidx
      else withRidx.join(deletedPositions(spark, root, dvFiles),
        Seq("_gf_file", "_gf_ridx"), "left_anti")
    // physical → logical: rename top-level by alias, nested by positional
    // struct cast (identical types, so the cast is a pure rename)
    live.select(snap.schema.fieldNames.toSeq.map { c =>
      if (partCols.contains(c)) col(s"_gf_pv_$c").cast(stripMeta(logicalType(c))).as(c)
      else if (mapped) col(physOf(c)).cast(stripMeta(logicalType(c))).as(c)
      else col(c)
    } ++ (dataExtra.map(_.name) ++
      (if (withPos) Seq("_gf_file", "_gf_ridx") else Nil) ++
      constants.map(_.name)).map(col): _*)
  }

  /**
   * (`_gf_file`, `_gf_ridx`) rows — log path, deleted row index — for
   * the DV-carrying `dvFiles`, BROADCAST-hinted when the log's own
   * recorded cardinalities say the decoded position set is small: the
   * anti-join then builds one hash relation instead of shuffling +
   * sorting the ENTIRE data scan against a few thousand positions (the
   * plan was SortMergeJoin with an Exchange on the 100 TB side). The
   * driver ships only raw DV payloads (total size bounded by the log's
   * own `sizeInBytes` fields); bitmap decode happens on executors.
   * Beyond [[DvBroadcastMaxPositions]] the frame is left unhinted and
   * the planner falls back to the shuffle.
   */
  /** The broadcast cap of [[deletedPositions]]: 4M positions are a few
    * hundred MB of hash relation, far cheaper than a full-table shuffle
    * but bounded so a pathological table cannot OOM the driver. */
  private val DvBroadcastMaxPositions = 4000000L

  private def deletedPositions(spark: SparkSession, root: String,
                               dvFiles: Seq[AddFile]): DataFrame = {
    val f = fs(spark, root)
    val payloads: Seq[(String, Array[Byte])] = dvFiles.map { a =>
      a.path -> DeletionVectors.payload(f, root, a.deletionVector.get)
    }
    val schema = StructType(Seq(
      StructField("_gf_file", StringType), StructField("_gf_ridx", LongType)))
    val rows = spark.sparkContext
      .parallelize(payloads, math.max(1, math.min(payloads.size, 32)))
      .flatMap { case (file, bytes) =>
        DeletionVectors.decodePositions(bytes).iterator.map(p => Row(file, p))
      }
    val deleted = spark.createDataFrame(rows, schema)
    val totalCardinality = dvFiles.flatMap(_.deletionVector).map(_.cardinality).sum
    if (totalCardinality <= DvBroadcastMaxPositions) broadcast(deleted) else deleted
  }

  // ------------------------------------------------------ change data feed

  /**
   * Change rows for the commits in `[fromVersion, toVersion]` — the Delta
   * CDF `table_changes` contract, the incremental-ETL read path off a
   * Delta table. Output = the table columns plus `_change_type`,
   * `_commit_version`, `_commit_timestamp`.
   *
   * Per commit, its [[changeItems]]:
   *  - `cdc` actions present (a CDF-enabled writer) → read those files;
   *    they carry `_change_type` themselves (insert/delete/
   *    update_preimage/update_postimage) and per the protocol SUPERSEDE
   *    the commit's add/remove for change purposes;
   *  - otherwise derive: `add(dataChange=true)` files read as `insert`
   *    rows, `remove(dataChange=true)` files read as `delete` rows (the
   *    removed file's bytes remain until VACUUM — the same reliance
   *    delta-spark's CDF-less fallback has). Compaction commits
   *    (`dataChange=false`) produce no changes. A DV-carrying add in a
   *    non-CDC commit fails fast rather than mis-counting its deletes.
   *
   * Schema: the table schema at `toVersion` (historic schema drift
   * within the range fails the scan rather than silently coercing).
   * Scale: one parquet scan per change class across the whole range,
   * unioned — each scan pushes down like any other read; no row passes
   * the driver.
   *
   * `fromIndex`/`untilIndex` slice the BOUNDARY versions by change-item
   * index in the [[changeItems]] order: `fromIndex` skips the first
   * items of `fromVersion`, `untilIndex` stops `toVersion` before that
   * item — how the streaming source drains one bulk CDC commit as many
   * bounded micro-batches.
   */
  def changes(spark: SparkSession, root: String,
              fromVersion: Long, toVersion: Option[Long] = None,
              fromIndex: Long = 0L,
              untilIndex: Long = Long.MaxValue): DataFrame = {
    val f = fs(spark, root)
    val log = listLog(f, root)
    val vs = log.versions
    require(vs.nonEmpty, s"$root is not a Delta table")
    val to = toVersion.getOrElse(vs.last)
    require(fromVersion >= vs.head && to <= vs.last && fromVersion <= to,
      s"change range [$fromVersion, $to] outside log [${vs.head}, ${vs.last}]")
    val snap = snapshot(spark, root, versionAsOf = Some(to))

    // every available commit up to `to`: those BEFORE the range only feed
    // `pvByPath` — remove actions MAY omit partitionValues (optional in
    // the protocol), so a partitioned delete recovers them from the
    // file's add action
    val commits = (vs.head to to).map(v => commitAt(f, v, log.commitStatus(v)))
    val pvByPath = commits.flatMap(_.adds).map(a => a.path -> a.partitionValues).toMap
    def clamp(i: Long): Int = math.max(0L, math.min(i, Int.MaxValue.toLong)).toInt
    val items = commits.filter(_.version >= fromVersion).flatMap { c =>
      // per the CDF protocol cdc actions supersede add/remove for change
      // purposes — so a DV-carrying add is fine WHEN the commit carries
      // cdc files (the DV writer stages them); only a DV add in a
      // non-CDC commit leaves its deletes unattributable
      require(c.cdc.nonEmpty || !c.adds.exists(a => a.dataChange && a.deletionVector.isDefined),
        s"version ${c.version} adds a deletion vector without cdc actions — " +
          "derived CDF cannot attribute its deleted rows; enable CDF " +
          "on the writer or consume snapshots")
      // boundary versions slice by item index; interior ones pass whole
      val lo = if (c.version == fromVersion) fromIndex else 0L
      val hi = if (c.version == to) untilIndex else Long.MaxValue
      changeItems(c).slice(clamp(lo), clamp(hi)).map { case (a, changeType) =>
        val pv = if (a.partitionValues.nonEmpty) a.partitionValues
          else pvByPath.getOrElse(a.path, Map.empty)
        (changeType, (a.copy(partitionValues = pv),
          changeType.toSeq ++ Seq(c.version, java.time.Instant.ofEpochMilli(c.timestamp))))
      }
    }
    // ONE parquet scan per change class across all range commits: the
    // change columns are per-file constants of the scan, so a 50-commit
    // range plans 1-3 scans instead of a union of one subplan per
    // (commit, class). A derived class stamps its `_change_type`; cdc
    // files carry their own.
    val ctField = StructField("_change_type", StringType)
    val stamps = Seq(StructField("_commit_version", LongType),
      StructField("_commit_timestamp", TimestampType))
    val frames = Seq(None, Some("insert"), Some("delete")).flatMap { ct =>
      val files = items.collect { case (`ct`, file) => file }
      if (files.isEmpty) None
      else if (ct.isEmpty) Some(scanFiles(spark, root, snap, files, stamps, dataExtra = Seq(ctField)))
      else Some(scanFiles(spark, root, snap, files, ctField +: stamps))
    }
    if (frames.nonEmpty) frames.reduce(_ union _)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
      stripMeta(snap.schema).asInstanceOf[StructType].fields ++ Seq(ctField,
        StructField("_commit_version", LongType, nullable = false), stamps(1))))
  }

  /**
   * Version `c`'s change items in the CDF order — the one definition that
   * [[changes]] slices by and the streaming source's file-level offsets
   * index: its cdc files in log order when it has any (they carry their
   * own `_change_type`, so their type is None), else its dataChange adds
   * (`insert`) then its dataChange removes (`delete`). A compaction
   * commit (dataChange=false) has none.
   */
  private[sources] def changeItems(c: Commit): Seq[(AddFile, Option[String])] =
    if (c.cdc.nonEmpty) c.cdc.map((_, None))
    else c.adds.filter(_.dataChange).map((_, Some("insert"))) ++
      c.removes.filter(_.dataChange).map((_, Some("delete")))

  /** Keys present in the previous version but gone in the latest — the
    * `detect_deletes` snapshot_diff input, same contract as
    * [[VersionedTable.snapshotDiff]]. */
  def snapshotDiff(spark: SparkSession, root: String,
                   keys: Seq[String]): DataFrame = {
    val vs = versions(spark, root)
    require(vs.size >= 2, s"snapshotDiff needs >= 2 Delta versions, have ${vs.size}")
    val prev = read(spark, root, versionAsOf = Some(vs(vs.size - 2)))
      .select(keys.head, keys.tail: _*)
    val cur = read(spark, root, versionAsOf = Some(vs.last))
      .select(keys.head, keys.tail: _*)
    prev.exceptAll(cur)
  }
}
