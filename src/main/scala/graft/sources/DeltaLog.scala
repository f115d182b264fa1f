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
 *     `commitInfo` (timestamp for timestampAsOf); `txn`/`cdc`/stats are
 *     skipped — they do not affect a batch read
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
                           stats: Option[String] = None) {
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

  /** True when `root/_delta_log` exists with at least one commit. */
  def isDeltaTable(spark: SparkSession, root: String): Boolean = {
    val f = fs(spark, root)
    f.exists(logDir(root)) && f.listStatus(logDir(root))
      .exists(s => commitVersion(s.getPath.getName).isDefined)
  }

  private def commitVersion(name: String): Option[Long] =
    if (name.length == 25 && name.endsWith(".json") && name.take(20).forall(_.isDigit))
      Some(name.take(20).toLong)
    else None

  private sealed trait CheckpointKind
  private case object Classic extends CheckpointKind
  private final case class MultiPart(part: Int, of: Int) extends CheckpointKind
  /** UUID-named V2 checkpoint (file actions may live in sidecars). */
  private final case class V2(json: Boolean) extends CheckpointKind

  // %020d.checkpoint.parquet | %020d.checkpoint.%010d.%010d.parquet |
  // %020d.checkpoint.<uuid>.parquet|json  (the v2Checkpoint naming)
  private def checkpointVersion(name: String): Option[(Long, CheckpointKind)] = {
    val single = "^(\\d{20})\\.checkpoint\\.parquet$".r
    val multi = "^(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet$".r
    val v2 = "^(\\d{20})\\.checkpoint\\.([A-Za-z0-9][A-Za-z0-9-]*)\\.(parquet|json)$".r
    name match {
      case single(v) => Some((v.toLong, Classic))
      case multi(v, part, of) => Some((v.toLong, MultiPart(part.toInt, of.toInt)))
      case v2(v, _, ext) => Some((v.toLong, V2(ext == "json")))
      case _ => None
    }
  }

  /** One listing of `_delta_log`: each commit file's status by version
    * (ascending) and every checkpoint file. [[snapshot]] resolves
    * "latest", validates its cached base and picks a checkpoint from
    * this one view of the log. */
  private final case class LogListing(commits: Seq[(Long, FileStatus)],
                                      checkpoints: Seq[(Long, CheckpointKind, FileStatus)]) {
    def versions: Seq[Long] = commits.map(_._1)
    lazy val commitStatus: Map[Long, FileStatus] = commits.toMap
  }

  private def listLog(f: FileSystem, root: String): LogListing = {
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

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
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

  // ------------------------------------------------------ state replay

  private final class State {
    var schema: StructType = _
    var partitionColumns: Seq[String] = Nil
    var configuration: Map[String, String] = Map.empty
    val files = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    var commitTimestamp: Long = 0L
    var tableId: Option[String] = None
    // txn (SetTransaction) actions: the streaming sink's exactly-once
    // watermark — highest committed version per appId
    val txns = scala.collection.mutable.HashMap[String, Long]()

    def applyTxn(t: JsonNode): Unit = {
      val app = t.get("appId").asText()
      val v = t.get("version").asLong()
      txns.update(app, math.max(txns.getOrElse(app, Long.MinValue), v))
    }

    def applyMeta(m: JsonNode): Unit = {
      tableId = Option(m.get("id")).map(_.asText())
      schema = DataType.fromJson(m.get("schemaString").asText()).asInstanceOf[StructType]
      partitionColumns = Option(m.get("partitionColumns")).toSeq
        .flatMap(_.elements().asScala).map(_.asText())
      configuration = Option(m.get("configuration")).map(c =>
        c.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty)
      val mapping = configuration.getOrElse("delta.columnMapping.mode", "none")
      require(Set("none", "name", "id").contains(mapping),
        s"unsupported Delta column mapping mode '$mapping'")
    }

    var minReader: Int = 1
    var minWriter: Int = 2
    var readerFeats: Set[String] = Set.empty
    var writerFeats: Set[String] = Set.empty

    def applyProtocol(p: JsonNode): Unit = {
      val reader = Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
      if (reader >= 3) {
        val feats = Option(p.get("readerFeatures")).toSeq
          .flatMap(_.elements().asScala).map(_.asText()).toSet
        val supported = Set("timestampNtz", "columnMapping", "deletionVectors",
          "v2Checkpoint")
        val unknown = feats -- supported
        require(unknown.isEmpty,
          s"unsupported Delta reader features: ${unknown.mkString(", ")}")
      } else require(reader <= 2,
        s"unsupported Delta minReaderVersion $reader")
      // retained on the snapshot: a feature-upgrading writer (the DV
      // delete) must MERGE the table's existing features, never clobber
      minReader = reader
      minWriter = Option(p.get("minWriterVersion")).map(_.asInt()).getOrElse(2)
      readerFeats = Option(p.get("readerFeatures")).toSeq
        .flatMap(_.elements().asScala).map(_.asText()).toSet
      writerFeats = Option(p.get("writerFeatures")).toSeq
        .flatMap(_.elements().asScala).map(_.asText()).toSet
    }

    def applyAdd(a: JsonNode): Unit = {
      val dv = Option(a.get("deletionVector")).filter(!_.isNull).map { d =>
        DeletionVectors.Descriptor(
          d.get("storageType").asText(),
          d.get("pathOrInlineDv").asText(),
          Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
          d.get("sizeInBytes").asInt(),
          d.get("cardinality").asLong())
      }
      val pv = Option(a.get("partitionValues")).map(n =>
        n.properties().asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
        }.toMap).getOrElse(Map.empty[String, Option[String]])
      val path = a.get("path").asText()
      files.update(path, AddFile(path, pv,
        Option(a.get("size")).map(_.asLong()).getOrElse(0L),
        Option(a.get("modificationTime")).map(_.asLong()).getOrElse(0L), dv,
        Option(a.get("stats")).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty)))
    }

    def applyRemove(r: JsonNode): Unit = { files.remove(r.get("path").asText()); () }

    /** Resume from a reconstructed snapshot: the cached base that the
      * commits after it replay onto. */
    def seed(s: Snapshot): Unit = {
      schema = s.schema
      partitionColumns = s.partitionColumns
      configuration = s.configuration
      s.files.foreach(a => files.update(a.path, a))
      tableId = s.tableId
      txns ++= s.transactions
      minReader = s.minReaderVersion
      minWriter = s.minWriterVersion
      readerFeats = s.readerFeatures
      writerFeats = s.writerFeatures
    }
  }

  /** Bounded LRU of parsed commit JSON files. Delta commit files
    * (vN.json) are WRITE-ONCE — the commit claim is an atomic create and
    * nothing ever rewrites one — so a (path, mtime, length) key can never
    * serve stale content, and the status each hit needs (a listing's, or
    * one getFileStatus) preserves log-retention semantics (a vacuumed
    * commit misses the cache and fails like an uncached read). Snapshot replay, time-travel timestamp
    * resolution, CDF ranges and the streaming source all re-parsed the
    * same immutable files once per action / micro-batch. Callers only
    * read the nodes. No cross-run reuse exists — each bench invocation
    * writes fresh fixture logs. */
  private val commitCacheMax = 64
  private val commitCache =
    new java.util.LinkedHashMap[(String, Long, Long), Seq[JsonNode]](
      commitCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Seq[JsonNode]]): Boolean =
        size() > commitCacheMax
    }

  private[sources] def commitNodes(f: FileSystem, p: Path): Seq[JsonNode] =
    commitNodes(f, f.getFileStatus(p))

  /** [[commitNodes]] for a status already in hand — a `_delta_log`
    * listing carries every commit's, so replay pays no round trip. */
  private def commitNodes(f: FileSystem, st: FileStatus): Seq[JsonNode] = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    commitCache.synchronized {
      val hit = commitCache.get(key)
      if (hit != null) return hit
    }
    val nodes = readText(f, st.getPath).split('\n').iterator
      .map(_.trim).filter(_.nonEmpty).map(mapper.readTree).toVector
    commitCache.synchronized { commitCache.put(key, nodes); () }
    nodes
  }

  private def applyCommit(state: State, nodes: Seq[JsonNode]): Unit =
    nodes.foreach { node =>
      if (node.has("metaData")) state.applyMeta(node.get("metaData"))
      if (node.has("protocol")) state.applyProtocol(node.get("protocol"))
      if (node.has("add")) state.applyAdd(node.get("add"))
      if (node.has("remove")) state.applyRemove(node.get("remove"))
      if (node.has("txn")) state.applyTxn(node.get("txn"))
      if (node.has("commitInfo")) {
        val ts = Option(node.get("commitInfo").get("timestamp")).map(_.asLong())
        ts.foreach(t => state.commitTimestamp = math.max(state.commitTimestamp, t))
      }
    }

  /** Newest COMPLETE checkpoint at or before `target` (all parts
    * present). Classic single-file, multi-part, and V2 (uuid-named,
    * sidecar-bearing) checkpoints all qualify; the boolean marks a
    * json-format V2 checkpoint. */
  private def latestCheckpointAtOrBefore(log: LogListing, target: Long)
      : Option[(Long, Seq[FileStatus], Boolean)] = {
    val byVersion = log.checkpoints.filter(_._1 <= target).groupBy(_._1)
    def complete(entries: Seq[(Long, CheckpointKind, FileStatus)])
        : Option[(Seq[FileStatus], Boolean)] = {
      entries.collectFirst { case (_, Classic, p) => (Seq(p), false) }
        .orElse(entries.collectFirst { case (_, V2(json), p) => (Seq(p), json) })
        .orElse {
          val multi = entries.collect { case (_, MultiPart(p, of), path) => (p, of, path) }
          multi.map(_._2).distinct match {
            case Seq(of) if multi.map(_._1).sorted == (1 to of) =>
              Some((multi.sortBy(_._1).map(_._3), false))
            case _ => None // torn multi-part checkpoint: skip this version
          }
        }
    }
    byVersion.toSeq.sortBy(-_._1).iterator
      .flatMap { case (v, entries) =>
        complete(entries).map { case (paths, json) => (v, paths, json) }
      }
      .nextOption()
  }

  /** A V2 checkpoint's sidecar path: bare names live under
    * `_delta_log/_sidecars/`, absolute URIs pass through. */
  private def sidecarPath(root: String, p: String): Path =
    if (p.contains(":/") || p.startsWith("/")) new Path(p)
    else new Path(new Path(logDir(root), "_sidecars"), p)

  private def loadCheckpoint(spark: SparkSession, state: State, root: String,
                             parts: Seq[FileStatus], jsonV2: Boolean): Unit = {
    if (jsonV2) {
      // json-format V2 checkpoint: newline-delimited actions; file
      // actions may be inlined or live in sidecar parquet files
      val f = fs(spark, root)
      val sidecars = scala.collection.mutable.ArrayBuffer.empty[Path]
      readText(f, parts.head.getPath).split('\n').iterator
        .map(_.trim).filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("metaData")) state.applyMeta(node.get("metaData"))
          if (node.has("protocol")) state.applyProtocol(node.get("protocol"))
          if (node.has("add")) state.applyAdd(node.get("add"))
          if (node.has("txn")) state.applyTxn(node.get("txn"))
          if (node.has("sidecar"))
            sidecars += sidecarPath(root, node.get("sidecar").get("path").asText())
          // remove actions in a checkpoint are vacuum tombstones, not state
        }
      loadSidecars(spark, state, sidecars.toSeq)
      return
    }
    // ONE scan + collect for every action class: the per-class
    // `select(to_json(c)).collect()` loop scanned the checkpoint parquet
    // once per class (4-5 full passes of a file that at scale holds
    // millions of add rows). Row payload is unchanged — each action row
    // is non-null in exactly one class column. The listing's statuses
    // and the fixed schema plan the scan without touching the files.
    val classes = Seq("metaData", "protocol", "add", "txn", "sidecar")
    val df = MetaScan.parquetScan(spark, CheckpointSchema(classes: _*),
      parts.map(s => MetaScan.KnownFile(s.getPath.toString, s.getLen, s.getModificationTime)))
    val sidecars = scala.collection.mutable.ArrayBuffer.empty[Path]
    df.select(classes.map(c => to_json(col(c)).as(c)): _*).collect().foreach { r =>
      // metaData / protocol: exactly one non-null row each in a checkpoint;
      // checkpoints hold the already-reconciled file list: adds only
      if (!r.isNullAt(0)) state.applyMeta(mapper.readTree(r.getString(0)))
      if (!r.isNullAt(1)) state.applyProtocol(mapper.readTree(r.getString(1)))
      if (!r.isNullAt(2)) state.applyAdd(mapper.readTree(r.getString(2)))
      if (!r.isNullAt(3)) state.applyTxn(mapper.readTree(r.getString(3)))
      // parquet-format V2 checkpoint: follow sidecar references
      if (!r.isNullAt(4)) sidecars +=
        sidecarPath(root, mapper.readTree(r.getString(4)).get("path").asText())
    }
    loadSidecars(spark, state, sidecars.toSeq)
  }

  /** Sidecar parquet: add (live files) + remove (tombstones, not read).
    * All of a checkpoint's sidecars load in ONE scan — per-file reads
    * cost one driver round-trip each, O(sidecars) actions per snapshot
    * load on a large table. Sizes come from the files, not from the
    * checkpoint's `sidecar.sizeInBytes`. */
  private def loadSidecars(spark: SparkSession, state: State,
                           ps: Seq[Path]): Unit = {
    if (ps.isEmpty) return
    MetaScan.parquetScan(spark, CheckpointSchema("add"),
        ps.map(p => MetaScan.KnownFile(p.toString, 0L)))
      .select(to_json(col("add"))).where(col("add").isNotNull)
      .collect().foreach(r => state.applyAdd(mapper.readTree(r.getString(0))))
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
    * timestamp (commitInfo.timestamp, else log-file mtime) is <= the
    * requested instant — the Delta time-travel contract.
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
    val target = (versionAsOf, timestampAsOfMs) match {
      case (Some(v), _) =>
        require(log.commitStatus.contains(v),
          s"version $v not in Delta log [${vs.head}..${vs.last}]")
        v
      case (None, Some(ts)) =>
        val eligible = vs.filter(v => commitTimeOf(f, log.commitStatus(v)) <= ts)
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
        val cp = latestCheckpointAtOrBefore(log, target)
        cp.foreach { case (_, parts, jsonV2) =>
          loadCheckpoint(spark, state, root, parts, jsonV2)
        }
        cp.map(_._1 + 1).getOrElse(0L)
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
    toReplay.foreach(v => applyCommit(state, commitNodes(f, log.commitStatus(v))))
    require(state.schema != null,
      s"Delta log at $root yields no metaData action up to version $target")
    val snap = Snapshot(target, state.schema, state.partitionColumns,
      state.configuration, state.files.values.toVector, state.tableId,
      state.txns.toMap, state.minReader, state.minWriter,
      state.readerFeats, state.writerFeats)
    val st = log.commitStatus(target)
    snapshotCache.synchronized {
      snapshotCache.put((table, target),
        CachedSnapshot(snap, st.getModificationTime, st.getLen))
    }
    snap
  }

  private def commitTimeOf(f: FileSystem, st: FileStatus): Long = {
    var ts = 0L
    commitNodes(f, st).foreach { node =>
      if (node.has("commitInfo") && node.get("commitInfo").hasNonNull("timestamp"))
        ts = math.max(ts, node.get("commitInfo").get("timestamp").asLong())
    }
    if (ts > 0) ts else st.getModificationTime
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
   * Beyond the cap (`spark.graft.dv.broadcastMaxPositions`, default 4M
   * positions — a few hundred MB of hash relation, far cheaper than a
   * full-table shuffle but bounded so a pathological table cannot OOM
   * the driver) the frame is left unhinted and the planner falls back
   * to the shuffle.
   */
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
    val cap = spark.conf.getOption("spark.graft.dv.broadcastMaxPositions")
      .map(_.toLong).getOrElse(4000000L)
    val totalCardinality = dvFiles.flatMap(_.deletionVector).map(_.cardinality).sum
    if (totalCardinality <= cap) broadcast(deleted) else deleted
  }

  // ------------------------------------------------------ change data feed

  /**
   * Change rows for the commits in `[fromVersion, toVersion]` — the Delta
   * CDF `table_changes` contract, the incremental-ETL read path off a
   * Delta table. Output = the table columns plus `_change_type`,
   * `_commit_version`, `_commit_timestamp`.
   *
   * Per commit:
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
   * Scale: one parquet scan per change class per commit, unioned — each
   * scan pushes down like any other read; no row passes the driver.
   *
   * `fromIndex`/`untilIndex` slice the BOUNDARY versions by change-item
   * index (the deterministic per-version item order of
   * [[changeItemSizes]]: cdc files in log order, else adds then removes):
   * `fromIndex` skips the first items of `fromVersion`, `untilIndex`
   * stops `toVersion` before that item — how the streaming source drains
   * one bulk CDC commit as many bounded micro-batches.
   */
  def changes(spark: SparkSession, root: String,
              fromVersion: Long, toVersion: Option[Long] = None,
              fromIndex: Long = 0L,
              untilIndex: Long = Long.MaxValue): DataFrame = {
    val f = fs(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a Delta table")
    val to = toVersion.getOrElse(vs.last)
    require(fromVersion >= vs.head && to <= vs.last && fromVersion <= to,
      s"change range [$fromVersion, $to] outside log [${vs.head}, ${vs.last}]")
    val snap = snapshot(spark, root, versionAsOf = Some(to))

    /** Read one file group — files of ONE change class across ALL range
      * commits, ONE parquet scan. The change columns are per-file
      * constants of the scan, so a 50-commit CDF range plans 1-2 scans
      * instead of a union of one subplan per (commit, class) (plan
      * analysis alone dominated multi-commit ranges). `changeType` =
      * Some(ct) stamps a derived type; None means cdc files carrying
      * their own `_change_type` column. */
    def readGroup(files: Seq[(AddFile, Long, Long)],
                  changeType: Option[String]): Option[DataFrame] = {
      if (files.isEmpty) return None
      val ctField = StructField("_change_type", StringType)
      val stamps = Seq(StructField("_commit_version", LongType),
        StructField("_commit_timestamp", TimestampType))
      val stamped = files.map { case (a, v, t) =>
        (a, changeType.toSeq ++ Seq(v, java.time.Instant.ofEpochMilli(t))) }
      Some(changeType match {
        case Some(_) => scanFiles(spark, root, snap, stamped, ctField +: stamps)
        case None => scanFiles(spark, root, snap, stamped, stamps, dataExtra = Seq(ctField))
      })
    }

    def pvMap(n: JsonNode): Map[String, Option[String]] =
      Option(n.get("partitionValues")).map(p =>
        p.properties().asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
        }.toMap).getOrElse(Map.empty)

    // ONE parse pass over every available commit up to `to`: commits
    // BEFORE the range only feed `pvByPath` — remove actions MAY omit
    // partitionValues (optional in the protocol), so a partitioned
    // delete recovers them from the file's add action
    val pvByPath = scala.collection.mutable.HashMap[String, Map[String, Option[String]]]()
    final case class Parsed(version: Long, ts: Long, cdc: Seq[AddFile],
                            adds: Seq[AddFile], removes: Seq[AddFile])
    val parsed = (vs.head to to).flatMap { v =>
      val p = new Path(logDir(root), f"$v%020d.json")
      var ts = 0L
      val cdc = scala.collection.mutable.ArrayBuffer[AddFile]()
      val adds = scala.collection.mutable.ArrayBuffer[AddFile]()
      val removes = scala.collection.mutable.ArrayBuffer[AddFile]()
      var dvAdd = false
      val inRange = v >= fromVersion
      commitNodes(f, p).foreach { node =>
        if (node.has("commitInfo") && node.get("commitInfo").hasNonNull("timestamp"))
          ts = math.max(ts, node.get("commitInfo").get("timestamp").asLong())
        if (node.has("cdc") && inRange) {
          val c = node.get("cdc")
          cdc += AddFile(c.get("path").asText(), pvMap(c), 0L, 0L)
        }
        if (node.has("add")) {
          val a = node.get("add")
          pvByPath.update(a.get("path").asText(), pvMap(a))
          val dataChange = Option(a.get("dataChange")).forall(_.asBoolean(true))
          if (dataChange && inRange) {
            if (a.hasNonNull("deletionVector")) dvAdd = true
            adds += AddFile(a.get("path").asText(), pvMap(a), 0L, 0L)
          }
        }
        if (node.has("remove") && inRange) {
          val r = node.get("remove")
          val dataChange = Option(r.get("dataChange")).forall(_.asBoolean(true))
          if (dataChange) removes += AddFile(r.get("path").asText(), pvMap(r), 0L, 0L)
        }
      }
      if (!inRange) None
      else {
        // per the CDF protocol cdc actions supersede add/remove for
        // change purposes — so a DV-carrying add is fine WHEN the commit
        // carries cdc files (the DV writer stages them); only a DV add
        // in a non-CDC commit leaves its deletes unattributable
        require(cdc.nonEmpty || !dvAdd,
          s"version $v adds a deletion vector without cdc actions — " +
            "derived CDF cannot attribute its deleted rows; enable CDF " +
            "on the writer or consume snapshots")
        if (ts == 0L) ts = f.getFileStatus(p).getModificationTime
        Some(Parsed(v, ts, cdc.toSeq, adds.toSeq, removes.toSeq))
      }
    }
    // boundary-version item slicing: items of version v occupy indices
    // [0, n) in the deterministic order (cdc, else adds then removes);
    // interior versions pass through whole
    def sliceOf[T](xs: Seq[T], offset: Long, lo: Long, hi: Long): Seq[T] = {
      val a = math.max(lo - offset, 0L)
      val b = math.min(hi - offset, xs.size.toLong)
      if (a >= b) Nil else xs.slice(a.toInt, b.toInt)
    }
    // accumulate per change class ACROSS commits — one scan per class
    val cdcAll = scala.collection.mutable.ArrayBuffer[(AddFile, Long, Long)]()
    val insAll = scala.collection.mutable.ArrayBuffer[(AddFile, Long, Long)]()
    val delAll = scala.collection.mutable.ArrayBuffer[(AddFile, Long, Long)]()
    parsed.foreach { pc =>
      val lo = if (pc.version == fromVersion) fromIndex else 0L
      val hi = if (pc.version == to) untilIndex else Long.MaxValue
      val patchedRemoves = pc.removes.map(a =>
        if (a.partitionValues.nonEmpty) a
        else a.copy(partitionValues = pvByPath.getOrElse(a.path, Map.empty)))
      if (pc.cdc.nonEmpty)
        cdcAll ++= sliceOf(pc.cdc, 0L, lo, hi).map((_, pc.version, pc.ts))
      else {
        insAll ++= sliceOf(pc.adds, 0L, lo, hi).map((_, pc.version, pc.ts))
        delAll ++= sliceOf(patchedRemoves, pc.adds.size.toLong, lo, hi)
          .map((_, pc.version, pc.ts))
      }
    }
    val frames = readGroup(cdcAll.toSeq, None).toSeq ++
      readGroup(insAll.toSeq, Some("insert")) ++
      readGroup(delAll.toSeq, Some("delete"))
    frames match {
      case Seq() =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
          stripMeta(snap.schema).asInstanceOf[StructType].fields ++ Seq(
            org.apache.spark.sql.types.StructField("_change_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("_commit_version",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("_commit_timestamp",
              org.apache.spark.sql.types.TimestampType))))
      case fs0 => fs0.reduce(_ union _)
    }
  }

  /**
   * Per-item file sizes of ONE version's change items, in the
   * deterministic CDF item order [[changes]] slices by: cdc files in log
   * order when the commit carries them, else adds then removes
   * (dataChange=true only; a compaction commit has zero items). Driver
   * parse of one commit json — what the streaming source's file-level
   * CDF offsets enumerate against (sizes feed maxBytesPerTrigger;
   * removes without a recorded size count 0).
   */
  def changeItemSizes(spark: SparkSession, root: String,
                      version: Long): Seq[Long] = {
    val f = fs(spark, root)
    val cdc = scala.collection.mutable.ArrayBuffer[Long]()
    val adds = scala.collection.mutable.ArrayBuffer[Long]()
    val removes = scala.collection.mutable.ArrayBuffer[Long]()
    def sizeOf(n: JsonNode): Long =
      Option(n.get("size")).filterNot(_.isNull).map(_.asLong).getOrElse(0L)
    commitNodes(f, new Path(logDir(root), f"$version%020d.json")).foreach { node =>
      if (node.has("cdc")) cdc += sizeOf(node.get("cdc"))
      if (node.has("add")) {
        val a = node.get("add")
        if (Option(a.get("dataChange")).forall(_.asBoolean(true))) adds += sizeOf(a)
      }
      if (node.has("remove")) {
        val r = node.get("remove")
        if (Option(r.get("dataChange")).forall(_.asBoolean(true))) removes += sizeOf(r)
      }
    }
    if (cdc.nonEmpty) cdc.toSeq else (adds ++ removes).toSeq
  }

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
