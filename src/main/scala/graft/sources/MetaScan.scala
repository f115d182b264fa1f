package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/**
 * Parquet scan over files whose paths the TABLE METADATA already
 * records. `spark.read.parquet(paths: _*)` re-examines every path at
 * plan time — a glob check plus a `getFileStatus`, then a
 * `LocatedFileStatus` wrap that materializes ownership/permissions
 * (~3-6 ms per file on a local filesystem without native Hadoop IO; one
 * object-store round-trip per file at scale) — to learn lengths the
 * Delta log / Iceberg manifests already state exactly. Production
 * table-format readers plan from the manifest stats and never re-stat
 * data files; this is that scan path: a [[FileIndex]] is built directly
 * from the known statuses and handed to the same parquet
 * `HadoopFsRelation` a `spark.read` resolves to, so pushdown, column
 * pruning and `_metadata` columns behave identically (measured: 10 scans
 * of an 83-file table 3.8 s -> 1.4 s).
 *
 * Per-file constants: the scan's `constants` schema is the relation's
 * partition schema, and each [[KnownFile]] carries one value per field.
 * Spark fills them as constant column vectors — no per-row work — and,
 * unlike `input_file_name()`, they are ordinary columns that survive
 * joins and unions. This is how every table-format scan learns which
 * file a row came from (Delta's log path, partition values and commit
 * stamps; Iceberg's manifest path and sequence numbers). The index
 * serves one `PartitionDirectory` per distinct constant row and applies
 * the `partitionFilters` Spark hands `listFiles`: the planner removes
 * predicates over constants only from the filters it runs after the
 * scan, so an index that ignored them would return rows they exclude.
 *
 * `size` must be the file's exact byte length — split arithmetic and
 * footer location depend on it. A non-positive size means "unknown":
 * that file's length comes from one cheap `getFileStatus` (parallel,
 * permissions left lazy — ~50 µs vs the ~3-6 ms a `LocatedFileStatus`
 * permission load costs), and a vanished file fails there. Iceberg
 * passes the spec-required `file_size_in_bytes`; Delta passes 0, because
 * this codebase deliberately tolerates loosely-written foreign
 * _delta_log entries (wrong/placeholder `size` fields — the time-travel
 * board fixture commits `size: 1`), and a trusted wrong length silently
 * truncates the scan to zero row groups. `mtime` feeds only
 * `_metadata.file_modification_time` (no graft operator reads it).
 */
private[sources] object MetaScan {
  /** A file to scan; `constants` holds one external (`Row`-typed) value
    * per field of the scan's constant schema. */
  final case class KnownFile(path: String, size: Long, mtime: Long = 0L,
                             constants: Seq[Any] = Nil)

  private final class KnownFilesIndex(constants: StructType,
                                      dirs: Seq[PartitionDirectory])
      extends FileIndex {
    override def rootPaths: Seq[Path] = dirs.flatMap(_.files.map(_.getPath)).distinct
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) dirs
      else {
        // the filters reference only constant columns: bind them to the
        // directories' value rows, as Spark's own partition pruning does
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = constants.fieldNames.indexOf(a.name)
            BoundReference(i, constants(i).dataType, nullable = true)
        })
        keep.initialize(0)
        dirs.filter(d => keep.eval(d.values))
      }
    override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = dirs.map(_.files.map(_.getLen).sum).sum
    override def partitionSchema: StructType = constants
  }

  def parquetScan(spark: SparkSession, schema: StructType, files: Seq[KnownFile],
                  constants: StructType = StructType(Nil)): DataFrame = {
    files.foreach(f => require(f.constants.size == constants.size,
      s"${f.path}: ${f.constants.size} constant values for ${constants.size} columns"))
    val statuses: Seq[FileStatus] = files.headOption.fold(Seq.empty[FileStatus]) { h =>
      // qualified against the files' filesystem, the same
      // scheme-carrying form a listed scan produces
      val fs = new Path(h.path).getFileSystem(spark.sessionState.newHadoopConf())
      val unknown = files.filter(_.size <= 0L).map(_.path).distinct
      val stat = graft.core.DriverPar.map(unknown)(p => p -> fs.getFileStatus(new Path(p))).toMap
      files.map(f =>
        if (f.size <= 0L) stat(f.path)
        else new FileStatus(f.size, false, 1, 128L << 20, f.mtime,
          fs.makeQualified(new Path(f.path))))
    }
    val toRow = CatalystTypeConverters.createToCatalystConverter(constants)
    val byRow = files.zip(statuses).groupBy(_._1.constants)
    // first-appearance order: equal-sized splits keep the caller's order
    val dirs = files.map(_.constants).distinct.map(vs => PartitionDirectory(
      toRow(Row.fromSeq(vs)).asInstanceOf[InternalRow], byRow(vs).map(_._2).toArray))
    val constSchema = nullable(constants).asInstanceOf[StructType]
    val rel = HadoopFsRelation(new KnownFilesIndex(constSchema, dirs), constSchema,
      nullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** What `DataSource.resolveRelation` does to a user-specified schema:
    * force everything nullable. Without it a file missing a (nested)
    * alias field fails the vectorized reader's required-column check
    * instead of reading null — `spark.read.schema(...)` never surfaced
    * declared non-nullability either. */
  private def nullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = nullable(m.keyType),
        valueType = nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
