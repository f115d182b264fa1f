package graft

import graft.sources.{DeltaLog, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.nio.file.Files

/**
 * Native Delta transaction-log reader against hand-constructed
 * `_delta_log` tables — the log shapes a REAL writer produces (multi-file
 * commits, remove+add rewrites, URL-encoded paths, checkpoints, aged-out
 * commits, schema evolution) plus the fail-fast gates for protocol
 * features this reader does not implement.
 */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def q(s: String): String = mapper.writeValueAsString(s) // JSON-escape

  private def tmp(): String = Files.createTempDirectory("deltalog").toString

  /** Write `df` as a single parquet file at `tableDir/name`. */
  private def dataFile(df: DataFrame, tableDir: String, name: String): Unit = {
    val staging = Files.createTempDirectory("dlstage").toFile
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.listFiles().find(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    val dest = new File(tableDir, name)
    dest.getParentFile.mkdirs()
    Files.copy(part.toPath, dest.toPath)
    ()
  }

  private def commit(tableDir: String, v: Long, lines: Seq[String]): Unit = {
    val dir = new File(tableDir, "_delta_log"); dir.mkdirs()
    Files.write(new File(dir, f"$v%020d.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  private def protocolLine(reader: Int = 1): String =
    s"""{"protocol":{"minReaderVersion":$reader,"minWriterVersion":2}}"""

  private def metaLine(schema: StructType, partitionCols: Seq[String] = Nil,
                       conf: Map[String, String] = Map.empty): String = {
    val pc = partitionCols.map(q).mkString(",")
    val cf = conf.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
    s"""{"metaData":{"id":"test-table","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${q(schema.json)},"partitionColumns":[$pc],""" +
      s""""configuration":{$cf},"createdTime":1000}}"""
  }

  private def addLine(path: String, pv: Map[String, String] = Map.empty,
                      size: Long = 1L): String = {
    val pvs = pv.map { case (k, v) =>
      s"${q(k)}:${if (v == null) "null" else q(v)}"
    }.mkString(",")
    s"""{"add":{"path":${q(path)},"partitionValues":{$pvs},"size":$size,""" +
      s""""modificationTime":1000,"dataChange":true}}"""
  }

  private def removeLine(path: String): String =
    s"""{"remove":{"path":${q(path)},"deletionTimestamp":2000,"dataChange":true}}"""

  private def infoLine(ts: Long): String =
    s"""{"commitInfo":{"timestamp":$ts,"operation":"WRITE"}}"""

  private val abSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  /** Unpartitioned 2-version table: v0 = files A+B, v1 rewrites B. */
  private def buildBasic(): String = {
    val dir = tmp()
    dataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "fileA.parquet")
    dataFile(Seq((3L, "c"), (4L, "d")).toDF("id", "name"), dir, "fileB.parquet")
    dataFile(Seq((3L, "c")).toDF("id", "name"), dir, "fileB2.parquet")
    commit(dir, 0, Seq(infoLine(1000), protocolLine(), metaLine(abSchema),
      addLine("fileA.parquet"), addLine("fileB.parquet")))
    commit(dir, 1, Seq(infoLine(2000),
      removeLine("fileB.parquet"), addLine("fileB2.parquet")))
    dir
  }

  test("latest read reconciles add/remove; time travel by version and timestamp") {
    val dir = buildBasic()
    assert(DeltaLog.versions(spark, dir) == Seq(0L, 1L))
    assert(DeltaLog.isDeltaTable(spark, dir))
    val latest = DeltaLog.read(spark, dir).orderBy("id").collect()
    assert(latest.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val v0 = DeltaLog.read(spark, dir, versionAsOf = Some(0L)).orderBy("id").collect()
    assert(v0.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // timestampAsOf picks the newest commit at or before the instant
    val atTs = DeltaLog.read(spark, dir, timestampAsOfMs = Some(1500L))
    assert(atTs.count() == 4)
    assert(DeltaLog.read(spark, dir, timestampAsOfMs = Some(2000L)).count() == 3)
    intercept[IllegalArgumentException] {
      DeltaLog.read(spark, dir, timestampAsOfMs = Some(500L))
    }
    intercept[IllegalArgumentException] {
      DeltaLog.read(spark, dir, versionAsOf = Some(7L))
    }
    // schema column order preserved
    assert(DeltaLog.read(spark, dir).columns.toSeq == Seq("id", "name"))
  }

  test("snapshotDiff surfaces keys deleted between the last two versions") {
    val dir = buildBasic()
    val gone = DeltaLog.snapshotDiff(spark, dir, Seq("id")).collect().map(_.getLong(0))
    assert(gone.toSeq == Seq(4L))
  }

  test("partitioned table: values attach from the log, cast to schema, nulls kept") {
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("region", StringType),
      StructField("day", DateType)))
    // data files hold ONLY the non-partition column (the Delta contract)
    dataFile(Seq(1L, 2L).toDF("id"), dir, "region=eu%20west/day=2024-03-01/p1.parquet")
    dataFile(Seq(3L).toDF("id"), dir, "region=us/day=2024-03-02/p2.parquet")
    dataFile(Seq(4L).toDF("id"), dir, "p3.parquet")
    commit(dir, 0, Seq(protocolLine(),
      metaLine(schema, partitionCols = Seq("region", "day")),
      // URL-encoded path, exactly as writers emit it
      addLine("region=eu%2520west/day=2024-03-01/p1.parquet",
        Map("region" -> "eu west", "day" -> "2024-03-01")),
      addLine("region=us/day=2024-03-02/p2.parquet",
        Map("region" -> "us", "day" -> "2024-03-02")),
      addLine("p3.parquet", Map("region" -> null, "day" -> null))))
    // the URL-encoded add path must decode to the on-disk file
    assert(new File(dir, "region=eu%20west/day=2024-03-01/p1.parquet").exists())
    val df = DeltaLog.read(spark, dir)
    assert(df.schema == schema)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(1) == "eu west" &&
      rows(0).getDate(2).toString == "2024-03-01")
    assert(rows(2).getString(1) == "us")
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    // partition pruning: a filter on the partition column prunes ROWS
    assert(df.filter(col("region") === "us").count() == 1)

    // partitionFilter prunes FILES driver-side, before the scan: only the
    // matching partition's parquet is ever listed
    val us = DeltaLog.read(spark, dir, partitionFilter = Map("region" -> "us"))
    assert(us.inputFiles.length == 1, us.inputFiles.mkString(", "))
    assert(us.collect().map(_.getLong(0)).toSeq == Seq(3L))
    intercept[IllegalArgumentException] {
      DeltaLog.read(spark, dir, partitionFilter = Map("id" -> "1"))
    }
    // declarative option takes the same path
    val decl = Sources.read(spark, Sources.ReadConfig("delta", path = Some(dir),
      options = Map("partition_filter" -> "region=eu west, day=2024-03-01")))
    assert(decl.inputFiles.length == 1)
    assert(decl.count() == 2)
  }

  test("checkpoint replay: state resumes from the checkpoint, aged-out commits ok") {
    val dir = tmp()
    dataFile(Seq((1L, "a")).toDF("id", "name"), dir, "f0.parquet")
    dataFile(Seq((2L, "b")).toDF("id", "name"), dir, "f1.parquet")
    dataFile(Seq((3L, "c")).toDF("id", "name"), dir, "f2.parquet")
    commit(dir, 0, Seq(protocolLine(), metaLine(abSchema), addLine("f0.parquet")))
    commit(dir, 1, Seq(addLine("f1.parquet"), removeLine("f0.parquet")))
    // checkpoint at v1: the reconciled state (f1 only) + meta + protocol,
    // in the real checkpoint columnar shape (one action struct per row)
    import org.apache.spark.sql.Row
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)))))))
    val cp = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Row("f1.parquet", Map.empty[String, String], 1L, 1000L), null, null),
        Row(null, Row(1, 2), null),
        Row(null, null, Row("test-table", abSchema.json,
          Seq.empty[String], Map.empty[String, String]))), 1),
      cpSchema)
    val staging = Files.createTempDirectory("cpstage").toFile
    cp.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.listFiles().find(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    Files.copy(part.toPath,
      new File(dir, f"_delta_log/${1L}%020d.checkpoint.parquet").toPath)
    commit(dir, 2, Seq(addLine("f2.parquet")))
    assert(DeltaLog.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // age out the pre-checkpoint commits (retention cleanup): still readable
    new File(dir, f"_delta_log/${0L}%020d.json").delete()
    assert(DeltaLog.read(spark, dir).count() == 2)
    // v0 itself is no longer reconstructible -> clear error, not bad data
    intercept[IllegalArgumentException] {
      DeltaLog.read(spark, dir, versionAsOf = Some(0L))
    }
  }

  test("later metaData wins: schema evolution across commits") {
    val dir = tmp()
    val wide = StructType(abSchema.fields :+ StructField("score", DoubleType))
    dataFile(Seq((1L, "a")).toDF("id", "name"), dir, "f0.parquet")
    dataFile(Seq((2L, "b", 0.5)).toDF("id", "name", "score"), dir, "f1.parquet")
    commit(dir, 0, Seq(protocolLine(), metaLine(abSchema), addLine("f0.parquet")))
    commit(dir, 1, Seq(metaLine(wide), addLine("f1.parquet")))
    val df = DeltaLog.read(spark, dir)
    assert(df.schema == wide)
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 0.5)
    assert(DeltaLog.read(spark, dir, versionAsOf = Some(0L)).schema == abSchema)
  }

  test("unsupported protocol features fail fast, never mis-read") {
    def table(lines: String*): String = {
      val dir = tmp()
      dataFile(Seq((1L, "a")).toDF("id", "name"), dir, "f0.parquet")
      commit(dir, 0, lines.toSeq)
      dir
    }
    val cm = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, table(protocolLine(2),
        metaLine(abSchema, conf = Map("delta.columnMapping.mode" -> "id-v99")),
        addLine("f0.parquet")))
    }
    assert(cm.getMessage.contains("column mapping"))
    val feat = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, table(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["typeWidening-preview"],"writerFeatures":["typeWidening-preview"]}}""",
        metaLine(abSchema), addLine("f0.parquet")))
    }
    assert(feat.getMessage.contains("reader features"))
    // v2Checkpoint is a SUPPORTED reader feature (uuid checkpoints load)
    val ok = table(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      metaLine(abSchema), addLine("f0.parquet"))
    assert(DeltaLog.read(spark, ok).count() == 1)
    // empty table (all files removed) reads as 0 rows with the schema
    val empty = table(protocolLine(), metaLine(abSchema),
      addLine("f0.parquet"), removeLine("f0.parquet"))
    val df = DeltaLog.read(spark, empty)
    assert(df.count() == 0 && df.schema == abSchema)
  }

  test("deletion vectors: Z85 and RoaringBitmapArray codecs round-trip") {
    import graft.sources.DeletionVectors
    // Z85 reference vector (ZeroMQ spec): "HelloWorld" decodes to these bytes
    assert(DeletionVectors.z85Decode("HelloWorld", 8).toSeq ==
      Seq(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B).map(_.toByte))
    val bytes = Array[Byte](1, 2, 3, 4, 5, 6, 7) // non-aligned length
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes), 7).toSeq ==
      bytes.toSeq)
    // bitmap array: positions spanning two 32-bit bitmaps
    val pos = Seq(0L, 5L, 100000L, (1L << 32) + 7L)
    assert(DeletionVectors.decodePositions(
      DeletionVectors.encodePositions(pos)).toSeq == pos)
  }

  test("deletion vectors: inline and on-disk DVs drop exactly the marked rows") {
    import graft.sources.DeletionVectors
    val dir = tmp()
    dataFile((0L until 10L).toDF("id"), dir, "f0.parquet")
    dataFile((10L until 20L).toDF("id"), dir, "f1.parquet")
    val idSchema = StructType(Seq(StructField("id", LongType)))
    val proto =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    commit(dir, 0, Seq(infoLine(1000), proto, metaLine(idSchema),
      addLine("f0.parquet"), addLine("f1.parquet")))

    // v1: inline DV on f0 deleting row positions 1 and 3 (ids 1, 3)
    val inlineData = DeletionVectors.encodePositions(Seq(1L, 3L))
    val inlineDv =
      s"""{"storageType":"i","pathOrInlineDv":${q(DeletionVectors.z85Encode(inlineData))},""" +
        s""""sizeInBytes":${inlineData.length},"cardinality":2}"""
    commit(dir, 1, Seq(infoLine(2000),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":1,"dataChange":false,"deletionVector":$inlineDv}}"""))

    // v2: on-disk DV file (storageType u) on f1 deleting position 0 (id 10):
    // [version 1][4-byte BE size][bitmap data][4-byte BE CRC-32]
    val fileData = DeletionVectors.encodePositions(Seq(0L))
    val uuid = java.util.UUID.fromString("0b9babe1-91f5-4b32-9a31-07a1d1a54dcd")
    val uuidBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array()
    val crc = new java.util.zip.CRC32(); crc.update(fileData)
    val bin = java.nio.ByteBuffer.allocate(1 + 4 + fileData.length + 4)
      .put(1.toByte).putInt(fileData.length).put(fileData)
      .putInt(crc.getValue.toInt).array()
    Files.write(new File(dir, s"deletion_vector_$uuid.bin").toPath, bin)
    val fileDv =
      s"""{"storageType":"u","pathOrInlineDv":${q(DeletionVectors.z85Encode(uuidBytes))},""" +
        s""""offset":1,"sizeInBytes":${fileData.length},"cardinality":1}"""
    commit(dir, 2, Seq(infoLine(3000),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":1,"dataChange":false,"deletionVector":$fileDv}}"""))

    def ids(v: Option[Long]) = DeltaLog.read(spark, dir, versionAsOf = v)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(Some(0L)) == (0L until 20L))
    assert(ids(Some(1L)) == (0L until 20L).filterNot(Set(1L, 3L)))
    assert(ids(None) == (0L until 20L).filterNot(Set(1L, 3L, 10L)))

    // snapshot carries the descriptors; cardinality totals match
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum == 3L)

    // corrupted CRC is a hard error, not a silent mis-read
    val torn = bin.clone(); torn(bin.length - 1) = (torn(bin.length - 1) ^ 0x1).toByte
    Files.write(new File(dir, s"deletion_vector_$uuid.bin").toPath, torn)
    val err = intercept[Exception] { DeltaLog.read(spark, dir).collect() }
    assert(err.getMessage != null)
    Files.write(new File(dir, s"deletion_vector_$uuid.bin").toPath, bin) // restore
  }

  test("V2 checkpoints (json + parquet, sidecar file actions) resume state") {
    for (jsonFormat <- Seq(true, false)) {
      val dir = tmp()
      dataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "f0.parquet")
      dataFile(Seq((3L, "c")).toDF("id", "name"), dir, "f1.parquet")
      dataFile(Seq((4L, "d")).toDF("id", "name"), dir, "f2.parquet")
      // v0..v1 are AGED OUT (deleted after checkpointing) — replay must
      // come entirely from the V2 checkpoint at v1 + the v2 commit
      commit(dir, 2, Seq(infoLine(3000), addLine("f2.parquet")))
      val logDir = new File(dir, "_delta_log")
      // sidecar with the reconciled adds of v0..v1 (f0 + f1) and a
      // remove tombstone that must NOT resurrect
      val side = new File(logDir, "_sidecars"); side.mkdirs()
      val addSchema = StructType(Seq(
        StructField("path", StringType), StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))
      val sidecarDf = Seq(
        (Some(("f0.parquet", 1L, 1L, true)), Option.empty[(String, Long)]),
        (Some(("f1.parquet", 1L, 1L, true)), Option.empty[(String, Long)]),
        (None, Some(("gone.parquet", 2000L))))
        .toDF("addRaw", "removeRaw")
        .selectExpr(
          "if(addRaw is null, null, named_struct('path', addRaw._1, 'size', addRaw._2, 'modificationTime', addRaw._3, 'dataChange', addRaw._4)) as add",
          "if(removeRaw is null, null, named_struct('path', removeRaw._1, 'deletionTimestamp', removeRaw._2)) as remove")
      val stage = Files.createTempDirectory("sidecar").toString
      sidecarDf.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_")).get
      Files.copy(part.toPath, new File(side, "sc-1.parquet").toPath)

      val metaJson = metaLine(abSchema)
        .replace("""{"metaData":""", "").dropRight(1) // the bare metaData node
      val protoJson = """{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}"""
      if (jsonFormat) {
        val lines = Seq(
          s"""{"checkpointMetadata":{"version":1}}""",
          s"""{"metaData":$metaJson}""",
          s"""{"protocol":$protoJson}""",
          s"""{"sidecar":{"path":"sc-1.parquet","sizeInBytes":1,"modificationTime":1}}""")
        Files.write(new File(logDir,
          "00000000000000000001.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json").toPath,
          lines.mkString("\n").getBytes("UTF-8"))
      } else {
        // parquet V2 checkpoint: metaData/protocol/sidecar struct columns
        // (the reader handles each column independently, so one row
        // carrying all three actions exercises the same paths)
        val cpStage = Files.createTempDirectory("v2cp").toString
        spark.range(1).select(
          struct(lit("test-table").as("id"),
            lit(abSchema.json).as("schemaString"),
            array().cast("array<string>").as("partitionColumns"),
            map().cast("map<string,string>").as("configuration")).as("metaData"),
          struct(lit(3).as("minReaderVersion"), lit(7).as("minWriterVersion"),
            array(lit("v2Checkpoint")).as("readerFeatures"),
            array(lit("v2Checkpoint")).as("writerFeatures")).as("protocol"),
          struct(lit("sc-1.parquet").as("path"),
            lit(1L).as("sizeInBytes")).as("sidecar"))
          .coalesce(1).write.mode("overwrite").parquet(cpStage)
        val cpPart = new File(cpStage).listFiles()
          .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_")).get
        Files.copy(cpPart.toPath, new File(logDir,
          "00000000000000000001.checkpoint.2510bb0a-e1c9-4a2d-b84f-0aa66ab98da9.parquet").toPath)
      }
      val ids = DeltaLog.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L),
        s"jsonFormat=$jsonFormat: state must come from the V2 checkpoint + v2 commit")
    }
  }

  /** Field metadata as a real column-mapping writer emits it. */
  private def cmField(name: String, dt: DataType, phys: String, id: Long) =
    StructField(name, dt, nullable = true, new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build())

  test("column mapping (name mode): physical-name data files read back logical") {
    val dir = tmp()
    // logical: id long, info struct<name string, score double>
    val logical = StructType(Seq(
      cmField("id", LongType, "col-a1", 1),
      cmField("info", StructType(Seq(
        cmField("name", StringType, "col-n1", 3),
        cmField("score", DoubleType, "col-s1", 4))), "col-i1", 2)))
    // data stored under PHYSICAL names, nested fields included
    dataFile(
      Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("a", "b", "c")
        .select(col("a").as("col-a1"),
          struct(col("b").as("col-n1"), col("c").as("col-s1")).as("col-i1")),
      dir, "f0.parquet")
    commit(dir, 0, Seq(infoLine(1000), protocolLine(2),
      metaLine(logical, conf = Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "4")),
      addLine("f0.parquet")))
    val df = DeltaLog.read(spark, dir)
    assert(df.columns.toSeq == Seq("id", "info"))
    assert(df.schema("info").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("name", "score"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L)
    assert(rows(0).getStruct(1).getString(0) == "x")
    assert(rows(1).getStruct(1).getDouble(1) == 1.5)
    // logical projection + filter still resolve
    assert(df.where(col("info.name") === "y").select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("column mapping: partitioned table keys partitionValues by physical name") {
    val dir = tmp()
    val logical = StructType(Seq(
      cmField("id", LongType, "col-a1", 1),
      cmField("day", StringType, "col-d1", 2)))
    dataFile(Seq(Tuple1(1L)).toDF("a").select(col("a").as("col-a1")), dir, "p0.parquet")
    dataFile(Seq(Tuple1(2L)).toDF("a").select(col("a").as("col-a1")), dir, "p1.parquet")
    // id mode exercises the same physical-name scan path
    commit(dir, 0, Seq(infoLine(1000), protocolLine(2),
      metaLine(logical, partitionCols = Seq("day"),
        conf = Map("delta.columnMapping.mode" -> "id")),
      addLine("p0.parquet", pv = Map("col-d1" -> "2026-01-01")),
      addLine("p1.parquet", pv = Map("col-d1" -> "2026-01-02"))))
    val rows = DeltaLog.read(spark, dir).orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "2026-01-01"), (2L, "2026-01-02")))
  }

  test("change data feed: derived insert/delete rows from add/remove commits") {
    val dir = buildBasic() // v0: files A+B (ids 1..4); v1: remove B, add B2 (id 3)
    val ch = DeltaLog.changes(spark, dir, 0L)
    assert(ch.columns.toSeq ==
      Seq("id", "name", "_change_type", "_commit_version", "_commit_timestamp"))
    val byCommit = ch.groupBy("_commit_version", "_change_type")
      .agg(sort_array(collect_list("id")).as("ids"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
    assert(byCommit((0L, "insert")) == Seq(1L, 2L, 3L, 4L))
    assert(byCommit((1L, "insert")) == Seq(3L))       // B2's rewrite
    assert(byCommit((1L, "delete")) == Seq(3L, 4L))   // B's removal
    // range narrowing: only v1's changes
    val v1 = DeltaLog.changes(spark, dir, 1L, Some(1L))
    assert(v1.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(v1.count() == 3)
    // commit timestamps surface from commitInfo (v0 at 1000 ms, v1 at 2000)
    val ts = DeltaLog.changes(spark, dir, 0L)
      .select("_commit_version", "_commit_timestamp").distinct().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(ts(0L) == 1000L && ts(1L) == 2000L)
    // net effect of the feed reconciles with the snapshots
    intercept[IllegalArgumentException] { DeltaLog.changes(spark, dir, 5L) }
  }

  test("change data feed: cdc actions supersede add/remove; compaction is silent") {
    val dir = tmp()
    dataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "f0.parquet")
    commit(dir, 0, Seq(infoLine(1000), protocolLine(), metaLine(abSchema),
      addLine("f0.parquet")))
    // v1: a CDF-enabled writer emitted an explicit cdc file (an update:
    // pre+post images) alongside the add/remove it describes
    dataFile(Seq((2L, "b", "update_preimage"), (2L, "B!", "update_postimage"))
      .toDF("id", "name", "_change_type"), dir, "_change_data/c0.parquet")
    dataFile(Seq((1L, "a"), (2L, "B!")).toDF("id", "name"), dir, "f1.parquet")
    commit(dir, 1, Seq(infoLine(2000),
      s"""{"cdc":{"path":"_change_data/c0.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      removeLine("f0.parquet"), addLine("f1.parquet")))
    // v2: pure compaction (dataChange=false) — no change rows at all
    dataFile(Seq((1L, "a"), (2L, "B!")).toDF("id", "name"), dir, "f2.parquet")
    commit(dir, 2, Seq(infoLine(3000),
      s"""{"remove":{"path":"f1.parquet","deletionTimestamp":3000,"dataChange":false}}""",
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":3000,"dataChange":false}}"""))
    val ch = DeltaLog.changes(spark, dir, 1L)
    val rows = ch.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSet == Set(
      (2L, "b", "update_preimage", 1L),
      (2L, "B!", "update_postimage", 1L)))
  }

  test("change data feed: partitioned tables attach partition values to changes") {
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("day", StringType)))
    dataFile(Seq(Tuple1(1L)).toDF("id"), dir, "p0.parquet")
    dataFile(Seq(Tuple1(2L)).toDF("id"), dir, "p1.parquet")
    commit(dir, 0, Seq(infoLine(1000), protocolLine(),
      metaLine(schema, partitionCols = Seq("day")),
      addLine("p0.parquet", pv = Map("day" -> "2026-01-01")),
      addLine("p1.parquet", pv = Map("day" -> "2026-01-02"))))
    commit(dir, 1, Seq(infoLine(2000), removeLine("p1.parquet")))
    val ch = DeltaLog.changes(spark, dir, 0L).orderBy("_commit_version", "id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(ch.toSeq == Seq(
      (1L, "2026-01-01", "insert"), (2L, "2026-01-02", "insert"),
      (2L, "2026-01-02", "delete")))
    // declarative dispatch: starting_version selects the feed
    val feed = Sources.read(spark, Sources.ReadConfig("delta", path = Some(dir),
      options = Map("starting_version" -> "1")))
    assert(feed.count() == 1 &&
      feed.head().getAs[String]("_change_type") == "delete")
  }

  test("V2 checkpoint WRITE above the threshold: sidecars, state-equal reopen") {
    import graft.sources.DeltaWriter
    import spark.implicits._
    val root = tmp() + "/t"
    spark.conf.set("graft.delta.checkpoint.v2.threshold", "5")
    spark.conf.set("graft.delta.checkpoint.sidecar.files", "4")
    try {
      DeltaWriter.write((0 until 100).toDF("k").repartition(10), root) // v0: 10 files
      DeltaWriter.write((100 until 120).toDF("k").repartition(2), root) // v1: +2
      val before = DeltaLog.snapshot(spark, root)
      assert(before.files.size == 12)
      DeltaWriter.writeCheckpoint(spark, root, 1L)
      val log = new File(root, "_delta_log")
      val v2 = log.listFiles.filter(f =>
        f.getName.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9-]+\\.parquet"))
      assert(v2.length == 1, s"expected one uuid V2 checkpoint, got ${v2.toSeq}")
      assert(!new File(log, f"${1L}%020d.checkpoint.parquet").exists,
        "above the threshold the classic single-part must NOT be written")
      val sidecars = new File(log, "_sidecars").listFiles
        .filter(_.getName.endsWith(".parquet"))
      assert(sidecars.length == 3, // ceil(12 adds / 4 per sidecar)
        s"expected 3 sidecars, got ${sidecars.length}")
      // age out v0's commit json: state must rebuild from the V2
      // checkpoint + sidecars alone
      assert(new File(log, f"${0L}%020d.json").delete())
      val after = DeltaLog.snapshot(spark, root)
      assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet)
      assert(after.schema == before.schema)
      assert(after.configuration == before.configuration)
      assert(after.minReaderVersion == before.minReaderVersion)
      val got = DeltaLog.read(spark, root)
      assert(got.count() == 120)
      assert(got.agg(sum("k")).head.getLong(0) == (0 until 120).sum.toLong)
      // and stats survive the sidecar roundtrip (skipping still prunes)
      assert(after.files.forall(_.stats.isDefined))
    } finally {
      spark.conf.unset("graft.delta.checkpoint.v2.threshold")
      spark.conf.unset("graft.delta.checkpoint.sidecar.files")
    }
  }

  // ---------------------------------------------------- snapshot cache

  /** `body`'s result and the Spark jobs it started. */
  private def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.sql.graftshim.ListenerShim
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerShim.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def ids(root: String, v: Option[Long] = None): Seq[Long] =
    DeltaLog.read(spark, root, versionAsOf = v).collect().map(_.getLong(0)).sorted.toSeq

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  test("snapshot cache: a table re-created at the same path reads as the new table") {
    import graft.sources.DeltaWriter
    val root = tmp() + "/t"
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    assert(ids(root) == Seq(1L, 2L)) // caches (root, v0)
    deleteTree(new File(root))
    // the new v0 has another schema and other rows: the cached v0's
    // commit file is gone, so the entry must not serve
    DeltaWriter.write(Seq((7L, 0.5)).toDF("key", "score"), root)
    val df = DeltaLog.read(spark, root)
    assert(df.columns.toSeq == Seq("key", "score"))
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((7L, 0.5)))
  }

  test("snapshot cache: latest sees a commit another writer made behind a cached snapshot") {
    val dir = buildBasic()
    assert(DeltaLog.snapshot(spark, dir).version == 1L)
    assert(ids(dir) == Seq(1L, 2L, 3L)) // cached at v1
    // another writer (plain file IO, no graft code) commits v2
    dataFile(Seq((9L, "z")).toDF("id", "name"), dir, "fileC.parquet")
    commit(dir, 2, Seq(infoLine(3000), addLine("fileC.parquet")))
    assert(DeltaLog.snapshot(spark, dir).version == 2L)
    assert(ids(dir) == Seq(1L, 2L, 3L, 9L))
  }

  test("snapshot cache: time travel below every cached entry replays from the start") {
    val dir = buildBasic() // v0: ids 1..4; v1: rewrites B to id 3 only
    commit(dir, 2, Seq(infoLine(3000), removeLine("fileA.parquet")))
    assert(ids(dir) == Seq(3L)) // caches v2
    assert(ids(dir, Some(1L)) == Seq(1L, 2L, 3L))
    assert(ids(dir, Some(0L)) == Seq(1L, 2L, 3L, 4L))
    assert(ids(dir) == Seq(3L))
  }

  test("snapshot cache: with the commits before a checkpoint removed, the load uses it") {
    import graft.sources.DeltaWriter
    val root = tmp() + "/t"
    DeltaWriter.write(Seq(1L).toDF("id"), root) // v0
    DeltaWriter.write(Seq(2L).toDF("id"), root) // v1
    DeltaWriter.write(Seq(3L).toDF("id"), root) // v2
    assert(ids(root, Some(1L)) == Seq(1L, 2L)) // caches v1
    DeltaWriter.writeCheckpoint(spark, root, 2L) // caches v2
    DeltaWriter.write(Seq(4L).toDF("id"), root) // v3, never loaded
    // log retention cleanup: every cached version's commit goes away
    (0L to 2L).foreach(v =>
      assert(new File(root, f"_delta_log/$v%020d.json").delete()))
    val (snap, jobs) = withJobCount(DeltaLog.snapshot(spark, root))
    assert(snap.version == 3L)
    assert(jobs == 1, s"expected the checkpoint scan alone, saw $jobs jobs")
    assert(ids(root) == Seq(1L, 2L, 3L, 4L))
    // a cleaned-up version stays unreadable even though it was cached
    intercept[IllegalArgumentException] { DeltaLog.snapshot(spark, root, Some(1L)) }
  }

  test("snapshot cache: a cold load of a checkpointed table runs one Spark job") {
    import graft.sources.DeltaWriter
    val src = tmp() + "/t"
    DeltaWriter.write(Seq(1L, 2L).toDF("id"), src)
    DeltaWriter.write(Seq(3L).toDF("id"), src)
    DeltaWriter.writeCheckpoint(spark, src, 1L)
    DeltaWriter.write(Seq(4L).toDF("id"), src)
    // a copy at a path no snapshot was ever loaded from
    val root = tmp() + "/copy"
    val from = new File(src).toPath
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val to = new File(root, from.relativize(p).toString).toPath
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      ()
    } finally walk.close()
    val (cold, coldJobs) = withJobCount(DeltaLog.snapshot(spark, root))
    assert(cold.version == 2L)
    assert(coldJobs == 1, s"cold load: expected one checkpoint scan, saw $coldJobs jobs")
    val (warm, warmJobs) = withJobCount(DeltaLog.snapshot(spark, root))
    assert(warm == cold)
    assert(warmJobs == 0, s"warm load: expected no job, saw $warmJobs")
    assert(ids(root) == Seq(1L, 2L, 3L, 4L))
  }

  test("declarative dispatch: format delta with time-travel options") {
    val dir = buildBasic()
    val latest = Sources.read(spark, Sources.ReadConfig("delta", path = Some(dir)))
    assert(latest.count() == 3)
    val v0 = Sources.read(spark, Sources.ReadConfig("delta", path = Some(dir),
      options = Map("version_as_of" -> "0")))
    assert(v0.count() == 4)
    val ts = Sources.read(spark, Sources.ReadConfig("delta", path = Some(dir),
      options = Map("timestamp_as_of_ms" -> "1500")))
    assert(ts.count() == 4)
  }
}
