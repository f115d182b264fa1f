package graft

import java.nio.file.Files

import graft.sources.{DeltaDvWriter, DeltaLog, DeltaMaintenance, DeltaWriter, DeletionVectors}
import org.apache.spark.sql.functions._

/**
 * Deletion-vector WRITE path end-to-end: DV deletes commit bitmaps (no
 * file rewrites), the repo's own reader applies them, merges stack,
 * CDF attributes the deleted rows, checkpoints and maintenance carry
 * the vectors instead of dropping or resurrecting rows.
 */
class DeltaDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("delta_dv").toString + "/t"

  private def dataFiles(root: String): Set[String] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet

  test("DV delete: no data file rewritten, reader drops the rows") {
    val root = tmp()
    val df = (0 until 1000).map(i => (i.toLong, s"name_$i", i % 7)).toDF("id", "name", "bucket")
    DeltaWriter.write(df.repartition(4), root)
    val before = dataFiles(root)

    val res = DeltaDvWriter.delete(spark, root, "id % 10 = 3")
    assert(res.deletedRows == 100, s"deleted: $res")
    assert(res.version == 1)
    // the delete moved BITMAPS, not data: same parquet files on disk
    assert(dataFiles(root) == before, "DV delete rewrote data files")
    assert(new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")), "no DV bin file written")

    val got = DeltaLog.read(spark, root)
    assert(got.count() == 900)
    assert(got.filter("id % 10 = 3").count() == 0)
    // time travel to v0 still sees everything
    assert(DeltaLog.read(spark, root, versionAsOf = Some(0L)).count() == 1000)

    // every touched add carries a descriptor whose cardinality sums to 100
    val snap = DeltaLog.snapshot(spark, root)
    val dvs = snap.files.flatMap(_.deletionVector)
    assert(dvs.nonEmpty && dvs.map(_.cardinality).sum == 100L)

    // DV writer requirement (PROTOCOL.md): every DV-carrying add records
    // stats with the file's PHYSICAL numRecords and tightBounds=false —
    // delta-spark DML on the table fails without it
    snap.files.filter(_.deletionVector.isDefined).foreach { a =>
      assert(a.stats.exists(_.contains("\"tightBounds\":false")),
        s"DV add for ${a.path} lacks non-tight stats: ${a.stats}")
      assert(a.numRecords.isDefined, s"DV add for ${a.path} lacks numRecords")
    }
    // physical counts sum to the original row count (DVs don't shrink them)
    assert(snap.files.flatMap(_.numRecords).sum == 1000L)
  }

  test("stats survive a checkpoint and plain writes record tight numRecords") {
    val root = tmp()
    DeltaWriter.write((0 until 400).map(i => (i.toLong, i % 4)).toDF("id", "m")
      .repartition(2), root)
    val plain = DeltaLog.snapshot(spark, root)
    assert(plain.files.forall(_.stats.exists(_.contains("\"tightBounds\":true"))))
    assert(plain.files.flatMap(_.numRecords).sum == 400L)

    DeltaDvWriter.delete(spark, root, "m = 0")
    DeltaWriter.writeCheckpoint(spark, root, 1L)
    // a snapshot AT the checkpoint version replays zero JSON commits —
    // state (stats included) must reconstruct from the checkpoint alone
    val snap = DeltaLog.snapshot(spark, root, versionAsOf = Some(1L))
    snap.files.filter(_.deletionVector.isDefined).foreach { a =>
      assert(a.stats.exists(_.contains("\"tightBounds\":false")))
    }
    assert(snap.files.flatMap(_.numRecords).sum == 400L)
  }

  test("second delete merges bitmaps: cardinalities add, old rows stay dead") {
    val root = tmp()
    DeltaWriter.write((0 until 500).map(i => (i.toLong, i % 5)).toDF("id", "m")
      .repartition(2), root)
    assert(DeltaDvWriter.delete(spark, root, "m = 0").deletedRows == 100)
    assert(DeltaDvWriter.delete(spark, root, "m = 1").deletedRows == 100)
    // deleting already-deleted rows is a no-op (no new version)
    val again = DeltaDvWriter.delete(spark, root, "m = 0")
    assert(again.deletedRows == 0 && again.version == 2,
      s"re-delete must be a no-op: $again")

    val got = DeltaLog.read(spark, root)
    assert(got.count() == 300)
    assert(got.filter("m = 0 or m = 1").count() == 0)
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum == 200L)
  }

  test("partitioned delete with a partition+data predicate") {
    val root = tmp()
    val df = (0 until 600).map(i => (i.toLong, 100.0 + i, s"P${i % 3}"))
      .toDF("id", "price", "status")
    DeltaWriter.write(df, root, partitionBy = Seq("status"))
    val res = DeltaDvWriter.delete(spark, root, "status = 'P1' AND price > 400")
    val expectGone = df.filter("status = 'P1' AND price > 400").count()
    assert(res.deletedRows == expectGone)
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 600 - expectGone)
    assert(got.filter("status = 'P1' AND price > 400").count() == 0)
    // untouched partitions intact
    assert(got.filter("status = 'P0'").count() == 200)
  }

  test("partitionFilter prunes the position scan to the declared scope") {
    val root = tmp()
    val df = (0 until 300).map(i => (i.toLong, 100.0 + i, s"P${i % 3}"))
      .toDF("id", "price", "status")
    DeltaWriter.write(df, root, partitionBy = Seq("status"))
    // the raw predicate matches rows in EVERY partition; with the filter
    // only P1 is scanned — other partitions' rows survive untouched,
    // proving their files never entered the position scan
    val res = DeltaDvWriter.delete(spark, root, "price > 200",
      partitionFilter = Map("status" -> "P1"))
    val expected = df.filter("status = 'P1' AND price > 200").count()
    assert(res.deletedRows == expected, s"$res")
    val got = DeltaLog.read(spark, root)
    assert(got.filter("status = 'P1' AND price > 200").count() == 0)
    assert(got.filter("status <> 'P1' AND price > 200").count() ==
      df.filter("status <> 'P1' AND price > 200").count())
    // only P1 files carry vectors
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.files.filter(_.deletionVector.isDefined)
      .forall(_.partitionValues.get("status").flatten.contains("P1")))
    intercept[IllegalArgumentException] {
      DeltaDvWriter.delete(spark, root, "price > 0",
        partitionFilter = Map("nope" -> "x"))
    }
  }

  test("deleteKeys: the detect_deletes hard-apply shape") {
    val root = tmp()
    DeltaWriter.write((0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), root)
    val gone = Seq(3L, 17L, 59L).toDF("k")
    val res = DeltaDvWriter.deleteKeys(spark, root, gone, Seq("k"))
    assert(res.deletedRows == 3)
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 97)
    assert(got.filter(col("k").isin(3L, 17L, 59L)).count() == 0)
  }

  test("CDF attributes DV deletes through cdc actions") {
    val root = tmp()
    DeltaWriter.write((0 until 200).map(i => (i.toLong, i % 4)).toDF("id", "m"), root)
    DeltaDvWriter.delete(spark, root, "m = 2")
    val ch = DeltaLog.changes(spark, root, 1L, Some(1L))
    val deletes = ch.filter("_change_type = 'delete'")
    assert(deletes.count() == 50)
    assert(deletes.filter("m <> 2").count() == 0)
    assert(ch.filter("_change_type <> 'delete'").count() == 0,
      "a DV delete commit must produce only delete changes")
  }

  test("checkpoint after DV delete carries vectors and feature protocol") {
    val root = tmp()
    DeltaWriter.write((0 until 300).map(i => (i.toLong, i % 3)).toDF("id", "m"), root)
    DeltaDvWriter.delete(spark, root, "m = 0", checkpointInterval = 1)
    // checkpoint exists at v1 and replay THROUGH it keeps the deletes
    val cp = new java.io.File(root, "_delta_log/00000000000000000001.checkpoint.parquet")
    assert(cp.exists(), "checkpoint not written")
    // force checkpoint-based replay: age out the pre-checkpoint commit
    new java.io.File(root, "_delta_log/00000000000000000000.json").delete()
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 200, "checkpoint dropped the deletion vectors")
    assert(got.filter("m = 0").count() == 0)
    // the checkpoint protocol kept the feature upgrade
    val proto = spark.read.parquet(cp.toString)
      .select("protocol.minReaderVersion", "protocol.readerFeatures")
      .where(col("protocol").isNotNull).collect().head
    assert(proto.getInt(0) == 3)
    assert(proto.getSeq[String](1).contains("deletionVectors"))
  }

  test("vacuum keeps live DV bin files; optimize purges deleted rows") {
    val root = tmp()
    DeltaWriter.write((0 until 400).map(i => (i.toLong, i % 4)).toDF("id", "m")
      .repartition(4), root)
    DeltaDvWriter.delete(spark, root, "m = 1")

    // vacuum at zero retention must NOT delete the referenced DV file
    val vac = DeltaMaintenance.vacuum(spark, root, retentionHours = 0.0)
    assert(!vac.deleted.exists(_.startsWith("deletion_vector_")),
      s"vacuum reclaimed a live DV file: ${vac.deleted}")
    assert(DeltaLog.read(spark, root).count() == 300)

    // optimize compacts the small files, applying (and dropping) the DVs
    val opt = DeltaMaintenance.optimize(spark, root, targetFileBytes = 1L << 30)
    assert(opt.version.nonEmpty && opt.filesRemoved == 4 && opt.filesAdded == 1, s"$opt")
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.files.forall(_.deletionVector.isEmpty),
      "optimize must drop applied deletion vectors")
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 300, "optimize resurrected DV-deleted rows")
    assert(got.filter("m = 1").count() == 0)

    // after optimize the old DV bin file is unreferenced -> vacuumable
    val vac2 = DeltaMaintenance.vacuum(spark, root, retentionHours = 0.0)
    assert(vac2.deleted.exists(_.startsWith("deletion_vector_")),
      "orphaned DV file not reclaimed after optimize")
    assert(DeltaLog.read(spark, root).count() == 300)
  }

  test("DV delete on a COLUMN-MAPPED partitioned table, feature merge intact") {
    import org.apache.spark.sql.types._
    // hand-build a name-mode mapped table (physical names differ from
    // logical everywhere, partitionValues keyed physical) like a real
    // mapping writer emits
    val root = tmp()
    def cmField(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      cmField("id", LongType, "col-a1", 1),
      cmField("v", DoubleType, "col-v1", 2),
      cmField("day", StringType, "col-d1", 3)))
    def q(s: String) = "\"" + s + "\""
    def dataFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val staging = Files.createTempDirectory("dvmapstage").toFile
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.listFiles().find(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dest = new java.io.File(root, name)
      dest.getParentFile.mkdirs()
      Files.copy(part.toPath, dest.toPath); ()
    }
    dataFile((0 until 50).map(i => (i.toLong, i.toDouble)).toDF("a", "b")
      .select(col("a").as("col-a1"), col("b").as("col-v1")), "d0.parquet")
    dataFile((50 until 100).map(i => (i.toLong, i.toDouble)).toDF("a", "b")
      .select(col("a").as("col-a1"), col("b").as("col-v1")), "d1.parquet")
    val logDir = new java.io.File(root, "_delta_log"); logDir.mkdirs()
    Files.write(new java.io.File(logDir, "00000000000000000000.json").toPath,
      Seq(
        """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${
          new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(logical.json)},"partitionColumns":["day"],"configuration":{${
          q("delta.columnMapping.mode")}:${q("name")}},"createdTime":1}}""",
        s"""{"add":{"path":"d0.parquet","partitionValues":{${q("col-d1")}:${q("mon")}},"size":1,"modificationTime":1000,"dataChange":true}}""",
        s"""{"add":{"path":"d1.parquet","partitionValues":{${q("col-d1")}:${q("tue")}},"size":1,"modificationTime":1000,"dataChange":true}}""")
        .mkString("\n").getBytes("UTF-8"))

    // logical-name predicate across a data column AND the partition col
    val res = DeltaDvWriter.delete(spark, root, "day = 'tue' AND v >= 75")
    assert(res.deletedRows == 25, s"$res")
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 75)
    assert(got.filter("day = 'tue' AND v >= 75").count() == 0)
    assert(got.filter("day = 'mon'").count() == 50)

    // the upgraded protocol MERGES the mapping feature (legacy reader 2 /
    // writer 5 imply columnMapping), never clobbers it
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.minReaderVersion == 3 && snap.minWriterVersion == 7)
    assert(snap.readerFeatures.contains("deletionVectors") &&
      snap.readerFeatures.contains("columnMapping"), s"${snap.readerFeatures}")
    assert(snap.writerFeatures.contains("columnMapping") &&
      snap.writerFeatures.contains("appendOnly"), s"${snap.writerFeatures}")

    // CDF attributes the mapped deletes (cdc files carry physical names)
    val ch = DeltaLog.changes(spark, root, 1L, Some(1L))
    assert(ch.filter("_change_type = 'delete'").count() == 25)
    assert(ch.filter("_change_type = 'delete' AND day <> 'tue'").count() == 0)
  }

  test("DV delete and read on a data file whose name needs URI escaping") {
    // the log stores `p%201.parquet` for the file `p 1.parquet`; vectors
    // key on the log path, so a delete finds the file and a read applies
    // its vector
    val root = tmp()
    def dataFile(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val staging = Files.createTempDirectory("dvescape").toFile
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.listFiles().find(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dest = new java.io.File(root, name)
      dest.getParentFile.mkdirs()
      Files.copy(part.toPath, dest.toPath)
      dest.length()
    }
    val spaced = dataFile((0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "p 1.parquet")
    val plain = dataFile((50 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "q.parquet")
    val schema = (0 until 1).map(i => (i.toLong, "")).toDF("id", "v").schema.json
    val logDir = new java.io.File(root, "_delta_log"); logDir.mkdirs()
    Files.write(new java.io.File(logDir, "00000000000000000000.json").toPath,
      Seq(
        """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${
          new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(schema)
        },"partitionColumns":[],"configuration":{},"createdTime":1}}""",
        s"""{"add":{"path":"p%201.parquet","partitionValues":{},"size":$spaced,"modificationTime":1000,"dataChange":true}}""",
        s"""{"add":{"path":"q.parquet","partitionValues":{},"size":$plain,"modificationTime":1000,"dataChange":true}}""")
        .mkString("\n").getBytes("UTF-8"))

    assert(DeltaDvWriter.delete(spark, root, "id >= 40 AND id < 60").deletedRows == 20)
    val dvPaths = DeltaLog.snapshot(spark, root).files
      .filter(_.deletionVector.isDefined).map(_.path).toSet
    assert(dvPaths == Set("p%201.parquet", "q.parquet"), s"$dvPaths")
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 80)
    assert(got.filter("id >= 40 AND id < 60").count() == 0)
    // a second delete merges into the escaped file's existing vector
    assert(DeltaDvWriter.delete(spark, root, "id < 10").deletedRows == 10)
    assert(DeltaLog.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      ((10 until 40) ++ (60 until 100)).map(_.toLong))
  }

  test("detect_deletes_dv transformer: hard deletes land as DV commits") {
    graft.core.StandardTransformers.registerAll
    val root = tmp()
    DeltaWriter.write((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), root)
    val before = dataFiles(root)
    // live source lost keys 3 and 7
    val source = (1 to 10).filterNot(i => i == 3 || i == 7)
      .map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val t = graft.core.TransformerRegistry.get("detect_deletes_dv").get
    val out = t(graft.core.EngineContext(source),
      Map("target_path" -> root, "keys" -> Seq("k")))
    assert(out.count() == 8)
    assert(out.filter(col("k").isin(3L, 7L)).count() == 0)
    assert(dataFiles(root) == before, "transformer rewrote data files")
    assert(DeltaLog.snapshot(spark, root).files.exists(_.deletionVector.isDefined))
    // threshold guard still applies
    intercept[graft.operators.DeleteDetection.DeleteThresholdExceeded] {
      t(graft.core.EngineContext(source.limit(1)),
        Map("target_path" -> root, "keys" -> Seq("k"),
          "max_delete_fraction" -> 0.5))
    }
  }

  test("DV payload round-trips through the protocol reader primitives") {
    val root = tmp()
    DeltaWriter.write((0 until 50).map(i => (i.toLong, i)).toDF("id", "x"), root)
    DeltaDvWriter.delete(spark, root, "x < 5")
    val snap = DeltaLog.snapshot(spark, root)
    val d = snap.files.flatMap(_.deletionVector).head
    assert(d.storageType == "u" && d.cardinality == 5)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // payload() verifies size framing + CRC; decode gives the positions
    val positions = DeletionVectors.decodePositions(
      DeletionVectors.payload(f, root, d))
    assert(positions.length == 5 && positions.sameElements(positions.sorted))
  }
}
